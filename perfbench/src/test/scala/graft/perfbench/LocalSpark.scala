package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One small local session per suite, on the benchmark's own settings. */
trait LocalSpark extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.create(None)

  /** The benchmark's tables; forked tests run in the benchmark directory. */
  val dataDir: String = new java.io.File("data/sf0.01").getAbsolutePath

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
