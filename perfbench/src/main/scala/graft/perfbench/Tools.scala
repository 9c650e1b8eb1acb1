package graft.perfbench

import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import graft.SparkEntry

/** The benchmark's maintenance modes, next to `Main`'s timed runs. */
object Tools {
  /** Reps per query in the count-vs-materialized table. */
  val CountReps = 3

  def readExpected(file: Path): Map[String, Fingerprint] =
    if (!Files.exists(file)) Map.empty
    else {
      import org.json4s._
      org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(file), "UTF-8")) match {
        case JObject(fields) => fields.collect { case (k, JString(v)) => k -> Fingerprint.parse(v) }.toMap
        case other => sys.error(s"$file: expected a JSON object, got $other")
      }
    }

  private def writeJson(file: Path, m: Seq[(String, String)]): Unit = {
    Files.createDirectories(file.toAbsolutePath.getParent)
    Files.write(file, (Serialization.writePretty(ListMap(m: _*))(DefaultFormats) + "\n")
      .getBytes("UTF-8"))
  }

  /** Records the expected fingerprint of every benched query. Each query
    * runs twice and must agree with itself before it is written. */
  def record(spark: SparkSession, dataDir: String, file: Path): Unit = {
    val q = SparkEntry.queries
    val fps = Workloads.AllQueries.map { name =>
      val runs = (1 to 2).map { _ =>
        val fp = Fingerprint.of(q(name)(spark, dataDir))
        Session.releaseCaches(spark)
        fp
      }
      require(runs.distinct.size == 1, s"$name is not deterministic: ${runs.mkString(" vs ")}")
      println(s"$name ${runs.head}")
      name -> runs.head.toString
    }
    writeJson(file, fps)
  }

  /** For the oracle check: writes each benched query that has a DuckDB
    * oracle to `out/<name>/` as parquet, fingerprints what was written
    * (read back), and writes the oracle SQL and those fingerprints next
    * to it. */
  def dump(spark: SparkSession, dataDir: String, out: Path): Unit = {
    val q = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    val names = Workloads.AllQueries.filter(oracles.contains)
    val fps = names.map { name =>
      val dir = out.resolve(name).toString
      q(name)(spark, dataDir).write.mode("overwrite").parquet(dir)
      Session.releaseCaches(spark)
      name -> Fingerprint.of(spark.read.parquet(dir)).toString
    }
    writeJson(out.resolve("oracle_sql.json"), names.map(n => n -> oracles(n)))
    writeJson(out.resolve("fingerprints.json"), fps)
  }

  /** Each benched query timed under `count()` (what `graft.Bench` times)
    * and under full materialization, reps interleaved in one JVM; prints
    * a markdown table of the medians. Both include building the query. */
  def countVsMaterialized(spark: SparkSession, dataDir: String): Unit = {
    val q = SparkEntry.queries
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    // one untimed round first: JIT and codegen warm-up
    Workloads.AllQueries.foreach { n => q(n)(spark, dataDir).count(); Session.releaseCaches(spark) }
    println("| query | count() s | materialized s | ratio |")
    println("|---|---:|---:|---:|")
    var (tc, tm) = (0.0, 0.0)
    Workloads.AllQueries.foreach { n =>
      val samples = (1 to CountReps).map { _ =>
        val c = time(q(n)(spark, dataDir).count())
        Session.releaseCaches(spark)
        val m = time(Fingerprint.of(q(n)(spark, dataDir)))
        Session.releaseCaches(spark)
        (c, m)
      }
      val (c, m) = (med(samples.map(_._1)), med(samples.map(_._2)))
      tc += c; tm += m
      println(f"| $n | $c%.3f | $m%.3f | ${m / c}%.2f |")
    }
    println(f"| total | $tc%.3f | $tm%.3f | ${tm / tc}%.2f |")
  }
}
