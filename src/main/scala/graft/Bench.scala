package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Benchmark entry: times queries on SPARK_GRAFT_SF_DIR and prints one
  * JSON object as the last stdout line.
  *
  * Query names come from the args; with none it times
  * [[SparkEntry.benchQueries]]. One untimed round warms the JIT, codegen
  * and parquet footers; then [[Reps]] rounds run interleaved in this JVM
  * (q1 q2 … q1 q2 …), so host drift lands on every query alike. A sample
  * builds the query and writes every row and column to the `noop` sink:
  * `count()` would let Catalyst prune the projections, windows and sorts
  * that do not change the row count. Dataset caches are cleared before
  * each query.
  *
  * The line carries `value` (the sum of the per-query medians, or null
  * when any query failed: a total that skips a query reads as a
  * speedup), per-query median/min/max, `failed` (name → message) and the
  * host shape.
  *
  * Session: SPARK_GRAFT_CPUS cores (default all), SPARK_GRAFT_MASTER
  * (default `local[cpus]`), SPARK_GRAFT_SHUFFLE_PARTS shuffle partitions
  * (default cpus), UTC, no UI.
  */
object Bench {
  val Reps = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus)
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // executors forked by local-cluster don't inherit this JVM's classpath
    val spark = (if (master.startsWith("local-cluster"))
        builder.config("spark.executor.extraClassPath",
          System.getProperty("java.class.path"))
      else builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = if (args.nonEmpty) args.toSeq else SparkEntry.benchQueries
    val queries = SparkEntry.queries
    val failed = mutable.LinkedHashMap[String, String]()
    val samples = mutable.Map[String, Vector[Double]]().withDefaultValue(Vector.empty)

    // one sample; a query that failed once is not run again
    def run(name: String): Option[Double] =
      if (failed.contains(name)) None
      else {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          val fn = queries.getOrElse(name,
            throw new IllegalArgumentException(s"unknown query $name"))
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case NonFatal(e) =>
            e.printStackTrace()
            failed(name) = e.toString.linesIterator.nextOption().getOrElse("")
            None
        }
      }

    names.foreach(run)
    for (rep <- 1 to Reps; name <- names; t <- run(name)) {
      samples(name) :+= t
      System.err.println(f"[bench] rep $rep $name $t%.3fs")
    }

    val host = JObject(
      "cores" -> JInt(Runtime.getRuntime.availableProcessors()),
      "master" -> JString(master),
      "shuffle_partitions" -> JInt(shuffleParts.toInt),
      "sf" -> JString(sfDir))
    println(resultLine(names.filterNot(failed.contains).map(n => n -> samples(n)),
      failed.toSeq, host))
    spark.stop()
  }

  /** The final stdout line: per-query median/min/max over `samples` (in
    * seconds, rounded to ms) and `value`, the sum of the medians — null
    * when any query failed. */
  private[graft] def resultLine(samples: Seq[(String, Seq[Double])],
      failed: Seq[(String, String)], host: JObject): String = {
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    val stats = samples.map { case (n, xs) =>
      val s = xs.sorted
      n -> (r3(s(s.size / 2)), r3(s.head), r3(s.last))
    }
    compact(render(JObject(
      "metric" -> JString("total"),
      "value" -> (if (failed.isEmpty) JDouble(r3(stats.map(_._2._1).sum)) else JNull),
      "unit" -> JString("s"),
      "reps" -> JInt(Reps),
      "queries" -> JObject(stats.map { case (n, (med, lo, hi)) =>
        n -> JObject("median" -> JDouble(med), "min" -> JDouble(lo),
          "max" -> JDouble(hi))
      }.toList),
      "failed" -> JObject(failed.toList.map { case (n, m) => n -> JString(m) }),
      "host" -> host)))
  }
}
