package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Each table is a single parquet file under `sfDir`; Spark's parquet
  * source gives us columnar scans, predicate pushdown and column pruning
  * for free, so every query built on these benefits from Catalyst
  * pushdown without custom code.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.ts has shipped as both TIMESTAMP(NANOS) (which Spark's
    // vectorized reader rejects — we read nanos as long and truncate to
    // micros, matching DuckDB) and plain TIMESTAMP_NTZ in different
    // testdata generations; dispatch on the type actually loaded so both
    // layouts work.
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          import org.apache.spark.sql.functions.{expr, timestamp_micros}
          // integral `div`, NOT `/`: Column./ is double division and a
          // 2^62-ish nanos value exceeds the 53-bit mantissa — off-by-1-
          // microsecond results that survive into ms-precision aggregates
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // downstream queries use unix_millis/unix_micros and event-time
          // windows, which want TIMESTAMP (LTZ); all sessions pin
          // spark.sql.session.timeZone=UTC so the NTZ→LTZ cast is a pure
          // re-tag (same micros value, and DuckDB reads the file as naive)
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts")
              .cast(org.apache.spark.sql.types.TimestampType))
        case _ => df // already TIMESTAMP; use as-is
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** The `documents` table repartitioned for CPU-heavy per-row work: a
    * single-file parquet scan arrives as ONE partition (or a handful at
    * the larger local scale factors), serializing regex/HOF projections
    * onto a few cores; an up-front round-robin repartition costs one
    * small shuffle of raw text and buys full cluster parallelism for
    * everything downstream.
    *
    * CONDITIONAL on the scan actually under-parallelizing: a corpus big
    * enough that the file splits already cover the cluster
    * (maxPartitionBytes-sized splits — the 100 TB case) must NOT pay a
    * full-corpus text shuffle for nothing, so the repartition only fires
    * when the scan's split count is below the cluster's parallelism.
    * At every driver bench/gate scale the corpus is a single small file
    * (1 split), so this is the same plan as before there.
    *
    * Note (ADVICE r20): the decision reads the SCAN's split count, so
    * the physical plan is environment-dependent — a plan snapshot
    * captured on one machine (file split count vs defaultParallelism)
    * can differ on another. Plan audits must not pin on the presence or
    * absence of this RoundRobinPartitioning exchange (PlanAuditSuite's
    * exchange counts already exclude it), and each call pays one
    * RDD-conversion planning pass — accepted: corpus() is called once
    * per query build, and the alternative (a conf) would reintroduce
    * the tuned-constant shape §2 of the optimization guide bans. */
  def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    val df = apply(spark, sfDir, "documents")
    val par = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }
}

/** A named query with an optional DuckDB oracle (driver correctness gate)
  * and a flag marking it part of the headline benchmark set.
  *
  * `baseline = true` marks a deliberately-naive exactness baseline (e.g.
  * quadratic all-pairs cosine): it stays out of the headline set, so the
  * headline number reflects the algorithms that actually scale. Bench
  * still times it when named on the command line.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    bench: Boolean = false,
    baseline: Boolean = false)
