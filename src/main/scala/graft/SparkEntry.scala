package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The registry is assembled from per-domain query modules; every entry
  * carries its Spark program and (where SQL-expressible) a DuckDB oracle
  * the driver hash-matches at sf0.01.
  */
object SparkEntry {

  /** All registered queries, across domains. */
  def registry: Seq[QueryDef] =
    graft.queries.Relational.defs ++
      graft.queries.Mapping.defs ++
      graft.queries.Dedup.defs ++
      graft.queries.Similarity.defs ++
      graft.queries.TextAnalysis.defs ++
      graft.queries.Windows.defs ++
      graft.queries.MultimodalQ.defs ++
      graft.queries.Advanced.defs ++
      graft.queries.Complex.defs ++
      graft.queries.Pipeline.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_top_customers")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o.stripMargin.trim)).toMap

  /** Headline benchmark set: the queries `graft.Bench` times when given
    * no names — scale-path queries only; exactness baselines are left
    * out (see [[QueryDef]]). */
  def benchQueries: Seq[String] =
    registry.filter(q => q.bench && !q.baseline).map(_.name)
}
