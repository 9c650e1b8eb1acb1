package graft.perfbench

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.{SparkEntry, Tables}
import graft.compile.MappingCompiler
import graft.engine.{ConnectorTableIO, FkReference, MigrationEngine, MigrationMetrics,
  MigrationPlan, Reconcile, TableIO}
import graft.sources.{InMemoryOrg, OrgWriteMetrics, RemoteOrgRegistry}
import graft.spec.MappingSpec

/** One op of a pass: its wall time, phase times, the records it
  * produced (output rows of a query, migrated records of a migration)
  * and whether it passed its output check. */
final case class OpResult(name: String, seconds: Double, phases: Map[String, Double],
    records: Long, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** One pass over every op of a workload. `wallS` is the sum of the op
  * times; the untimed housekeeping between ops (cache release, org
  * rebuild, org-state checks) is not in it. `layer` holds the pass's
  * layer counters when it was traced. */
final case class PassResult(index: Int, traced: Boolean, ops: Seq[OpResult],
    layer: Map[String, Double]) {
  def wallS: Double = ops.map(_.seconds).sum
  def records: Long = ops.map(_.records).sum
}

/** What every workload shares: the session, the seed, the pass order,
  * and the op/phase wrappers that time and tag work. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  /** Runs pass `index`. An enabled `tracer` turns on spans, phase tags
    * and the timing decorators for this pass only. */
  def runPass(index: Int, tracer: Tracer, warmup: Boolean): PassResult

  /** A pass's op order: drawn from the seed, except in warm-up passes,
    * which keep the listed order, so every run's JIT sees the same first
    * calls whatever the seed. */
  protected def order[T](index: Int, warmup: Boolean, xs: Seq[T]): Seq[T] =
    if (warmup) xs else new Random(seed * 1000003L + index).shuffle(xs)

  protected final class OpScope(tracer: Tracer) {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase[T](layer: String, name: String)(body: => T): T = {
      val sc = spark.sparkContext
      if (tracer.enabled) sc.setLocalProperty(TaskListener.PhaseKey, name)
      val t0 = System.nanoTime()
      try tracer.span(layer, name)(body)
      finally {
        phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
        if (tracer.enabled) sc.setLocalProperty(TaskListener.PhaseKey, null)
      }
    }
  }

  /** Times one op. `body` returns (records, failure); a throw is a
    * failure too. */
  protected def op(tracer: Tracer, name: String)(
      body: OpScope => (Long, Option[String])): OpResult = {
    val scope = new OpScope(tracer)
    val t0 = System.nanoTime()
    val (records, error) =
      try tracer.span("op", name, newOp = true)(body(scope))
      catch { case NonFatal(e) => (0L, Some(s"threw $e")) }
    OpResult(name, (System.nanoTime() - t0) / 1e9, scope.phases.toMap, records, error)
  }
}

object Workloads {
  /** One query per kernel family of the corpus path: PPJoin n-gram
    * similarity with eager guards and checkpoints (d02), MinHash LSH
    * (d03), per-document repetition statistics (t09) and Bloom
    * decontamination (d22). */
  val Corpus: Seq[String] = Seq(
    "d02_ngram_jaccard", "d03_minhash_lsh", "t09_repetition", "d22_bloom_decontaminate")

  /** Every headline query, for the fingerprint file, the oracle check
    * and the count-vs-materialized table; the timed workload runs the
    * subset above. */
  val AllQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q03_top_customers", "q06_brand_volume",
    "q07_nation_revenue", "q09_window_running", "q31_event_buckets",
    "q35_gaps_islands", "q47_bloom_semijoin", "m06_reconcile",
    "a04_asof_join", "a05_interval_join", "a08_asof_exec",
    "c03_customer_distribution", "c06_volume_shipping", "c11_profit_by_nation",
    "d01_exact_dedup", "d02_ngram_jaccard", "d03_minhash_lsh", "d04_simhash",
    "d26_simhash_tight", "d06_dup_clusters", "d19_chunk_dedup", "d16_containment",
    "d07_fuzzy_join", "d08_decontaminate", "d09_semantic_dedup",
    "d11_incremental_dedup", "d25_cross_substring_spans", "d13_passage_prune",
    "d27_semantic_dedup_scaled", "d20_dup_substring_spans",
    "d22_bloom_decontaminate", "s02_ann_lsh", "s07_ann_lsh_sharp", "s03_ann_ivf",
    "s04_ann_pq", "s05_ann_ivfpq", "t02_quality", "t08_heavy_hitters",
    "t09_repetition", "mm18_image_neardup_fused", "p01_corpus_pipeline",
    "p06_sequence_packing", "p32_cluster_select_scaled",
    "p33_importance_resample", "p34_domain_reweight")

  def apply(name: String, spark: SparkSession, seed: Long, dataDir: String,
      expected: Map[String, Fingerprint], mappingJson: String): Workload = name match {
    case "corpus" => new QueryWorkload(Corpus, spark, seed, dataDir, expected)
    case "migrate" => new MigrateWorkload(spark, seed, dataDir, mappingJson)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Registry queries, each built through `SparkEntry.queries`, planned,
  * and fully materialized into a [[Fingerprint]] that must equal the
  * recorded one. */
final class QueryWorkload(queries: Seq[String], spark: SparkSession,
    seed: Long, dataDir: String, expected: Map[String, Fingerprint])
    extends Workload(spark, seed) {

  private val registry = SparkEntry.queries
  private val missing = queries.filterNot(registry.contains)
  require(missing.isEmpty, s"not in the registry: ${missing.mkString(", ")}")

  def runPass(index: Int, tracer: Tracer, warmup: Boolean): PassResult = {
    val ops = order(index, warmup, queries).map { q =>
      val r = op(tracer, q) { s =>
        val df = s.phase("queries", "build")(registry(q)(spark, dataDir))
        s.phase("queries", "plan")(df.queryExecution.executedPlan)
        val fp = s.phase("queries", "exec")(Fingerprint.of(df))
        val err = expected.get(q) match {
          case Some(e) if e == fp => None
          case Some(e) => Some(s"fingerprint $fp, expected $e")
          case None => Some(s"no expected fingerprint (got $fp)")
        }
        (fp.rows, err)
      }
      Session.releaseCaches(spark)
      r
    }
    PassResult(index, tracer.enabled, ops, Map.empty)
  }
}

/** The reference's dataflow through the connector: a two-spec mapping
  * list migrates Account and Order records between two [[InMemoryOrg]]s
  * with WHERE pushdown, chunked inserts, created-ID correlation, FK
  * remap and write-back, then [[Reconcile]] checks the write-back
  * against the destination. The orgs are rebuilt before every pass; the
  * seed fixes the order rows are inserted into the source org. */
final class MigrateWorkload(spark: SparkSession, seed: Long, dataDir: String,
    mappingJson: String) extends Workload(spark, seed) {
  import MigrateWorkload._

  private[perfbench] val specs: Seq[MappingSpec] = MappingSpec.fromJson(mappingJson)
  private val references = Seq(FkReference("Order__c", "AccountId", "Account"))

  // fixture rows, read once: every customer, and the first orders by key
  private val (accounts, orders) = {
    val rnd = new Random(seed)
    val acc = Tables(spark, dataDir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      .collect().toVector.sortBy(_.getLong(0))
    val ord = Tables(spark, dataDir, "orders")
      .orderBy("o_orderkey").limit(OrderCount)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").cast("date").cast("string"),
        col("o_orderpriority"))
      .collect().toVector
    (rnd.shuffle(acc), rnd.shuffle(ord))
  }

  /** Records each object must migrate: the Account WHERE keeps
    * non-negative balances; every loaded order migrates. */
  private val expectedCount = Map(
    "Account__c" -> accounts.count(r => !r.isNullAt(3) && r.getDouble(3) >= 0).toLong,
    "Order__c" -> orders.size.toLong)

  /** Fresh source and destination orgs, the source filled in the seed's
    * row order through the org's own 200-row insert, and each source
    * order's source account Id. */
  private[perfbench] def buildOrgs(): Orgs = {
    val src = new InMemoryOrg
    src.createTable("Account", AccountSchema)
    src.createTable("Order", OrderSchema)
    val accIn = StructType(AccountSchema.fields.filterNot(_.name == "Id"))
    val accIds = accounts.grouped(200).flatMap { chunk =>
      val ids = src.insert("Account", chunk.map(r =>
        Row(r.getString(1), r.getString(2), r.get(3), null)), accIn)
      chunk.map(_.getLong(0)).zip(ids)
    }.toMap
    val ordIn = StructType(OrderSchema.fields.filterNot(_.name == "Id"))
    val parentOf = orders.grouped(200).flatMap { chunk =>
      val parents = chunk.map(r => accIds(r.getLong(1)))
      val ids = src.insert("Order", chunk.zip(parents).map { case (r, p) =>
        Row(p, r.getString(2), r.get(3), r.getString(4), r.getString(5), null)
      }, ordIn)
      ids.zip(parents)
    }.toMap
    val dst = new InMemoryOrg
    dst.createTable("Account__c", AccountDstSchema)
    dst.createTable("Order__c", OrderDstSchema)
    Orgs(src, dst, parentOf)
  }

  def runPass(index: Int, tracer: Tracer, warmup: Boolean): PassResult =
    runPass(index, tracer, warmup, buildOrgs())

  /** Registers the orgs under the connector's names and binds a
    * [[TableIO]] to each; with tracing on, both the orgs and the
    * TableIOs are wrapped in their timing decorators. */
  private[perfbench] def connect(orgs: Orgs, tracer: Tracer): Wiring = {
    val w = new Wiring(new OrgCounters, new OrgCounters, tracer)
    if (tracer.enabled) {
      RemoteOrgRegistry.register(SrcOrg, new TimedOrg(orgs.src, tracer, w.srcCounters))
      RemoteOrgRegistry.register(DstOrg, new TimedOrg(orgs.dst, tracer, w.dstCounters))
    } else {
      RemoteOrgRegistry.register(SrcOrg, orgs.src)
      RemoteOrgRegistry.register(DstOrg, orgs.dst)
    }
    w
  }

  /** The whole mapping list through [[MigrationPlan]], specs in the
    * pass's order (the plan puts parents first). */
  private[perfbench] def migrateAll(w: Wiring, specOrder: Seq[MappingSpec])
      : Seq[(String, MigrationMetrics)] =
    new MigrationPlan(w.src, w.dst, new MigrationEngine(w.src, w.dst), references)
      .migrateAll(specOrder)

  private[perfbench] final class Wiring(val srcCounters: OrgCounters,
      val dstCounters: OrgCounters, tracer: Tracer) {
    private def bind(io: TableIO): TableIO =
      if (tracer.enabled) new TimedTableIO(io, tracer) else io
    val src: TableIO = bind(new ConnectorTableIO(spark, SrcOrg))
    val dst: TableIO = bind(new ConnectorTableIO(spark, DstOrg, srcIdColumn = Some(SrcIdColumn)))
  }

  private[perfbench] def runPass(index: Int, tracer: Tracer, warmup: Boolean,
      orgs: Orgs): PassResult = {
    val Orgs(srcOrg, dstOrg, parentOf) = orgs
    val w = connect(orgs, tracer)
    import w.{dst, src, srcCounters, dstCounters}

    var srcRowsReadMigrating = 0L
    var metrics = Seq.empty[(String, MigrationMetrics)]
    val timed = op(tracer, "migrate") { s =>
      // paper step 1: each spec compiles to its extract, planned down to
      // the connector scan that carries the pushed-down WHERE
      s.phase("compile", "compile") {
        specs.foreach { spec =>
          MappingCompiler.destinationRows(
            MappingCompiler.sourceQuery(src.read, spec), spec).queryExecution.executedPlan
        }
      }
      val before = srcCounters.rowsRead.sum
      metrics = s.phase("engine", "migrate")(migrateAll(w, order(index, warmup, specs)))
      srcRowsReadMigrating = srcCounters.rowsRead.sum - before
      (metrics.map(_._2.inserted).sum, None)
    }
    // the output checks run after the op's clock has stopped
    val migrate =
      if (!timed.ok) timed
      else timed.copy(error =
        try checkMigration(srcOrg, dstOrg, parentOf, metrics)
        catch { case NonFatal(e) => Some(s"check threw $e") })

    val reconcile = op(tracer, "reconcile") { s =>
      // the write-back, per object: each written-back source row names
      // its new destination Id; the destination row with that Id must
      // name the source row as its origin, and no side may have extras
      val diffs = order(index, warmup, Seq("Account" -> "Account__c", "Order" -> "Order__c"))
        .map { case (srcObj, dstObj) =>
          dstObj -> s.phase("engine", "reconcile") {
            val wroteBack = src.read(srcObj).where(col("New_Id__c").isNotNull)
              .select(col("New_Id__c").as("key"), col("Id").as("origin"))
            val landed = dst.read(dstObj)
              .select(col("Id").as("key"), col(SrcIdColumn).as("origin"))
            Fingerprint.of(Reconcile.diff(wroteBack, landed, "key")).rows
          }
        }.filter(_._2 != 0)
      (0L, if (diffs.isEmpty) None
        else Some(diffs.map { case (o, n) => s"$o: reconcile found $n differences" }.mkString("; ")))
    }

    val ops = Seq(migrate, reconcile)
    val layer =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        val load = Seq(src, dst).collect { case t: TimedTableIO => t.loadNs.get }.sum / 1e9
        val wb = Seq(src, dst).collect { case t: TimedTableIO => t.writebackNs.get }.sum / 1e9
        val counters = Seq(srcCounters.snapshot, dstCounters.snapshot)
        def total(k: String): Long = counters.map(_(k)).sum
        val records = migrate.records.max(1L)
        Map(
          "compile.plan_s" -> migrate.phases.getOrElse("compile", 0.0),
          "engine.load_s" -> load,
          "engine.writeback_s" -> wb,
          "engine.correlate_s" -> (migrate.phases.getOrElse("migrate", 0.0) - load - wb),
          "engine.reconcile_s" -> reconcile.seconds,
          "sources.query_calls" -> total("query_calls").toDouble,
          "sources.write_calls" -> total("write_calls").toDouble,
          "sources.rows_read" -> total("rows_read").toDouble,
          "sources.records_failed" -> total("records_failed").toDouble,
          "sources.busy_s" -> total("busy_ns") / 1e9,
          "sources.wait_s" -> total("wait_ns") / 1e9,
          "sources.rows_read_per_record" -> srcRowsReadMigrating.toDouble / records,
          "sources.rows_per_write_call" ->
            total("rows_written").toDouble / total("write_calls").max(1L))
      }
    PassResult(index, tracer.enabled, ops, layer)
  }

  /** The migration's output checks, over the orgs' own rows: counts,
    * write-back, FK remap, zero failed records, WHERE pushdown. */
  private def checkMigration(srcOrg: InMemoryOrg, dstOrg: InMemoryOrg,
      parentOf: Map[String, String], metrics: Seq[(String, MigrationMetrics)]): Option[String] = {
    val errors = mutable.ArrayBuffer.empty[String]
    val byDst = metrics.toMap
    expectedCount.foreach { case (obj, n) =>
      byDst.get(obj) match {
        case Some(m) if m.extracted == n && m.inserted == n && m.updated == n => ()
        case other => errors += s"$obj: expected $n extracted/inserted/updated, got $other"
      }
    }
    // every written-back source row holds the new Id of the destination
    // row that came from it; rows the WHERE skipped hold nothing
    val newIdOf = mutable.Map.empty[String, String]
    for ((srcObj, dstObj) <- Seq("Account" -> "Account__c", "Order" -> "Order__c")) {
      val landed = dstOrg.rows(dstObj)
      val sch = dstOrg.describe(dstObj)
      val (idI, oldI) = (sch.fieldIndex("Id"), sch.fieldIndex(SrcIdColumn))
      val byOld = landed.map(r => r.getString(oldI) -> r.getString(idI)).toMap
      if (byOld.size != landed.size) errors += s"$dstObj: duplicate origins"
      newIdOf ++= byOld
      val ssch = srcOrg.describe(srcObj)
      val (sId, sNew) = (ssch.fieldIndex("Id"), ssch.fieldIndex("New_Id__c"))
      val wrong = srcOrg.rows(srcObj).count(r =>
        byOld.get(r.getString(sId)).orNull != r.getString(sNew))
      if (wrong > 0) errors += s"$srcObj: $wrong rows with a wrong write-back Id"
    }
    // every child AccountId is its migrated parent's new Id, or null
    // when the parent was not migrated (the reference is the fixture:
    // the write-back rewrites source rows)
    val dstOrd = dstOrg.describe("Order__c")
    val badFk = dstOrg.rows("Order__c").count { r =>
      val expect = parentOf.get(r.getString(dstOrd.fieldIndex(SrcIdColumn)))
        .flatMap(newIdOf.get).orNull
      r.getString(dstOrd.fieldIndex("AccountId")) != expect
    }
    if (badFk > 0) errors += s"Order__c: $badFk rows with a wrong AccountId"
    for ((org, obj) <- Seq(DstOrg -> "Account__c", DstOrg -> "Order__c",
        SrcOrg -> "Account", SrcOrg -> "Order")) {
      val o = OrgWriteMetrics.lastCommit(org, obj)
      if (o.failed != 0) errors += s"$org/$obj: ${o.failed} failed records"
    }
    if (!srcOrg.statements.exists(s => s.startsWith("SELECT") && s.contains("AcctBal >= 0")))
      errors += "Account WHERE was not pushed into the source query"
    if (errors.isEmpty) None else Some(errors.mkString("; "))
  }
}

object MigrateWorkload {
  final case class Orgs(src: InMemoryOrg, dst: InMemoryOrg, parentOf: Map[String, String])

  val SrcOrg = "perfbench_src"
  /** The destination column holding each record's source Id. */
  val SrcIdColumn = "Old_Id__c"
  val DstOrg = "perfbench_dst"
  /** Orders loaded into the source org: the first ones by key. */
  val OrderCount = 3000

  val AccountSchema: StructType = StructType(Seq(
    StructField("Id", StringType), StructField("Name", StringType),
    StructField("Segment", StringType), StructField("AcctBal", DoubleType),
    StructField("New_Id__c", StringType)))
  val OrderSchema: StructType = StructType(Seq(
    StructField("Id", StringType), StructField("AccountId", StringType),
    StructField("Status", StringType), StructField("TotalPrice", DoubleType),
    StructField("OrderDate", StringType), StructField("Priority", StringType),
    StructField("New_Id__c", StringType)))
  val AccountDstSchema: StructType = StructType(Seq(
    StructField("Id", StringType), StructField("Old_Id__c", StringType),
    StructField("Name", StringType), StructField("Segment__c", StringType),
    StructField("Balance__c", DoubleType), StructField("OwnerId", StringType)))
  val OrderDstSchema: StructType = StructType(Seq(
    StructField("Id", StringType), StructField("Old_Id__c", StringType),
    StructField("AccountId", StringType), StructField("Status__c", StringType),
    StructField("Amount__c", DoubleType), StructField("OrderDate__c", StringType),
    StructField("Priority__c", StringType)))
}
