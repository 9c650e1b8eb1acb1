package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.apache.spark.perfbench.ListenerBusDrain

/** The benchmark process: one JVM, one local SparkSession, one workload.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --expected FILE --mapping FILE --out DIR
  *                  --launched-at EPOCH_SECONDS
  *
  * Set-up (session, fixture, warm-up passes) runs first; then passes run
  * until S seconds have been measured. Every pass is reported on the
  * `perfbench-passes` line; the last stdout line is the result object.
  * With `--trace 1`, traced and untraced passes alternate: the traced
  * ones give the per-layer metrics, the pair gives the tracing overhead.
  */
object Main {
  /** Warm-up stops once a pass is no longer faster than the one before
    * by more than this share, after at least `MinWarmup` passes. */
  val MinWarmup = 5
  val MaxWarmup = 7
  val LevelShare = 0.05

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val launchedAt = opts.get("launched-at").map(_.toDouble)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3)
    val spark = Session.create(opts.get("out").map(o => Paths.get(o, "tmp").toString))
    try opts.getOrElse("mode", "bench") match {
      case "bench" => bench(spark, opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1", opt("data"), opt("expected"), opt("mapping"),
        Paths.get(opt("out")), launchedAt)
      case "record" => Tools.record(spark, opt("data"), Paths.get(opt("expected")))
      case "dump" => Tools.dump(spark, opt("data"), Paths.get(opt("out")))
      case "countcmp" => Tools.countVsMaterialized(spark, opt("data"))
      case other => sys.error(s"unknown mode $other")
    } finally spark.stop()
  }

  private def now: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def bench(spark: SparkSession, workloadName: String, seed: Long, seconds: Double,
      trace: Boolean, dataDir: String, expectedFile: String, mappingFile: String,
      out: Path, launchedAt: Double): Unit = {
    val loadStart = Session.loadavg()
    val expected = Tools.readExpected(Paths.get(expectedFile))
    val mapping = new String(Files.readAllBytes(Paths.get(mappingFile)), "UTF-8")
    val workload = Workloads(workloadName, spark, seed, dataDir, expected, mapping)

    val passes = scala.collection.mutable.ArrayBuffer.empty[(String, PassResult)]
    var index = 0
    def run(kind: String, tracer: Tracer): PassResult = {
      val p = workload.runPass(index, tracer, warmup = kind == "warmup")
      index += 1
      passes += kind -> p
      // every pass starts from the same heap: only what stays reachable
      System.gc()
      p
    }

    // warm-up: until pass time levels off
    var warm = Seq.empty[Double]
    while (warm.size < MinWarmup ||
        (warm.size < MaxWarmup && warm.last < warm(warm.size - 2) * (1 - LevelShare)))
      warm :+= run("warmup", Tracer.Off).wallS
    val setupS = now - launchedAt

    val tracer = if (trace) new Tracer else Tracer.Off
    val sc = spark.sparkContext
    val liveHeap = new LiveHeap
    val listeners = scala.collection.mutable.ArrayBuffer.empty[(PassResult, Map[String, Long])]
    val t0 = now
    tracer.span("workload", workloadName) {
      var k = 0
      def measured = passes.count(_._1 == "measured")
      def traced = passes.count(p => p._1 == "measured" && p._2.traced)
      while (now - t0 < seconds || (trace && (traced == 0 || traced == measured))) {
        if (trace && k % 2 == 0) {
          val l = new TaskListener
          sc.addSparkListener(l)
          val p = tracer.span("pass", s"pass$index")(run("measured", tracer))
          ListenerBusDrain(sc)
          sc.removeSparkListener(l)
          listeners += p -> l.snapshot
        } else run("measured", Tracer.Off)
        k += 1
      }
    }
    val loadEnd = Session.loadavg()
    liveHeap.close()

    val all = passes.map(_._2)
    val measuredPasses = passes.collect { case ("measured", p) => p }
    val untraced = measuredPasses.filterNot(_.traced)
    val attempted = all.map(_.ops.size).sum
    val failed = all.map(_.ops.count(!_.ok)).sum
    val cores = Session.cores(spark)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val wall = median(untraced.map(_.wallS).toSeq)
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", wall, "s"),
          // the median op, by each op's own median: the ops of a pass
          // cluster by kind, and a median over every sample falls
          // between clusters and jumps from run to run
          ("op_p50_s", median(untraced.flatMap(_.ops).groupBy(_.name).values
            .map(os => median(os.map(_.seconds).toSeq)).toSeq), "s"),
          ("records_per_s", median(untraced.map(_.records.toDouble).toSeq) / wall, "1/s"),
          ("peak_heap_mb", liveHeap.peakMb, "MB"))
      } else {
        val tp = listeners.map(_._1).toSeq
        def med(f: PassResult => Double): Double = median(tp.map(f))
        def phase(name: String)(p: PassResult): Double =
          p.ops.flatMap(_.phases.get(name)).sum
        def task(k: String, scale: Double = 1.0): Double =
          median(listeners.map(_._2.getOrElse(k, 0L) / scale).toSeq)
        val perQuery = Workloads.Corpus.map { q =>
          (s"queries.${q}_s", med(_.ops.filter(_.name == q).map(_.seconds).sum), "s")
        }
        val layerKeys = tp.flatMap(_.layer.keys).distinct
        val migrateLayer = MigrateLayerMetrics.map { case (k, unit) =>
          (k, if (layerKeys.contains(k)) med(_.layer(k)) else 0.0, unit)
        }
        Seq(
          ("queries.build_s", med(phase("build")), "s"),
          ("queries.build_jobs", task("jobs.build"), "count"),
          ("queries.plan_s", med(phase("plan")), "s"),
          ("queries.exec_s", med(phase("exec")), "s")) ++ perQuery ++ Seq(
          ("tasks.jobs", task("jobs"), "count"),
          ("tasks.stages", task("stages"), "count"),
          ("tasks.count", task("count"), "count"),
          ("tasks.busy_s", task("busy_ms", 1e3), "s"),
          ("tasks.cpu_s", task("cpu_ns", 1e9), "s"),
          ("tasks.gc_s", task("gc_ms", 1e3), "s"),
          ("tasks.scan_bytes", task("scan_bytes"), "bytes"),
          ("tasks.shuffle_write_bytes", task("shuffle_write_bytes"), "bytes"),
          ("tasks.shuffle_read_bytes", task("shuffle_read_bytes"), "bytes"),
          ("tasks.shuffle_wait_s", task("shuffle_wait_ms", 1e3), "s"),
          ("tasks.spill_bytes", task("spill_bytes"), "bytes"),
          ("tasks.result_bytes", task("result_bytes"), "bytes"),
          ("tasks.slot_util", median(listeners.map { case (p, l) =>
            l.getOrElse("busy_ms", 0L) / 1e3 / (p.wallS * cores) }.toSeq), "ratio")) ++
          migrateLayer ++ Seq(
          ("failed_ratio", failed.toDouble / attempted.max(1), "ratio"),
          ("trace.overhead_s",
            med(_.wallS) - median(untraced.map(_.wallS).toSeq), "s"))
      }

    if (trace) tracer.writeJsonl(out.resolve("spans").resolve(s"$workloadName-seed$seed.jsonl"))

    val stamp = Session.stamp(spark) ++ Seq(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "data" -> Paths.get(dataDir).getFileName.toString,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd, "setup_s" -> setupS)
    implicit val formats: DefaultFormats.type = DefaultFormats
    println("perfbench-stamp " + Serialization.write(ListMap(stamp: _*)))
    println("perfbench-passes " + Serialization.write(passes.map { case (kind, p) =>
      Map("index" -> p.index, "kind" -> kind, "traced" -> p.traced, "wall_s" -> p.wallS,
        "records" -> p.records,
        "ops" -> p.ops.map(o => Map("name" -> o.name, "s" -> o.seconds,
          "phases" -> o.phases, "records" -> o.records, "error" -> o.error.orNull)))
    }))
    println(Serialization.write(ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }
        .toMap)))
  }

  val MigrateLayerMetrics: Seq[(String, String)] = Seq(
    "compile.plan_s" -> "s", "engine.load_s" -> "s", "engine.correlate_s" -> "s",
    "engine.writeback_s" -> "s", "engine.reconcile_s" -> "s",
    "sources.query_calls" -> "count", "sources.write_calls" -> "count",
    "sources.rows_read" -> "count", "sources.records_failed" -> "count",
    "sources.busy_s" -> "s", "sources.wait_s" -> "s",
    "sources.rows_read_per_record" -> "ratio", "sources.rows_per_write_call" -> "ratio")
}

/** The session every mode runs on — `graft.Bench`'s settings: all cores
  * of the host, as many shuffle partitions, UTC, no UI. */
object Session {
  def create(localDir: Option[String]): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = localDir.fold(b)(d => b.config("spark.local.dir", d)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Drops every Dataset cache an op left behind, so the next op — and
    * the same op in the next pass — recomputes instead of reading a
    * leftover. RDD-level persists stay: queries keep local checkpoints
    * alive across calls, and those cannot be recomputed. */
  def releaseCaches(spark: SparkSession): Unit = spark.catalog.clearCache()

  def loadavg(): Seq[Double] =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8")
      .trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Nil }

  def stamp(spark: SparkSession): Seq[(String, Any)] = Seq(
    "cores" -> cores(spark),
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"))
}

/** The live heap's high-water mark while it is open: the most heap in
  * use right after any garbage collection, in MB. The heap has a fixed
  * size, so the process's resident set only says how big that heap is;
  * what survives a collection is what the engine keeps reachable. */
final class LiveHeap extends javax.management.NotificationListener {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val peak = new java.util.concurrent.atomic.AtomicLong
  emitters.foreach(_.addNotificationListener(this, null, null))

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max)
    }

  def close(): Unit = emitters.foreach(_.removeNotificationListener(this))

  def peakMb: Double = peak.get / (1024.0 * 1024)
}
