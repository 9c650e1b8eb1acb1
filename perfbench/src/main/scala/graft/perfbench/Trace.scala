package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import graft.engine.TableIO
import graft.sources.{OrgRecipe, RemoteOrg}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (0 for the root), `op` the id of the op it
  * belongs to (0 outside any op). Times are JVM nanoTime. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    op: Long, startNs: Long, endNs: Long)

/** Span recorder. Spans opened on the benchmark's own thread nest
  * through a stack; leaf spans recorded from other threads (org calls
  * made from Spark tasks) take that thread's innermost open span as
  * their parent. Spans stay in memory until the run writes them out.
  * The disabled tracer records nothing and only runs the body. */
class Tracer {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private var stack: List[(Long, Long)] = Nil // (span id, op id), own thread only
  @volatile private var top: (Long, Long) = (0L, 0L)

  def enabled: Boolean = true

  /** Runs `body` inside a span; `newOp` starts a new op id. */
  def span[T](layer: String, name: String, newOp: Boolean = false)(body: => T): T = {
    val id = ids.incrementAndGet()
    val (parent, parentOp) = top
    val op = if (newOp) id else parentOp
    stack = (id, op) :: stack
    top = (id, op)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      top = stack.headOption.getOrElse((0L, 0L))
      spans.add(Span(id, parent, layer, name, op, t0, t1))
    }
  }

  /** Records a finished leaf span from any thread. */
  def record(layer: String, name: String, t0: Long, t1: Long): Unit = {
    val (parent, op) = top
    spans.add(Span(ids.incrementAndGet(), parent, layer, name, op, t0, t1))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val base = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      Serialization.write(ListMap(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "op" -> s.op, "start_us" -> (s.startNs - base) / 1000,
        "end_us" -> (s.endNs - base) / 1000))(DefaultFormats)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  object Off extends Tracer {
    override def enabled: Boolean = false
    override def span[T](layer: String, name: String, newOp: Boolean)(body: => T): T = body
    override def record(layer: String, name: String, t0: Long, t1: Long): Unit = ()
  }
}

/** Counters of one org, summed over every thread that calls it. */
final class OrgCounters {
  val queryCalls = new LongAdder
  val writeCalls = new LongAdder
  val rowsRead = new LongAdder
  val rowsWritten = new LongAdder
  val recordsFailed = new LongAdder
  val busyNs = new LongAdder
  val waitNs = new LongAdder

  def snapshot: Map[String, Long] = Map(
    "query_calls" -> queryCalls.sum, "write_calls" -> writeCalls.sum,
    "rows_read" -> rowsRead.sum, "rows_written" -> rowsWritten.sum,
    "records_failed" -> recordsFailed.sum, "busy_ns" -> busyNs.sum,
    "wait_ns" -> waitNs.sum)
}

/** Timing decorator for a [[RemoteOrg]], registered in its place. Every
  * verb takes the org's monitor first, so the time spent blocked on it
  * (`waitNs`) is split from the time spent holding it (`busyNs`); the
  * simulator's own verbs synchronize on the same monitor and re-enter
  * it. Results pass through unchanged. */
final class TimedOrg(inner: RemoteOrg, tracer: Tracer, val counters: OrgCounters)
    extends RemoteOrg {

  private def call[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    inner.synchronized {
      val t1 = System.nanoTime()
      try body
      finally {
        val t2 = System.nanoTime()
        counters.waitNs.add(t1 - t0)
        counters.busyNs.add(t2 - t1)
        tracer.record("sources", name, t0, t2)
      }
    }
  }

  private def write[T](name: String, rows: Int)(body: => T): T = {
    counters.writeCalls.increment()
    counters.rowsWritten.add(rows)
    call(name)(body)
  }

  override def describe(sObject: String): StructType =
    call("describe")(inner.describe(sObject))

  override def query(soql: String): Iterator[Row] = {
    counters.queryCalls.increment()
    val it = call("query")(inner.query(soql))
    it.map { r => counters.rowsRead.increment(); r }
  }

  override def insert(sObject: String, rows: Seq[Row], schema: StructType): Seq[String] = {
    val ids = write("insert", rows.size)(inner.insert(sObject, rows, schema))
    counters.recordsFailed.add(rows.size - ids.size)
    ids
  }

  override def update(sObject: String, rows: Seq[Row], schema: StructType): (Int, Int) = {
    val r = write("update", rows.size)(inner.update(sObject, rows, schema))
    counters.recordsFailed.add(r._2)
    r
  }

  override def upsert(sObject: String, externalIdField: String, rows: Seq[Row],
      schema: StructType): (Int, Int) =
    write("upsert", rows.size)(inner.upsert(sObject, externalIdField, rows, schema))

  override def delete(sObject: String, ids: Seq[String]): Int =
    write("delete", ids.size)(inner.delete(sObject, ids))

  override def deleteWhere(sObject: String, predicates: Seq[String]): Int =
    write("deleteWhere", 0)(inner.deleteWhere(sObject, predicates))

  override def pkChunkBoundaries(sObject: String, desiredChunks: Int): Seq[String] =
    call("pkChunkBoundaries")(inner.pkChunkBoundaries(sObject, desiredChunks))

  override def recipe: Option[OrgRecipe] = inner.recipe
  override def close(): Unit = inner.close()
}

/** Timing decorator for a [[TableIO]]: insert is the load, update the
  * write-back. Reads build lazy plans and pass through untimed. */
final class TimedTableIO(inner: TableIO, tracer: Tracer) extends TableIO {
  val loadNs = new AtomicLong
  val writebackNs = new AtomicLong

  private def timed[T](acc: AtomicLong, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span("engine", name)(body)
    finally acc.addAndGet(System.nanoTime() - t0)
  }

  override def read(table: String): DataFrame = inner.read(table)
  override def insert(table: String, rows: DataFrame): DataFrame =
    timed(loadNs, "load")(inner.insert(table, rows))
  override def update(table: String, rows: DataFrame): Long =
    timed(writebackNs, "writeback")(inner.update(table, rows))
  override def overwrite(table: String, rows: DataFrame): Unit =
    inner.overwrite(table, rows)
}

/** Task, stage and job totals from the listener bus. Jobs are also
  * counted per phase, read from the `PhaseKey` local property the
  * traced run sets around each phase. */
final class TaskListener extends SparkListener {
  private val c = new ConcurrentHashMap[String, LongAdder]()
  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new LongAdder).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    Option(e.properties).flatMap(p => Option(p.getProperty(TaskListener.PhaseKey)))
      .foreach(ph => add(s"jobs.$ph", 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    add("count", 1)
    if (m != null) {
      add("busy_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("scan_bytes", m.inputMetrics.bytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("result_bytes", m.resultSize)
    }
  }

  def snapshot: Map[String, Long] = c.asScala.map { case (k, v) => k -> v.sum }.toMap
}

object TaskListener {
  val PhaseKey = "perfbench.phase"
}
