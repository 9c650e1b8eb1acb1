package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** Order-independent digest of a query output: the row count and the
  * wrapping sum of a 64-bit hash of every row's UnsafeRow bytes. Any
  * changed value changes that row's bytes and so (up to 64-bit
  * collisions) the sum; row order and partitioning do not enter it. */
final case class Fingerprint(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

object Fingerprint {
  private val Seed = 0x6772616674L

  def parse(s: String): Fingerprint = {
    val Array(n, h) = s.split(":")
    Fingerprint(n.toLong, java.lang.Long.parseUnsignedLong(h, 16))
  }

  /** Materializes `df` by executing its own physical plan, exactly as an
    * action or a sink would — nothing is pruned above it, unlike
    * `count()` — and folds every output row into the digest on the way.
    * Forces `executedPlan` first, so callers that time planning
    * separately should touch it before calling this. */
  def of(df: DataFrame): Fingerprint = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench fingerprint")) {
      qe.toRdd.mapPartitions { it =>
        val toUnsafe = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        while (it.hasNext) {
          val r = toUnsafe(it.next())
          h += XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset,
            r.getSizeInBytes, Seed)
          n += 1
        }
        Iterator.single((n, h))
      }.collect()
    }
    Fingerprint(parts.iterator.map(_._1).sum, parts.iterator.map(_._2).sum)
  }
}
