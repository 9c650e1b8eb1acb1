package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._

class FingerprintSuite extends LocalSpark {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType), StructField("tags", ArrayType(StringType))))
  private val rows = Seq(
    Row(1L, "ann", 1.5, Seq("a", "b")),
    Row(2L, "bob", null, Seq("c")),
    Row(3L, null, -0.25, Seq.empty[String]),
    Row(4L, "dee", 7.0, null))
  private def frame(rs: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), schema)

  test("ignores row order and partitioning") {
    val base = Fingerprint.of(frame(rows))
    assert(base.rows == 4)
    assert(Fingerprint.of(frame(rows.reverse)) == base)
    assert(Fingerprint.of(frame(rows).repartition(3)) == base)
    assert(Fingerprint.of(frame(rows).orderBy(col("id").desc)) == base)
  }

  test("changes when any single column value changes") {
    val base = Fingerprint.of(frame(rows))
    val other: Seq[Any] = Seq(9L, "zed", 2.5, Seq("q"))
    for (i <- rows.indices; j <- schema.indices) {
      val changed = rows.updated(i, Row.fromSeq(rows(i).toSeq.updated(j, other(j))))
      assert(Fingerprint.of(frame(changed)) != base, s"row $i column ${schema(j).name}")
    }
  }

  test("counts duplicate rows") {
    assert(Fingerprint.of(frame(rows :+ rows.head)) != Fingerprint.of(frame(rows)))
    assert(Fingerprint.of(frame(rows :+ rows.head)).rows == 5)
  }

  test("computes every output column, which count() prunes") {
    val calls = spark.sparkContext.longAccumulator
    val touch = udf { (x: Long) => calls.add(1); x }
    val df = spark.range(100).select(touch(col("id")).as("id"))
    df.count()
    val afterCount = calls.value
    Fingerprint.of(df)
    assert(afterCount == 0)
    assert(calls.value == 100)
  }

  test("round-trips through its string form") {
    val fp = Fingerprint.of(frame(rows))
    assert(Fingerprint.parse(fp.toString) == fp)
  }
}
