package perfbench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  import TestSession.spark.implicits._

  private val rows = Seq(
    (1L, "a", 0.5, Seq(1, 2), Map("k" -> 1)),
    (2L, "b", -1.25, Seq.empty[Int], Map("x" -> 2, "y" -> 3)),
    (3L, null, 3.0, Seq(7), Map.empty[String, Int]),
    (3L, null, 3.0, Seq(7), Map.empty[String, Int]),
    (4L, "d", Double.NaN, null, null))
  private def frame(rs: Seq[(Long, String, Double, Seq[Int], Map[String, Int])]) =
    rs.toDF("id", "s", "v", "arr", "m")
  private lazy val df = frame(rows)

  test("digest is invariant under row order and partitioning") {
    val base = Digest.of(df)
    assert(base.rows == 5)
    assert(Digest.of(df.orderBy(rand(7))) == base)
    assert(Digest.of(df.repartition(3)) == base)
    assert(Digest.of(df.repartition(4, col("s")).sortWithinPartitions(col("v"))) == base)
    assert(Digest.of(df.coalesce(1).orderBy(col("id").desc)) == base)
  }

  test("digest changes with one changed cell, a dropped duplicate, or a column") {
    val base = Digest.of(df)
    val oneCell = df.withColumn("v",
      when(col("id") === 2L, lit(-1.2500001)).otherwise(col("v")))
    assert(Digest.of(oneCell).digest != base.digest)
    assert(Digest.of(frame(rows.distinct)).digest != base.digest)
    assert(Digest.of(df.drop("m")).digest != base.digest)
    val swapped = df.select(col("id"), col("v"), col("s"), col("arr"), col("m"))
    assert(Digest.of(swapped).digest != base.digest)
  }

  test("digest consumes every column, unlike count()") {
    // a UDF that fails on one row: count() prunes it, the digest cannot
    val boom = udf((x: Long) => { require(x != 3L, "evaluated"); x })
    val withBoom = spark.range(5).withColumn("b", boom(col("id")))
    assert(withBoom.count() == 5)
    val e = intercept[Exception](Digest.of(withBoom))
    assert(e.toString.contains("evaluated"))
  }

  test("an empty result has a fixed digest") {
    assert(Digest.of(df.filter(lit(false))) == Digest.Result(0, "0000000000000000"))
  }
}
