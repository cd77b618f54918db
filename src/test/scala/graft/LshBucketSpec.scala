package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession.portable
import graft.operators.VectorOps

class LshBucketSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("native lshBucket is value-identical to the portable fold on the fixture") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(VectorOps.toDouble(col("embedding")).as("v"))
    for (planes <- Seq(6, 8)) {
      val diff = portable(e.select(
          VectorOps.lshBucket(col("v"), planes, 64).as("a"),
          VectorOps.lshBucketFast(col("v"), planes, 64).as("b"))
        .filter(col("a") =!= col("b")).count())
      assert(diff == 0)
    }
  }

  test("null element -> bucket 0, matching the portable fold (no NPE)") {
    import spark.implicits._
    val df = Seq(
      Seq[Option[Double]](Some(1.0), None, Some(3.0), Some(4.0)),
      Seq[Option[Double]](Some(1.0), Some(2.0), Some(3.0), Some(4.0))
    ).toDF("v")
    val got = portable(df.select(
      VectorOps.lshBucket(col("v"), 4, 4).as("slow"),
      VectorOps.lshBucketFast(col("v"), 4, 4).as("fast")).collect())
    assert(got(0).getLong(0) == got(0).getLong(1) && got(0).getLong(1) == 0L)
    // all-planes-negative can legitimately give 0; only parity is asserted
    assert(got(1).getLong(0) == got(1).getLong(1))
  }
}
