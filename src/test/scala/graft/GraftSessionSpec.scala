package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorOps
import graft.plans.GraftExtensions

/** The shared test session is a [[GraftSession]] session: the same
  * extensions, optimizer rules and settings Bench, Verify and Explain use.
  */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("the test session runs local[4] in UTC with shuffle partitions = cpus") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("every GraftExtensions registration resolves through SQL") {
    val calls = Seq(
      "cosine_sim" -> "cosine_sim(array(1D, 0D), array(1D, 0D))",
      "dot_product" -> "dot_product(array(1D, 2D), array(3D, 4D))",
      "int_dot" -> "int_dot(array(1L, 2L), array(3L, 4L))",
      "int8_quantize" -> "int8_quantize(array(1D, -1D))",
      "nfc_normalize" -> "nfc_normalize('café')",
      "shingle_hashes" -> "shingle_hashes('a b c', 2)",
      "char_ngram_hashes" -> "char_ngram_hashes('abcdef', 5)",
      "simhash32" -> "simhash32(shingle_hashes('a b c', 2))",
      "minhash_bands" -> "minhash_bands(shingle_hashes('a b c', 2), 4, 3)",
      "lsh_bucket" -> "lsh_bucket(array(1D, 2D), 4, 2)",
      "intersect_count" -> "intersect_count(array(1, 2), array(2, 3))",
      "md5_hash48" -> "md5_hash48('abc')")
    // a new registration must add its call here
    val names = calls.map(_._1)
    assert(GraftExtensions.registrations.map(_._1.funcName).toSet == names.toSet)
    val row = spark.sql(calls.map(_._2).mkString("SELECT ", ", ", "")).head()
    assert(row.getDouble(names.indexOf("dot_product")) == 11.0)
    assert(row.getLong(names.indexOf("md5_hash48")) ==
      graft.functions.Md5Hash48.hash48(
        org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
  }

  test("the portable dot fold is optimized to dot_product with no toggle") {
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b").repartition(2)
    def plan() = df.select(VectorOps.dot(col("a"), col("b")))
      .queryExecution.optimizedPlan.toString
    assert(plan().contains("dot_product"), plan())
    assert(!SparkTestSession.portable(plan()).contains("dot_product"))
  }

  test("no source file but GraftSession.scala builds a SparkSession") {
    val builder = """SparkSession\s*\.\s*builder""".r
    val offenders = Using.resource(Files.walk(Paths.get("src")))(_.iterator()
      .asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftSession.scala")
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .toList)
    assert(offenders.isEmpty, s"build sessions with GraftSession.local: $offenders")
  }
}
