package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorOps

class CosineSimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("codegen'd cosine is bit-identical to the portable fold on real data") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val a = e.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("v").as("vb"))
    val pairs = a.join(b, col("ia") < col("ib") && col("ib") <= col("ia") + 3)
    val diffs = pairs
      .withColumn("slow", VectorOps.cosine(col("va"), col("vb")))
      .withColumn("fast", VectorOps.cosineFast(col("va"), col("vb")))
      .filter(col("slow") =!= col("fast")) // exact bit comparison
      .count()
    assert(diffs == 0)
  }

  test("implicit cast accepts float arrays; zero norm yields NaN; null in -> null out") {
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f, 2.0f))),
      (Some(Seq(0.0f, 0.0f)), Some(Seq(1.0f, 1.0f))),
      (Option.empty[Seq[Float]], Some(Seq(1.0f, 1.0f)))
    ).toDF("a", "b")
    val got = df.select(VectorOps.cosineFast(col("a"), col("b"))).collect()
    assert(math.abs(got(0).getDouble(0) - 1.0) < 1e-12)
    assert(got(1).getDouble(0).isNaN)
    assert(got(2).isNullAt(0))
  }

  test("length mismatch yields null in both forms (no silent truncation)") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val got = df.select(
      VectorOps.cosine(col("a"), col("b")).as("slow"),
      VectorOps.cosineFast(col("a"), col("b")).as("fast")).first
    assert(got.isNullAt(0) && got.isNullAt(1))
  }

  test("null ELEMENT yields null, matching the portable fold (both eval paths)") {
    val df = Seq(
      (Some(Seq(Some(1.0), None, Some(3.0))), Some(Seq(Some(1.0), Some(2.0), Some(3.0)))),
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(1.0), None))),
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), Some(4.0))))
    ).toDF("a", "b")
    // codegen path and portable fold agree (null-safe equality over all rows)
    val disagree = df.filter(
      !(VectorOps.cosineFast(col("a"), col("b")) <=> VectorOps.cosine(col("a"), col("b")))
    ).count()
    assert(disagree == 0)
    val got = df.select(VectorOps.cosineFast(col("a"), col("b"))).collect()
    assert(got(0).isNullAt(0) && got(1).isNullAt(0) && !got(2).isNullAt(0))
    // interpreted path (eval) must agree too: force it through a filter on
    // a non-codegen context by collecting via expression eval on rows
    val interp = graft.functions.CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq[java.lang.Double](1.0, null, 3.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, true)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq[java.lang.Double](1.0, 2.0, 3.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, true)))
      .eval(null)
    assert(interp == null)
  }

  test("cosine_sim is SQL-callable once registered (GraftExtensions wiring)") {
    val got = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").first.getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }
}
