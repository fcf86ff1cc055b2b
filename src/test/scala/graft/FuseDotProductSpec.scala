package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorOps
import graft.SparkTestSession.withFuseDotProduct

class FuseDotProductSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val edgeDf = Seq(
    (0, Some(Seq(Some(1.5), Some(-2.0), Some(3.25))), Some(Seq(Some(2.0), Some(0.5), Some(-1.0)))),
    (1, Some(Seq(Some(1.0), None, Some(3.0))), Some(Seq(Some(1.0), Some(2.0), Some(3.0)))), // null elem
    (2, Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(1.0)))),                             // len mismatch
    (3, Some(Seq.empty[Option[Double]]), Some(Seq.empty[Option[Double]])),                  // both empty
    (4, Option.empty[Seq[Option[Double]]], Some(Seq(Some(1.0))))                            // top-level null
  ).toDF("idx", "a", "b")
    // block ConvertToLocalRelation from constant-folding the projection
    // away before the rule can be observed
    .repartition(2)

  test("the portable fold is rewritten to dot_product and stays bit-identical") {
    def query() = edgeDf
      .select(col("idx"), VectorOps.dot(col("a"), col("b")).as("d"))
      .orderBy(col("idx"))
    val portable = query().collect()
    val (fused, plan) = withFuseDotProduct {
      val df = query()
      (df.collect(), df.queryExecution.optimizedPlan.toString)
    }
    assert(plan.contains("dot_product"), s"rule did not fire:\n$plan")
    assert(!plan.contains("aggregate(zip_with"))
    portable.zip(fused).foreach { case (p, f) =>
      assert(p.isNullAt(1) == f.isNullAt(1))
      if (!p.isNullAt(1))
        assert(java.lang.Double.doubleToRawLongBits(p.getDouble(1)) ==
          java.lang.Double.doubleToRawLongBits(f.getDouble(1)))
    }
    // expected values: row 0 computed, row 3 empty -> 0.0, rest null
    assert(!fused(0).isNullAt(1) && fused(1).isNullAt(1) && fused(2).isNullAt(1))
    assert(fused(3).getDouble(1) == 0.0 && fused(4).isNullAt(1))
  }

  test("near-miss patterns are left alone") {
    val cases = Seq(
      // seed not +0.0
      "aggregate(zip_with(a, b, (x, y) -> x * y), 1.0d, (acc, v) -> acc + v)",
      // merge is not a plain add of the variables
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0d, (acc, v) -> acc + v * 2.0d)",
      // zip lambda multiplies a variable with itself
      "aggregate(zip_with(a, b, (x, y) -> x * x), 0.0d, (acc, v) -> acc + v)")
    withFuseDotProduct {
      cases.foreach { e =>
        val plan = edgeDf.selectExpr(s"$e AS d")
          .queryExecution.optimizedPlan.toString
        assert(!plan.contains("dot_product"), s"rule wrongly fired on: $e\n$plan")
      }
    }
  }

  test("the integer fold is rewritten to int_dot and stays value-identical") {
    val intDf = Seq(
      (0, Some(Seq(Some(3L), Some(-2L), Some(5L))), Some(Seq(Some(2L), Some(7L), Some(1L)))),
      (1, Some(Seq(Some(1L), None)), Some(Seq(Some(1L), Some(2L)))),   // null elem
      (2, Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(1L)))),         // len mismatch
      (3, Some(Seq.empty[Option[Long]]), Some(Seq.empty[Option[Long]])) // both empty
    ).toDF("idx", "a", "b").repartition(2)
    def query() = intDf.selectExpr("idx",
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v) AS d")
      .orderBy("idx")
    val portable = query().collect()
    val (fused, plan) = withFuseDotProduct {
      val df = query()
      (df.collect(), df.queryExecution.optimizedPlan.toString)
    }
    assert(plan.contains("int_dot"), s"rule did not fire:\n$plan")
    portable.zip(fused).foreach { case (p, f) =>
      assert(p.isNullAt(1) == f.isNullAt(1))
      if (!p.isNullAt(1)) assert(p.getLong(1) == f.getLong(1))
    }
    assert(fused(0).getLong(1) == -3L && fused(1).isNullAt(1) &&
      fused(2).isNullAt(1) && fused(3).getLong(1) == 0L)
    // (an INT-typed `0` seed against the BIGINT merge lambda is an
    // analysis-time type error in Spark, so no near-miss case exists
    // there — the only reachable integer spelling is the 0L one above)
  }

  test("SQL spelling through the fold is fused too, on real embeddings") {
    val e = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val portable = e.select(col("vec_id"), VectorOps.dot(col("v"), col("v")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fused = withFuseDotProduct {
      e.select(col("vec_id"), VectorOps.dot(col("v"), col("v")).as("d"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(portable == fused)
  }
}
