package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ZipWith}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DotProduct
import graft.operators.VectorOps

/** [[Engine.session]] is the one session every main runs under; the test
  * session is that session with `FuseDotProduct` excluded, so reference
  * suites still compare a native kernel against the real portable fold.
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import SparkTestSession.withFuseDotProduct

  /** Optimized-plan counts of fused `DotProduct` nodes and of unfused
    * `aggregate(zip_with…)` folds in the portable dot of two columns.
    */
  private def dotFold(s: SparkSession): (Int, Int) = {
    import s.implicits._
    val df = Seq((Seq(1.5, -2.0), Seq(2.0, 0.5)), (Seq(1.0, 3.0), Seq(4.0, 1.0)))
      .toDF("a", "b")
      // block ConvertToLocalRelation from folding the projection away
      .repartition(2)
      .select(VectorOps.dot(col("a"), col("b")).as("d"))
    val exprs = df.queryExecution.optimizedPlan.expressions
    (exprs.map(_.collect { case d: DotProduct => d }.size).sum,
      exprs.map(_.collect {
        case a @ ArrayAggregate(_: ZipWith, _, _, _) => a
      }.size).sum)
  }

  test("Engine.session: UTC, one shuffle partition per core, UI off, SQL functions") {
    // force the test session first, so its rule exclusion is in place
    val s0 = spark
    val s = Engine.session()
    assert(s eq s0, "one JVM, one session: Engine.session reuses the test session")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") == Engine.cpus.toString)
    assert(s.sparkContext.master == s"local[${Engine.cpus}]")
    assert(s.sparkContext.uiWebUrl.isEmpty)
    val c = s.sql("SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d))")
      .first().getDouble(0)
    assert(c == 1.0)
  }

  test("Engine.session fuses the portable dot fold; the test session does not") {
    withFuseDotProduct {
      assert(dotFold(Engine.session()) == ((1, 0)))
    }
    assert(dotFold(spark) == ((0, 1)),
      "the test session must keep the portable fold as the reference")
  }

  test("the test session keeps catalog-managed tables out of the repo") {
    assert(spark.conf.get("spark.sql.warehouse.dir").contains("graft-test-warehouse"))
  }
}
