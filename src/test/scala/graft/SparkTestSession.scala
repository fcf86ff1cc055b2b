package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (spark-guide: one session per
  * suite; sbt forks a single test JVM, so share across suites too).
  *
  * It is the engine session with `FuseDotProduct` excluded: several suites
  * compare a native kernel against the portable `aggregate(zip_with…)`
  * fold, and with the rule on both sides would be the same native kernel.
  * Suites that test the rule run under [[withFuseDotProduct]].
  */
object SparkTestSession {
  private val ExcludedRules = "spark.sql.optimizer.excludedRules"

  // The warehouse dir (catalog-managed tables land in tmp, not the repo)
  // comes from build.sbt's test javaOptions; the rule exclusion is a
  // runtime conf.
  lazy val spark: SparkSession = {
    val s = Engine.session()
    s.conf.set(ExcludedRules, graft.plans.FuseDotProduct.ruleName)
    s
  }

  /** Runs `body` with the engine's `FuseDotProduct` rule active. */
  def withFuseDotProduct[A](body: => A): A = {
    val was = spark.conf.get(ExcludedRules)
    spark.conf.unset(ExcludedRules)
    try body
    finally spark.conf.set(ExcludedRules, was)
  }
}
