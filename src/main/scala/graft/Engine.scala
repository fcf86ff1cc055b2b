package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The engine's one Spark session. Every main (Bench, Verify, Explain,
  * ScaleUp) and the test suites start here, so the optimizer rules, SQL
  * functions and confs a plan is timed, checked and dumped under are the
  * same. Rules and functions arrive through Catalyst's extension point
  * ([[GraftExtensions]]), which injects `FuseDotProduct` and registers the
  * native SQL functions.
  */
object Engine {

  /** Cores to run on: `SPARK_GRAFT_CPUS`, else every core the JVM may use. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cpus]` with one shuffle partition per core, UI off, UTC session
    * time zone and the engine's extensions.
    */
  def session(): SparkSession = {
    val n = cpus.toString
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
