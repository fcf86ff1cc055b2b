package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Harness wiring for scratch storage — the ONE place a local-tmpdir
  * fallback is allowed to live.
  *
  * Operators and registered queries that need a writable directory
  * (binary-file sinks, append round-trips) must take it as a parameter and
  * resolve it through here, never `java.io.tmpdir` directly: on a real
  * cluster executors don't share the driver's tmp, so anything written
  * there is invisible to the next stage. Resolution order:
  *
  *   1. `spark.graft.scratch.dir` (session conf — a deployment sets this to
  *      shared storage: `hdfs://…`, `s3a://…`, a mounted NFS path);
  *   2. `SPARK_GRAFT_SCRATCH_DIR` (env — same, for un-conf'd harnesses);
  *   3. `java.io.tmpdir` — correct ONLY single-host (local[*] test runs).
  *
  * All paths go through the Hadoop `FileSystem` API, so whatever the root
  * resolves to — object store, HDFS, local disk — create/delete/list behave
  * identically.
  */
object Scratch {

  /** The configured scratch root (see resolution order above). */
  def root(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.scratch.dir")
      .orElse(sys.env.get("SPARK_GRAFT_SCRATCH_DIR"))
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** A scratch-name tag that identifies a fixture directory UNIQUELY, not
    * just by basename: `<basename>_<8-hex of the absolute path>`. Every
    * fixture-derived scratch name must use this instead of
    * `new File(dir).getName` — two fixture roots with the same basename
    * (`/data/a/sf1` vs `/data/b/sf1`) would otherwise resolve to the SAME
    * scratch path, and a session-memoized artifact root (verified pairs,
    * d22 prior, s22 eval runs) built for one would be silently overwritten
    * by the other's build while the first memo entry still points at it.
    * The suffix is the first 16 hex chars of a SHA-256 over the absolute
    * path — a 32-bit `String.hashCode` would reintroduce (with small but
    * real probability) exactly the silent-collision failure this helper
    * exists to prevent; 64 bits of a cryptographic digest makes an
    * accidental collision between two fixture paths on one host a
    * non-event. Stable across calls within and across sessions.
    */
  def dirTag(dir: String): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(abs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = digest.take(8).map(b => f"$b%02x").mkString
    s"${new java.io.File(dir).getName}_$hex"
  }

  /** An empty, freshly-created directory `<root>/graft_<appId>/<name>` —
    * cleared on every call so append-mode round-trips start from a clean
    * slate across verify re-runs WITHIN a session, while the `appId`
    * segment keeps concurrent harness processes (bench + verify against the
    * same fixtures) from clobbering each other's in-flight sinks. The whole
    * per-app root is removed on session shutdown.
    */
  def fresh(spark: SparkSession, name: String): String = {
    val appRoot = new Path(root(spark), s"graft_${spark.sparkContext.applicationId}")
    val p = new Path(appRoot, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    fs.mkdirs(p)
    cleanupOnExit(spark, appRoot)
    p.toString
  }

  private val registered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Remove the per-app scratch root when its SparkContext shuts down, so
    * app-id-namespaced dirs don't accumulate in shared scratch storage. A
    * failed delete is reported on stderr (path, class, message) and does not
    * fail the shutdown; fatal errors propagate.
    */
  private def cleanupOnExit(spark: SparkSession, appRoot: Path): Unit =
    if (registered.add(appRoot.toString)) {
      val conf = spark.sparkContext.hadoopConfiguration
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          try { appRoot.getFileSystem(conf).delete(appRoot, true); () }
          catch { case NonFatal(e) =>
            System.err.println(
              s"[scratch] cleanup of $appRoot failed: ${e.getClass.getName}: ${e.getMessage}")
          }
      })
    }
}
