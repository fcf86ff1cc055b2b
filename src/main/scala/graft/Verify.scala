package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Optional third arg: regex over query names, for targeted local re-checks
  * (`runMain graft.Verify <sfDir> <outDir> 'q31.*'`); the driver passes none.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter = args.lift(2).map(_.r)
    def keep(name: String): Boolean =
      nameFilter.forall(_.pattern.matcher(name).matches())
    // The engine session carries FuseDotProduct, so the rule runs under the
    // correctness gate: if it ever diverged from the portable fold, every
    // vector oracle would fail.
    val spark = Engine.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (keep(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Drop the session-scoped operator caches (docFeatures/embeddingsD etc.)
    // explicitly — stop() would too, but this keeps the contract visible and
    // correct if a caller ever loops this main over several fixture dirs.
    spark.catalog.clearCache()
    spark.stop()
  }
}
