package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Plan dumper: writes each named query's formatted plan to
  * `<outDir>/<query>_<tag>.txt`, all in one engine session (no args: lists
  * the registered query names).
  *
  * `runMain graft.Explain <sfDir> <outDir> <tag> <query...>`
  *
  * Each builder is called exactly once and the dumped plan is that call's
  * own QueryExecution, after one `count()`: stored-artifact roots then
  * exist and persisted frames show as InMemoryRelation, as they do
  * in-suite. A second builder call would re-run its side effects
  * (append-mode artifact writes, eager walk queries), so the plan could
  * differ from what one in-suite run sees. For timings, run `graft.Bench`
  * with `SPARK_GRAFT_BENCH_ONLY`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    require(args.length >= 4,
      "usage: Explain <sfDir> <outDir> <tag> <query...>")
    val Array(sfDir, outDir, tag) = args.take(3)
    val registry = SparkEntry.queries
    val spark = Engine.session()
    Files.createDirectories(Paths.get(outDir))
    args.drop(3).foreach { name =>
      val df = registry(name)(spark, sfDir)
      df.count()
      val plan = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[explain] wrote $name ($tag)")
    }
    spark.stop()
  }
}
