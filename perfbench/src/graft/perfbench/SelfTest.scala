package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Drives [[Harness.run]], traced, over a two-query registry in which one
  * query always throws, and writes the raw record for
  * perfbench/test_perfbench.py: `SelfTest <fixture dir> <scratch> <out.json>`.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val Array(data, scratch, out) = args
    val registry: Map[String, Harness.Query] = Map(
      "ok_range" -> ((s: SparkSession, _: String) => s.range(100).toDF()),
      "always_throws" -> ((_: SparkSession, _: String) =>
        throw new IllegalStateException("deliberate failure")))
    val o = Harness.Opts(data, registry.keys.toSeq.sorted, seconds = 0.5,
      trace = true, append = false, dump = s"$scratch/dump",
      scratch = scratch, out = out)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(out), Harness.run(o, registry))
  }
}
