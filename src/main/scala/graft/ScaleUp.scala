package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture scale-up: `runMain graft.ScaleUp <srcDir> <outDir> [factor]`
  * replicates a fixture directory `factor`× (default 10) with disjoint key
  * spaces, for measuring how query cost scales with data volume (the
  * sf0.1 → sf1 slope check; fixtures above sf0.1 aren't driver-provided).
  *
  * The replication preserves each table's LOGICAL shape rather than its
  * bytes, the way a real 10× corpus would grow:
  *   - fact/entity keys shift by `copy · 10^9` per copy, uniformly across
  *     tables, so every join edge (orders↔lineitem, orders↔customer,
  *     lineitem↔part/supplier, events↔user) stays intact while key
  *     cardinality grows linearly;
  *   - tiny fixed dims (region, nation) stay fixed — as at any real scale;
  *   - document text gets a per-copy suffix so near-dup candidate
  *     generation sees 10× docs, not pathological 10-way exact-duplicate
  *     cliques that no real corpus growth would produce;
  *   - embeddings rotate by `copy` positions — norm- and
  *     distribution-preserving, but genuinely distinct vectors, so ANN
  *     corpus size truly grows (queries remain the copy-0 `vec_id <= 2`).
  *
  * Writes with the source's partition-parallelism ×copies, so downstream
  * scans see a file layout that grew with the data.
  */
object ScaleUp {

  /** Per-copy key shift: far above any fixture key, so copies cannot
    * collide; constant across tables, so shifted foreign keys still join.
    */
  val KeyShift = 1000000000L

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Engine.session()
    scaleAll(spark, srcDir, outDir, factor)
    spark.stop()
  }

  def scaleAll(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    def src(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")

    /** Union `factor` shifted copies of `df`. `shift(df, i)` must return
      * the i-th copy; copy 0 is the original.
      */
    def rep(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => shift(df, i)).reduce(_.unionAll(_))

    def shiftKeys(keys: String*)(df: DataFrame, i: Int): DataFrame =
      keys.foldLeft(df)((d, k) =>
        d.withColumn(k, (col(k) + lit(i * KeyShift)).cast("long")))

    val plans: Seq[(String, DataFrame)] = Seq(
      "region" -> src("region"),
      "nation" -> src("nation"),
      // Entity names re-derive from the SHIFTED key (copy 0 is untouched:
      // %09d of a sub-1e9 key reproduces the fixture's own name): a real
      // 10x registry has 10x DISTINCT entities, not every name duplicated
      // 10x — name reuse makes any name-keyed blocking/linkage block grow
      // with the copy count and its pairwise term quadratic in it, the
      // tabular twin of the document-text near-dup clique note below.
      "customer" -> rep(src("customer")) { (df, i) =>
        val shifted = shiftKeys("c_custkey")(df, i)
        if (i == 0) shifted
        else shifted.withColumn("c_name",
          format_string("Customer#%09d", col("c_custkey")))
      },
      "supplier" -> rep(src("supplier")) { (df, i) =>
        val shifted = shiftKeys("s_suppkey")(df, i)
        if (i == 0) shifted
        else shifted.withColumn("s_name",
          format_string("Supplier#%09d", col("s_suppkey")))
      },
      "part" -> rep(src("part"))(shiftKeys("p_partkey")),
      "orders" -> rep(src("orders"))(shiftKeys("o_orderkey", "o_custkey")),
      "lineitem" -> rep(src("lineitem"))(
        shiftKeys("l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> rep(src("events"))(shiftKeys("event_id", "user_id")),
      "documents" -> rep(src("documents")) { (df, i) =>
        val shifted = shiftKeys("doc_id")(df, i)
        if (i == 0) shifted
        // Tag every 4th word with the copy index (phase-shifted per copy):
        // ~3/4 of a copy's word 3-shingles differ from every other copy's
        // (cross-copy Jaccard ~0.14, below near-dup thresholds), so the
        // scaled corpus carries 10x the fixture's PLANTED dup rate instead
        // of a synthetic 10-way near-dup clique per document — a plain
        // suffix leaves shingles ~identical and explodes candidate pairs
        // quadratically in the copy count, which no real corpus growth
        // does. Tagging 1/4 of positions also keeps vocabulary growth
        // sublinear (Heaps-ish), not 10x.
        else shifted.withColumn("text",
          array_join(transform(split(col("text"), " "), (w, j) =>
            when((j + lit(i)) % 4 === 0, concat(w, lit(i.toString)))
              .otherwise(w)), " "))
      },
      "embeddings" -> rep(src("embeddings")) { (df, i) =>
        val shifted = shiftKeys("vec_id")(df, i)
        if (i == 0) shifted
        else {
          // rotate by i: element j of the copy is element (j+i) mod 64 of
          // the original — distinct vectors, same norm and per-dim family
          val d = 64
          shifted.withColumn("embedding",
            transform(sequence(lit(0), lit(d - 1)), j =>
              element_at(col("embedding"), ((j + i) % d + 1).cast("int"))))
        }
      })

    plans.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name -> $outDir/$name.parquet")
    }
  }
}
