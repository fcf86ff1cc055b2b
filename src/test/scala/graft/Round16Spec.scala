package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 batch: the native slot-agreement expression that replaced the
  * interpreted zip_with fold in the MinHash-estimator family (d14/d20).
  */
class Round16Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // ---- ArrayAgreeCount: exact parity with the portable fold ----

  /** The fold ArrayAgreeCount fuses, spelled exactly as d14 had it. */
  private def foldAgree(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)

  test("agree_count equals the zip_with fold on every edge: partial " +
      "agreement, length mismatch (padding counts 0), null elements, " +
      "null array, empty arrays") {
    import spark.implicits._
    val rows = Seq(
      (Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](1L, 2L, 3L)),
      (Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](1L, 9L, 3L)),
      (Seq[java.lang.Long](1L, 2L, 3L, 4L), Seq[java.lang.Long](1L, 2L)),
      (Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, null, 3L)),
      (Seq[java.lang.Long](null, 2L), Seq[java.lang.Long](1L, 2L, 5L)),
      (null, Seq[java.lang.Long](1L)),
      (Seq.empty[java.lang.Long], Seq.empty[java.lang.Long]),
      (Seq.empty[java.lang.Long], Seq[java.lang.Long](7L)))
    val df = rows.toDF("a", "b")
      .select(
        graft.functions.ArrayAgreeCount.agreeCount(col("a"), col("b"))
          .as("fused"),
        foldAgree(col("a"), col("b")).as("portable"))
    val got = df.collect().map(r =>
      (Option(r.get(0)), Option(r.get(1))))
    got.zipWithIndex.foreach { case ((fused, portable), i) =>
      assert(fused == portable, s"row $i: fused $fused vs fold $portable")
    }
    // and the expected literals, so the fold itself is what we think it is:
    // null===null is null -> 0, padding -> 0, null array -> null
    assert(got.map(_._1) === Seq(Some(3), Some(2), Some(2), Some(2),
      Some(1), None, Some(0), Some(0)))
  }

  test("stored verified-pair table row-equals the live derivation " +
      "(candidates, band counts, unrounded jaccard)") {
    // the artifact d14/d19/d21 and the graph analyses read must never
    // drift from what d04's live path computes — same candidates, same
    // n_shared_bands, bit-identical jaccard doubles through parquet
    val feats = ExtensionQueries.docFeatures(spark, dir)
    val pairs = graft.operators.Dedup
      .lshCandidatePairs(feats, bands = 4, rows = 3)
    val cols = Seq("doc_a", "doc_b", "n_shared_bands", "jaccard")
    val live = graft.operators.Dedup.jaccardOnPairs(pairs, feats)
      .select(cols.map(col): _*)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toList
    val stored = ExtensionQueries.verifiedPairs(spark, dir)
      .select(cols.map(col): _*)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toList
    assert(live.nonEmpty)
    assert(stored == live)
  }

  test("star contraction releases superseded checkpoint rounds — only " +
      "the final edge set survives in the block manager") {
    import spark.implicits._
    // a 40-chain takes several alternations; without the r16 release
    // every round would leave TWO checkpointed edge sets pinned
    val docs = (0L until 40L).toDF("id")
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val labels = graft.operators.Dedup.starContractClusters(docs, pairs)
    assert(labels.collect().forall(_.getLong(1) == 0L),
      "chain must contract to one component rooted at 0")
    val after = spark.sparkContext.getPersistentRDDs.keySet
    val leaked = (after -- before).size
    assert(leaked <= 2,
      s"superseded rounds must be released, found $leaked new persistent " +
        "RDDs (expected at most the final edge set and its round input)")
  }

  test("d14's estimate column is unchanged by the fused expression " +
      "(whole-query parity on the real fixture)") {
    val feats = ExtensionQueries.docFeatures(spark, dir)
    val pairs = graft.operators.Dedup
      .lshCandidatePairs(feats, bands = 4, rows = 3)
      .select(col("doc_a"), col("doc_b"))
    val mh = feats.select(col("id"),
      array((0 until 12).map(j =>
        graft.operators.TextOps.minhashAt(col("features"), j)): _*).as("mh"))
    val joined = pairs
      .join(mh.select(col("id").as("doc_a"), col("mh").as("mha")), "doc_a")
      .join(mh.select(col("id").as("doc_b"), col("mh").as("mhb")), "doc_b")
      .select(
        graft.functions.ArrayAgreeCount.agreeCount(col("mha"), col("mhb"))
          .as("fused"),
        foldAgree(col("mha"), col("mhb")).as("portable"))
    assert(joined.count() > 0)
    assert(joined.filter(
      not(col("fused") <=> col("portable"))).count() === 0L)
  }

  // ---- LongIntersectCount: the count-only verify inner loop ----

  test("jaccardOnPairs with the native intersect_count matches the " +
      "size(array_intersect) form on the real fixture's candidate pairs " +
      "(exact double equality — same counts, same arithmetic)") {
    val feats = ExtensionQueries.docFeatures(spark, dir)
    val pairs = graft.operators.Dedup
      .lshCandidatePairs(feats, bands = 4, rows = 3)
      .select(col("doc_a"), col("doc_b"))
    val fa = feats.select(col("id").as("doc_a"), col("features").as("fa"))
    val fb = feats.select(col("id").as("doc_b"), col("features").as("fb"))
    val portable = pairs.join(fa, "doc_a").join(fb, "doc_b")
      .withColumn("__overlap",
        size(array_intersect(col("fa"), col("fb"))).cast("double"))
      .withColumn("jaccard",
        col("__overlap") / (size(col("fa")) + size(col("fb")) - col("__overlap")))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val fused = graft.operators.Dedup.jaccardOnPairs(pairs, feats)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    assert(fused.count() > 0)
    assert(fused.exceptAll(portable).isEmpty && portable.exceptAll(fused).isEmpty)
  }

  test("intersect_count is registered on the SQL surface") {
    // deliberately INT-literal arrays: the registration must cast to
    // array<bigint> like the Column API, or getLong mis-strides the
    // 4-byte-packed elements at execution
    val got = spark.sql(
      "SELECT intersect_count(array(1, 2, 2, 3), array(2, 3, 3, 9))")
      .head().getInt(0)
    assert(got === 2)
  }

  // ---- Scratch.dirTag: fixture-dir identity for memoized artifacts ----

  test("dirTag distinguishes same-basename fixture dirs and is stable " +
      "per dir (the memoized verified-pairs/d22-prior/s22-runs roots key " +
      "scratch paths by it)") {
    val a = new java.io.File("/tmp/graft_tag_a/sf1")
    val b = new java.io.File("/tmp/graft_tag_b/sf1")
    val ta = graft.sources.Scratch.dirTag(a.getPath)
    val tb = graft.sources.Scratch.dirTag(b.getPath)
    assert(ta !== tb, "same basename must not collapse to one scratch name")
    assert(ta === graft.sources.Scratch.dirTag(a.getPath))
    assert(ta.startsWith("sf1_"), "tag keeps the readable basename prefix")
  }
}
