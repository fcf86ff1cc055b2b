package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Round 13: the until-convergence contracts for the iterative operators.
  * A fixed round count silently UNDER-computes on graphs deeper than the
  * round budget — wrong clusters / a too-big "core", not slow ones. These
  * tests pin the failure mode on explicit deep-chain fixtures: the capped
  * (old fixed-round) form provably mislabels, the adaptive form closes it
  * and stops exactly at the fixed point.
  */
class Round13Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---- label propagation (d07/d08/d18) ----

  test("a deep chain with two distant local minima defeats a bounded budget; until-convergence closes it") {
    // path 0 - 3 - 4 - 5 - ... - 12 - 1: one component, min label 0, but
    // id 1 sits at the FAR end, so after k edge rounds both 0 and 1 are
    // radius-k local minima — two pointer-forest roots that path
    // compression cannot merge (compression follows pointers; only edge
    // rounds merge trees). A bounded budget therefore under-merges
    // REGARDLESS of how much jumping it does — the failure mode any
    // fixed round count hits on a component deeper than its reach.
    val ids = 0L +: (3L to 12L) :+ 1L
    val docs = ids.toDF("id")
    val pairs = ids.zip(ids.tail).toDF("doc_a", "doc_b")

    val (capped, cappedRounds) =
      Dedup.labelClustersUncached(docs, pairs, maxRounds = 2)
    val cappedMap = capped.as[(Long, Long)].collect().toMap
    assert(cappedRounds == 2)
    assert(cappedMap(1L) == 1L,
      s"the far local minimum must still label itself, got ${cappedMap(1L)}")
    assert(cappedMap.values.toSet.size > 1, "bounded budget splits one true component")

    // adaptive: fully merges — and thanks to compression in FEWER edge
    // rounds than the diameter (pure propagation would need ~11)
    val (adaptive, rounds) = Dedup.labelClustersUncached(docs, pairs,
      maxRounds = ExtensionQueries.ClusterMaxRounds)
    val adaptiveMap = adaptive.as[(Long, Long)].collect().toMap
    assert(adaptiveMap.values.toSet == Set(0L),
      s"adaptive must fully merge the chain, got ${adaptiveMap.values.toSet}")
    // detection may run the schedule's observing span past the true
    // convergence point; the guarantee is convergence under the cap
    assert(rounds < ExtensionQueries.ClusterMaxRounds, s"ran $rounds")
  }

  test("pointer jumping merges a 200-hop chain that pure propagation cannot close under the cap") {
    // pure min-label propagation reaches only ClusterMaxRounds = 64 of
    // the 200 hops — a jump-free engine would exhaust its cap STILL
    // under-merged; the per-poll pointer jump doubles reach each poll
    // (4→8, 10→20, 24→48, 56→112, 128→256) and fully merges the chain.
    val n = 200
    val docs = (0L to n.toLong).toDF("id")
    val pairs = (0L until n.toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.labelClustersUncached(docs, pairs,
      maxRounds = ExtensionQueries.ClusterMaxRounds)
    assert(labels.as[(Long, Long)].collect().toMap.values.toSet == Set(0L))
    assert(rounds <= ExtensionQueries.ClusterMaxRounds)
  }

  test("adaptive propagation stops at an early poll on a shallow graph") {
    // two 2-cliques: labels reach their minimum in round 1; the first two
    // polls of the doubling schedule (rounds 4 and 6) observe equal sums
    val docs = (0L to 3L).toDF("id")
    val pairs = Seq((0L, 1L), (2L, 3L)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.labelClustersUncached(docs, pairs,
      maxRounds = ExtensionQueries.ClusterMaxRounds)
    assert(labels.as[(Long, Long)].collect().toMap ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L))
    assert(rounds == 6, s"shallow graph should stop at the second poll, ran $rounds")
  }

  test("adaptive propagation on an empty pair set stops at the first poll") {
    val docs = (0L to 4L).toDF("id")
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.labelClustersUncached(docs, pairs,
      maxRounds = ExtensionQueries.ClusterMaxRounds)
    assert(labels.as[(Long, Long)].collect().toMap ==
      (0L to 4L).map(i => i -> i).toMap)
    // the first poll's sum equals the initial label sum -> converged
    assert(rounds == 4)
  }

  // ---- k-core peeling (g03) ----

  test("a long path defeats 5 fixed peels; until-convergence empties the 2-core") {
    // path of 20 edges: the 2-core is EMPTY (peeling strips one edge from
    // each end per round -> 10 rounds), but 5 rounds leave 10 edges
    val pairs = (0L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (capped, cappedRounds) =
      ExtensionQueries7.kcoreEdgesWithRounds(pairs, k = 2, maxRounds = 5)
    assert(cappedRounds == 5)
    assert(capped.count() == 20L, // 10 undirected edges, mirrored
      "fixed-5 must leave the path's middle as a phantom 'core'")

    val (adaptive, rounds) = ExtensionQueries7.kcoreEdgesWithRounds(
      pairs, k = 2, maxRounds = ExtensionQueries7.CoreMaxRounds)
    assert(adaptive.count() == 0L, "a path has no 2-core")
    // 10 peeling rounds + 1 observing round on the now-empty set
    assert(rounds == 11, s"expected 11 rounds, ran $rounds")
  }

  test("adaptive peeling keeps a true core and stops at its fixed point") {
    // a 4-clique with a pendant path: the 3-core is exactly the clique
    val clique = for {
      a <- 0L to 3L; b <- 0L to 3L if a < b
    } yield (a, b)
    val pairs = (clique ++ Seq((3L, 4L), (4L, 5L))).toDF("doc_a", "doc_b")
    val (core, rounds) = ExtensionQueries7.kcoreEdgesWithRounds(
      pairs, k = 3, maxRounds = ExtensionQueries7.CoreMaxRounds)
    val nodes = core.select(col("src")).distinct().as[Long].collect().toSet
    assert(nodes == Set(0L, 1L, 2L, 3L))
    assert(core.count() == 12L) // 6 undirected clique edges, mirrored
    assert(rounds <= 3, s"pendant path peels in 2 rounds + 1 observe, ran $rounds")
  }

  // ---- persisted production-geometry sketches (q94/q95) ----

  test("p=12 HLL tracks exact counts across three cardinality decades") {
    // 10^2 (linear-counting regime), 10^4 (near the 2.5m boundary),
    // 10^6 (raw harmonic regime) — m = 4096 gives 1.04/sqrt(m) ~ 1.6%
    // standard error; 0.06 is a ~4-sigma acceptance band
    for (n <- Seq(100L, 10000L, 1000000L)) {
      val ids = spark.range(n).select(lit("all").as("seg"),
        ExtensionQueries3.md5Hash48(concat(lit("user"), col("id"))).as("h"))
      val est = ExtensionQueries7.hllEstimate(
        ExtensionQueries7.hllRegs(ids, ExtensionQueries7.HllRemBits12),
        ExtensionQueries7.HllM12, ExtensionQueries7.HllRemBits12,
        ExtensionQueries7.HllAlphaNum12, ExtensionQueries7.HllLcFp12)
        .select(col("corrected")).head().getDouble(0)
      val relErr = math.abs(est - n) / n
      assert(relErr <= 0.06, s"n=$n: estimate $est, relative error $relErr")
    }
  }

  test("q94: shard registers merged by max equal the directly-built registers") {
    val segHash = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("event_type").as("seg"),
        ExtensionQueries3.md5Hash48(col("user_id")).as("h"))
    val direct = ExtensionQueries7.hllRegs(segHash, ExtensionQueries7.HllRemBits12)
      .as[(String, Long, Int)].collect().toSet
    val merged = ExtensionQueries7
      .hllShardRegs(segHash, ExtensionQueries7.HllRemBits12,
        ExtensionQueries7.SketchShards)
      .groupBy(col("seg"), col("bucket")).agg(max(col("reg")).as("reg"))
      .as[(String, Long, Int)].collect().toSet
    assert(merged == direct)
  }

  test("q95: shard grids merged by addition equal the direct grid; estimates never undercount") {
    val words = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"),
        explode(graft.operators.TextOps.tokens(col("text"))).as("term"))
    val direct = ExtensionQueries7.cmsCounters(words.select(col("term")),
        ExtensionQueries7.CmsLakeDepth, ExtensionQueries7.CmsLakeWidth)
      .as[(Int, Long, Long)].collect().toSet
    val merged = ExtensionQueries7.cmsShardGrids(words,
        ExtensionQueries7.CmsLakeDepth, ExtensionQueries7.CmsLakeWidth,
        ExtensionQueries7.SketchShards)
      .groupBy(col("row_i"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
      .as[(Int, Long, Long)].collect().toSet
    assert(merged == direct)
    val res = ExtensionQueries7.all("q95_cms_counter_lake")(spark, "/root/testdata/sf0.001")
    assert(res.filter(col("overcount") < 0).count() == 0L)
  }

  // ---- occupancy-capped kNN graph (s31) ----

  test("s31: the cap binds, keeps full vector coverage, and retains most edges") {
    val sf = "/root/testdata/sf0.01" // cells average ~62 members > GraphCapR
    val full = ExtensionQueries3.knnGraph(spark, sf, ExtensionQueries.IvfProbe)
      .select(col("vec_id"), col("neighbor"))
      .as[(Long, Long)].collect().toSet
    val capped = ExtensionQueries3.knnGraph(spark, sf, ExtensionQueries.IvfProbe,
        Some(ExtensionQueries3.GraphCapR))
      .select(col("vec_id"), col("neighbor"))
      .as[(Long, Long)].collect().toSet
    // the cap genuinely binds at this scale (otherwise the compared
    // artifact would not exercise the bounded path)
    assert(capped != full)
    // every vector still gets neighbors: the cap prunes posting lists,
    // not probing vectors
    assert(capped.map(_._1) == full.map(_._1))
    // and the pruned graph keeps the bulk of the true edges — the exact
    // recall price is read off s22's graph_full vs graph_capped rows
    val overlap = (capped intersect full).size.toDouble / full.size
    assert(overlap >= 0.5, s"edge overlap $overlap")
  }

  // ---- delta-into-index compaction (s30) ----

  test("s30: compaction empties the sidecar and leaves served results unchanged") {
    val sf = "/root/testdata/sf0.001"
    val root = graft.sources.Scratch.fresh(spark, "spec_ivf_compact")
    ExtensionQueries7.buildIvfLakeTables(spark, sf, root)
    val e = ExtensionQueries.embeddingsD(spark, sf)
    val q = e.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    def serve() = ExtensionQueries7.storedIvfServe(q,
        spark.read.parquet(s"$root/centroids"),
        graft.sources.Snapshots.readLatest(spark, s"$root/assignments"),
        graft.sources.Snapshots.readLatest(spark, s"$root/sidecar"),
        ExtensionQueries.IvfProbe)
      .select(col("query_id"), col("rank"), col("vec_id"),
        graft.operators.Agg.roundAt(col("cos"), 6).as("cos"))
      .as[(Long, Int, Long, Double)].collect().toSet
    val before = serve() // sidecar is brute-scanned (s27's serving)
    assert(graft.sources.Snapshots
      .readLatest(spark, s"$root/sidecar").count() > 0)
    ExtensionQueries7.compactIvfIndex(spark, root)
    // contract 1: the sidecar is EMPTY after compaction (bounded growth)
    assert(graft.sources.Snapshots
      .readLatest(spark, s"$root/sidecar").count() == 0L)
    // contract 2: the served top-k is row-identical through the fold
    val after = serve()
    assert(after == before)
    // and the pre-compaction state is still time-travelable (q84's shape)
    val vs = graft.sources.Snapshots.versions(spark, s"$root/sidecar")
    assert(graft.sources.Snapshots
      .readAsOf(spark, s"$root/sidecar", vs.dropRight(1).last).count() > 0)
  }

  // ---- native int8 quantizer ----

  test("Int8Quantize is bit-identical to the portable ArrayTransform chain") {
    // fixture vectors plus constructed edges: negatives, a zero vector, a
    // constant vector, a single element at the clamp boundary
    val fixture = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(graft.operators.VectorOps.toDouble(col("embedding")).as("v"))
    val edges = Seq(
      Seq(0.0, 0.0, 0.0),
      Seq(-1.0, 1.0, 0.5),
      Seq(3.25, 3.25, 3.25),
      Seq(1e-300, -1e-300, 0.0),
      Seq(-0.004, 127.0, -127.0)).toDF("v")
    for (df <- Seq(fixture, edges)) {
      val mxAbs = array_max(transform(col("v"), x => abs(x)))
      val portable = df
        .withColumn("__scale",
          when(mxAbs > 0, lit(127.0) / mxAbs).otherwise(lit(1.0)))
        .select(col("v"), transform(col("v"), x =>
          greatest(lit(-127L), least(lit(127L),
            floor(x * col("__scale") + 0.5).cast("long")))).as("q"))
        .select(col("q")).as[Seq[Long]].collect().toSeq
      val native = df
        .select(graft.functions.Int8Quantize.int8Quantize(col("v")).as("q"))
        .select(col("q")).as[Seq[Long]].collect().toSeq
      assert(native == portable)
    }
    // non-finite elements are out of the quantizer's domain: the result
    // nulls (like the null-element path) instead of silently emitting
    // (long)NaN == 0 codes — the r13-advice parity gap, both eval modes
    val degenerate = Seq(
      Seq(Double.NaN, 1.0),
      Seq(Double.PositiveInfinity, 1.0),
      Seq(1.0, Double.NegativeInfinity)).toDF("v")
    assert(degenerate
      .select(graft.functions.Int8Quantize.int8Quantize(col("v")).as("q"))
      .collect().forall(_.isNullAt(0)),
      "non-finite input must null, not emit garbage codes")
    // SQL registration round-trips through the extension point
    val sql = spark.sql("SELECT int8_quantize(array(CAST(-1.0 AS DOUBLE), " +
      "CAST(0.25 AS DOUBLE), CAST(1.0 AS DOUBLE)))").collect()(0).getSeq[Long](0)
    assert(sql == Seq(-127L, 32L, 127L))
    assert(spark.sql("SELECT int8_quantize(array(CAST('NaN' AS DOUBLE), " +
      "CAST(1.0 AS DOUBLE)))").collect()(0).isNullAt(0),
      "the SQL surface must signal degenerate input with null too")
  }

  test("Int8Quantize plan is native (no ArrayTransform lambda in the codes build)") {
    val plan = ExtensionQueries5
      .int8Codes(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("int8_quantize"))
    assert(!plan.toLowerCase.contains("lambdafunction"))
  }

  // ---- memo integrity (the ADVICE items) ----

  test("labelClusters memo hit requires full plan equality, not just the hash") {
    val docs = (0L to 3L).toDF("id")
    val pairs = Seq((0L, 1L)).toDF("doc_a", "doc_b")
    val first = Dedup.labelClusters(docs, pairs, maxRounds = 8)
    val again = Dedup.labelClusters(docs, pairs, maxRounds = 8)
    // same canonical plans -> same persisted frame instance (memo hit)
    assert(again eq first)
    // a semantically different pair set must NOT hit the first entry
    val other = Dedup.labelClusters(docs,
      Seq((2L, 3L)).toDF("doc_a", "doc_b"), maxRounds = 8)
    assert(!(other eq first))
    assert(other.as[(Long, Long)].collect().toMap ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 2L))
  }
}
