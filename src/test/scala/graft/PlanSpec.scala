package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape lock-ins: these assertions fail if a refactor silently loses
  * pushdown, the native expressions, or broadcast structure.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("round-12b sketches and keyframes keep their narrow shapes") {
    // sketch builds: bounded-key-space aggregations, no cartesian terms
    for (q <- Seq("q88_countmin", "q89_hll_sketch", "q90_hll_union",
        "q91_cms_join_size")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // keyframe extraction is decode-only: at most the output-sort exchange
    val pm = plan("m10_keyframe_extract")
    val ex = "(?<!Reused)Exchange".r.findAllIn(pm).size
    assert(ex <= 1, s"m10: expected only the final sort exchange, got $ex:\n$pm")
  }

  test("round-12b ANN serving paths broadcast query sides and prune ranks") {
    for (q <- Seq("s26_ivf_nprobe_curve", "s27_knn_index_delta",
        "s25_centroid_classify")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"),
        s"$q lost its broadcast structure:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // the one-pass multi-depth sweep must keep rank-limit pushdown
    assert(plan("s26_ivf_nprobe_curve").contains("WindowGroupLimit"),
      "s26 lost WindowGroupLimit pruning")
  }

  test("filter and projection reach the parquet scan") {
    val p = plan("q10_projection_pushdown")
    assert(p.contains("PushedFilters: [IsNotNull(p_size), LessThan(p_size,20)]"), p)
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string,p_size:int,p_retailprice:double>"), p)
  }

  test("native expressions run in the hot paths") {
    val d03 = plan("d03_lsh_candidates")
    assert(d03.contains("minhash_bands") && d03.contains("shingle_hashes"), d03)
    assert(plan("s01_knn_brute").contains("cosine_sim"))
    assert(plan("d06_embedding_neardup").contains("lsh_bucket"))
    assert(plan("s17_knn_int8_rescore").contains("int_dot"))
    assert(plan("s21_knn_binary_rescore").contains("sign_pack"))
  }

  test("flagship never plans a cartesian product") {
    assert(!plan("flagship_location_summary").contains("CartesianProduct"))
  }

  test("flagship scans lineitem once for the crime+expense pair (shared summary)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // AQE wraps the tree in an opaque AdaptiveSparkPlanExec; disable it here
    // so the static plan structure is directly traversable.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("flagship_location_summary")(spark, dir)
        .queryExecution.executedPlan
      def isLineitem(f: FileSourceScanExec): Boolean =
        f.relation.location.rootPaths.exists(_.toString.contains("lineitem"))
      // Cached plans may themselves be AQE-wrapped (opaque to collect), and
      // a cache may read another cache, so the walk recurses through cache
      // builders too, deduping shared ones.
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val seenBuilders = scala.collection.mutable.LinkedHashMap[AnyRef, SparkPlan]()
      def walk(p: SparkPlan): Seq[FileSourceScanExec] = {
        val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
          case im: InMemoryTableScanExec =>
            val b = im.relation.cacheBuilder
            if (seenBuilders.put(b, b.cachedPlan).isEmpty) Seq(b.cachedPlan) else Nil
          case o => o.children
        }
        self ++ kids.flatMap(walk)
      }
      val allScans = walk(exec)
      // crime and expense (both latest-year windows) read the shared
      // pre-agg from cache, the listing and its latest-year scalar the
      // shared orders join.
      assert(seenBuilders.size >= 2, s"expected >=2 cache builders, got ${seenBuilders.size}:\n$exec")
      // One physical materialization of the lineitem summary: among the
      // pipeline's caches (factYearly, ordersCustomer), exactly ONE builder
      // touches lineitem, and its plan scans it once.
      def walkCached(p: SparkPlan): Seq[FileSourceScanExec] = {
        val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
          case _: InMemoryTableScanExec => Nil // nested cache counted separately
          case o => o.children
        }
        self ++ kids.flatMap(walkCached)
      }
      val lineitemBuilders = seenBuilders.values.toSeq
        .map(bp => walkCached(bp).count(isLineitem)).filter(_ > 0)
      assert(lineitemBuilders == Seq(1),
        s"expected one cache builder scanning lineitem exactly once, got $lineitemBuilders")
      // Outside the cache, the only lineitem scan left is removals.
      val topLevel = exec.collect { case f: FileSourceScanExec if isLineitem(f) => f }.size
      assert(topLevel == 1, s"expected exactly the removals scan at top level, got $topLevel:\n$exec")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("flagship caches exactly its two fact joins") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    // Every persisted plan keeps its broadcast relations alive for the
    // session, so the flagship persists only the lineitem summary and the
    // orders join, not the per-location aggregates.
    spark.catalog.clearCache() // count this build's entries, not a prior test's
    spark.conf.set("spark.sql.adaptive.enabled", "false") // see the test above
    try {
      val exec = SparkEntry.queries("flagship_location_summary")(spark, dir)
        .queryExecution.executedPlan
      assert(org.apache.spark.sql.graft.CacheEntries(spark) == 2)
      val cachedScans = exec.collectWithSubqueries { case im: InMemoryTableScanExec =>
        im.relation.cacheBuilder.cachedPlan.collectWithSubqueries {
          case f: FileSourceScanExec => f.relation.location.rootPaths.head.getName
        }.toSet
      }.toSet
      assert(cachedScans == Set(
        Set("lineitem.parquet", "supplier.parquet"), Set("orders.parquet", "customer.parquet")),
        s"cached relations: $cachedScans")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("flagship_sql scans lineitem twice and orders at most twice") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("flagship_sql")(spark, dir).queryExecution.executedPlan
      val scans = exec.collectWithSubqueries {
        case f: FileSourceScanExec => f.relation.location.rootPaths.head.getName
      }
      // lineitem: the fact_yearly summary and the removals
      assert(scans.count(_ == "lineitem.parquet") == 2, s"$scans\n$exec")
      // orders: the listing and its latest-year scalar
      assert(scans.count(_ == "orders.parquet") <= 2, s"$scans\n$exec")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("scalar-subquery filter becomes a broadcast join, not a driver collect") {
    val p = plan("q07_scalar_subquery_filter")
    assert(p.contains("BroadcastExchange"), p)
  }

  test("decontamination carries no broadcast hint; the planner still " +
      "broadcasts the fixture-sized eval shingle set on measured size") {
    // r15: the hint is GONE (the eval slice is doc_id % 97 — ~1% of the
    // corpus, corpus-proportional, so forcing a broadcast would OOM at
    // 100 TB). The size-based decision must still pick broadcast at
    // fixture scale — proving the plan quality survived losing the hint.
    val qe = SparkEntry.queries("d10_decontamination")(spark, dir)
      .queryExecution
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "d10 must not force a broadcast of the corpus-proportional eval side")
    assert(qe.executedPlan.toString.contains("BroadcastHashJoin"),
      "at fixture scale the size-based planner should still broadcast:\n" +
        qe.executedPlan.toString)
  }

  test("d16 bloom decontamination carries no broadcast hint on the exact " +
      "confirm join; the planner still broadcasts at fixture scale") {
    // r16: the last sibling of the d10/t35 fix. The confirm join's build
    // side is the eval shingle set — corpus-proportional on this fixture —
    // so the hint is gone; the size-based decision must still pick
    // broadcast at fixture scale, proving plan quality survived.
    val qe = SparkEntry.queries("d16_bloom_decontaminate")(spark, dir)
      .queryExecution
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "d16 must not force a broadcast of the corpus-proportional eval side")
    assert(qe.executedPlan.toString.contains("BroadcastHashJoin"),
      "at fixture scale the size-based planner should still broadcast:\n" +
        qe.executedPlan.toString)
  }

  test("stored-pair consumers read the artifact, never re-derive the " +
      "LSH candidates; the live entries still do") {
    // r16 drift guard: d21/g01/g02/g03 are analyses over the written
    // verified-pair table — a shingle_hashes explode reappearing in
    // their plans means someone reverted them to re-running generation
    // (d14/d19/t27 legitimately keep shingle_hashes for their own
    // signature/array passes, so they are not asserted here)
    for (q <- Seq("d21_dedup_threshold_sweep", "g01_pagerank",
        "g02_triangles", "g03_kcore")) {
      assert(!plan(q).contains("shingle_hashes"),
        s"$q must read the stored verified-pair table")
    }
    // positive control: the generation entry derives candidates live
    assert(plan("d03_lsh_candidates").contains("shingle_hashes"))
  }

  test("t35 contamination report carries no broadcast hint — the eval " +
      "side is corpus-proportional, the planner sizes the join") {
    val qe = SparkEntry.queries("t35_contamination_report")(spark, dir)
      .queryExecution
    assert(!qe.analyzed.toString.contains("ResolvedHint"),
      "t35 must not force a broadcast of the corpus-proportional eval side")
  }

  test("embedding quantization is shuffle-free up to the canonical sort") {
    val p = plan("s07_embedding_quantize")
    // one Exchange is the output ORDER BY; anything more means the row-local
    // quantization expressions started shuffling
    val exchanges = "(?<!Reused)Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"expected only the final sort exchange, got $exchanges:\n$p")
  }

  test("row-local operators (normalize, hash split) shuffle only for the output sort") {
    for (q <- Seq("t09_normalize", "d12_hash_split")) {
      val p = plan(q)
      val exchanges = "(?<!Reused)Exchange".r.findAllIn(p).size
      assert(exchanges <= 1, s"$q: expected only the final sort exchange, got $exchanges:\n$p")
    }
  }

  test("media decode queries (audio, video, chunking) shuffle only for the output sort") {
    for (q <- Seq("m06_audio_energy", "m07_scene_detect", "t24_chunk_overlap")) {
      val p = plan(q)
      val exchanges = "(?<!Reused)Exchange".r.findAllIn(p).size
      assert(exchanges <= 1,
        s"$q: expected only the final sort exchange, got $exchanges:\n$p")
    }
  }

  test("filtered kNN broadcasts the query set; corpus side never shuffle-joins") {
    val p = plan("s15_filtered_knn")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "query-set join fell back to a corpus-wide shuffle join:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bm25 tokenizes the corpus exactly once (persisted narrow per-doc pass)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      spark.catalog.clearCache() // count builders fresh, not a prior test's
      val exec = SparkEntry.queries("t25_bm25")(spark, dir)
        .queryExecution.executedPlan
      val seen = scala.collection.mutable.LinkedHashSet[AnyRef]()
      def docScans(p: SparkPlan): Int = {
        val self = p match {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(_.toString.contains("documents")) => 1
          case _ => 0
        }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
          case im: InMemoryTableScanExec =>
            val b = im.relation.cacheBuilder
            if (seen.add(b)) Seq(b.cachedPlan) else Nil
          case o => o.children
        }
        self + kids.map(docScans).sum
      }
      assert(docScans(exec) == 1,
        s"bm25 must read+tokenize the corpus exactly once:\n$exec")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("simhash banding never plans a cartesian product") {
    val p = plan("d13_simhash_neardup")
    assert(!p.contains("CartesianProduct"),
      "band join degenerated to all-pairs:\n" + p)
  }

  test("no registered query plans an unbounded global (no-partition) window") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    // A WindowExec with an empty partitionSpec funnels its WHOLE input
    // through one task — fatal at scale unless the input is provably tiny.
    // "Bounded" here means a Limit/TakeOrdered sits below the window;
    // queries whose global window is bounded by CONSTRUCTION (no Limit
    // operator in the plan) are listed with the reason:
    val boundedByConstruction = Map(
      // ranks the entries of ONE capacity-bounded sketch summary (<=1024
      // rows out of a single-row aggregate, ExtensionQueries2.T12Capacity)
      "t12_heavy_hitters" -> "space-saving summary is capacity-bounded",
      // cumulates a <=1024-row histogram summary out of an aggregate
      "q73_quantile_sketch" -> "equi-width histogram is bin-bounded (QsBins)",
      // cumulates a <=1024-row score-bucket histogram (SelBucketScale);
      // the doc-level boundary window is PARTITIONED (by bucket)
      "t20_budget_select" -> "score histogram is bucket-bounded (SelBucketScale)",
      // the running-max decision window cumulates the per-day monitor
      // table — one row per experiment DAY (calendar-bounded: years of
      // daily peeking are thousands of rows however big the fact is);
      // the data-sized cumulative sums below it are PARTITIONED (by
      // variant)
      "e21_msprt" -> "monitor rows are calendar-bounded (one per day)",
      // ranks the per-10-min error-window counts — one row per aligned
      // time bucket out of an aggregate, span/width-bounded (~4.3k for
      // the fixture's 30-day span) however big the event volume
      "e22_incident_exposure" ->
        "error-window counts are span-bounded (one row per time bucket)",
      // the cross-bucket base prefix cumulates PER-BUCKET nets — one row
      // per aligned time bucket out of an aggregate (the whole point of
      // the two-level sweep: the data-scale prefix work is PARTITIONED
      // by bucket, only the bucket summary crosses)
      "e23_peak_concurrency" ->
        "per-bucket nets are span-bounded (one row per time bucket)",
      // withGlobalPositions' offset prefix cumulates per-shuffle-
      // partition COUNTS — one row per partition out of an aggregate,
      // cluster-bounded; the data-scale rank window is PARTITIONED (by
      // __pid)
      "d26_sorted_neighborhood" ->
        "offset prefix is partition-count-bounded (one row per shuffle partition)",
      // the apportionment's remainder rank runs over the per-source
      // allocation table — one row per source out of an aggregate,
      // source-cardinality-bounded; the doc-level rank window is
      // PARTITIONED (by source)
      "t41_mixture_sample" ->
        "allocation table is source-cardinality-bounded (one row per source)",
      // the global latest 'N' year runs over the lineitem summary (one row
      // per location x return flag x ship year out of an aggregate), the
      // score min/max over the per-location aggregate; the per-flag latest
      // year is PARTITIONED (by location, flag)
      "flagship_location_summary" ->
        "summary is dimension-bounded (locations x flags x years)",
      "flagship_sql" -> "summary is dimension-bounded (locations x flags x years)")
    def boundedBelow(p: SparkPlan): Boolean = p match {
      case _: GlobalLimitExec | _: LocalLimitExec | _: CollectLimitExec |
           _: TakeOrderedAndProjectExec => true
      case a: AdaptiveSparkPlanExec => boundedBelow(a.inputPlan)
      case im: InMemoryTableScanExec =>
        boundedBelow(im.relation.cacheBuilder.cachedPlan)
      case o => o.children.exists(boundedBelow)
    }
    val seen = scala.collection.mutable.HashSet[AnyRef]()
    def offenders(p: SparkPlan): Seq[String] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty && !boundedBelow(w.child) =>
          Seq(w.simpleStringWithNodeId())
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case im: InMemoryTableScanExec =>
          val b = im.relation.cacheBuilder
          if (seen.add(b)) Seq(b.cachedPlan) else Nil
        case o => o.children
      }
      self ++ kids.flatMap(offenders)
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        if (boundedByConstruction.contains(name)) Nil
        else {
          seen.clear()
          offenders(fn(spark, dir).queryExecution.executedPlan)
            .map(w => s"$name: $w")
        }
      }
      assert(bad.isEmpty, s"unbounded global windows:\n${bad.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("round-13c reports keep broadcast scalar shapes and never go cartesian") {
    for (q <- Seq("q96_column_stats_catalog", "q97_join_skew_report",
        "t34_mixture_weights", "t35_contamination_report",
        "t36_dsir_selection", "e19_cuped", "e20_srm_check",
        "s34_prototype_pruning")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // bounded side tables (DSIR weights/threshold, CUPED moments, s34
    // centroids/medians) must enter as broadcasts, never shuffles
    for (q <- Seq("t36_dsir_selection", "e19_cuped", "s34_prototype_pruning")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"),
        s"$q lost its broadcast structure:\n$p")
    }
  }

  test("a filter on the partition column prunes partitions at the scan") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft_prune").toString + "/out"
    // partition by a real column with several values (STATE of the flagship
    // output is a single region — use lineitem's returnflag instead)
    graft.sources.Tables.load(spark, dir, "lineitem")
      .write.partitionBy("l_returnflag").parquet(tmp)
    val q = spark.read.parquet(tmp).filter(col("l_returnflag") === "R")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(l_returnflag"), p)
    // pruning is real: the scan reads strictly fewer files than the table has
    val scan = q.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    val all = spark.read.parquet(tmp).queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    assert(scan.selectedPartitions.partitionCount < all.selectedPartitions.partitionCount)
  }
}
