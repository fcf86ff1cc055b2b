package graft

import scala.util.control.NonFatal

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. `value` is the total seconds across all registered
  * PRODUCTION queries (the deliberately-superlinear or output-bound
  * diagnostics — see `diagnostics` — are timed too but reported under
  * `diag`/`diag_sec`);
  * the `queries` map reports a fixed headline subset only, so the line
  * stays well under the harness's 2000-char output tail no matter how
  * many queries are registered (round 1's full 59-query map at full double
  * precision was ~2.9 KB and fell out of the tail -> `parsed: null`).
  */
object Bench {
  /** 25 stable representatives — one per operator family plus the
    * historically most expensive plans — kept deliberately small so the
    * printed JSON line stays well inside the harness's ~2000-char stdout
    * tail (the r8/r9 ~80-entry map overflowed it -> `parsed: null`).
    * Keep this list stable across rounds so per-query numbers are
    * comparable round-over-round; the full per-query map is still
    * available on stderr via SPARK_GRAFT_BENCH_FULL.
    */
  private val headline = Vector(
    "flagship_location_summary", "flagship_sql",
    "q01_dim_decode_join", "q16_topk_per_group", "q26_salted_join",
    "q27_asof_join", "q28_percentiles",
    "q56_append_sink_roundtrip", "q76_bloom_index_scan",
    "d01_dedup_exact", "d03_lsh_candidates", "d07_dedup_clusters",
    "d16_bloom_decontaminate", "d17_incremental_dedup",
    "s01_knn_brute", "s05_knn_ivf_learned", "s11_knn_ivfpq",
    "s17_knn_int8_rescore", "s22_ann_method_metrics",
    "e11_session_window", "e13_session_attribution",
    "t01_token_stats", "t13_bpe_merges", "t17_substring_dedup",
    "t19_doc_similarity",
    "e03_sessionize", "m03_binary_source", "g01_pagerank",
    // round-12b representatives (appended — existing entries unchanged
    // so round-over-round comparability holds; r13 note: d07 now measures
    // real propagation again — the memo is cleared between passes — so
    // its r12 memo-hit number (0.149 s) is not a comparable baseline)
    "q88_countmin", "q89_hll_sketch", "d18_cluster_split",
    "s26_ivf_nprobe_curve", "s28_dominant_direction", "g03_kcore",
    // round-13 representatives (appended)
    "q94_hll_register_lake", "s30_index_compaction", "s31_knn_graph_capped",
    "s33_kmeans_sampled", "d20_lsh_band_tuning",
    "t32_inverted_index_lake",
    // round-13c representatives (appended; t34 rides the d07 memo
    // in-suite, so its headline measures the weight layer, not the
    // propagation — d07's own entry prices that)
    "q96_column_stats_catalog", "t34_mixture_weights", "e19_cuped",
    "q97_join_skew_report",
    // round-14 representatives (appended)
    "d22_incremental_clusters", "s36_graph_walk_ann", "q99_lake_stats_sweep",
    "e21_msprt", "q103_incremental_agg",
    // round-16 representatives (appended): the near-dup-only grouped
    // phash report, the stored-pair + native-agree estimator eval, and
    // the ingest screen's batch replay
    "m11_phash_dedup_groups", "d14_minhash_estimate", "d23_ingest_screen",
    // round-17 representatives: the changed-shards-only nightly sweep
    // (q99 stays listed above as the full-rebuild price) and the
    // incremental verified-pair maintenance (d04 prices the full verify)
    "q104_incremental_lake_sweep", "d24_incremental_verify",
    // round-17 second batch: blocked record linkage, the data×data
    // interval-overlap join, and the two-level sweep-line
    "d25_record_linkage", "d26_sorted_neighborhood",
    "e22_incident_exposure", "e23_peak_concurrency",
    "t39_weighted_sample", "t40_stratified_sample",
    "m12_image_channel_stats", "t41_mixture_sample",
    // round-18 representatives: the purge-cap design table (prices d25's
    // LinkMaxBlock choice; its own cost is the gridMax row's blocking),
    // entity formation over the verified match graph, and the
    // incremental entity maintenance pass (d28 prices the full rebuild)
    "d27_linkage_cap_tuning", "d28_entity_groups",
    "d29_incremental_entities",
    // the walk composition (IVF entries + symmetric edges) that the
    // clustered-decade grading showed is the only configuration with
    // real recall there
    "s39_graph_walk_ivf_sym",
    // round-19 representatives: the stored-artifact serve of the same
    // walk (s39 stays listed as the live-build price), the incremental
    // graph maintenance pass (s31 prices the full build), the
    // per-ingest serving-coverage audit, and the intraday
    // maintain-then-serve loop
    "s40_graph_walk_stored", "s41_incremental_graph",
    "s42_graph_coverage", "s43_graph_walk_maintained",
    // round-20 representatives: the walk + coverage audit at
    // production-shaped (corpus-scaled) cell counts — the pinned-geometry
    // rows above stay as fixed-geometry regression anchors — and the
    // steady-state serve from the PUBLISHED maintained artifact (s43
    // stays listed as the fused intraday maintain+serve price)
    "s44_graph_walk_scaled", "s45_graph_coverage_scaled",
    "s46_graph_walk_published", "s47_routed_assign_audit",
    // round-22 additions (appended, nothing removed/renamed): the two
    // r21 walk-rewrite beneficiaries the verdict flagged as unmeasured —
    // their 13k/24k-node before-plans collapsed with the beam-walk fix
    // and the speedup must be on the driver's record, not narrated
    "s37_graph_walk_ivf", "s38_graph_walk_sym")

  /** Deliberately-superlinear DIAGNOSTIC queries — each exists to price
    * its bounded production sibling (s13's uncapped kNN graph vs s31's
    * capped one; s32's full-corpus exact Lloyd convergence vs s33's
    * sample-trained form) and is expected to scale worse by design.
    * They stay registered and oracle-checked (Verify covers them every
    * round), but the headline `value`/`n_queries` now reflect the
    * PRODUCTION paths only: diagnostics are timed once and reported
    * separately under `diag` / `diag_sec` so regressions in them remain
    * visible without dominating the scale slope the headline exists to
    * track (r13: these two were 2 of the top 3 sf1 lines — 8.9 s and
    * ~17× sf0.1→sf1 — for paths no deployment would run at scale).
    */
  private val diagnostics =
    // r16 adds m05: its output IS the full near-dup pair listing — tens of
    // millions of genuine rows at sf1 (38.3 s, output-row-bound, growing
    // ~10x per decade on near-dup-dense fixtures). m11 collapses identical
    // hashes first and emits linear output; it is the priced production
    // serving row (the s13/s31 precedent applied to the phash family).
    //
    // Decided r17 (pre-emptively, for the decade when even the DIAG pass
    // outgrows the box): if m05's listing ever becomes unrunnable at a
    // bench scale, the diag entry gets a documented deterministic cap —
    // `ORDER BY doc_a, doc_b LIMIT N` plus a `total_pairs` count column so
    // the full size stays visible — rather than re-promoting it or
    // dropping it. The oracle caps identically (same ORDER BY/LIMIT), so
    // the hash gate keeps holding on the capped listing. Not applied now:
    // sf1 runs fine as a diag line and the uncapped listing is the more
    // honest price while it fits.
    Vector("s13_knn_graph", "s32_kmeans_converged", "m05_phash_neardup")

  private def r3(x: Double): Double = math.floor(x * 1000 + 0.5) / 1000

  /** Where the full first-pass map goes, and the JSON field naming its
    * filter. A `SPARK_GRAFT_BENCH_ONLY` run covers a subset, so it writes
    * bench_full_filtered.json with the regex, never over a full run's map.
    */
  private[graft] def fullMapFile(only: Option[String]): (String, String) = only match {
    case Some(re) => ("bench_full_filtered.json", s""","only":"${jsonEscape(re)}"""")
    case None => ("bench_full.json", "")
  }

  /** A JSON string body: quote, backslash and control chars escaped. */
  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    // Untimed warmup: JIT, codegen cache, parquet footer/file-index reads,
    // OS page cache for EVERY fixture table — otherwise whichever query
    // first touches a table absorbs its listing+footer+disk cost and the
    // per-query numbers are noise (flagship measured 2.5 s warmed vs 5.8 s
    // when it happened to run first).
    // count(col) per column, one pass: a bare count() reads only parquet
    // footers and row-group metadata, leaving every COLUMN PAGE cold —
    // measured r18 on an idle box: the first full-registry run after a
    // cold cache totaled 308.7 s vs 219.4 s for the identical back-to-back
    // second run, the gap concentrated in whichever queries first decoded
    // each table's wide columns. Reading every column's values (null
    // checks force page decode) makes the first-pass `value` total
    // comparable round-over-round instead of hostage to cache state.
    // per-table try: one absent/broken table must not abort warming the rest
    locally {
      import org.apache.spark.sql.functions.{col, count}
      graft.sources.Tables.all.foreach(t =>
        try {
          val df = graft.sources.Tables.load(spark, sfDir, t)
          val aggs = df.columns.map(c => count(col(c)))
          df.agg(aggs.head, aggs.tail: _*).collect()
        }
        catch { case NonFatal(_) => () })
    }
    try SparkEntry.queries("q01_dim_decode_join")(spark, sfDir).count()
    catch { case NonFatal(_) => () }
    // d22's serving contract: the prior converged assignment and band
    // index PRE-EXIST the ingest being priced (a deployment's build job
    // wrote them yesterday). Pre-build the stored prior untimed so the
    // d22 sample prices only the incremental maintenance pass — the
    // full-rebuild cost is what d07's own entry prices.
    // a failed stored-artifact pre-build must be VISIBLE (stderr, never
    // stdout — the driver tails stdout for the JSON line): the timed
    // d22/s22 samples would silently rebuild the artifacts inside the
    // timed window and record the full build as a fast-path measurement
    def warmup(tag: String)(f: => Any): Unit =
      try { f; () }
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $tag warmup failed (the timed " +
          s"sample will pay the build): ${e.getMessage}")
      }
    warmup("d22 stored prior")(ExtensionQueries8.d22PriorRoot(spark, sfDir))
    // d29's serving contract: the prior entity table and name-key index
    // pre-exist the ingest being priced (yesterday's build job); d28's
    // own entry prices the full rebuild.
    warmup("d29 prior entities")(ExtensionQueries9.d29PriorRoot(spark, sfDir))
    // s22's serving contract (r15): the per-family eval runs and the
    // brute truth are stored artifacts a deployment's index-eval jobs
    // wrote on their own cadences — each family's live serving cost is
    // priced by its own registered entry. Pre-build them untimed so the
    // s22 sample prices the grading report (the metric joins), not a
    // re-run of all twelve retrievers.
    warmup("s22 eval runs")(ExtensionQueries6.s22RankingsRoot(spark, sfDir))
    // d14/d19/d21 are analysis reports over the stored verified-pair
    // table a deployment's candidate-verify job wrote (r16); d04's own
    // entry prices that verify pass live, so the pre-build keeps every
    // cost priced by exactly one entry.
    warmup("verified pairs")(ExtensionQueries.verifiedPairsRoot(spark, sfDir))
    // q104's serving contract (r17): the prior catalog lake pre-exists
    // the ingest being priced — a deployment's previous nightly wrote it.
    // q99's own entry keeps pricing the full-rebuild sweep.
    warmup("lake catalog prior")(
      ExtensionQueries8.lakeCatalogPriorRoot(spark, sfDir))
    // s40/s41's serving contracts (r19): the stored graph artifacts and
    // the prior graph index pre-exist — written by the nightly build job;
    // s31/s39's own entries price the live builds.
    warmup("s40 stored graph")(ExtensionQueries10.s40Root(spark, sfDir))
    warmup("s41 prior graph index")(ExtensionQueries10.s41PriorRoot(spark, sfDir))
    // s46's serving contract (r20): the published maintained artifacts
    // pre-exist the serve being priced — the maintenance pass wrote them
    // (s41/s43 price that pass live); s46 prices the per-request read+walk.
    warmup("s46 published graph")(ExtensionQueries11.s46Root(spark, sfDir))
    // One timed sample: seconds elapsed if the query ran to completion,
    // None if it threw — a fast failure must never masquerade as a fast
    // query (pre-r10, a pass-2 exception's elapsed time was min'd into the
    // headline, so a query that broke BETWEEN passes looked like it got
    // 100x faster instead of visibly failing).
    val registry = SparkEntry.queries
    def sample(name: String): Option[Double] = {
      val fn = registry(name)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case NonFatal(e) =>
        System.err.println(
          s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        None
      }
    }
    // Optional local-tuning filter (regex over query names) — the driver
    // never sets it, so driver benches always cover the full registry.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.r)
    def keep(name: String): Boolean =
      only.forall(_.pattern.matcher(name).matches())
    // sorted order: deterministic run sequence, comparable round-over-round
    val results = registry.keys.toVector.filter(keep).sorted
      .map(name => name -> sample(name)).toMap
    val failed = results.collect { case (n, None) => n }.toVector.sorted
    // Full per-query map on stderr for local tuning (never on stdout — the
    // driver tails stdout and the full map would blow the 2000-char budget).
    if (sys.env.contains("SPARK_GRAFT_BENCH_FULL")) {
      val full = results.collect { case (n, Some(v)) => n -> v }
        .toVector.sortBy(-_._2)
        .map { case (n, v) => s"\"$n\":${r3(v)}" }.mkString("{", ",", "}")
      System.err.println(s"BENCH_FULL $full")
    }
    // The label-propagation memo (Dedup.clusterMemo) would otherwise make
    // pass 2's d07 sample a near-free persisted-cache read — a phantom
    // speedup that permanently hides propagation regressions. Clearing it
    // here makes d07's second sample re-run the real propagation (d08/d18
    // still measure memoized steady-state: they hit the memo d07 refills,
    // which IS their in-session behavior).
    graft.operators.Dedup.clearClusterMemo(spark)
    // Variance hygiene (hmode "min2warm"): each headline number is the MIN
    // of the first pass and a second timed pass over only the headline
    // subset, which suppresses one-off GC/scheduler/page-cache spikes that
    // twice flagged phantom regressions on a loaded box. The second pass
    // runs against a session-WARM cache state (codegen classes JITed,
    // persisted trainer outputs resident, OS page cache hot), so headline
    // numbers approximate steady-state in-session latency; `value` (total)
    // stays the single FIRST-pass sum — the comparable cold-ish number.
    // A pass that throws contributes NO sample: a query failing on pass 2
    // keeps its pass-1 time, one failing on both passes is simply absent
    // from `queries` and listed under `failed`.
    val second = headline.filter(keep).filter(registry.contains)
      .flatMap(h => sample(h).map(h -> _)).toMap
    val min2warm = headline.flatMap { h =>
      (results.get(h).flatten.toSeq ++ second.get(h).toSeq).minOption
        .map(v => s"\"$h\":${r3(v)}")
    }.mkString("{", ",", "}")
    // `value`/`n_queries` cover the PRODUCTION queries; the
    // deliberately-superlinear diagnostics (see `diagnostics` — currently
    // s13, s32, m05) are timed
    // once and reported separately so the headline slope tracks paths a
    // deployment would actually run at scale — nothing is hidden, the
    // diag seconds are on the same line.
    val (diagRes, prodRes) = results.partition(kv => diagnostics.contains(kv._1))
    val total = r3(prodRes.values.flatten.sum)
    val diagSec = r3(diagRes.values.flatten.sum)
    val diagJson = diagnostics.flatMap { d =>
      diagRes.get(d).flatten.map(v => s"\"$d\":${r3(v)}")
    }.mkString("{", ",", "}")
    val failedJson =
      if (failed.isEmpty) ""
      else failed.map(n => s""""$n"""").mkString(""","failed":[""", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${prodRes.size},"hmode":"min2warm","queries":$min2warm,"diag_sec":$diagSec,"diag":$diagJson$failedJson,"sf":"$sfDir"}""")
    // Truncation-proof trailer (r19, verdict item 3): the harness keeps
    // only the LAST ~2000 chars of stdout, and r18's capture clipped the
    // long line above mid-JSON — losing the `value` printed at its front
    // (BENCH_r18.json `parsed: null`). This short self-sufficient line is
    // emitted LAST, so any tail capture ends with a complete parseable
    // JSON object carrying the headline total regardless of how much of
    // the per-query map survived.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${prodRes.size},"hmode":"min2warm","diag_sec":$diagSec,"n_failed":${failed.size},"sf":"$sfDir"}""")
    // r22 (verdict item 2): the FULL first-pass per-query map as a FILE —
    // stdout stays the two lines above (the harness tails ~2000 chars, so
    // the full map can never ride stdout), but a 475->311 s total swing in
    // the ~180 non-headline queries was unattributable from driver
    // artifacts in r21. bench_full.json makes every total auditable
    // query-by-query; it is measurement output only — nothing reads it.
    val (fullFile, onlyJson) = fullMapFile(only.map(_.regex))
    try {
      val fp = results.collect { case (n, Some(v)) => s""""$n":${r3(v)}""" }
        .toVector.sorted.mkString("{", ",", "}")
      val json = s"""{"sf":"$sfDir","cpus":${Engine.cpus}$onlyJson,"hmode_first_pass":"cold-ish single sample","first_pass":$fp,"min2warm_headline":$min2warm,"diag":$diagJson,"total_first_pass_production":$total,"diag_sec":$diagSec$failedJson}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(fullFile),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] $fullFile write failed: ${e.getMessage}")
    }
    spark.catalog.clearCache()
    spark.stop()
  }
}
