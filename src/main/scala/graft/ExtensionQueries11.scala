package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-20 additions: PRODUCTION-SHAPED cell counts for the graph-ANN
  * family, plus the steady-state serve from the PUBLISHED maintained
  * artifact — the two items the r19 verdict ranked first.
  *
  * The registered s31/s36–s43 rows pin `IvfCells = 8` / `capR = 32`, a
  * geometry whose serving surface saturates at 256 vectors: s42's own
  * sf10 audit read in-cap 256 / 200 000 — 0.13% of a decade corpus can
  * ever be anyone's neighbor, at ANY scale, because both knobs are
  * fixture constants. The operators were always parameterized (PLANS.md's r19
  * damage-radius table shows correctness and the law at k = 256/1024); what
  * was missing is a REGISTERED, oracle-gated row at a geometry a deployment
  * would run. s44/s45 are that row and its audit, at
  * [[ivfCellsFor]] cells; the pinned rows stay registered as the
  * fixed-geometry regression anchors (the verdict's explicit option, so
  * every existing IVF training-CTE oracle keeps its key).
  */
object ExtensionQueries11 {

  import ExtensionQueries.{IvfIters, IvfProbe}
  import ExtensionQueries3.GraphCapR

  /** Target posting-cell occupancy for the scaled family. With the cap at
    * [[ExtensionQueries3.GraphCapR]] = 32, cells of ~48 members keep
    * capR/target = 2/3 of the corpus inside some posting list AT EVERY
    * SCALE — the production IVF rule (cells ∝ n / targetCellSize) where
    * the pinned fixture's fixed 8 cells keep 8·32/n, a fraction that
    * vanishes with n. 48 rather than exactly 32 leaves slack for k-means
    * imbalance: a cell smaller than the cap wastes cap slots, so the
    * in-cap fraction reads slightly under 2/3 (s45 audits the real
    * number; the r20 gate requires ≥ 50% at sf0.1).
    */
  val GraphTargetCell = 48

  /** Cells for an n-vector corpus: ceil(n / [[GraphTargetCell]]), min 2
    * (Lloyd's needs ≥ 2 cells to partition anything). The engine computes
    * n from parquet footers ([[graft.sources.Tables.rowCount]] — plan-time
    * information, the [[ExtensionQueries.embPlanes]] precedent) and the
    * generated oracle bakes `ivfCellsFor(OracleCorpusSize)`; both scales
    * the driver compares at (sf0.001/sf0.01) hold 500 embeddings, so the
    * two sides land on the same k by the same function — no literal to
    * drift.
    */
  private[graft] def ivfCellsFor(n: Long): Int =
    math.max(2, math.ceil(n.toDouble / GraphTargetCell).toInt)

  /** The k both oracles bake (= 11 at the 500-vector oracle scales). */
  private[graft] val OracleScaledCells: Int =
    ivfCellsFor(ExtensionQueries.OracleCorpusSize)

  /** Probe width of s47's coarse routing layer (top-`SuperProbe`
    * supercells per vector) — 2 for the same boundary-recovery reason as
    * [[ExtensionQueries.IvfProbe]]: a vector near a supercell boundary
    * keeps its true nearest fine centroid in reach one supercell over.
    */
  val SuperProbe = 2

  /** Supercells for a k-cell codebook: ceil(sqrt(SuperProbe·k)) — the m
    * minimizing the routed per-vector candidate count m + SuperProbe·k/m
    * (coarse scan plus expected fine members of the probed supercells).
    */
  private[graft] def superCellsFor(k: Int): Int =
    math.max(2, math.ceil(math.sqrt(SuperProbe.toDouble * k)).toInt)

  private[graft] val OracleSuperCells: Int = superCellsFor(OracleScaledCells)

  /** The scaled-geometry index build shared by s44/s45: train at
    * [[ivfCellsFor]] cells over the full corpus, cap posting lists at
    * [[ExtensionQueries3.GraphCapR]], rank the capped kNN edges. All four
    * pieces are the registered family's own factored operators
    * ([[ExtensionQueries3.cappedPosting]]/[[ExtensionQueries3.graphProbes]]/
    * [[ExtensionQueries3.knnGraphEdges]]) — only k changes, which is the
    * point: geometry is a parameter of the plan, not a different plan.
    * Scale shape: the one term that grows with the corpus-proportional k
    * is the assignment/probe cross join, n·k cosines = n²/target at fixed
    * occupancy — the known cost of FLAT IVF training, paid by the nightly
    * build job (the s31/s39 lane), never per query or per ingest; the
    * 100 TB path trains the codebook on a bounded sample (s33's lane) and
    * routes assignment hierarchically. The serve and maintenance stay
    * O(beam·degree·hops) and damage-radius-bounded exactly as at the
    * pinned geometry.
    */
  private def scaledIndex(s: SparkSession, dir: String)
      : (DataFrame, Int, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = ExtensionQueries.embeddingsD(s, dir)
    val k = ivfCellsFor(graft.sources.Tables.rowCount(s, dir, "embeddings"))
    val (cent, assigned) = graft.operators.Kmeans.fit(
      e.select(col("vec_id"), col("v")), k = k, iters = IvfIters)
    val posting = ExtensionQueries3.cappedPosting(assigned, cent,
      Some(GraphCapR))
    val probes = ExtensionQueries3.graphProbes(
      e.select(col("vec_id"), col("v")), cent, IvfProbe)
    val edges = ExtensionQueries3.knnGraphEdges(probes, posting)
    (e, k, cent, assigned, posting, edges)
  }

  /** s47's two-level routed argmax over a fine codebook `cent` (k cells):
    * train `m` supercells over the CENTROIDS (k-row work — trivial at any
    * scale), take the final membership of each fine centroid under the
    * final coarse codebook (routing and membership must share one
    * codebook, so this is a last [[graft.operators.Kmeans.assign]] pass,
    * not fit's pre-recompute assignment), route each vector to its
    * top-[[SuperProbe]] supercells, and argmax-cosine only among those
    * supercells' fine members. Returns (vec_a, routed_cell, n_cand).
    * Per-vector work: m + SuperProbe·k/m expected cosines vs the flat
    * argmax's k; both broadcasts are codebook-bounded, the argmax is the
    * map-side `max_by` (never a pair-scale shuffle).
    */
  private[graft] def routedAssign(e: DataFrame, cent: DataFrame,
      m: Int): DataFrame = {
    import graft.operators.{Kmeans, VectorOps}
    val centE = cent.select(col("cell").as("vec_id"), col("cv").as("v"))
    val (scent, _) = Kmeans.fit(centE, m, IvfIters)
    val smember = Kmeans.assign(centE, scent)
      .select(col("vec_id").as("fine_cell"), col("cell").as("supercell"))
    val routes = ExtensionQueries3.graphProbes(e, scent, SuperProbe)
      .select(col("vec_a"), col("va"), col("cell").as("supercell"))
    routes
      .join(broadcast(smember), Seq("supercell"))
      .join(broadcast(cent.select(col("cell").as("fine_cell"), col("cv"))),
        Seq("fine_cell"))
      .withColumn("fcos", VectorOps.cosineFast(col("va"), col("cv")))
      .groupBy(col("vec_a"))
      .agg(max_by(col("fine_cell"),
          struct(col("fcos"), (-col("fine_cell")).as("neg")))
        .as("routed_cell"),
        count(lit(1)).as("n_cand"))
  }

  private val s46Memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Session-scoped PUBLISHED serving artifacts for s46 — the verdict's
    * item 5 made a registered row: a deployment's steady state between
    * nightly rebuilds serves from the maintenance pass's PUBLISHED output,
    * not from the fused maintain-then-serve DAG s43 deliberately prices.
    * The lifecycle here is the real one: v1 of each table is what the
    * nightly build wrote (the prior graph's symmetrized edges and entry
    * heads — s40's serving-artifact shapes); the ingest's maintenance
    * pass then publishes v2 via [[graft.sources.Snapshots.commitReplace]]
    * (the whole-artifact rewrite Round19Spec pinned), leaving v1
    * time-travelable. The serve body reads ONLY `readLatest` — the moment
    * the publish lands, the day's vectors are walkable; before it,
    * readers see the prior build. Intermediates are built once per
    * (session, fixture) and the committed parquet is the only state the
    * serve touches (the s40 pattern: zero per-query persist, each hop
    * re-reads bounded stored tables).
    */
  private[graft] def s46Root(s: SparkSession, dir: String): String = {
    s46Memo.entrySet().removeIf(e => e.getKey._1.sparkContext.isStopped)
    s46Memo.computeIfAbsent((s, dir), { _ =>
      val prior = ExtensionQueries10.s41PriorRoot(s, dir)
      def a(name: String) =
        graft.sources.Snapshots.readLatest(s, s"$prior/$name")
      val cent = a("centroids")
      def sym(edges: DataFrame): DataFrame = {
        val raw = edges.select(col("vec_id").as("src"),
          col("neighbor").as("dst"))
        raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
      }
      def headsOf(posting: DataFrame): DataFrame =
        ExtensionQueries8.ivfHeads(cent,
          posting.select(col("vec_b").as("vec_id"), col("vb").as("v"),
            col("cell_b").as("cell")))
      val root = graft.sources.Scratch.fresh(s,
        s"s46_pub_${graft.sources.Scratch.dirTag(dir)}")
      // v1: the nightly build's serving artifacts (prior corpus)
      graft.sources.Snapshots.commit(s, s"$root/edges", sym(a("edges")))
      graft.sources.Snapshots.commit(s, s"$root/heads", headsOf(a("posting")))
      graft.sources.Snapshots.commit(s, s"$root/centroids", cent)
      // the day's maintenance pass (one build; s41's operators, idx
      // threaded so the cap re-rank DAG exists once — the r19 advice)
      val delta = ExtensionQueries.embeddingsD(s, dir)
        .filter(ExtensionQueries.ingestDelta(col("vec_id")))
        .select(col("vec_id"), col("v"))
      val idx = ExtensionQueries10.maintainPosting(cent, a("posting"),
        delta, GraphCapR)
      val maintained = ExtensionQueries10.maintainGraph(cent, a("posting"),
        a("probes"), a("edges"), delta, IvfProbe, GraphCapR, idx)
      // v2: the publication — readers switch atomically, v1 stays
      graft.sources.Snapshots.commitReplace(s, s"$root/edges",
        sym(maintained))
      graft.sources.Snapshots.commitReplace(s, s"$root/heads",
        headsOf(idx.capAfter))
      root
    })
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Graph-ANN walk at PRODUCTION-SHAPED geometry (s44): s39's exact
    // serve — IVF-routed entries, symmetrized occupancy-capped edges,
    // beam walk — with the cell count scaled to the corpus
    // (ivfCellsFor(n) ≈ n/48) instead of the fixture's pinned 8. At the
    // pinned geometry only k·capR = 256 vectors exist in any posting
    // list, so the graph can never serve more than 256 candidates no
    // matter the corpus (s42's sf10 read-off); here the servable set
    // grows WITH the corpus at a constant ~2/3 fraction (s45 audits it).
    // The walk itself is unchanged — O(beam·degree·hops) per query,
    // independent of n — which is the claim this row makes registered:
    // geometry is a parameter, not a rebuild of the operator.
    "s44_graph_walk_scaled" -> ((s, dir) => {
      val (e, _, cent, assigned, _, edges) = scaledIndex(s, dir)
      val raw = edges.select(col("vec_id").as("src"),
        col("neighbor").as("dst"))
      // persist: the beam loop references the edge set at every hop (the
      // r19 walkOver rule — hop h's DAG embeds every earlier hop's)
      val g = raw
        .union(raw.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .persist()
      val q = e.filter(col("vec_id") <= 2)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      // no persist (r21): walkOver materializes each hop's beam to a
      // local relation, so the hop-0 seed sub-DAG executes exactly once
      val seeds = ExtensionQueries8.ivfQCells(q, cent)
        .join(ExtensionQueries8.ivfHeads(cent, assigned), Seq("cell"))
        .select(col("query_id"), col("vec_id"))
      ExtensionQueries8.walkOver(g, e, q, (_, _) => seeds)
    }),

    // Serving-coverage audit at the scaled geometry (s45): the s42-style
    // read-off that DECIDES whether a geometry is production-shaped — how
    // much of the corpus sits in some capped posting list (candidates for
    // anyone's edges) and how much is reachable as a directed walk
    // result. At the pinned geometry these are 256 and ≤256 at every
    // scale; at ivfCellsFor(n) the in-cap fraction is ~capR/target ≈ 2/3
    // by construction, scale-free. One row: three id-projections of the
    // index joined into 1-row aggregates — nothing rescans vectors.
    "s45_graph_coverage_scaled" -> ((s, dir) => {
      val (e, k, _, _, posting, edges) = scaledIndex(s, dir)
      val nVec = e.agg(count(lit(1)).as("n_vectors"))
      val inCap = posting.select(col("vec_b")).distinct()
        .agg(count(lit(1)).as("n_in_cap"))
      val reach = edges.select(col("neighbor")).distinct()
        .agg(count(lit(1)).as("n_reachable"))
      nVec.crossJoin(inCap).crossJoin(reach)
        .select(col("n_vectors"), lit(k).as("n_cells"), col("n_in_cap"),
          col("n_reachable"),
          graft.operators.Agg.roundAt(
            col("n_in_cap") * 100.0 / col("n_vectors"), 2).as("in_cap_pct"))
    }),

    // Steady-state serve from the PUBLISHED maintained artifact (s46):
    // the deployment loop's third lane, closing the family's pricing
    // story — s39 prices the live build, s40 the serve from the nightly
    // artifact, s41 the maintenance pass, s43 the fused intraday
    // maintain-then-serve; THIS row prices what a replica pays per
    // request between publishes: read the latest published tables, walk.
    // The serve is s40's verbatim shape (stored symmetrized edges +
    // stored heads + stored codebook; zero per-query persist) over the
    // maintenance publication (v2 via commitReplace, v1 time-travelable).
    // The oracle is s43's verbatim: the published artifacts equal the
    // fixed-codebook rebuild's (s41's proven contract), so the walk over
    // them matches hop for hop — storage round trip changes nothing (the
    // s24/s40 precedent).
    "s46_graph_walk_published" -> ((s, dir) => {
      val root = s46Root(s, dir)
      val g = graft.sources.Snapshots.readLatest(s, s"$root/edges")
      val cent = graft.sources.Snapshots.readLatest(s, s"$root/centroids")
      val heads = graft.sources.Snapshots.readLatest(s, s"$root/heads")
      val e = ExtensionQueries.embeddingsD(s, dir)
      val q = e.filter(col("vec_id") <= 2)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val seeds = ExtensionQueries8.ivfQCells(q, cent)
        .join(heads, Seq("cell"))
        .select(col("query_id"), col("vec_id"))
      ExtensionQueries8.walkOver(g, e, q, (_, _) => seeds)
    }),

    // Two-level (routed) assignment audit (s47): the design row for the
    // ONE term of the scaled family that grows superlinearly — flat
    // argmax assignment costs n·k cosines, and with k = n/48 that is
    // n²/48 (this round found the old window-form assign HUNG on exactly
    // that shape at the sf10 audit geometry before the max_by rewrite).
    // The production fix is hierarchical routing, HNSW-over-centroids /
    // two-level IMI shaped: cluster the k fine centroids into
    // m = ceil(sqrt(2k)) supercells (training over k rows — trivial at
    // any scale), route each vector to its top-2 supercells (n·m), then
    // argmax only among those supercells' fine members (n·2k/m expected)
    // — per-vector candidates drop from k to m + 2k/m ≈ 2·sqrt(2k), 23×
    // fewer at the sf10 geometry (k=4167: 4167 → ~183). Routing is
    // APPROXIMATE (a vector whose true cell hides in an unprobed
    // supercell mis-assigns), so this row REPORTS the agreement against
    // the exact flat argmax next to the candidate-count saving — the
    // d27/s23 design-table discipline: grade the trade, don't bury it.
    // Measured (PLANS.md, s47's r20 routing table): at the sf10 geometry
    // (k=4167, m=92) routing is 8.4x faster wall (172.2 -> 20.6 s) at 22.8x
    // fewer candidates, but agreement on the ISOTROPIC fixture reads 26.4% —
    // random vectors have near-tied cosines to all centroids, so the
    // exact argmax is itself noise and top-2-of-92 supercells cannot
    // cover where the near-tie winner hides. On the clustered 20k
    // fixture (the s36-s39 walk family's same finding: navigability
    // requires cluster structure) agreement reads 93.8% at 6.2x fewer
    // candidates. Production embedding corpora are clustered; the
    // isotropic number is the honest worst case.
    "s47_routed_assign_audit" -> ((s, dir) => {
      import graft.operators.Kmeans
      val e = ExtensionQueries.embeddingsD(s, dir)
        .select(col("vec_id"), col("v"))
      val k = ivfCellsFor(graft.sources.Tables.rowCount(s, dir, "embeddings"))
      val m = superCellsFor(k)
      val (cent, _) = Kmeans.fit(e, k, IvfIters)
      val routed = routedAssign(e, cent, m)
      val flat = Kmeans.assign(e, cent)
        .select(col("vec_id").as("vec_a"), col("cell").as("flat_cell"))
      flat.join(routed, Seq("vec_a"), "left")
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("routed_cell") === col("flat_cell"), 1L)
            .otherwise(0L)).as("n_agree"),
          sum(col("n_cand")).as("cand_rows"))
        .select(col("n_vectors"), lit(k).as("n_cells"),
          lit(m).as("n_supercells"), col("n_agree"),
          graft.operators.Agg.roundAt(
            col("n_agree") * 100.0 / col("n_vectors"), 2).as("agree_pct"),
          graft.operators.Agg.roundAt(
            lit(m.toDouble) +
              col("cand_rows").cast("double") / col("n_vectors"), 2)
            .as("avg_cand_per_vec_routed"))
    }))

  // ---- DuckDB SQL mirrors ----

  private def cosSql(a: String, b: String): String = {
    import ExtensionQueries.dotSql
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"
  }

  /** s45's oracle: the scaled-k training + capped-posting + edge-ranking
    * chain ([[ExtensionQueries3.knnGraphChainCtes]] — the SAME text the
    * s13/s31 oracles run, k-parameterized so the shapes cannot drift),
    * read off as 1-row coverage counts.
    */
  private def s45CoverageSql: String = s"""
      WITH ${ExtensionQueries3.knnGraphChainCtes(
        cap = Some(GraphCapR), k = OracleScaledCells)},
      counts AS (
        SELECT (SELECT count(*) FROM e) AS n_vectors,
               CAST($OracleScaledCells AS INTEGER) AS n_cells,
               (SELECT count(DISTINCT vec_id) FROM posting) AS n_in_cap,
               (SELECT count(DISTINCT vec_b) FROM ranked WHERE rank <= 3)
                 AS n_reachable
      )
      SELECT n_vectors, n_cells, n_in_cap, n_reachable,
             floor((n_in_cap * 100.0 / n_vectors) * 100 + 0.5) / 100
               AS in_cap_pct
      FROM counts"""

  /** s47's oracle: both training chains in one WITH (the corpus chain and
    * the `s`-prefixed coarse chain over `centv` — kmTrainingCtes'
    * prefix/input parameters exist for exactly this), the routed argmax
    * as windowed rank-1 picks, LEFT-joined to the exact flat argmax.
    */
  private def s47RoutedSql: String = {
    val k = OracleScaledCells
    val m = OracleSuperCells
    val iters = IvfIters
    s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),${ExtensionQueries.kmTrainingCtes(k, iters)},
      centv AS (SELECT cell AS vec_id, cv AS v FROM c$iters),${
        ExtensionQueries.kmTrainingCtes(m, iters, prefix = "s",
          input = "centv")},
      smember AS (
        SELECT vec_id AS fine_cell, cell AS supercell FROM (
          SELECT cv0.vec_id, sc.cell,
                 row_number() OVER (PARTITION BY cv0.vec_id ORDER BY
                   ${cosSql("cv0.v", "sc.cv")} DESC, sc.cell ASC) AS rn
          FROM centv cv0 CROSS JOIN sc$iters sc
        ) t WHERE rn = 1
      ),
      routes AS (
        SELECT vec_a, va, supercell FROM (
          SELECT f.vec_id AS vec_a, f.v AS va, sc.cell AS supercell,
                 row_number() OVER (PARTITION BY f.vec_id ORDER BY
                   ${cosSql("f.v", "sc.cv")} DESC, sc.cell ASC) AS prn
          FROM e f CROSS JOIN sc$iters sc
        ) p WHERE prn <= $SuperProbe
      ),
      cand AS (
        SELECT r.vec_a, r.va, sm.fine_cell
        FROM routes r JOIN smember sm ON r.supercell = sm.supercell
      ),
      routedpick AS (
        SELECT vec_a, fine_cell AS routed_cell, n_cand FROM (
          SELECT c.vec_a, c.fine_cell,
                 row_number() OVER (PARTITION BY c.vec_a ORDER BY
                   ${cosSql("c.va", "fc.cv")} DESC, c.fine_cell ASC) AS rn,
                 count(*) OVER (PARTITION BY c.vec_a) AS n_cand
          FROM cand c JOIN c$iters fc ON c.fine_cell = fc.cell
        ) t WHERE rn = 1
      ),
      flat AS (
        SELECT vec_id, cell FROM (
          SELECT f.vec_id, fc.cell,
                 row_number() OVER (PARTITION BY f.vec_id ORDER BY
                   ${cosSql("f.v", "fc.cv")} DESC, fc.cell ASC) AS rn
          FROM e f CROSS JOIN c$iters fc
        ) t WHERE rn = 1
      ),
      stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CASE WHEN rp.routed_cell = fl.cell THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_agree,
               CAST(sum(rp.n_cand) AS BIGINT) AS cand_rows
        FROM flat fl LEFT JOIN routedpick rp ON fl.vec_id = rp.vec_a
      )
      SELECT n_vectors, CAST($k AS INTEGER) AS n_cells,
             CAST($m AS INTEGER) AS n_supercells, n_agree,
             floor((n_agree * 100.0 / n_vectors) * 100 + 0.5) / 100
               AS agree_pct,
             floor(($m + CAST(cand_rows AS DOUBLE) / n_vectors) * 100 + 0.5)
               / 100 AS avg_cand_per_vec_routed
      FROM stats"""
  }

  val oracles: Map[String, String] = Map(
    // s39's oracle chain with k scaled — the walk text is walkSql's
    // verbatim, k-parameterized (one home, no drift).
    "s44_graph_walk_scaled" ->
      ExtensionQueries8.graphWalkIvfSymSqlAt(OracleScaledCells),
    "s45_graph_coverage_scaled" -> s45CoverageSql,
    // Published-artifact replay: s43's oracle VERBATIM — the maintained
    // artifacts provably equal the fixed-codebook rebuild's, and the
    // storage round trip changes nothing.
    "s46_graph_walk_published" ->
      ExtensionQueries10.oracles("s43_graph_walk_maintained"),
    "s47_routed_assign_audit" -> s47RoutedSql)
}
