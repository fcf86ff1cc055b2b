package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Agg, Dedup, EventOps, Multimodal, TextOps, VectorOps}
import graft.sources.Tables

/** LLM-training-data-pipeline operators over the `documents`, `embeddings`
  * and `events` fixtures (SURVEY §7 step 4): text analysis, exact and
  * near deduplication (MinHash-LSH, SimHash, Jaccard), similarity search
  * (brute force + LSH), event windows/sessions, and multimodal plumbing.
  *
  * Every query has a DuckDB oracle. The oracle SQL is *generated from the
  * same parameters* (hash constants, stopword lists, plane formulas) as the
  * Spark expressions, so the two cannot drift apart silently.
  */
object ExtensionQueries {

  private val P = TextOps.P // 1e9+7

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- shared DuckDB SQL fragments (mirrors of TextOps/VectorOps) ----

  /** DuckDB mirror of [[TextOps.charHash]]. */
  private[graft] def chSql(x: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($x,''), ch -> CAST(ascii(ch) AS BIGINT))), " +
      s"(acc,x) -> (acc*31 + x) % $P)"

  /** DuckDB mirror of [[TextOps.charHash2]] (the independent second hash). */
  private[graft] def ch2Sql(x: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($x,''), ch -> CAST(ascii(ch) AS BIGINT))), " +
      s"(acc,x) -> (acc*131 + x) % ${TextOps.P2})"

  /** DuckDB mirror of [[TextOps.shingleHashes]] with n=2 as a CTE body. */
  private[graft] val featuresCte: String =
    s"""doc_feat AS (
      SELECT doc_id, list_distinct(list_transform(
        CASE WHEN len(toks) >= 2
             THEN list_transform(range(0, len(toks)-1),
                    i -> array_to_string(list_slice(toks, i+1, i+2), ' '))
             ELSE []::VARCHAR[] END,
        sh -> ${chSql("sh")})) AS features
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
            FROM documents) tok
    )"""

  /** DuckDB mirror of [[TextOps.charNgramHashes]] as a CTE body. */
  private def charFeaturesCteN(n: Int): String =
    s"""char_feat AS (
      SELECT doc_id, CASE WHEN length(t) >= $n THEN
        list_distinct(list_transform(range(1, length(t) - ${n - 2}),
          i -> ${chSql(s"substr(t, CAST(i AS INTEGER), $n)")}))
        ELSE []::BIGINT[] END AS features
      FROM (SELECT doc_id, lower(trim(text)) AS t FROM documents) norm
    )"""

  /** DuckDB mirror of [[TextOps.minhashAt]]. */
  private def mhSql(j: Int): String =
    s"list_min(list_transform(features, h -> (h*${2 * j + 1} + ${7919 * j + 13}) % $P))"

  /** [[bandSql]] generalized to `rows` minhashes per band (mirror of
    * [[TextOps.bandHash]] / the compiled MinhashBands combine).
    */
  private[graft] def bandSqlRows(b: Int, rows: Int): String = {
    val m = (0 until rows).map(r => mhSql(b * rows + r))
    m.tail.foldLeft(s"(${m.head})")((acc, x) => s"(($acc) * 31 + ($x)) % $P")
  }

  /** DuckDB mirror of [[TextOps.bandHash]] (rows=3). */
  /** DuckDB mirror of [[TextOps.simhash32]] over the `features` column of
    * `doc_feat` (shared by d05 and d13).
    */
  private val simhashSql: String = """
    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0,32),
      b -> CASE WHEN (list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(features, h -> CASE WHEN CAST(floor(h / pow(2,b)) AS BIGINT) % 2 = 1
                                           THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
        (v,x) -> v + x)) > 0
        THEN CAST(floor(pow(2,b)) AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
      (acc,y) -> acc + y)"""

  private[graft] def bandSql(b: Int): String = {
    val m = (0 until 3).map(r => mhSql(b * 3 + r))
    s"(((${m(0)}) * 31 + (${m(1)})) % $P * 31 + (${m(2)})) % $P"
  }

  /** DuckDB mirror of [[VectorOps.dot]] for two 64-dim double lists. */
  private[graft] def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1,65), i -> $a[i] * $b[i])), (acc,x) -> acc + x)"

  /** DuckDB mirror of [[VectorOps.planeWeight]] as a function of plane
    * expression `p` and the in-lambda index `i` (1-based dim = i-1).
    */
  private[graft] def planeDotSql(v: String, p: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1,65), " +
      s"i -> $v[i] * (CAST((($p*64 + (i-1)) * 2654435761) % 1000003 AS DOUBLE)/1000003.0 - 0.5))), " +
      s"(acc,x) -> acc + x)"

  /** DuckDB mirror of [[VectorOps.lshBucket]]. */
  private[graft] def bucketSql(v: String, planes: Int): String =
    (0 until planes).map(p =>
      s"(CASE WHEN ${planeDotSql(v, p.toString)} >= 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")

  /** Unrolled min-label-propagation depth for the d07/d08/d18 ORACLES. The
    * Spark side iterates until the exact fixed point (capped at
    * [[ClusterMaxRounds]]); static SQL cannot loop-until-stable, so the
    * oracle unrolls a fixed chain instead. Results agree as long as the
    * unroll depth ≥ the true PURE-EDGE convergence depth at the scales
    * the oracle is actually compared at — extra rounds past the fixed
    * point are no-ops. Measured pure-edge depths (recorded in PLANS.md,
    * round-13 full-suite scale sweep; r14 fixtures): 2 at sf0.001, 3 at
    * sf0.01 — the two oracle-compare scales, so 8 carries ≥ +5 margin at BOTH
    * — and 22 at sf0.1, which EXCEEDS the unroll: sf0.1+ is engine-only
    * territory (the oracle is never compared there; the engine's adaptive
    * loop converges regardless of depth), and any future widening of the
    * compared scales must raise this constant first. IndependentSemanticsSpec
    * replays the unrolled oracle semantics against the engine at every
    * compared scale to pin exactly that margin; the chain fixture that a
    * short FIXED round count provably mislabels is pinned in Round13Spec.
    */
  val ClusterRounds = 8

  /** Runaway cap for the adaptive label propagation — 64 ≫ any plausible
    * candidate-graph diameter (a cluster 64 merges deep is a pathology to
    * investigate, not silently converge); the cap bounds plan depth and
    * round-job count at 100 TB.
    */
  val ClusterMaxRounds = 64

  /** Generates the unrolled label-propagation CTE chain l1..ln (DuckDB
    * mirror of [[Dedup.labelClusters]], one CTE per round). MATERIALIZED:
    * each round references the previous one twice, so an inlined chain
    * doubles the plan per round (2^rounds leaf scans — the same
    * plan-doubling the Spark side checkpoints away); materializing keeps
    * the oracle's plan linear in rounds.
    */
  private[graft] def labelPropCtes(rounds: Int): String =
    (1 to rounds).map { r =>
      s"""l$r AS MATERIALIZED (
        SELECT id, min(label) AS label
        FROM (SELECT id, label FROM l${r - 1}
              UNION ALL
              SELECT e.dst AS id, l.label FROM edges e JOIN l${r - 1} l ON e.src = l.id) u
        GROUP BY id
      )"""
    }.mkString(",\n      ")

  private def stopList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ",", "]")

  private def hitsSql(ws: Seq[String]): String =
    s"CAST(len(list_filter(toks, w -> list_contains(${stopList(ws)}, w))) AS INTEGER)"

  // ---- Spark-side shared builders ----

  // persist(): the LSH pipelines reference features on BOTH sides of the
  // candidate self-join and again on both sides of the jaccard verify —
  // four copies of the extraction subtree, and column pruning blocks
  // ReuseExchange (same failure mode as the flagship's orders⋈customer).
  // One spill-capable cache of (id, hash-array) — far smaller than the
  // text itself — is the 100 TB shape too: extract once, consume many
  // times. CacheManager dedupes by canonical plan, so every d-query in a
  // session shares one materialization. Cache lifetime is intentionally
  // session-scoped (MEMORY_AND_DISK, the Dataset.persist default): distinct
  // fixture dirs make distinct cached relations, the Verify/Bench mains
  // clearCache() before stopping, and the shared test JVM's caches die with
  // it — under memory pressure the disk tier evicts, never OOMs.
  // r22: the r21 spreadToCores wrap here was REVERTED — the driver's full
  // 32-core bench showed the repartitioned cache layout a net loss for the
  // dedup family (d22 0.55x, d20 0.73x, d23 0.72x vs r20; every one faster
  // at 8 cores): 32 tiny tasks per downstream stage cost more in
  // scheduling than the single-task scan CPU they recovered. At production
  // split counts the scan parallelizes by itself (guide §6.1), so the
  // cache keeps the scan's own layout.
  private[graft] def docFeatures(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id").as("id"),
        graft.functions.TextHash.shingleHashes(col("text"), 2).as("features"))
      .persist()

  /** d17/d22/d24 ingest convention: doc keys ≡ 0 (mod [[IngestMod]]) play
    * the day's crawl; the rest are the already-processed corpus. The split
    * is load-bearing ACROSS queries — d24 reads d22's stored band index,
    * so both must agree on which docs that index was built for — which is
    * why it lives here once instead of as a literal in five bodies.
    * [[ingestDelta]]/[[priorCorpus]] are total complements (the fixture's
    * doc_id is non-null, so the mod never null-routes a row out of both).
    */
  private[graft] val IngestMod = 4
  private[graft] def ingestDelta(id: org.apache.spark.sql.Column) =
    id % IngestMod === 0
  private[graft] def priorCorpus(id: org.apache.spark.sql.Column) =
    id % IngestMod =!= 0

  /** Session-scoped stored verified-pair table for the word-shingle LSH
    * family: (doc_a, doc_b, n_shared_bands, jaccard-unrounded) over the
    * bands=4/rows=3 candidates — the artifact a deployment's candidate-
    * verify job writes ONCE and every downstream analysis reads (the
    * d22/s22 stored-artifact pattern, r16). Consumers: d14's estimator
    * eval, d19's signature-accuracy report, d21's threshold sweep — each
    * was re-deriving LSH candidates + exact Jaccard per bench entry
    * (~4 µs/pair × 6.7 M pairs × 3 at sf1). d04 itself stays LIVE: it is
    * the entry that prices the verify pass, exactly as d07 prices the
    * full cluster rebuild that d22's stored prior skips. Memoized per
    * (session, fixture); Bench pre-builds it untimed, Verify pays the one
    * build on its single pass. Outputs are identical by construction:
    * the table stores the UNROUNDED jaccard double (exact through
    * parquet), and consumers apply their own rounding as before.
    */
  private val verifiedPairsMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private[graft] def verifiedPairsRoot(s: SparkSession, dir: String): String = {
    verifiedPairsMemo.entrySet().removeIf(e => e.getKey._1.sparkContext.isStopped)
    // computeIfAbsent: a concurrent duplicate build would interleave
    // Scratch.fresh's delete+mkdir under the same path (see d22PriorRoot)
    verifiedPairsMemo.computeIfAbsent((s, dir), { _ =>
      val feats = docFeatures(s, dir)
      val root = graft.sources.Scratch.fresh(s,
        s"verified_pairs_${graft.sources.Scratch.dirTag(dir)}")
      // fused candidate+verify pass (r17) — one pair-scale shuffle;
      // Round16Spec pins this build row-equal, jaccard-bit-identical, to
      // the split lshCandidatePairs→jaccardOnPairs derivation
      Dedup.lshVerifiedPairs(feats, bands = 4, rows = 3)
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
          col("jaccard"))
        .write.mode("overwrite").parquet(root)
      root
    })
  }

  /** The stored verified-pair table as a DataFrame (see
    * [[verifiedPairsRoot]]).
    */
  private[graft] def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(verifiedPairsRoot(s, dir))

  // persist() for the same multi-consumer reason as docFeatures: every ANN
  // query reads the corpus side at least twice (index build + probe or
  // verify), and the float->double conversion would otherwise re-run per
  // reference.
  // r22: the r21 spreadToCores wrap here was REVERTED (see docFeatures) —
  // net loss on the driver's 32-core bench (s33 0.44x, s30 0.64x, s36
  // 0.63x, diag s32 9.8->16.1 s; all faster at 8 cores) and it broke
  // PlanSpec's "quantization is shuffle-free" contract (s07 consumes this
  // cache). The iterative trainers that dominate those lines run many
  // stages over the cache, so 32 near-empty partitions multiply scheduling
  // overhead per Lloyd iteration.
  private[graft] def embeddingsD(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        VectorOps.toDouble(col("embedding")).as("v"))
      .persist()

  /** Exact top-k per query, unrounded — s01's body, shared with the recall
    * evaluation (s08).
    */
  private[graft] def knnBruteRanked(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = embeddingsD(s, dir)
    val q = e.filter(col("vec_id") <= 2).select(col("vec_id").as("id"), col("v").as("vec"))
    val c = e.select(col("vec_id").as("id"), col("v").as("vec"))
    VectorOps.knnBruteForce(q, c, k)
  }

  /** SRP-LSH top-k per query (single probe), unrounded — s02's body, shared
    * with the recall evaluation (s08).
    */
  private[graft] def knnLshRanked(s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = embeddingsD(s, dir)
      .withColumn("bucket",
        VectorOps.lshBucketFast(col("v"), embPlanes(s, dir, KnnTargetBucket), 64))
    val q = e.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("bucket"))
    val c = e.select(col("vec_id"), col("v").as("cv"), col("bucket").as("bucket_c"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    c.join(broadcast(q), col("bucket") === col("bucket_c") &&
        col("vec_id") =!= col("query_id"))
      .withColumn("cos", VectorOps.cosineFast(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Multi-probe SRP-LSH top-k per query (nprobe=2: home bucket plus the
    * lowest-|margin| plane flip), unrounded — s06's body, shared with the
    * retrieval-metrics evaluation (s19). The corpus holds ONE bucket per
    * vector; only the (tiny, broadcast) query side explodes into nprobe
    * rows.
    */
  private[graft] def knnLshMultiprobeRanked(s: SparkSession, dir: String, k: Int)
      : DataFrame = {
    val planes = embPlanes(s, dir, KnnTargetBucket)
    val e = embeddingsD(s, dir)
      .withColumn("bucket", VectorOps.lshBucketFast(col("v"), planes, 64))
    val q = embeddingsD(s, dir).filter(col("vec_id") <= 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(VectorOps.lshProbeBuckets(col("v"), planes, 64, nprobe = 2)).as("qbucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    e.join(broadcast(q),
        col("qbucket") === col("bucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", VectorOps.cosineFast(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Target expected bucket occupancies for the SRP-LSH family. The plane
    * count then SCALES with the corpus ([[VectorOps.planesFor]]), keeping
    * within-bucket work bounded as n grows instead of going quadratic on a
    * fixed 2^planes bucket space.
    *   - near-dup pair join: cost ~ n x target, so target stays tiny;
    *   - k-NN candidate generation: target ~ k so each probe yields about
    *     one window of candidates.
    * At the driver's correctness SF (0.01: 500 embeddings) these give 8 and
    * 6 planes — the values the generated oracles below bake in.
    */
  val NearDupTargetBucket = 2L
  val KnnTargetBucket = 8L
  private[graft] val OracleCorpusSize = 500L // embeddings rows at sf0.001/sf0.01

  private[graft] def embPlanes(s: SparkSession, dir: String, target: Long): Int =
    VectorOps.planesFor(Tables.rowCount(s, dir, "embeddings"), target)

  /** Learned-IVF training budget (s05): cells, Lloyd iterations, probes.
    * Shared by the Spark query and its generated oracle.
    */
  val IvfCells = 8
  val IvfIters = 2
  val IvfProbe = 2

  /** DuckDB mirror of [[graft.operators.Kmeans.assign]] as a CTE. The
    * engine's r20 `max_by` form picks the same row: the aggregate's
    * (ccos, −cell) lexicographic max IS this window's (cos desc, cell asc)
    * first row.
    */
  private def kmAssignCte(name: String, centCte: String,
      input: String = "e"): String = s"""
      $name AS (
        SELECT vec_id, v, cell FROM (
          SELECT e.vec_id, e.v, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id ORDER BY
                   (${dotSql("e.v", "c.cv")} / (sqrt(${dotSql("e.v", "e.v")}) * sqrt(${dotSql("c.cv", "c.cv")}))) DESC,
                   c.cell ASC) AS rn
          FROM ${if (input == "e") "e" else s"$input e"} CROSS JOIN $centCte c
        ) t WHERE rn = 1
      )"""

  /** DuckDB mirror of [[graft.operators.Kmeans.recompute]] as a CTE. */
  private def kmRecomputeCte(name: String, assignCte: String): String = s"""
      $name AS (
        SELECT cell, list(c ORDER BY dim) AS cv FROM (
          SELECT cell, CAST(i AS INTEGER) AS dim,
                 CAST(sum(CAST(v[i+1] AS DECIMAL(30,6))) AS DOUBLE) / count(v[i+1]) AS c
          FROM $assignCte CROSS JOIN range(0, 64) t(i)
          GROUP BY 1, 2
        ) d GROUP BY cell
      )"""

  /** The full deterministic training run c0 -> a1 -> c1 -> ... -> c_iters.
    * `prefix`/`input` (r20) train a second, independent chain in the same
    * WITH — the coarse routing layer of s47 trains `s`-prefixed CTEs over
    * the fine codebook (`input = "centv"`) without colliding with the
    * corpus chain's seeds/c<i>/a<i> names; the defaults keep every
    * pre-r20 oracle's text.
    */
  private[graft] def kmTrainingCtes(k: Int, iters: Int,
      prefix: String = "", input: String = "e"): String = {
    val seeds = s"""
      ${prefix}seeds AS (
        SELECT CAST(row_number() OVER (ORDER BY ((vec_id % 1000003) * 427799) % 1000003, vec_id) - 1 AS INTEGER) AS cell, v
        FROM $input
        QUALIFY row_number() OVER (ORDER BY ((vec_id % 1000003) * 427799) % 1000003, vec_id) <= $k
      ),
      ${prefix}c0 AS (SELECT cell, v AS cv FROM ${prefix}seeds)"""
    val rounds = (1 to iters).map { r =>
      kmAssignCte(s"${prefix}a$r", s"${prefix}c${r - 1}", input) + "," +
        kmRecomputeCte(s"${prefix}c$r", s"${prefix}a$r")
    }
    (seeds +: rounds).mkString(",")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // End-to-end training-set curation: the three policies above composed
    // into one decision per document — quality floor, repetition gate,
    // per-source cap — with a deterministic first-failing reject reason.
    // Built FROM the registered t02/t08/d11 pipelines (resolved lazily at
    // call time), so the policy plan is exactly the audited pieces joined
    // on doc_id; thresholds compare the ROUNDED scores, like t08, so both
    // engines gate on identical values. This is the query a data-curation
    // run actually executes: one pass, every doc labeled keep/reject+why.
    "t11_curation_pipeline" -> ((s, dir) => {
      val qual = ExtensionQueries.all("t02_quality_score")(s, dir)
        .select(col("doc_id"), col("quality"))
      val rep = ExtensionQueries.all("t08_repetition")(s, dir)
        .select(col("doc_id"), col("dup_bigram_frac"), col("top_term_frac"),
          col("is_repetitive"))
      val rk = ExtensionQueries.all("d11_source_cap")(s, dir)
        .select(col("doc_id"), col("rank_in_source"), col("kept").as("within_cap"))
      qual.join(rep, "doc_id").join(rk, "doc_id")
        .withColumn("reject_reason",
          when(col("quality") < 22, "low_quality")
            .when(col("is_repetitive"), "repetitive")
            .when(!col("within_cap"), "source_capped"))
        .withColumn("kept", col("reject_reason").isNull)
        .select(col("doc_id"), col("quality"), col("dup_bigram_frac"),
          col("top_term_frac"), col("rank_in_source"), col("kept"),
          col("reject_reason"))
        .orderBy(col("doc_id"))
    }),
    // -- text analysis --
    "t01_token_stats" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      // explicit character classes (not word-class escapes) so Java and RE2
      // regex dialects agree; approximates BPE pre-tokenization: word runs
      // + individual punctuation marks
      val bpeish = regexp_extract_all(col("text"),
        lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))
      t(s, dir, "documents").select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          size(bpeish).as("n_bpe_tokens"),
          length(regexp_replace(col("text"), "\\s", "")).as("n_chars_nows"),
          Agg.roundAt(length(regexp_replace(col("text"), "\\s", "")).cast("double") /
            size(toks), 2).as("avg_word_len"))
        .orderBy(col("doc_id"))
    }),

    "t02_quality_score" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks)
      val punct = size(regexp_extract_all(col("text"), lit("[.!?,;]"), lit(0)))
      val stop = TextOps.stopwordHits(toks, TextOps.EnStop)
      val awl = length(regexp_replace(col("text"), "\\s", "")).cast("double") / nTok
      val rep = size(array_distinct(toks)).cast("double") / nTok
      t(s, dir, "documents").select(
          col("doc_id"), nTok.as("n_tokens"), punct.as("n_punct"), stop.as("stop_hits"),
          Agg.roundAt(rep, 4).as("distinct_ratio"),
          Agg.roundAt(stop.cast("double") / nTok * 50 +
            least(awl / 10, lit(1.0)) * 30 +
            least(nTok.cast("double") / 100, lit(1.0)) * 20, 2).as("quality"))
        .orderBy(col("doc_id"))
    }),

    "t03_lang_id" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      val en = TextOps.stopwordHits(toks, TextOps.EnStop)
      val es = TextOps.stopwordHits(toks, TextOps.EsStop)
      val fr = TextOps.stopwordHits(toks, TextOps.FrStop)
      val de = TextOps.stopwordHits(toks, TextOps.DeStop)
      val cjk = TextOps.cjkCount(col("text"))
      t(s, dir, "documents").select(
          col("doc_id"), en.as("en_hits"), es.as("es_hits"), fr.as("fr_hits"),
          de.as("de_hits"),
          when(cjk > 0, "zh")
            .when(en >= es && en >= fr && en >= de, "en")
            .when(es >= fr && es >= de, "es")
            .when(fr >= de, "fr")
            .otherwise("de").as("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF-style distinctive terms: ONE explode + two hash aggregates.
    // df is derived from the tf aggregate (tf has exactly one row per
    // (doc, term), so count-per-term == document frequency) — this saves a
    // second full explode+shuffle of the corpus, and the join on term reuses
    // the same exchange the df aggregate shuffled through. Ranking uses only
    // integers/strings (tf desc, df asc, term asc) so it is engine-exact;
    // the tfidf double is informational output (rounded). The corpus size
    // for IDF enters as a lazy broadcast 1-row aggregate (the same scalar-
    // subquery shape as Score.minMaxScore) — zero driver actions, one job.
    "t05_distinctive_terms" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nDocs = broadcast(docs.agg(count(lit(1)).as("__n_docs")))
      val tf = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      // df (document frequency) as a term-partitioned window over tf — tf has
      // exactly one row per (doc, term), so count-over-term IS df. The former
      // tf⋈df self-join evaluated the explode+aggregate subtree twice and
      // broadcast the whole vocabulary (fine at sf0.1, OOM at 100 TB); this
      // form scans/explodes once and every shuffle is keyed, never broadcast.
      val withDf = tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      withDf
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .crossJoin(nDocs)
        .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
          Agg.roundAt(col("tf") * log(col("__n_docs").cast("double") / col("df")), 6).as("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    "t04_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.charHash(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))),

    // Gopher-style repetition quality signals: duplicate-bigram fraction
    // (1 - distinct/total) and top-term dominance. Scale shape: the bigram
    // stats are pure per-row expressions (no shuffle); the top-term count is
    // one explode + two keyed aggregations, both map-side-combinable. Flags
    // are computed from the ROUNDED fractions so both engines threshold the
    // same value.
    "t08_repetition" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).as("n_tokens"),
          size(graft.functions.TextHash.shingleHashes(col("text"), 2)).as("n_distinct_bigrams"))
        .withColumn("n_bigrams", greatest(col("n_tokens") - 1, lit(0)))
      val topTerm = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id")).agg(max(col("cnt")).as("top_term_cnt"))
      val dupFrac = when(col("n_bigrams") > 0,
        Agg.roundAt(lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams"), 6))
        .otherwise(lit(0.0))
      val topFrac = when(col("n_tokens") > 0,
        Agg.roundAt(col("top_term_cnt").cast("double") / col("n_tokens"), 6))
        .otherwise(lit(0.0))
      base.join(topTerm, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("n_bigrams"),
          dupFrac.as("dup_bigram_frac"), topFrac.as("top_term_frac"))
        .withColumn("is_repetitive",
          col("dup_bigram_frac") > 0.3 || col("top_term_frac") > 0.2)
        .orderBy(col("doc_id"))
    }),

    // Unicode + whitespace normalization — the first pass of every text
    // pipeline: NFC-compose (native codegen'd expression; é as one
    // codepoint vs e+combining-accent must hash identically downstream),
    // lowercase, collapse whitespace runs, trim. Pure per-row expressions:
    // no shuffle except the output sort, scan-parallel at any corpus size.
    // The fixture text is ASCII (NFC there is an allocation-free identity);
    // the non-ASCII semantics are pinned against java.text.Normalizer in
    // UnicodeNormalizeSpec.
    "t09_normalize" -> ((s, dir) => {
      val norm = trim(regexp_replace(
        graft.functions.UnicodeNormalizeNFC.nfcNormalize(lower(col("text"))),
        "\\s+", " "))
      t(s, dir, "documents")
        .select(col("doc_id"), norm.as("clean_text"),
          length(norm).as("n_chars_clean"),
          (norm =!= col("text")).as("changed"))
        .orderBy(col("doc_id"))
    }),

    // Corpus bigram language-model statistics: conditional continuation
    // probabilities P(w2 | w1), the building block of n-gram LM scoring and
    // perplexity-proxy quality filters. One explode + one (w1,w2) keyed
    // aggregate; the per-w1 totals come from a window over the aggregate
    // (exactly one row per bigram, so the sum IS the w1 count — same trick
    // as t05's document frequency: no second explode, no broadcast of the
    // vocabulary). Ranking uses only integers/strings so it is
    // engine-exact; output keeps the top 3 continuations of frequent heads.
    "t10_bigram_lm" -> ((s, dir) => {
      // tokens are PROJECTED to a column before the pair lambda references
      // them: inlining TextOps.tokens(col("text")) into the lambda body
      // makes Catalyst re-evaluate the full split per element_at — O(n^2)
      // re-splitting per document (measured 5.6 s -> 0.6 s at sf0.1)
      val toks = col("__toks")
      // arrays_zip(slice, slice) over the materialized token array: plain
      // codegen'd array ops (transform/element_at lambdas are
      // CodegenFallback — interpreted + boxed per element)
      val pairs = when(size(toks) >= 2,
        arrays_zip(slice(toks, lit(1), size(toks) - 1).as("w1"),
          slice(toks, lit(2), size(toks) - 1).as("w2")))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
      val counts = t(s, dir, "documents")
        .select(TextOps.tokens(col("text")).as("__toks"))
        .select(explode(pairs).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      val byHead = Window.partitionBy(col("w1"))
      val rk = Window.partitionBy(col("w1")).orderBy(col("cnt").desc, col("w2").asc)
      counts
        .withColumn("w1_total", sum(col("cnt")).over(byHead))
        .withColumn("rank", row_number().over(rk))
        .filter(col("rank") <= 3 && col("w1_total") >= 20)
        .select(col("w1"), col("rank"), col("w2"), col("cnt"), col("w1_total"),
          Agg.roundAt(col("cnt").cast("double") / col("w1_total"), 6).as("cond_p"))
        .orderBy(col("w1"), col("rank"))
    }),

    // Per-source document caps — the anti-domination pass training sets run
    // so one crawl domain can't swamp the mixture: rank docs within each
    // source by quality (here: length desc, id tiebreak), keep the top K.
    // One window shuffle keyed by source; a skewed mega-source is the known
    // edge — the same salting fallback as q26 applies when a single source
    // exceeds a task's memory.
    "d11_source_cap" -> ((s, dir) => {
      val cap = 50
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .withColumn("rank_in_source", row_number().over(w))
        .withColumn("kept", col("rank_in_source") <= cap)
        .orderBy(col("doc_id"))
    }),

    // Deterministic content-hash train/validation/test split: bucket by the
    // first hex digit of md5(text) -> 13/2/1 of 16 (~81/12/6%). Hashing the
    // CONTENT (not the id) keeps exact duplicates in the same split — the
    // leak-proof assignment a training pipeline wants — and the split is
    // reproducible across engines, runs, and partitionings. Row-local
    // expressions only; no shuffle except the output sort.
    "d12_hash_split" -> ((s, dir) => {
      val hexDigit = substring(md5(col("text")), 1, 1)
      val bucket = (array_position(split(lit("0,1,2,3,4,5,6,7,8,9,a,b,c,d,e,f"), ","),
        hexDigit) - 1).cast("int")
      t(s, dir, "documents")
        .select(col("doc_id"), bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") <= 12, "train")
            .when(col("bucket") <= 14, "validation")
            .otherwise("test"))
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dup detection: d05 computes the fingerprints; this
    // consumes them. Candidate pairs share >=1 of the 2 16-bit halves of
    // the 32-bit simhash — the exact pigeonhole guarantee for hamming<=1
    // (one flipped bit leaves one half untouched), and the 65536-value
    // band space keeps collisions near the true-dup set (byte-wide bands
    // measured 963k candidates at sf0.1 on this clustered fixture; 16-bit
    // bands cut that ~30x). Exact hamming distance verifies. Scale shape:
    // one bucketed equi-join on (band_idx, band_value) — never all-pairs —
    // and the verify is a single codegen'd bit_count(xor) per candidate.
    "d13_simhash_neardup" -> ((s, dir) => {
      val sims = docFeatures(s, dir)
        .select(col("id"), graft.functions.TextHash.simhash32(col("features")).as("sim"))
        .persist() // consumed by both sides of the band join + the verify
      val bands = array((0 to 1).map(b =>
        shiftrightunsigned(col("sim"), 16 * b).bitwiseAND(lit(65535L))): _*)
      val banded = sims.select(col("id"),
        posexplode(bands).as(Seq("band_idx", "bv")))
      val a = banded.select(col("id").as("doc_a"), col("band_idx"), col("bv"))
      val b = banded.select(col("id").as("doc_b"),
        col("band_idx").as("bi_b"), col("bv").as("bv_b"))
      val pairs = a.join(b, col("band_idx") === col("bi_b") &&
          col("bv") === col("bv_b") && col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared_bands"))
      val hamming = bit_count(col("sim_a").bitwiseXOR(col("sim_b")))
      pairs
        .join(sims.select(col("id").as("doc_a"), col("sim").as("sim_a")), "doc_a")
        .join(sims.select(col("id").as("doc_b"), col("sim").as("sim_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
          hamming.as("hamming"), (hamming <= 1).as("is_dup"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Eval-set decontamination: flag training docs sharing any 3-token
    // shingle with the (deterministic doc_id % 97) eval slice. Scale shape:
    // the eval side of the join is a benchmark suite — thousands of docs
    // against a 100 TB corpus — and on a REAL deployment that constant-size
    // shingle set broadcasts on its measured size. No broadcast hint (r15,
    // the t35 fix applied to its sibling): THIS fixture's holdout is
    // doc_id % 97, ~1% of the corpus, so an unconditional hint would force
    // a corpus-proportional build side into every executor at 100 TB; with
    // the hint gone the planner/AQE broadcasts below the threshold and
    // falls back to a shuffled join above it — either way the corpus side
    // never collects.
    "d10_decontamination" -> ((s, dir) => {
      val shingled = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.TextHash.shingleHashes(col("text"), 3)).as("sh"))
      val evalSh = shingled.filter(col("doc_id") % 97 === 0)
        .select(col("sh")).distinct()
      shingled.filter(col("doc_id") % 97 =!= 0)
        .join(evalSh, "sh")
        // shingleHashes is distinct per doc, so plain count == shared count
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_shingles"))
        .orderBy(col("doc_id"))
    }),

    // -- deduplication --
    "d01_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("keep_id"))),

    "d02_minhash_bands" -> ((s, dir) =>
      docFeatures(s, dir)
        .withColumn("__bands", graft.functions.TextHash.minhashBands(col("features"), 4, 3))
        .select(
          (Seq(col("id").as("doc_id"), size(col("features")).as("n_features")) ++
            (0 until 4).map(b => element_at(col("__bands"), b + 1).as(s"b$b"))): _*)
        .orderBy(col("doc_id"))),

    "d03_lsh_candidates" -> ((s, dir) =>
      Dedup.lshCandidatePairs(docFeatures(s, dir), bands = 4, rows = 3)
        .orderBy(col("doc_a"), col("doc_b"))),

    "d04_jaccard_neardup" -> ((s, dir) => {
      // fused candidate+verify (r17, Dedup.lshVerifiedPairs): exact
      // Jaccard computed where the band self-join lands — feature arrays
      // never shuffle at pair scale (the split form's verify joins carried
      // doc_a's array through a |candidates|-row shuffle)
      Dedup.lshVerifiedPairs(docFeatures(s, dir), bands = 4, rows = 3)
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
          Agg.roundAt(col("jaccard"), 4).as("jaccard"),
          (col("jaccard") >= 0.5).as("is_dup"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    "d05_simhash" -> ((s, dir) =>
      docFeatures(s, dir)
        .select(col("id").as("doc_id"), graft.functions.TextHash.simhash32(col("features")).as("simhash"))
        .orderBy(col("doc_id"))),

    // The ingest-time near-dup SCREEN's batch form (r16, the hash-gated
    // half of streaming/DocStreams — StreamingSpec pins the stream
    // emit-for-emit against THIS rule): arrivals in doc_id order, per
    // LSH bucket only the first capK become members, every arrival
    // matches against stored members by 12-slot signature agreement.
    // This is the audit a deployment runs over a day's ingest — which
    // docs were flagged, against whom, through which band — and it
    // prices the screen's batch replay in the bench. Scale shape: one
    // rank window per bucket + one rank-bounded bucket self-join; the
    // capK bound keeps any hot bucket's pair term ≤ capK·|bucket|,
    // never |bucket|².
    "d23_ingest_screen" -> ((s, dir) => {
      // r22: r21's spreadToCores here reverted — the driver measured d23
      // at 0.72x of its r20 time with the spread (and faster at 8 cores);
      // the minhash pass is too small at fixture scale to amortize 32
      // tasks per stage, and at production split counts the scan spreads
      // itself.
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), to_timestamp(col("doc_id")).as("ts"),
          col("text"))
      // parameters come from the shared DocStreams constants — the oracle
      // SQL interpolates the SAME values, so neither side can drift alone
      graft.streaming.DocStreams.nearDupBatch(docs,
        capK = graft.streaming.DocStreams.ScreenCapK,
        minEst = graft.streaming.DocStreams.ScreenMinEst)
        .select(col("doc_id"), col("dup_of"),
          Agg.roundAt(col("est_jaccard"), 4).as("est_jaccard"), col("band"))
        .orderBy(col("doc_id"), col("dup_of"), col("band"))
    }),

    // INCREMENTAL maintenance of the stored verified-pair table (d24,
    // r17): the nightly that keeps the artifact d14/d19/d21 and the
    // graph family read CURRENT without ever re-verifying history — the
    // q104 changed-only pattern applied to the dedup lake. The prior
    // pair table and the prior band-fingerprint index PRE-EXIST (the
    // stored verified-pair artifact restricted to old×old — byte-equal
    // to a prior-only build, since a pair's band collisions and jaccard
    // don't depend on other docs — and d22's stored index; a deployment
    // reads yesterday's artifacts, the fixture derives them). The day's
    // ingest (id % 4 == 0, the d17/d22 convention) generates ONLY
    // delta×index and delta×delta candidates from the stored index
    // (history is never re-banded), exact-verifies just those pairs,
    // writes them beside the prior rows (separate idempotent delta
    // root), and the union IS the full table: every pair has ≥1 end in
    // either the old or new corpus, so old×old (stored) ∪ delta-touching
    // (tonight) is exhaustive and the oracle replays the FULL
    // candidate+verify derivation over all docs. Per-night cost is
    // O(Δ·collisions + Δ-pair verifies); d04 prices the full rebuild.
    // Honest fixture accounting (sf1 measured: 5.95 s vs d04's ~5.2):
    // the d17/d22 ingest convention is a QUARTER of the corpus — the
    // stored index was built for id % 4 ≠ 0, so the delta cannot shrink
    // independently — which makes ~44 % of all pairs delta-touching
    // (1 − (3/4)²), and both forms pay the same full-table output sort
    // (the reader's serve, not the maintenance). The incremental win
    // scales with 1/Δ: at a real nightly's Δ ≪ 1 % the verify term
    // vanishes while d04's rebuild term doesn't.
    "d24_incremental_verify" -> ((s, dir) => {
      val feats = docFeatures(s, dir)
      val prior = verifiedPairs(s, dir)
        .filter(priorCorpus(col("doc_a")) && priorCorpus(col("doc_b")))
      val index = graft.sources.Snapshots.readLatest(s,
        s"${ExtensionQueries8.d22PriorRoot(s, dir)}/band_index")
      val delta = feats.filter(ingestDelta(col("id")))
      val newPairs = Dedup.incrementalCandidatePairs(index, delta,
          bands = 4, rows = 3)
        .select(least(col("doc_new"), col("doc_matched")).as("doc_a"),
          greatest(col("doc_new"), col("doc_matched")).as("doc_b"),
          col("n_shared_bands"))
      val deltaRoot = graft.sources.Scratch.fresh(s,
        s"d24_delta_${graft.sources.Scratch.dirTag(dir)}")
      Dedup.jaccardOnPairs(newPairs, feats)
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
          col("jaccard"))
        .write.mode("overwrite").parquet(deltaRoot)
      prior.select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
          col("jaccard"))
        .unionByName(s.read.parquet(deltaRoot))
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
          Agg.roundAt(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MinHash accuracy evaluation (the s08 recall-eval pattern for the
    // text side): estimated Jaccard = fraction of the 12 MinHash slots
    // that agree, laid against the exact shingle Jaccard on the same
    // candidate pairs. This is how a pipeline validates its signature
    // budget — at 100 TB you tune bands×rows from THIS table, not from
    // the exact join you can no longer afford.
    "d14_minhash_estimate" -> ((s, dir) => {
      val feats = docFeatures(s, dir)
      // candidates + exact jaccard from the stored verified-pair table
      // (r16): this report GRADES the signature estimator against the
      // exact verify a previous job already ran — re-deriving LSH + exact
      // Jaccard here priced the same pass twice per bench run (d04 is the
      // entry that prices it live)
      // the exact jaccard rides ALONG the pair keys from the start (vp
      // has one row per pair by construction), so no join-back against a
      // second projection of the same table is ever needed (r16 review)
      val pairs = verifiedPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
      val mh = feats.select(col("id"),
        array((0 until 12).map(j => TextOps.minhashAt(col("features"), j)): _*).as("mh"))
      // persist() the scored table (pre-sort, so the cached relation is
      // the reusable part): d20 prices its six banding schemes over this
      // exact subtree right after d14 runs in suite order, and without
      // the cache it re-executed the whole pair+jaccard+signature
      // pipeline — measured 24.2 s at sf1 in-suite vs d14's own 9.7 s;
      // with the CacheManager dedup d20 pays one cache scan + fan-out.
      pairs
        .join(mh.select(col("id").as("doc_a"), col("mh").as("mha")), "doc_a")
        .join(mh.select(col("id").as("doc_b"), col("mh").as("mhb")), "doc_b")
        // native codegen'd agreement count (r16) — semantics-equal to the
        // portable aggregate(zip_with(..)) fold, which paid ~13 s of d14's
        // sf1 line in interpreted lambdas; Round16Spec pins the equality
        .withColumn("est",
          graft.functions.ArrayAgreeCount.agreeCount(col("mha"), col("mhb"))
            .cast("double") / 12)
        .select(col("doc_a"), col("doc_b"),
          Agg.roundAt(col("est"), 4).as("est_jaccard"),
          Agg.roundAt(col("jaccard"), 4).as("jaccard"),
          Agg.roundAt(abs(col("est") - col("jaccard")), 4).as("abs_err"))
        .persist()
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Char-3-gram Jaccard near-dup: same LSH pipeline as d04 but with
    // CHARACTER n-gram features (robust to tokenization edits that word
    // shingles miss). Char features are dense, so the band scheme trades
    // bands for rows (2 bands x 6 minhash rows) to keep unrelated-pair
    // collision probability — and thus candidate count — low; threshold
    // 0.6 reflects the higher base similarity of char-gram sets.
    "d09_char_ngram_jaccard" -> ((s, dir) => {
      val feats = t(s, dir, "documents").select(col("doc_id").as("id"),
        // 5-grams, not 3: same-language text shares almost all trigrams, so
        // trigram-minhash bands collide for ~60% of ALL doc pairs (7.4M
        // candidates at sf0.1 — LSH pruned nothing). 5-gram space is sparse
        // enough that candidates ≈ near-dups, which is the point of LSH.
        graft.functions.TextHash.charNgramHashes(col("text"), 5).as("features"))
        .persist() // both band-explode sides read it; see docFeatures
      // fused candidate+verify (r17): char-5-gram arrays are ~n_chars
      // longs, so keeping them OUT of the pair-scale verify shuffles
      // matters even more here than for d04's word shingles
      Dedup.lshVerifiedPairs(feats, bands = 2, rows = 6)
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
          Agg.roundAt(col("jaccard"), 4).as("jaccard"),
          (col("jaccard") >= 0.6).as("is_dup"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Duplicate-cluster resolution over the LSH candidate graph: min-label
    // propagation UNTIL CONVERGENCE (capped at [[ClusterMaxRounds]]); the
    // oracle unrolls [[ClusterRounds]] rounds, which is ≥ the measured
    // convergence depth on the fixtures with margin — past the fixed point
    // every extra unrolled round is a no-op, so both engines land on the
    // same component labeling. IndependentSemanticsSpec proves the labels
    // == union-find components.
    "d07_dedup_clusters" -> ((s, dir) => {
      val feats = docFeatures(s, dir)
      val pairs = Dedup.lshCandidatePairs(feats, bands = 4, rows = 3)
      Dedup.labelClusters(feats.select("id"), pairs, maxRounds = ClusterMaxRounds)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    "d06_embedding_neardup" -> ((s, dir) => {
      val e = embeddingsD(s, dir)
        .withColumn("bucket",
          VectorOps.lshBucketFast(col("v"), embPlanes(s, dir, NearDupTargetBucket), 64))
      val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("bucket"))
      val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("bucket").as("bucket_b"))
      a.join(b, col("bucket") === col("bucket_b") && col("vec_a") < col("vec_b"))
        .withColumn("cos", VectorOps.cosineFast(col("va"), col("vb")))
        .filter(col("cos") >= 0.4)
        .select(col("vec_a"), col("vec_b"), Agg.roundAt(col("cos"), 6).as("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // -- similarity search --
    "s01_knn_brute" -> ((s, dir) =>
      knnBruteRanked(s, dir, 5)
        .select(col("query_id"), col("rank"), col("vec_id"),
          Agg.roundAt(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))),

    "s02_knn_lsh" -> ((s, dir) =>
      knnLshRanked(s, dir, 5)
        .select(col("query_id"), col("rank"), col("vec_id"),
          Agg.roundAt(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))),

    // Recall@k evaluation — the acceptance gate every production ANN index
    // ships with: how much of the EXACT top-k does the approximate index
    // recover per query? Composes the two pipelines above and joins their
    // (query, neighbor) sets; queries the LSH misses entirely still appear
    // (left join from the exact side's query set, 0 hits). Scale shape:
    // both sides are the already-scale-shaped kNN plans; the comparison
    // join is on (query_id, vec_id) — k rows per query, trivially keyed.
    "s08_recall_eval" -> ((s, dir) => {
      val k = 5
      val exact = knnBruteRanked(s, dir, k).select(col("query_id"), col("vec_id"))
      val approx = knnLshRanked(s, dir, k)
        .select(col("query_id").as("qa"), col("vec_id").as("va"))
      val hits = exact
        .join(approx, col("query_id") === col("qa") && col("vec_id") === col("va"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("__hits"))
      exact.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("__hits"), lit(0L)).as("n_hits"),
          Agg.roundAt(coalesce(col("__hits"), lit(0L)).cast("double") / k, 6)
            .as("recall_at_k"))
        .orderBy(col("query_id"))
    }),

    // Multi-probe LSH k-NN: each query additionally probes the buckets
    // reached by flipping its lowest-|margin| plane bits — the flips most
    // likely to recover true neighbors hashed to the other side — recovering
    // recall without growing corpus storage or shrinking the plane count.
    // The corpus still holds ONE bucket per vector; only the (tiny,
    // broadcast) query side explodes into nprobe rows.
    "s06_knn_lsh_multiprobe" -> ((s, dir) =>
      knnLshMultiprobeRanked(s, dir, 5)
        .select(col("query_id"), col("rank"), col("vec_id"),
          Agg.roundAt(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))),

    // IVF-style vector aggregation: deterministic per-(cell, dim) centroid
    // via explode + decAvg — the oracle-checkable form (the typed
    // Aggregator fast path lives in operators.VectorAgg).
    "s03_vector_centroids" -> ((s, dir) =>
      embeddingsD(s, dir)
        .select(col("label"), posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy(col("label"), col("dim"))
        .agg(Agg.roundAt(Agg.decAvg(col("val")), 6).as("centroid"))
        .orderBy(col("label"), col("dim"))),

    // Symmetric int8 scalar quantization — the compression step a 100 TB
    // embedding store runs before ANN indexing (4x smaller vectors, integer
    // SIMD distances). Per-vector scale = 127/max|v|; purely row-local
    // expressions (no shuffle, no UDF), dequantization error pinned per
    // vector. floor(x+0.5) rounding keeps both engines bit-identical.
    "s07_embedding_quantize" -> ((s, dir) => {
      val mxAbs = array_max(transform(col("v"), x => abs(x)))
      val q = transform(col("v"), x =>
        greatest(lit(-127L), least(lit(127L),
          floor(x * col("__scale") + 0.5).cast("long"))))
      embeddingsD(s, dir)
        .withColumn("__scale", when(mxAbs > 0, lit(127.0) / mxAbs).otherwise(lit(1.0)))
        .withColumn("__q", q)
        .select(col("vec_id"),
          Agg.roundAt(col("__scale"), 6).as("scale"),
          aggregate(col("__q"), lit(0L), (a, x) => a + x).as("sum_q"),
          Agg.roundAt(array_max(zip_with(col("v"), col("__q"),
            (v, qq) => abs(v - qq / col("__scale")))), 6).as("max_abs_err"))
        .orderBy(col("vec_id"))
    }),

    // IVF ANN (nprobe=1): route each query to its nearest cell centroid,
    // search only that cell. Cells are the fixture's label partitions; the
    // centroid assembly sorts by dim so the array is deterministic.
    "s04_knn_ivf" -> ((s, dir) => {
      val e = embeddingsD(s, dir)
      val cent = e
        .select(col("label"), posexplode(col("v")).as(Seq("dim", "val")))
        .groupBy(col("label"), col("dim"))
        .agg(Agg.decAvg(col("val")).as("c"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
          x => x.getField("c")).as("cv"))
      val q = e.filter(col("vec_id") <= 2)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val probe = q.crossJoin(broadcast(cent))
        .withColumn("ccos", VectorOps.cosineFast(col("qv"), col("cv")))
      val best = graft.operators.Snapshot.latestPerKeyWindow(probe, Seq("query_id"),
          Seq(col("ccos").desc, col("label").asc))
        .select(col("query_id"), col("qv"), col("label"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      best.join(e, Seq("label"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", VectorOps.cosineFast(col("qv"), col("v")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("label"), col("vec_id"),
          Agg.roundAt(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // LEARNED IVF ANN: deterministic k-means centroids (operators.Kmeans —
    // hash-ranked seeds, fixed 2 Lloyd iterations, exact-decimal centroid
    // recomputation) instead of routing on the fixture's label column;
    // nprobe=2 search over the training run's final posting lists. The
    // oracle replays the ENTIRE training run in DuckDB CTEs and hash-matches
    // it — possible only because every step is engine-exact.
    "s05_knn_ivf_learned" -> ((s, dir) => {
      val e = embeddingsD(s, dir)
      val (cent, assigned) =
        graft.operators.Kmeans.fit(e.select(col("vec_id"), col("v")), k = IvfCells, iters = IvfIters)
      val q = e.filter(col("vec_id") <= 2)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val wProbe = Window.partitionBy(col("query_id"))
        .orderBy(col("ccos").desc, col("cell").asc)
      val cells = q.crossJoin(broadcast(cent))
        .withColumn("ccos", VectorOps.cosineFast(col("qv"), col("cv")))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= IvfProbe)
        .select(col("query_id"), col("qv"), col("cell"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id").asc)
      assigned.join(broadcast(cells), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", VectorOps.cosineFast(col("qv"), col("v")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("cell"), col("vec_id"),
          Agg.roundAt(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // -- event streams (batch form) --
    "e01_tumbling_daily" -> ((s, dir) =>
      EventOps.tumblingDaily(t(s, dir, "events"))
        .orderBy(col("day"), col("event_type"))),

    "e02_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          Agg.roundAt(Agg.decAvg(col("k")), 2).as("avg_k"))
        .orderBy(col("event_type"))),

    // Semi-structured props through Spark 4's VARIANT type (vs e02's
    // string-path get_json_object): parse ONCE into the binary variant
    // encoding, then typed `variant_get` projections — the shape that lets
    // a 100 TB event lake parse JSON a single time at ingest and run all
    // later extractions against the variant column without re-parsing.
    // try_variant_get on an absent path (or a type-mismatched value) must
    // yield null, not a default or an error — both extractions use the try
    // form so a malformed event degrades to a null, never a failed job.
    "e07_variant_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", expr("try_variant_get(v, '$.k', 'int')"))
        .withColumn("miss", expr("try_variant_get(v, '$.missing', 'int')"))
        .withColumn("k_bucket", expr("CAST(k DIV 10 AS INTEGER)"))
        .groupBy(col("event_type"), col("k_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("k").cast("long")).as("sum_k"),
          count(col("miss")).as("n_missing"))
        .orderBy(col("event_type"), col("k_bucket"))),

    // Conversion funnel: first view -> first click-after-view ->
    // first purchase-after-click, per user. Pure timestamp/integer logic.
    "e04_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def firstOf(tpe: String, name: String) = ev
        .filter(col("event_type") === tpe)
        .groupBy(col("user_id")).agg(min(col("ts")).as(name))
      val v = firstOf("view", "first_view")
      val c = ev.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("ts") >= col("first_view"))
        .groupBy(col("user_id"), col("first_view")).agg(min(col("ts")).as("first_click"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("ts") >= col("first_click"))
        .groupBy(col("user_id"), col("first_view"), col("first_click"))
        .agg(min(col("ts")).as("first_purchase"))
      v.join(c.select("user_id", "first_click"), Seq("user_id"), "left")
        .join(p.select("user_id", "first_purchase"), Seq("user_id"), "left")
        .orderBy(col("user_id"))
    }),

    // Sliding windows (6h window, 3h slide): each event lands in two
    // windows; the oracle expresses the same assignment as two offset
    // tumbling bucketings unioned.
    "e05_sliding_windows" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours", "3 hours").getField("start")
            .as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          Agg.roundAt(Agg.decSum(col("value")), 2).as("sum_value"))
        .orderBy(col("window_start"), col("event_type"))),

    "e03_sessionize" -> ((s, dir) =>
      EventOps.sessionize(t(s, dir, "events"), gapSeconds = 1800)
        .orderBy(col("user_id"), col("session_idx"))),

    // Dedup retention policy: resolve clusters (d07), score each doc
    // (distinct-token ratio), keep the best-scoring doc per cluster
    // (argmax via one window) — the full "dedup a training corpus and
    // decide which copy survives" pipeline in one query.
    "d08_cluster_keep_best" -> ((s, dir) => {
      val feats = docFeatures(s, dir)
      val pairs = Dedup.lshCandidatePairs(feats, bands = 4, rows = 3)
      val labels = Dedup.labelClusters(feats.select("id"), pairs,
        maxRounds = ClusterMaxRounds)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      val toks = TextOps.tokens(col("text"))
      val q = t(s, dir, "documents").select(col("doc_id"),
        Agg.roundAt(size(array_distinct(toks)).cast("double") / size(toks), 4)
          .as("distinct_ratio"))
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(col("distinct_ratio").desc, col("doc_id").asc)
      labels.join(q, "doc_id")
        .withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("cluster_id"), col("distinct_ratio"),
          (col("rk") === 1).as("is_kept"))
        .orderBy(col("doc_id"))
    }),

    // Corpus statistics grouped by predicted language (t03's classifier
    // feeding exact-percentile/avg stats) — the "what does my training mix
    // look like" rollup.
    "t06_corpus_stats" -> ((s, dir) => {
      // tokenize ONCE, then count stopword hits ONCE per language through a
      // named projection: the when-chain below compares those scalar
      // columns, so each interpreted filter() lambda runs once per row
      // (inlining them into the CASE re-evaluated the en counter 3x etc.)
      val hits = t(s, dir, "documents")
        .select(col("text"), TextOps.tokens(col("text")).as("toks"))
        .select(col("text"), size(col("toks")).as("n_tokens"),
          TextOps.stopwordHits(col("toks"), TextOps.EnStop).as("en"),
          TextOps.stopwordHits(col("toks"), TextOps.EsStop).as("es"),
          TextOps.stopwordHits(col("toks"), TextOps.FrStop).as("fr"),
          TextOps.stopwordHits(col("toks"), TextOps.DeStop).as("de"))
      val pred = when(TextOps.cjkCount(col("text")) > 0, "zh")
        .when(col("en") >= col("es") && col("en") >= col("fr") &&
          col("en") >= col("de"), "en")
        .when(col("es") >= col("fr") && col("es") >= col("de"), "es")
        .when(col("fr") >= col("de"), "fr")
        .otherwise("de")
      hits
        .select(pred.as("pred_lang"), col("n_tokens"),
          length(col("text")).as("n_chars"))
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("percentile(n_tokens, 0.5)").as("median_tokens"),
          min(col("n_tokens")).as("min_tokens"),
          max(col("n_tokens")).as("max_tokens"),
          Agg.roundAt(Agg.decAvg(col("n_chars")), 2).as("avg_chars"))
        .orderBy(col("pred_lang"))
    }),

    // Weekly retention cohorts: cohort = ISO week of a user's first event;
    // one row per (cohort, week offset) with distinct active users. Two
    // aggregations + one equi-join — fully shuffle-partitionable by user.
    "e06_retention_cohorts" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("wk"))
      val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
      e.join(first, "user_id")
        .select(col("user_id"), col("cohort_week"),
          (datediff(col("wk"), col("cohort_week")) / 7).cast("int").as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Frame sampling over a media-like payload: fixed-width frames via
    // sequence+explode (row-local generator, no shuffle), keep every 3rd
    // frame, checksum each. The decode step is a deterministic fake (the
    // container has no image/audio libs); the Spark-side plumbing — frame
    // schema, generator shape, per-frame hashing — is the real thing.
    "m02_frame_sample" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          ceil(length(col("text")).cast("double") / 64).cast("int").as("n_frames"))
        .select(col("doc_id"), col("n_frames"), col("text"),
          explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
        .filter(col("frame_idx") % 3 === 0)
        .withColumn("frame", expr("substring(text, frame_idx * 64 + 1, 64)"))
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          length(col("frame")).as("frame_chars"),
          length(encode(col("frame"), "UTF-8")).as("frame_bytes"),
          md5(encode(col("frame"), "UTF-8")).as("frame_md5"))
        .orderBy(col("doc_id"), col("frame_idx"))),

    // -- multimodal plumbing: opaque binary payload + typed metadata --
    "m01_media_plumbing" -> ((s, dir) => {
      val payload = encode(col("text"), "UTF-8")
      t(s, dir, "documents").select(
          col("doc_id"),
          length(payload).as("n_bytes"),
          md5(payload).as("checksum"),
          (TextOps.charHash(col("text")) % 1000).as("feature_bucket"))
        .orderBy(col("doc_id"))
    }),

    // Genuinely opaque binary files end-to-end (round-2 verdict missing #4):
    // payloads are written as one .bin file per record (partition-parallel),
    // read back with spark.read.format("binaryFile"), and pushed through the
    // partition-batched decode seam. The md5 checksum pins the exact bytes
    // (any write/read corruption fails the hash); upper/lower byte counts
    // pin the decoder's histogram math. Oracle replays all of it from the
    // original documents table, so a sink that dropped, truncated, or
    // re-encoded a file cannot pass. The sink dir comes from [[Scratch]]
    // (shared storage on a cluster, tmp only under local[*]).
    // Image resize over the REAL decoder: PPM parse -> nearest-neighbor
    // 16x9 -> 4x3 downsample -> re-encode; the oracle replays the exact
    // byte selection from the raster text and pins the thumbnail md5, so a
    // single wrong sampled pixel fails the hash. Decode+resize stays
    // partition-local (mapPartitions, one digest per task); only the
    // narrow feature row leaves the stage.
    "m04_thumbnail" -> ((s, dir) =>
      Multimodal.thumbnails(
          Multimodal.mediaFromDocuments(t(s, dir, "documents")), 4, 3)
        .toDF()
        .orderBy(col("doc_id"))),

    // m03 sink-coalesce decision (r17, closing the q56/m03 audit item):
    // target-byte output coalescing does NOT apply here — one .bin file
    // per record IS the operator's contract (the binaryFile-source path
    // a media lake's raw zone uses), so the file count is the row count
    // by design. The write path already amortizes the per-file create
    // latency across tasks and skips Hadoop's local-FS overhead (see
    // Multimodal.writeBinaryFiles); the residual sf1 swing (7.4 s
    // typical, one 22 s outlier observed r17) tracks filesystem state —
    // 50 k creates+deletes per run — not plan shape. Batched small-object
    // storage (payload as a parquet binary column) is the OTHER path and
    // is what every downstream m-query (m04-m11) already consumes.
    "m03_binary_source" -> ((s, dir) => {
      val sink = graft.sources.Scratch.fresh(s, s"media_${graft.sources.Scratch.dirTag(dir)}")
      Multimodal.writeBinaryFiles(
        Multimodal.mediaFromDocuments(t(s, dir, "documents")), sink)
      val decoded = Multimodal.decodeFeatures(Multimodal.fromBinaryFiles(s, sink))
      val isImg = col("media_type") === "image"
      def f(i: Int) = element_at(col("features"), i)
      // byte-histogram bins are count/len floats; count*len round-trips the
      // exact integer count (rel. error ~1e-7 << 0.5/len for len < 1e6)
      def binCount(b: Int) =
        round(element_at(col("features"), b + 1).cast("double") * col("n_bytes")).cast("long")
      // image rows pin the REAL PPM parse (dims + exact channel sums read
      // from the raster); audio/video rows pin the stub histogram as before
      decoded.select(col("doc_id"), col("media_type"), col("n_bytes"),
          col("frames_sampled"), col("checksum"),
          when(isImg, f(1).cast("int")).as("img_w"),
          when(isImg, f(2).cast("int")).as("img_h"),
          when(isImg, f(5).cast("long")).as("sum_r"),
          when(isImg, f(6).cast("long")).as("sum_g"),
          when(isImg, f(7).cast("long")).as("sum_b"),
          when(!isImg, binCount(2)).as("upper_bytes"),
          when(!isImg, binCount(3)).as("lower_bytes"))
        .orderBy(col("doc_id"))
    })
  )

  private val baseOracles: Map[String, String] = Map(
    "t01_token_stats" -> s"""
      WITH tok AS (
        SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS toks,
               length(regexp_replace(text, '\\s', '', 'g')) AS nc
        FROM documents
      )
      SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens,
             CAST(nc AS INTEGER) AS n_chars_nows,
             floor((CAST(nc AS DOUBLE) / len(toks)) * 100 + 0.5) / 100 AS avg_word_len
      FROM tok ORDER BY doc_id""",

    "t02_quality_score" -> s"""
      WITH tok AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks,
               len(regexp_extract_all(text, '[.!?,;]')) AS np,
               length(regexp_replace(text, '\\s', '', 'g')) AS nc
        FROM documents
      )
      SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
             CAST(np AS INTEGER) AS n_punct,
             ${hitsSql(TextOps.EnStop)} AS stop_hits,
             floor((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 10000 + 0.5) / 10000 AS distinct_ratio,
             floor((CAST(len(list_filter(toks, w -> list_contains(${stopList(TextOps.EnStop)}, w))) AS DOUBLE)
                      / len(toks) * 50
                    + least((CAST(nc AS DOUBLE) / len(toks)) / 10, 1.0) * 30
                    + least(CAST(len(toks) AS DOUBLE) / 100, 1.0) * 20) * 100 + 0.5) / 100
               AS quality
      FROM tok ORDER BY doc_id""",

    "t03_lang_id" -> s"""
      WITH tok AS (
        SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
      ),
      hits AS (
        SELECT doc_id,
               ${hitsSql(TextOps.EnStop)} AS en_hits,
               ${hitsSql(TextOps.EsStop)} AS es_hits,
               ${hitsSql(TextOps.FrStop)} AS fr_hits,
               ${hitsSql(TextOps.DeStop)} AS de_hits,
               len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk
        FROM tok
      )
      SELECT doc_id, en_hits, es_hits, fr_hits, de_hits,
             CASE WHEN cjk > 0 THEN 'zh'
                  WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
                  WHEN es_hits >= fr_hits AND es_hits >= de_hits THEN 'es'
                  WHEN fr_hits >= de_hits THEN 'fr'
                  ELSE 'de' END AS pred_lang
      FROM hits ORDER BY doc_id""",

    "t05_distinctive_terms" -> """
      WITH tok AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        FROM documents
      ),
      tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM tok, unnest(toks) AS u(term)
        GROUP BY 1, 2
      ),
      docfreq AS (
        SELECT term, count(*) AS df
        FROM (SELECT DISTINCT doc_id, term FROM tok, unnest(toks) AS u(term)) t
        GROUP BY 1
      ),
      n AS (SELECT count(*) AS n_docs FROM documents),
      ranked AS (
        SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
               row_number() OVER (PARTITION BY tf.doc_id
                 ORDER BY tf.tf DESC, docfreq.df ASC, tf.term ASC) AS rk
        FROM tf JOIN docfreq USING (term)
      )
      SELECT doc_id, CAST(rk AS INTEGER) AS rk, term, tf, df,
             floor((tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / df)) * 1000000 + 0.5) / 1000000 AS tfidf
      FROM ranked WHERE rk <= 3
      ORDER BY doc_id, rk""",

    "t04_fingerprint" -> s"""
      SELECT doc_id, ${chSql("text")} AS fingerprint
      FROM documents ORDER BY doc_id""",

    "t08_repetition" -> s"""
      WITH tok AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
        FROM documents
      ),
      base AS (
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(greatest(len(toks) - 1, 0) AS INTEGER) AS n_bigrams,
               len(list_distinct(list_transform(
                 CASE WHEN len(toks) >= 2
                      THEN list_transform(range(0, len(toks)-1),
                             i -> array_to_string(list_slice(toks, i+1, i+2), ' '))
                      ELSE []::VARCHAR[] END,
                 sh -> ${chSql("sh")}))) AS n_distinct_bigrams
        FROM tok
      ),
      tc AS (
        SELECT doc_id, max(cnt) AS top_term_cnt FROM (
          SELECT doc_id, term, count(*) AS cnt
          FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
          GROUP BY 1, 2)
        GROUP BY 1
      ),
      fr AS (
        SELECT base.doc_id, n_tokens, n_bigrams,
               CASE WHEN n_bigrams > 0 THEN
                 floor((1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams) * 1000000 + 0.5) / 1000000
               ELSE 0.0 END AS dup_bigram_frac,
               CASE WHEN n_tokens > 0 THEN
                 floor((CAST(top_term_cnt AS DOUBLE) / n_tokens) * 1000000 + 0.5) / 1000000
               ELSE 0.0 END AS top_term_frac
        FROM base JOIN tc ON base.doc_id = tc.doc_id
      )
      SELECT doc_id, n_tokens, n_bigrams, dup_bigram_frac, top_term_frac,
             (dup_bigram_frac > 0.3 OR top_term_frac > 0.2) AS is_repetitive
      FROM fr ORDER BY doc_id""",

    "t09_normalize" -> """
      WITH n AS (
        SELECT doc_id, text,
               trim(regexp_replace(nfc_normalize(lower(text)), '\s+', ' ', 'g')) AS clean_text
        FROM documents
      )
      SELECT doc_id, clean_text,
             CAST(length(clean_text) AS INTEGER) AS n_chars_clean,
             clean_text <> text AS changed
      FROM n ORDER BY doc_id""",

    "t10_bigram_lm" -> """
      WITH tok AS (
        SELECT string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents
      ),
      bg AS (
        SELECT unnest(CASE WHEN len(toks) >= 2
             THEN list_transform(range(0, len(toks) - 1),
                    i -> struct_pack(w1 := toks[CAST(i + 1 AS INTEGER)],
                                     w2 := toks[CAST(i + 2 AS INTEGER)]))
             ELSE [] END) AS bg
        FROM tok
      ),
      counts AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS cnt FROM bg GROUP BY 1, 2),
      ranked AS (
        SELECT w1, w2, cnt,
               CAST(sum(cnt) OVER (PARTITION BY w1) AS BIGINT) AS w1_total,
               row_number() OVER (PARTITION BY w1 ORDER BY cnt DESC, w2 ASC) AS rank
        FROM counts
      )
      SELECT w1, CAST(rank AS INTEGER) AS rank, w2, cnt, w1_total,
             floor(cnt / CAST(w1_total AS DOUBLE) * 1000000 + 0.5) / 1000000 AS cond_p
      FROM ranked WHERE rank <= 3 AND w1_total >= 20
      ORDER BY w1, rank""",

    "d11_source_cap" -> """
      WITH r AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                 ORDER BY n_chars DESC, doc_id ASC) AS rk
        FROM documents
      )
      SELECT doc_id, source, n_chars,
             CAST(rk AS INTEGER) AS rank_in_source, rk <= 50 AS kept
      FROM r ORDER BY doc_id""",

    "d12_hash_split" -> """
      WITH b AS (
        SELECT doc_id,
               CAST(strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1 AS INTEGER) AS bucket
        FROM documents
      )
      SELECT doc_id, bucket,
             CASE WHEN bucket <= 12 THEN 'train'
                  WHEN bucket <= 14 THEN 'validation'
                  ELSE 'test' END AS split
      FROM b ORDER BY doc_id""",

    "d10_decontamination" -> s"""
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
          CASE WHEN len(toks) >= 3
               THEN list_transform(range(0, len(toks)-2),
                      i -> array_to_string(list_slice(toks, i+1, i+3), ' '))
               ELSE []::VARCHAR[] END,
          s -> ${chSql("s")}))) AS sh
        FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
              FROM documents) tok
      ),
      ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
      SELECT sh.doc_id, count(*) AS n_shared_shingles
      FROM sh JOIN ev USING (sh)
      WHERE sh.doc_id % 97 <> 0
      GROUP BY 1 ORDER BY 1""",

    "d01_dedup_exact" -> """
      SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
             count(*) AS n_copies
      FROM documents
      GROUP BY 1 ORDER BY keep_id""",

    "d02_minhash_bands" -> s"""
      WITH $featuresCte
      SELECT doc_id, CAST(len(features) AS INTEGER) AS n_features,
             ${bandSql(0)} AS b0, ${bandSql(1)} AS b1,
             ${bandSql(2)} AS b2, ${bandSql(3)} AS b3
      FROM doc_feat ORDER BY doc_id""",

    "d03_lsh_candidates" -> s"""
      WITH $featuresCte,
      banded AS (
        SELECT doc_id, 0 AS band_idx, ${bandSql(0)} AS bh FROM doc_feat
        UNION ALL SELECT doc_id, 1, ${bandSql(1)} FROM doc_feat
        UNION ALL SELECT doc_id, 2, ${bandSql(2)} FROM doc_feat
        UNION ALL SELECT doc_id, 3, ${bandSql(3)} FROM doc_feat
      )
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "d04_jaccard_neardup" -> s"""
      WITH $featuresCte,
      banded AS (
        SELECT doc_id, 0 AS band_idx, ${bandSql(0)} AS bh FROM doc_feat
        UNION ALL SELECT doc_id, 1, ${bandSql(1)} FROM doc_feat
        UNION ALL SELECT doc_id, 2, ${bandSql(2)} FROM doc_feat
        UNION ALL SELECT doc_id, 3, ${bandSql(3)} FROM doc_feat
      ),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b, n_shared_bands,
             floor((CAST(len(list_intersect(fa.features, fb.features)) AS DOUBLE)
                    / len(list_distinct(list_concat(fa.features, fb.features)))) * 10000 + 0.5) / 10000
               AS jaccard,
             (CAST(len(list_intersect(fa.features, fb.features)) AS DOUBLE)
                    / len(list_distinct(list_concat(fa.features, fb.features)))) >= 0.5
               AS is_dup
      FROM pairs
      JOIN doc_feat fa ON pairs.doc_a = fa.doc_id
      JOIN doc_feat fb ON pairs.doc_b = fb.doc_id
      ORDER BY doc_a, doc_b""",

    // d24: the incrementally-maintained pair table must be
    // indistinguishable from the full candidate+verify derivation over
    // ALL docs (the q103/q104 IVM rule applied to the dedup lake) — the
    // oracle replays the full rebuild, never the incremental path.
    "d24_incremental_verify" -> s"""
      WITH $featuresCte,
      banded AS (
        SELECT doc_id, 0 AS band_idx, ${bandSql(0)} AS bh FROM doc_feat
        UNION ALL SELECT doc_id, 1, ${bandSql(1)} FROM doc_feat
        UNION ALL SELECT doc_id, 2, ${bandSql(2)} FROM doc_feat
        UNION ALL SELECT doc_id, 3, ${bandSql(3)} FROM doc_feat
      ),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b, n_shared_bands,
             floor((CAST(len(list_intersect(fa.features, fb.features)) AS DOUBLE)
                    / len(list_distinct(list_concat(fa.features, fb.features)))) * 10000 + 0.5) / 10000
               AS jaccard
      FROM pairs
      JOIN doc_feat fa ON pairs.doc_a = fa.doc_id
      JOIN doc_feat fb ON pairs.doc_b = fb.doc_id
      ORDER BY doc_a, doc_b""",

    // d23: the ingest screen's batch replay — bucket membership ranked by
    // arrival (doc_id order), members capped at ScreenCapK, matching
    // uncapped; capK/minEst/slot count interpolate from the SAME DocStreams
    // constants the engine query passes.
    "d23_ingest_screen" -> s"""
      WITH $featuresCte,
      banded AS (
        SELECT doc_id, 0 AS band_idx, ${bandSql(0)} AS bh FROM doc_feat
        UNION ALL SELECT doc_id, 1, ${bandSql(1)} FROM doc_feat
        UNION ALL SELECT doc_id, 2, ${bandSql(2)} FROM doc_feat
        UNION ALL SELECT doc_id, 3, ${bandSql(3)} FROM doc_feat
      ),
      ranked AS (
        SELECT doc_id, band_idx, bh,
               row_number() OVER (PARTITION BY band_idx, bh
                                  ORDER BY doc_id) AS rnk
        FROM banded WHERE bh IS NOT NULL
      ),
      mh AS (
        SELECT doc_id, [${(0 until 12).map(mhSql).mkString(", ")}] AS mh
        FROM doc_feat
      ),
      hits AS (
        SELECT l.doc_id AS doc_id, e.doc_id AS dup_of,
               CAST(len(list_filter(range(1, ${graft.streaming.DocStreams.Slots + 1}),
                 i -> ma.mh[CAST(i AS INTEGER)] = mb.mh[CAST(i AS INTEGER)])) AS DOUBLE)
                 / ${graft.streaming.DocStreams.Slots} AS est,
               CAST(l.band_idx AS INTEGER) AS band
        FROM ranked l JOIN ranked e
          ON l.band_idx = e.band_idx AND l.bh = e.bh
          AND e.rnk < l.rnk AND e.rnk <= ${graft.streaming.DocStreams.ScreenCapK}
        JOIN mh ma ON l.doc_id = ma.doc_id
        JOIN mh mb ON e.doc_id = mb.doc_id
      )
      SELECT doc_id, dup_of,
             floor(est * 10000 + 0.5) / 10000 AS est_jaccard, band
      FROM hits WHERE est >= ${graft.streaming.DocStreams.ScreenMinEst}
      ORDER BY doc_id, dup_of, band""",

    // d14: same candidate pairs; est = agreeing MinHash slots / 12 vs the
    // exact shingle Jaccard.
    "d14_minhash_estimate" -> s"""
      WITH $featuresCte,
      banded AS (
        SELECT doc_id, 0 AS band_idx, ${bandSql(0)} AS bh FROM doc_feat
        UNION ALL SELECT doc_id, 1, ${bandSql(1)} FROM doc_feat
        UNION ALL SELECT doc_id, 2, ${bandSql(2)} FROM doc_feat
        UNION ALL SELECT doc_id, 3, ${bandSql(3)} FROM doc_feat
      ),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
      ),
      mh AS (
        SELECT doc_id, [${(0 until 12).map(mhSql).mkString(", ")}] AS mh
        FROM doc_feat
      ),
      est AS (
        SELECT p.doc_a, p.doc_b,
               CAST(len(list_filter(range(1, 13),
                 i -> ma.mh[CAST(i AS INTEGER)] = mb.mh[CAST(i AS INTEGER)])) AS DOUBLE) / 12 AS est
        FROM pairs p
        JOIN mh ma ON p.doc_a = ma.doc_id
        JOIN mh mb ON p.doc_b = mb.doc_id
      ),
      ex AS (
        SELECT p.doc_a, p.doc_b,
               CAST(len(list_intersect(fa.features, fb.features)) AS DOUBLE)
                 / len(list_distinct(list_concat(fa.features, fb.features))) AS jaccard
        FROM pairs p
        JOIN doc_feat fa ON p.doc_a = fa.doc_id
        JOIN doc_feat fb ON p.doc_b = fb.doc_id
      )
      SELECT est.doc_a, est.doc_b,
             floor(est * 10000 + 0.5) / 10000 AS est_jaccard,
             floor(jaccard * 10000 + 0.5) / 10000 AS jaccard,
             floor(abs(est - jaccard) * 10000 + 0.5) / 10000 AS abs_err
      FROM est JOIN ex ON est.doc_a = ex.doc_a AND est.doc_b = ex.doc_b
      ORDER BY est.doc_a, est.doc_b""",

    "d09_char_ngram_jaccard" -> s"""
      WITH ${charFeaturesCteN(5)},
      banded AS (
        SELECT doc_id, 0 AS band_idx, ${bandSqlRows(0, 6)} AS bh FROM char_feat
        UNION ALL SELECT doc_id, 1, ${bandSqlRows(1, 6)} FROM char_feat
      ),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      )
      SELECT doc_a, doc_b, n_shared_bands,
             floor((CAST(len(list_intersect(fa.features, fb.features)) AS DOUBLE)
                    / len(list_distinct(list_concat(fa.features, fb.features)))) * 10000 + 0.5) / 10000
               AS jaccard,
             (CAST(len(list_intersect(fa.features, fb.features)) AS DOUBLE)
                    / len(list_distinct(list_concat(fa.features, fb.features)))) >= 0.6
               AS is_dup
      FROM pairs
      JOIN char_feat fa ON pairs.doc_a = fa.doc_id
      JOIN char_feat fb ON pairs.doc_b = fb.doc_id
      ORDER BY doc_a, doc_b""",

    "d05_simhash" -> s"""
      WITH $featuresCte
      SELECT doc_id, $simhashSql AS simhash
      FROM doc_feat ORDER BY doc_id""",

    // SimHash near-dup: candidates share >=1 of the 2 16-bit halves of
    // the fingerprint; verify with exact hamming distance. Mirrors the
    // Spark band arithmetic (sim >> 16b) & 65535 bit for bit.
    "d13_simhash_neardup" -> s"""
      WITH $featuresCte,
      sims AS (SELECT doc_id, $simhashSql AS sim FROM doc_feat),
      banded AS (
        SELECT doc_id, sim, CAST(b AS INTEGER) AS band_idx,
               (sim >> (16 * CAST(b AS INTEGER))) & 65535 AS bv
        FROM sims CROSS JOIN range(0, 2) t(b)
      ),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.sim AS sim_a, b.sim AS sim_b, count(*) AS n_shared_bands
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.bv = b.bv AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
      )
      SELECT doc_a, doc_b, n_shared_bands,
             CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming,
             bit_count(xor(sim_a, sim_b)) <= 1 AS is_dup
      FROM pairs ORDER BY doc_a, doc_b""",

    "d07_dedup_clusters" -> s"""
      WITH $featuresCte,
      banded AS (
        SELECT doc_id, 0 AS band_idx, ${bandSql(0)} AS bh FROM doc_feat
        UNION ALL SELECT doc_id, 1, ${bandSql(1)} FROM doc_feat
        UNION ALL SELECT doc_id, 2, ${bandSql(2)} FROM doc_feat
        UNION ALL SELECT doc_id, 3, ${bandSql(3)} FROM doc_feat
      ),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
      ),
      l0 AS (SELECT doc_id AS id, doc_id AS label FROM documents),
      ${labelPropCtes(ClusterRounds)}
      SELECT id AS doc_id, label AS cluster_id FROM l$ClusterRounds
      ORDER BY doc_id""",

    "d06_embedding_neardup" -> s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),
      eb AS (
        SELECT vec_id, v,
               ${bucketSql("v", VectorOps.planesFor(OracleCorpusSize, NearDupTargetBucket))} AS bucket,
               sqrt(${dotSql("v", "v")}) AS nrm
        FROM e
      )
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             floor((${dotSql("a.v", "b.v")} / (a.nrm * b.nrm)) * 1000000 + 0.5) / 1000000 AS cos
      FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4
      ORDER BY vec_a, vec_b""",

    "s01_knn_brute" -> s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),
      en AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id,
               ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
        FROM en q JOIN en c ON c.vec_id <> q.vec_id
        WHERE q.vec_id <= 2
      ),
      ranked AS (
        SELECT query_id, vec_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored
      )
      SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id,
             floor(cos * 1000000 + 0.5) / 1000000 AS cos
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""",

    "s02_knn_lsh" -> s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),
      eb AS (
        SELECT vec_id, v,
               ${bucketSql("v", VectorOps.planesFor(OracleCorpusSize, KnnTargetBucket))} AS bucket,
               sqrt(${dotSql("v", "v")}) AS nrm
        FROM e
      ),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id,
               ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
        FROM eb q JOIN eb c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id <= 2
      ),
      ranked AS (
        SELECT query_id, vec_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored
      )
      SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id,
             floor(cos * 1000000 + 0.5) / 1000000 AS cos
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""",

    // Recall@5 of the single-probe LSH index vs the exact scan: replays the
    // s01 and s02 oracle pipelines side by side and joins their neighbor
    // sets per query.
    "s08_recall_eval" -> s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),
      en AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
      bscored AS (
        SELECT q.vec_id AS query_id, c.vec_id,
               ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
        FROM en q JOIN en c ON c.vec_id <> q.vec_id
        WHERE q.vec_id <= 2
      ),
      branked AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM bscored
      ),
      eb AS (
        SELECT vec_id, v,
               ${bucketSql("v", VectorOps.planesFor(OracleCorpusSize, KnnTargetBucket))} AS bucket,
               sqrt(${dotSql("v", "v")}) AS nrm
        FROM e
      ),
      lscored AS (
        SELECT q.vec_id AS query_id, c.vec_id,
               ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
        FROM eb q JOIN eb c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id <= 2
      ),
      lranked AS (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM lscored
      ),
      hits AS (
        SELECT b.query_id, count(*) AS n_hits
        FROM branked b JOIN lranked l
          ON b.query_id = l.query_id AND b.vec_id = l.vec_id
        WHERE b.rank <= 5 AND l.rank <= 5
        GROUP BY 1
      ),
      qs AS (SELECT DISTINCT query_id FROM branked)
      SELECT qs.query_id,
             CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
             floor(coalesce(h.n_hits, 0) / 5.0 * 1000000 + 0.5) / 1000000 AS recall_at_k
      FROM qs LEFT JOIN hits h ON qs.query_id = h.query_id
      ORDER BY qs.query_id""",

    // Mirror of VectorOps.lshProbeBuckets with nprobe=2: the extra probe
    // flips the plane with the smallest |margin| (ties by plane index).
    "s06_knn_lsh_multiprobe" -> s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),
      eb AS (
        SELECT vec_id, v,
               ${bucketSql("v", VectorOps.planesFor(OracleCorpusSize, KnnTargetBucket))} AS bucket,
               sqrt(${dotSql("v", "v")}) AS nrm
        FROM e
      ),
      qm AS (
        SELECT vec_id, p, abs(${planeDotSql("v", "p")}) AS m
        FROM e CROSS JOIN range(0, ${VectorOps.planesFor(OracleCorpusSize, KnnTargetBucket)}) t(p)
        WHERE vec_id <= 2
      ),
      qflip AS (
        SELECT vec_id, p FROM (
          SELECT vec_id, p, row_number() OVER (PARTITION BY vec_id ORDER BY m, p) AS rn
          FROM qm
        ) WHERE rn = 1
      ),
      qprobe AS (
        SELECT vec_id AS query_id, v AS qv, nrm AS qnrm, bucket AS qbucket
        FROM eb WHERE vec_id <= 2
        UNION ALL
        SELECT q.vec_id, q.v, q.nrm, xor(q.bucket, CAST(1 << f.p AS BIGINT))
        FROM eb q JOIN qflip f ON q.vec_id = f.vec_id
      ),
      scored AS (
        SELECT p.query_id, c.vec_id,
               ${dotSql("p.qv", "c.v")} / (p.qnrm * c.nrm) AS cos
        FROM qprobe p JOIN eb c ON p.qbucket = c.bucket AND c.vec_id <> p.query_id
      ),
      ranked AS (
        SELECT query_id, vec_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored
      )
      SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id,
             floor(cos * 1000000 + 0.5) / 1000000 AS cos
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""",

    // Replays the whole deterministic k-means training run (seeds -> 2 Lloyd
    // iterations) before searching — mirror of operators.Kmeans + the s05 query.
    "s05_knn_ivf_learned" -> s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),${kmTrainingCtes(IvfCells, IvfIters)},
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id <= 2),
      probe AS (
        SELECT query_id, qv, cell FROM (
          SELECT q.query_id, q.qv, c.cell,
                 row_number() OVER (PARTITION BY q.query_id ORDER BY
                   (${dotSql("q.qv", "c.cv")} / (sqrt(${dotSql("q.qv", "q.qv")}) * sqrt(${dotSql("c.cv", "c.cv")}))) DESC,
                   c.cell ASC) AS prn
          FROM q CROSS JOIN c$IvfIters c
        ) p WHERE prn <= $IvfProbe
      ),
      scored AS (
        SELECT p.query_id, a.cell, a.vec_id,
               ${dotSql("p.qv", "a.v")} / (sqrt(${dotSql("p.qv", "p.qv")}) * sqrt(${dotSql("a.v", "a.v")})) AS cos
        FROM probe p JOIN a$IvfIters a ON p.cell = a.cell AND a.vec_id <> p.query_id
      ),
      ranked AS (
        SELECT query_id, cell, vec_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored
      )
      SELECT query_id, CAST(rank AS INTEGER) AS rank, cell, vec_id,
             floor(cos * 1000000 + 0.5) / 1000000 AS cos
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""",

    "s03_vector_centroids" -> s"""
      WITH e AS (
        SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      )
      SELECT label, CAST(i AS INTEGER) AS dim,
             floor((CAST(sum(CAST(v[i+1] AS DECIMAL(30,6))) AS DOUBLE) / count(v[i+1])) * 1000000 + 0.5) / 1000000 AS centroid
      FROM e CROSS JOIN range(0, 64) t(i)
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "s07_embedding_quantize" -> s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),
      sc AS (
        SELECT vec_id, v,
               CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                    THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
                    ELSE 1.0 END AS scale
        FROM e
      ),
      q AS (
        SELECT vec_id, v, scale,
               list_transform(v, x ->
                 greatest(-127, least(127, CAST(floor(x * scale + 0.5) AS BIGINT)))) AS qv
        FROM sc
      )
      SELECT vec_id,
             floor(scale * 1000000 + 0.5) / 1000000 AS scale,
             CAST(list_sum(qv) AS BIGINT) AS sum_q,
             floor(list_max(list_transform(range(1, len(v) + 1),
               i -> abs(v[CAST(i AS INTEGER)] - qv[CAST(i AS INTEGER)] / scale))) * 1000000 + 0.5) / 1000000
               AS max_abs_err
      FROM q ORDER BY vec_id""",

    "s04_knn_ivf" -> s"""
      WITH e AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),
      cd AS (
        SELECT label, CAST(i AS INTEGER) AS dim,
               CAST(sum(CAST(v[i+1] AS DECIMAL(30,6))) AS DOUBLE) / count(v[i+1]) AS c
        FROM e CROSS JOIN range(0, 64) t(i)
        GROUP BY 1, 2
      ),
      cent AS (SELECT label, list(c ORDER BY dim) AS cv FROM cd GROUP BY 1),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id <= 2),
      probe AS (
        SELECT query_id, qv, label,
               ${dotSql("qv", "cv")} / (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})) AS ccos
        FROM q CROSS JOIN cent
      ),
      best AS (
        SELECT query_id, qv, label
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                ORDER BY ccos DESC, label ASC) AS rn FROM probe) t
        WHERE rn = 1
      ),
      scored AS (
        SELECT b.query_id, b.label, e.vec_id,
               ${dotSql("b.qv", "e.v")} / (sqrt(${dotSql("b.qv", "b.qv")}) * sqrt(${dotSql("e.v", "e.v")})) AS cos
        FROM best b JOIN e ON b.label = e.label AND e.vec_id <> b.query_id
      )
      SELECT query_id, CAST(rank AS INTEGER) AS rank, label, vec_id,
             floor(cos * 1000000 + 0.5) / 1000000 AS cos
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id ASC) AS rank FROM scored) t
      WHERE rank <= 5
      ORDER BY query_id, rank""",

    "e01_tumbling_daily" -> """
      SELECT CAST(time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS DATE) AS day, event_type,
             count(*) AS n_events,
             floor((CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_value
      FROM events
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "e02_json_extract" -> """
      WITH e AS (
        SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
      )
      SELECT event_type, count(*) AS n_events,
             floor((CAST(sum(CAST(k AS DECIMAL(30,6))) AS DOUBLE) / count(k)) * 100 + 0.5) / 100 AS avg_k
      FROM e GROUP BY 1 ORDER BY 1""",

    // Variant replay: DuckDB extracts the same typed values from the JSON
    // text. n_missing is COMPUTED with the SAME try-int semantics as the
    // Spark side (TRY_CAST of the extracted string mirrors try_variant_get's
    // "present AND int-castable, else null" — a present-but-non-int or
    // JSON-null value counts as missing in BOTH engines), not pinned — a
    // fixture that ever gains that key as an int would fail loudly instead
    // of silently diverging. k_bucket uses trunc-toward-zero
    // (not DuckDB's `//` floor division) to match Spark's `DIV` on negative
    // k as well as the current nonnegative fixture.
    "e07_variant_extract" -> """
      WITH e AS (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
               TRY_CAST(json_extract_string(props, '$.missing') AS INTEGER) AS missing_raw
        FROM events
      )
      SELECT event_type,
             CAST(trunc(CAST(k AS DOUBLE) / 10) AS INTEGER) AS k_bucket,
             count(*) AS n,
             CAST(sum(k) AS BIGINT) AS sum_k,
             count(missing_raw) AS n_missing
      FROM e GROUP BY 1, 2 ORDER BY 1, 2""",

    "e04_funnel" -> """
      WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
      ),
      v AS (
        SELECT user_id, min(ts) AS first_view FROM ev
        WHERE event_type = 'view' GROUP BY 1
      ),
      c AS (
        SELECT ev.user_id, v.first_view, min(ev.ts) AS first_click
        FROM ev JOIN v ON ev.user_id = v.user_id
        WHERE ev.event_type = 'click' AND ev.ts >= v.first_view
        GROUP BY 1, 2
      ),
      p AS (
        SELECT ev.user_id, min(ev.ts) AS first_purchase
        FROM ev JOIN c ON ev.user_id = c.user_id
        WHERE ev.event_type = 'purchase' AND ev.ts >= c.first_click
        GROUP BY 1
      )
      SELECT v.user_id, v.first_view, c.first_click, p.first_purchase
      FROM v LEFT JOIN c ON v.user_id = c.user_id
             LEFT JOIN p ON v.user_id = p.user_id
      ORDER BY v.user_id""",

    "e05_sliding_windows" -> """
      WITH assigned AS (
        SELECT time_bucket(INTERVAL '3 hours', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type, value
        FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '3 hours', CAST(ts AS TIMESTAMP)) - INTERVAL '3 hours',
               event_type, value
        FROM events
      )
      SELECT window_start, event_type, count(*) AS n_events,
             floor((CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE)) * 100 + 0.5) / 100 AS sum_value
      FROM assigned
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "e03_sessionize" -> """
      WITH e AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, epoch(CAST(ts AS TIMESTAMP)) AS sec FROM events
      ),
      m AS (
        SELECT *, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
                       THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ),
      s AS (
        SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        FROM m
      )
      SELECT user_id, session_idx, count(*) AS n_events,
             floor((max(sec) - min(sec)) * 1000 + 0.5) / 1000 AS duration_secs
      FROM s GROUP BY 1, 2 ORDER BY 1, 2""",

    "m01_media_plumbing" -> s"""
      SELECT doc_id, CAST(strlen(text) AS INTEGER) AS n_bytes,
             md5(text) AS checksum,
             ${chSql("text")} % 1000 AS feature_bucket
      FROM documents ORDER BY doc_id""",

    // Replays the binaryFile round trip from the original table: the text is
    // printable ASCII (verified on the fixtures), so codepoints == UTF-8
    // bytes. Image rows rebuild the exact P6 payload (header || space-padded
    // 16x9 raster from the text bytes) and pin the REAL parser's output —
    // dims and per-channel byte sums read back from the raster; audio/video
    // rows pin the stub histogram (ascii(ch) // 32 mirrors StubDecoder's
    // (byte & 0xff) >> 5).
    // Thumbnail replay: dst pixel (x,y) samples src (x*W/tw, y*H/th) —
    // same integer arithmetic as Ppm.resizeNearest. chars[i] is the i-th
    // byte of the 4x3 thumbnail raster; the md5 covers the full re-encoded
    // PPM (header + raster).
    "m04_thumbnail" -> s"""
      WITH img AS (
        SELECT doc_id, rpad(text, ${Multimodal.ImgW * Multimodal.ImgH * 3}, ' ') AS raster
        FROM documents WHERE CAST(doc_id % 3 AS INTEGER) = 0
      ),
      th AS (
        SELECT doc_id,
               list_transform(range(0, ${4 * 3 * 3}), i ->
                 substr(raster,
                   ((CAST(i AS INTEGER) // 3 // 4 * ${Multimodal.ImgH} // 3 * ${Multimodal.ImgW}) +
                    (CAST(i AS INTEGER) // 3 % 4 * ${Multimodal.ImgW} // 4)) * 3 +
                   (CAST(i AS INTEGER) % 3) + 1, 1)) AS chars
        FROM img
      )
      SELECT doc_id, 4 AS thumb_w, 3 AS thumb_h,
             CAST(list_sum(list_transform(range(0, 12),
               p -> ascii(chars[CAST(p AS INTEGER) * 3 + 1]))) AS BIGINT) AS tsum_r,
             CAST(list_sum(list_transform(range(0, 12),
               p -> ascii(chars[CAST(p AS INTEGER) * 3 + 2]))) AS BIGINT) AS tsum_g,
             CAST(list_sum(list_transform(range(0, 12),
               p -> ascii(chars[CAST(p AS INTEGER) * 3 + 3]))) AS BIGINT) AS tsum_b,
             md5('P6' || chr(10) || '4 3' || chr(10) || '255' || chr(10)
                 || array_to_string(chars, '')) AS thumb_md5
      FROM th ORDER BY doc_id""",

    "m03_binary_source" -> s"""
      WITH m AS (
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INTEGER)
                 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
               CASE WHEN CAST(doc_id % 3 AS INTEGER) = 0
                    THEN 'P6' || chr(10) || '${Multimodal.ImgW} ${Multimodal.ImgH}'
                         || chr(10) || '255' || chr(10)
                         || rpad(text, ${Multimodal.ImgW * Multimodal.ImgH * 3}, ' ')
                    ELSE text END AS pay
        FROM documents
      ),
      chan AS (
        SELECT doc_id,
               CAST(strlen('P6' || chr(10) || '${Multimodal.ImgW} ${Multimodal.ImgH}'
                           || chr(10) || '255' || chr(10)) AS INTEGER) AS hdr,
               ${Multimodal.ImgW * Multimodal.ImgH} AS npix
        FROM m WHERE media_type = 'image'
      )
      SELECT m.doc_id, media_type,
             CAST(strlen(pay) AS INTEGER) AS n_bytes,
             CAST(greatest(strlen(pay) // 64, 1) AS INTEGER) AS frames_sampled,
             md5(pay) AS checksum,
             CAST(CASE WHEN media_type = 'image' THEN ${Multimodal.ImgW} END AS INTEGER) AS img_w,
             CAST(CASE WHEN media_type = 'image' THEN ${Multimodal.ImgH} END AS INTEGER) AS img_h,
             CASE WHEN media_type = 'image' THEN CAST(list_sum(list_transform(range(0, npix),
               i -> ascii(substr(pay, CAST(hdr + i*3 + 1 AS INTEGER), 1)))) AS BIGINT) END AS sum_r,
             CASE WHEN media_type = 'image' THEN CAST(list_sum(list_transform(range(0, npix),
               i -> ascii(substr(pay, CAST(hdr + i*3 + 2 AS INTEGER), 1)))) AS BIGINT) END AS sum_g,
             CASE WHEN media_type = 'image' THEN CAST(list_sum(list_transform(range(0, npix),
               i -> ascii(substr(pay, CAST(hdr + i*3 + 3 AS INTEGER), 1)))) AS BIGINT) END AS sum_b,
             CASE WHEN media_type <> 'image' THEN
               CAST(len(list_filter(list_transform(string_split(pay, ''), ch -> ascii(ch)),
                                    c -> c // 32 = 2)) AS BIGINT) END AS upper_bytes,
             CASE WHEN media_type <> 'image' THEN
               CAST(len(list_filter(list_transform(string_split(pay, ''), ch -> ascii(ch)),
                                    c -> c // 32 = 3)) AS BIGINT) END AS lower_bytes
      FROM m LEFT JOIN chan ON m.doc_id = chan.doc_id
      ORDER BY m.doc_id""",

    "d08_cluster_keep_best" -> s"""
      WITH $featuresCte,
      banded AS (
        SELECT doc_id, 0 AS band_idx, ${bandSql(0)} AS bh FROM doc_feat
        UNION ALL SELECT doc_id, 1, ${bandSql(1)} FROM doc_feat
        UNION ALL SELECT doc_id, 2, ${bandSql(2)} FROM doc_feat
        UNION ALL SELECT doc_id, 3, ${bandSql(3)} FROM doc_feat
      ),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
      ),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
      ),
      l0 AS (SELECT doc_id AS id, doc_id AS label FROM documents),
      ${labelPropCtes(ClusterRounds)},
      q AS (
        SELECT doc_id,
               floor((CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 10000 + 0.5) / 10000
                 AS distinct_ratio
        FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
              FROM documents) tok
      )
      SELECT l.id AS doc_id, l.label AS cluster_id, q.distinct_ratio,
             (row_number() OVER (PARTITION BY l.label
                ORDER BY q.distinct_ratio DESC, l.id ASC)) = 1 AS is_kept
      FROM l$ClusterRounds l JOIN q ON l.id = q.doc_id
      ORDER BY doc_id""",

    "t06_corpus_stats" -> s"""
      WITH tok AS (
        SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') AS toks,
               length(text) AS n_chars
        FROM documents
      ),
      hits AS (
        SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens, n_chars,
               ${hitsSql(TextOps.EnStop)} AS en_hits,
               ${hitsSql(TextOps.EsStop)} AS es_hits,
               ${hitsSql(TextOps.FrStop)} AS fr_hits,
               ${hitsSql(TextOps.DeStop)} AS de_hits,
               len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk
        FROM tok
      ),
      p AS (
        SELECT *, CASE WHEN cjk > 0 THEN 'zh'
                       WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
                       WHEN es_hits >= fr_hits AND es_hits >= de_hits THEN 'es'
                       WHEN fr_hits >= de_hits THEN 'fr'
                       ELSE 'de' END AS pred_lang
        FROM hits
      )
      SELECT pred_lang, count(*) AS n_docs,
             quantile_cont(n_tokens, 0.5) AS median_tokens,
             min(n_tokens) AS min_tokens,
             max(n_tokens) AS max_tokens,
             floor((CAST(sum(CAST(n_chars AS DECIMAL(30,6))) AS DOUBLE) / count(n_chars)) * 100 + 0.5) / 100 AS avg_chars
      FROM p GROUP BY 1 ORDER BY 1""",

    "e06_retention_cohorts" -> """
      WITH e AS (
        SELECT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
        FROM events
      ),
      f AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1)
      SELECT f.cohort_week,
             CAST(date_diff('week', f.cohort_week, e.wk) AS INTEGER) AS week_offset,
             count(DISTINCT e.user_id) AS n_users
      FROM e JOIN f ON e.user_id = f.user_id
      GROUP BY 1, 2 ORDER BY 1, 2""",

    "m02_frame_sample" -> """
      WITH d AS (
        SELECT doc_id, text,
               CAST(ceil(CAST(length(text) AS DOUBLE) / 64) AS INTEGER) AS n_frames
        FROM documents
      ),
      f AS (SELECT doc_id, n_frames, text, unnest(range(0, n_frames)) AS frame_idx FROM d),
      fr AS (
        SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, n_frames,
               substring(text, CAST(frame_idx * 64 + 1 AS INTEGER), 64) AS frame
        FROM f WHERE frame_idx % 3 = 0
      )
      SELECT doc_id, frame_idx, n_frames,
             CAST(length(frame) AS INTEGER) AS frame_chars,
             CAST(strlen(frame) AS INTEGER) AS frame_bytes,
             md5(frame) AS frame_md5
      FROM fr ORDER BY doc_id, frame_idx"""
  )

  /** The curation oracle composes the t02/t08/d11 oracle queries verbatim as
    * derived tables, mirroring how the Spark side composes the registered
    * pipelines — one policy decision per doc, same thresholds on the same
    * rounded values.
    */
  val oracles: Map[String, String] = baseOracles + (
    "t11_curation_pipeline" -> s"""
      WITH qual AS (${baseOracles("t02_quality_score")}),
      rep AS (${baseOracles("t08_repetition")}),
      rk AS (${baseOracles("d11_source_cap")})
      SELECT q.doc_id, q.quality, rep.dup_bigram_frac, rep.top_term_frac,
             rk.rank_in_source,
             (q.quality >= 22 AND NOT rep.is_repetitive AND rk.kept) AS kept,
             CASE WHEN q.quality < 22 THEN 'low_quality'
                  WHEN rep.is_repetitive THEN 'repetitive'
                  WHEN NOT rk.kept THEN 'source_capped' END AS reject_reason
      FROM qual q JOIN rep ON q.doc_id = rep.doc_id
                  JOIN rk ON q.doc_id = rk.doc_id
      ORDER BY q.doc_id""")
}
