package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Agg, Kmeans}
import graft.sources.Tables

/** Round-13 additions: the convergence discipline applied to index
  * training (s32), ahead-of-the-petabyte LSH banding design (d20), and a
  * persisted inverted-index lake table with term-pruned serving (t32) —
  * the stored-artifact pattern (q84/s24/q94/q95) extended to lexical
  * retrieval. Same contract as every extension file: deterministic
  * results (fixed-point or all-integer aggregates, canonical ORDER BY),
  * each query carrying a DuckDB oracle.
  */
object ExtensionQueries8 {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** s32 training budget: [[ExtensionQueries.IvfCells]] cells (so the
    * oracle shares s05's training-CTE generator), cap 40 — a pure runaway
    * guard, far above the measured convergence depth (see
    * [[KmConvOracleUnroll]]).
    */
  val KmConvMaxIters = 40

  /** The oracle's fixed Lloyd unroll. Must be ≥ the measured convergence
    * depth at BOTH oracle scales (sf0.001 / sf0.01) — past the fixed
    * point every extra unrolled round is a no-op (assignment is a pure
    * function of centroids, recompute of an unchanged assignment returns
    * the same centroids), so the unrolled oracle equals the converged
    * engine. Measured depths (PLANS.md, "Until-convergence k-means (s32)"):
    * 13 at sf0.001, 25 at sf0.01 (30 at sf0.1 and 127 at sf1, engine-only
    * scales — the growth that makes full-corpus exact convergence a
    * per-scale cost and motivates s33's bounded-sample form) — hence 30
    * here: ≥ +5 margin at both oracle scales. Round13bSpec pins
    * engine-converged == engine-fixed(unroll) on the fixture, which is
    * exactly that idempotence margin.
    */
  val KmConvOracleUnroll = 30

  /** s33's fixed training-sample size: the top-[[KmSampleN]] vectors by
    * the seed hash rank — a deterministic, scale-INDEPENDENT sample, so
    * the Lloyd depth on it is bounded however big the corpus grows. This
    * is the production answer to the depth growth s32's measurements
    * exposed (13 → 25 → 30 → cap-trip at sf0.001 → 0.01 → 0.1 → sf1):
    * exact full-corpus convergence is a per-scale cost, sample-trained
    * convergence is a constant one.
    */
  val KmSampleN = 250

  /** s33's oracle replay rounds — ≥ the measured SAMPLE convergence
    * depths with margin (same idempotence argument as
    * [[KmConvOracleUnroll]]). Measured sample depths (PLANS.md, round 13,
    * with sample=250): 8 / 9 / 6 / 5 at sf0.001 / 0.01 / 0.1 / sf1 —
    * bounded and FLAT across scales by construction (the sample size is
    * fixed), vs the full corpus's growing 13 / 25 / 30 / 127.
    */
  val KmSampleOracleUnroll = 16

  /** d20's signature budget: the 12 minhash slots d14 already computes —
    * the tuning table prices every (bands × rows) factorization of the
    * SAME signature a deployment has already paid for.
    */
  val LshSigSize = 12
  private[graft] val BandGrid: Seq[(Int, Int)] =
    Seq(1 -> 12, 2 -> 6, 3 -> 4, 4 -> 3, 6 -> 2, 12 -> 1)

  /** Collision S-curve threshold (1/b)^(1/r) for a (b, r) scheme,
    * computed ONCE driver-side and spliced into both engines as the same
    * literal — fractional pow is the one piece of this math whose last
    * ulp is not guaranteed identical across libms, so neither engine
    * computes it.
    */
  private def sStar(b: Int, r: Int): Double = math.pow(1.0 / b, 1.0 / r)

  /** The collision probability 1 − (1 − s^r)^b as an EXPLICIT
    * left-associated product expression over a column named `s` — integer
    * exponents unrolled to repeated IEEE multiplication, which both
    * engines evaluate bit-identically (no pow(), no libm).
    */
  private[graft] def pCollideSql(b: Int, r: Int): String = {
    val sr = "(" + Seq.fill(r)("s").mkString(" * ") + ")"
    val miss = s"(1.0 - $sr)"
    val missB = "(" + Seq.fill(b)(miss).mkString(" * ") + ")"
    s"(1.0 - $missB)"
  }

  /** d21's verification-threshold grid — bounded, so the sweep's fan-out
    * and its aggregation key space are constants.
    */
  private[graft] val DedupThresholds: Seq[Double] =
    Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)

  /** t32 lake geometry: postings partitioned by a term-hash bucket so a
    * query's terms prune to their buckets' directories at the scan.
    */
  val IndexBuckets = 8

  /** Driver-side mirror of [[ExtensionQueries3.md5Hash48]] for literal
    * terms (first 48 md5 bits as a long) — lets the serving query compute
    * its probe buckets at PLAN time, so partition pruning needs no
    * engine-side hash of the probe set.
    */
  private[graft] def md5Hash48Lit(v: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(v.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(6).map(b => f"$b%02x").mkString, 16)
  }

  /** Session-scoped stored prior for d22's serving form: the CONVERGED
    * cluster assignment over the historical (id % 4 ≠ 0) corpus plus its
    * band-fingerprint index, committed once per (session, fixture) as two
    * Snapshots tables — the artifacts a deployment's BUILD job writes and
    * its per-ingest MAINTENANCE job reads (the s24/s30 stored-artifact
    * pattern). Memoized so the build runs once; Bench pre-builds it in
    * the untimed warmup (the prior pre-exists the ingest being priced —
    * the full-rebuild cost is what d07's own entry prices), and Verify
    * simply pays the one build on its single pass. Stopped-session
    * entries are evicted on the next call, mirroring Dedup.clusterMemo.
    */
  private val d22PriorMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private[graft] def d22PriorRoot(s: SparkSession, dir: String): String = {
    d22PriorMemo.entrySet().removeIf(e => e.getKey._1.sparkContext.isStopped)
    // computeIfAbsent (unlike clusterMemo's lock-free race) is deliberate:
    // a concurrent duplicate build would interleave Scratch.fresh's
    // delete+mkdir under the SAME path and corrupt the committed tables.
    d22PriorMemo.computeIfAbsent((s, dir), { _ =>
      import graft.operators.Dedup
      val oldF = ExtensionQueries.docFeatures(s, dir)
        .filter(ExtensionQueries.priorCorpus(col("id")))
      val prior = Dedup.labelClusters(oldF.select("id"),
        Dedup.lshCandidatePairs(oldF, bands = 4, rows = 3),
        ExtensionQueries.ClusterMaxRounds)
      val root = graft.sources.Scratch.fresh(s,
        s"d22_prior_${graft.sources.Scratch.dirTag(dir)}")
      graft.sources.Snapshots.commit(s, s"$root/assignments", prior)
      graft.sources.Snapshots.commit(s, s"$root/band_index",
        Dedup.bandFingerprints(oldF, bands = 4, rows = 3))
      root
    })
  }

  /** t34's sampling budget: the total token draw the mixture designer is
    * allocating across sources — a fixed literal so both engines price
    * the same decision.
    */
  val MixTokenBudget = 1.0e7

  /** e21's always-valid significance bar: ln(1/α) at α = 0.05, computed
    * ONCE driver-side and spliced into both engines as the same literal
    * (the sStar rule — neither engine's libm is trusted to agree on ln).
    */
  val MsprtLnAlphaInv: Double = math.log(1.0 / 0.05)

  /** e21's mixture-likelihood log argument, `n_a + n_b + n_a·n_b`,
    * OVERFLOW-GUARDED (r15 advice): two cumulative Long counts multiply
    * here, and past ~3e9 purchases per arm the product wraps negative —
    * Spark's detLn would then emit garbage ln Λ (a possible silent false
    * "significant") while DuckDB raises on BIGINT overflow, so the
    * engines would diverge exactly when the monitor matters most. The
    * guard compares in DOUBLE space (exact for counts far beyond the
    * 2^62 bar — a double holds 2^62 exactly, and the nearest
    * representable neighbors are themselves > 2^61 apart only above
    * 2^114) and raises the same loud error class DuckDB does. 2^62
    * leaves the full sum below Long.Max with room for both additions.
    * At that scale the honest fix is sampling the arms, not widening:
    * ln Λ's mixture term is ~ln(n) — saturated long before 4e18.
    */
  private[graft] def msprtLnArg(na: Column, nb: Column): Column =
    when(na.cast("double") * nb.cast("double") < lit(math.pow(2, 62)),
      na + nb + na * nb)
      .otherwise(raise_error(concat(
        lit("e21 mSPRT: n_a*n_b exceeds the exact Long range (n_a="),
        na.cast("string"), lit(", n_b="), nb.cast("string"),
        lit("); subsample the arms"))).cast("long"))

  /** e19's pre/post experiment boundary — 2024-01-16T00:00:00Z in epoch
    * micros (events span January 2024, so this splits the fixture near
    * its median). Compared as integer micros in both engines, so no
    * session-timezone semantics can touch the split.
    */
  val CupedSplitUs = 1705363200000000L

  /** t36's hashed-feature space: unigram counts hashed into
    * [[DsirBuckets]] buckets — the fixed-dimension importance features
    * of DSIR (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"); bucket collisions are part of the method,
    * not an approximation of it.
    */
  val DsirBuckets = 512L

  /** t36's selection fraction: keep train docs at or above the exact
    * interpolated 75th percentile of the importance score.
    */
  val DsirKeepQuantile = 0.75

  /** q96's per-column audit spec: (column name, numeric view, string
    * view, canonical string key). Exactly one of the two views is
    * non-null per column; the canonical key is what NDV hashing and
    * exact-distinct counting run on (for continuous doubles it is a
    * fixed-point canonicalization, so both engines hash identical
    * strings).
    */
  private[graft] type ColSpec = (String, Column, Column, Column)

  /** The ANALYZE-TABLE build + serve shared by q96 and its spec: per
    * shard, one pass computes row/null/min/max stats and p=12 HLL NDV
    * registers per audited column; both are WRITTEN shard-partitioned
    * (the q94/q95 stored-artifact pattern), then merged on read —
    * stats by sum/min/max, registers by register-max — so a catalog
    * refresh after a new ingest appends only that shard's rows and a
    * reader never rescans the table.
    *
    * `withTruth` gates `ndv_true` (exact distinct of the canonical key),
    * the fixture-scale accuracy report a 100 TB deployment drops. Since
    * r16 EVERY registered catalog entry (q96, q99, q101) runs with it
    * OFF — the truth pass was a full dedup shuffle existing only to
    * grade the HLL estimate, and that grading lives in the specs
    * (Round15Spec's ≤10% bound computes the countDistinct itself;
    * Round13cSpec exercises this truth path on its 100-row fixture).
    * The DuckDB oracle still recomputes the full HLL estimate, so
    * `ndv_est` stays cross-engine-checked without the truth column.
    *
    * The long form feeds every consumer (stats write, register write,
    * and the eager truth aggregate when on) UNDER the persist scope and
    * is unpersisted before the served frame is handed out — the serve
    * reads only catalog artifacts, so nothing pins |rows|×|cols| cache
    * for the session (r14 advice: q99 pinned one such cache per lake
    * table at once).
    */
  private[graft] def statsCatalog(s: SparkSession, rows: DataFrame,
      shard: Column, specs: Seq[ColSpec], root: String,
      withTruth: Boolean = true): DataFrame = {
    // no |rows|×|cols| cache anywhere (r15, closing the r14 pinned-cache
    // advice the honest way): the build is ONE streaming fused pass
    // ([[fusedCatalogAgg]]), the optional truth is a second streaming
    // aggregate, and the serve reads only catalog artifacts — the
    // explode is compute-light, so re-streaming it beats materializing
    // it (the r14 persist was also what silently flattered q96/q99's
    // bench lines across min2warm passes)
    val longF = catalogLongForm(rows, shard, specs)
    writeCatalogShards(longF, root, "overwrite")
    val truth = if (withTruth) Some(ndvTruthLocal(s, longF)) else None
    serveCatalogFrom(truth, s.read.parquet(s"$root/stats"),
      s.read.parquet(s"$root/ndv_regs"))
  }

  /** The exact-NDV truth frame: one (seg, ndv_true) row per audited
    * column — the accuracy report the HLL estimate is graded against.
    */
  private[graft] def ndvTruth(longF: DataFrame): DataFrame =
    longF.groupBy(col("seg"))
      .agg(countDistinct(col("cval")).as("ndv_true"))

  /** [[ndvTruth]] materialized as a LOCAL relation — |audited cols| rows
    * (constant-size, the k-centroids collect class), so the serving plan
    * the caller hands out no longer references the |rows|×|cols| long
    * form and the cache behind it can be released immediately.
    */
  private[graft] def ndvTruthLocal(s: SparkSession, longF: DataFrame)
      : DataFrame = {
    import s.implicits._
    ndvTruth(longF).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("seg", "ndv_true")
  }

  /** The catalog's long form: one (shard, seg, nval, sval, cval) row per
    * (table row × audited column).
    */
  private[graft] def catalogLongForm(rows: DataFrame, shard: Column,
      specs: Seq[ColSpec]): DataFrame =
    rows.select(shard.cast("int").as("shard"),
        explode(array(specs.map { case (n, num, str, cv) =>
          struct(lit(n).as("seg"), num.cast("double").as("nval"),
            str.cast("string").as("sval"), cv.cast("string").as("cval"))
        }: _*)).as("c"))
      .select(col("shard"), col("c.seg").as("seg"), col("c.nval").as("nval"),
        col("c.sval").as("sval"), col("c.cval").as("cval"))

  /** Build + write the per-shard catalog artifacts (basic stats and p=12
    * NDV registers, both shard-partitioned). `mode = "append"` is the
    * incremental-refresh path: a new ingest writes ONLY its own shard's
    * rows and the serve-side merge is unchanged — Round13cSpec proves
    * append-then-merge equals a full rebuild. The fused aggregate (ONE
    * pass — see [[fusedCatalogAgg]]) is persisted across the two writes;
    * it is |shards|·|cols| rows, not data-scale, and is released before
    * returning.
    */
  private[graft] def writeCatalogShards(longF: DataFrame, root: String,
      mode: String): Unit = {
    // repartition BY THE ARTIFACT'S OWN SHARD LANE before the persist
    // (r21, guide §6 file sizing): the fused aggregate otherwise lands on
    // |shuffle partitions| cache partitions, and the partitionBy writer
    // then emits one file per (task, shard) pair — ~80 sliver files per
    // artifact at the fixture, |tasks|·|shards| on a cluster — paying
    // driver commit + read-back listing per sliver. Keyed on the shard
    // column with |shards| partitions (a constant of the ARTIFACT
    // geometry, not of the cluster), each shard directory gets exactly
    // one file from both writes at any scale; the artifacts are
    // |cols|·|shards|-row catalogs, so one file per shard is the right
    // layout at 100 TB too. Values are untouched — the serve merges by
    // (seg[, bucket]) wherever the rows land.
    val fused = fusedCatalogAgg(longF)
      .repartition(ExtensionQueries7.SketchShards, col("shard")).persist()
    try {
      statsFrom(fused).write.mode(mode).partitionBy("shard")
        .parquet(s"$root/stats")
      regsFrom(fused).write.mode(mode).partitionBy("shard")
        .parquet(s"$root/ndv_regs")
    } finally fused.unpersist()
  }

  /** The catalog build's ONE aggregation pass (r15): per (shard, seg),
    * the row/null/min/max stats AND the whole p=12 register bank
    * ([[ExtensionQueries7.HllRegsAgg]] — a fixed 4 KB buffer, map-side
    * combinable) in a single map-side-combinable `groupBy` over the
    * long form. The r14 shape paid one full aggregate pass per
    * artifact plus a |rows|×|cols| cache materialization to share the
    * scan; fusing on the common key makes "ANALYZE = one pass per
    * table" literally true (measured at sf0.1: the 10-table sweep
    * 25.9 → see PLANS.md), and at 100 TB halves every incremental
    * shard refresh too.
    */
  private[graft] def fusedCatalogAgg(longF: DataFrame): DataFrame =
    longF
      .withColumn("h", when(col("cval").isNotNull,
        ExtensionQueries3.md5Hash48(col("cval"))).otherwise(lit(-1L)))
      .groupBy(col("shard"), col("seg"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("cval").isNull, 1L).otherwise(0L)).as("n_null"),
        min(col("nval")).as("min_num"), max(col("nval")).as("max_num"),
        min(col("sval")).as("min_str"), max(col("sval")).as("max_str"),
        udaf(ExtensionQueries7.HllRegsAgg,
          org.apache.spark.sql.Encoders.scalaLong)(col("h")).as("regpairs"))

  /** The stats artifact projected from the fused pass. */
  private[graft] def statsFrom(fused: DataFrame): DataFrame =
    fused.select(col("shard"), col("seg"), col("n_rows"), col("n_null"),
      col("min_num"), col("max_num"), col("min_str"), col("max_str"))

  /** The written artifact schemas as read back (data fields in file
    * order, the `shard` partition column appended) — the EXPLICIT read
    * schemas for artifact roots that may hold no files at all: a table
    * with no ingest today (empty delta) or no prior rows (first-ever
    * nightly). Schema inference throws on a file-less root; an explicit
    * schema yields the empty frame the merge algebra treats as the
    * identity. Round17Spec pins both against what a real write
    * round-trips, so they cannot drift from [[statsFrom]]/[[regsFrom]].
    */
  private[graft] val statsArtifactSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("seg", StringType), StructField("n_rows", LongType),
      StructField("n_null", LongType), StructField("min_num", DoubleType),
      StructField("max_num", DoubleType), StructField("min_str", StringType),
      StructField("max_str", StringType), StructField("shard", IntegerType)))
  }

  private[graft] val regsArtifactSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("seg", StringType), StructField("bucket", LongType),
      StructField("reg", IntegerType), StructField("shard", IntegerType)))
  }

  /** The register artifact projected from the fused pass — identical
    * rows and types to the old groupBy(bucket) form ([[ExtensionQueries7
    * .hllRegRows]]'s geometry; only SEEN buckets emit).
    */
  private[graft] def regsFrom(fused: DataFrame): DataFrame =
    fused.select(col("shard"), col("seg"),
        explode(col("regpairs")).as("p"))
      .select(col("shard"), col("seg"),
        col("p._1").cast("long").as("bucket"),
        col("p._2").cast("int").as("reg"))

  /** The two per-shard catalog artifact frames (basic stats, p=12 NDV
    * registers) over ONE SHARED fused pass — the storage-agnostic half
    * of [[writeCatalogShards]] for q101's transactional publish; the
    * caller persists the (tiny) `fused` input across the two
    * consumers.
    */
  private[graft] def catalogArtifacts(fused: DataFrame)
      : (DataFrame, DataFrame) =
    (statsFrom(fused), regsFrom(fused))

  /** Merge-on-read + estimate: reads only catalog rows, never the
    * audited table; `truthLongF` feeds the fixture-scale `ndv_true`
    * accuracy column (dropped at production scale).
    */
  private[graft] def serveCatalog(s: SparkSession, truthLongF: DataFrame,
      root: String): DataFrame =
    serveCatalogFrom(Some(ndvTruth(truthLongF)),
      s.read.parquet(s"$root/stats"), s.read.parquet(s"$root/ndv_regs"))

  /** [[serveCatalog]] over already-resolved stats/register frames — the
    * entry point for catalog-pinned reads (q101's TxCatalog snapshot),
    * where the two tables arrive as one consistent version pair. `truth`
    * is the optional pre-aggregated (seg, ndv_true) frame; None is the
    * production shape (the served catalog carries no ndv_true column).
    */
  private[graft] def serveCatalogFrom(truth: Option[DataFrame],
      stats: DataFrame, regs: DataFrame): DataFrame = {
    import ExtensionQueries7.{HllM12, HllRemBits12, HllAlphaNum12, HllLcFp12}
    val mStats = stats.groupBy(col("seg"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_null")).as("n_null"),
        min(col("min_num")).as("min_num"), max(col("max_num")).as("max_num"),
        min(col("min_str")).as("min_str"), max(col("max_str")).as("max_str"))
    // regs must come from the same version pair as stats — the caller's
    // responsibility; TxCatalog.snapshot guarantees it for q101
    val mRegs = regs
      .groupBy(col("seg"), col("bucket")).agg(max(col("reg")).as("reg"))
    val est = ExtensionQueries7.hllEstimate(mRegs, HllM12, HllRemBits12,
      HllAlphaNum12, HllLcFp12)
    // LEFT join the estimate: an ALL-NULL column has no registers (and no
    // estimate row) but must still appear in the catalog — with ndv 0 and
    // n_null = n_rows, the row a CBO consumer needs most
    val base = mStats
      .join(est.select(col("seg"), col("corrected")), Seq("seg"), "left")
    val joined = truth.map(t => base.join(t, Seq("seg"))).getOrElse(base)
    val ndvCols =
      Seq(Agg.roundAt(coalesce(col("corrected"), lit(0.0)), 4).as("ndv_est")) ++
        truth.map(_ => col("ndv_true")).toSeq
    joined
      .select(Seq(col("seg").as("col_name"), col("n_rows"), col("n_null")) ++
        ndvCols ++
        Seq(col("min_num"), col("max_num"), col("min_str"), col("max_str")): _*)
      .orderBy(col("col_name"))
  }

  /** q96/q101's shared audit of `orders`: the five-column spec both the
    * path-written catalog (q96) and the transactionally-published one
    * (q101) must agree on.
    */
  private[graft] def ordersAuditSpecs: Seq[ColSpec] = {
    val nullS = lit(null).cast("string")
    val nullD = lit(null).cast("double")
    val cents = floor(col("o_totalprice") * 100 + 0.5).cast("long")
    Seq(
      ("o_orderkey", col("o_orderkey"), nullS, col("o_orderkey")),
      ("o_custkey", col("o_custkey"), nullS, col("o_custkey")),
      ("o_orderstatus", nullD, col("o_orderstatus"), col("o_orderstatus")),
      ("o_orderpriority", nullD, col("o_orderpriority"), col("o_orderpriority")),
      ("o_totalprice", col("o_totalprice"), nullS, cents))
  }

  /** q99's whole-lake audit registry: one entry per registered fixture
    * table — (table, shard key, audited columns). Kinds drive BOTH the
    * Spark ColSpec and the oracle's base-CTE SQL from the same metadata,
    * so the two engines audit byte-identical (nval, sval, cval) lanes:
    *   - `int`:  nval = value, canonical key = decimal string
    *   - `dbl`:  nval = raw double, canonical key = 1e6 fixed-point
    *             string (both engines floor the same IEEE product — the
    *             q96 cents trick at micro precision, so it covers every
    *             double column in the lake, not just 2-dp money)
    *   - `str`:  sval = the value (binary collation in both engines)
    *   - `ts`:   epoch micros in both lanes (unix_micros / epoch_us —
    *             identical integers; micros ≤ 2^53 so the double lane is
    *             exact)
    * `documents.text`'s min/max lane is a 32-char prefix — the
    * parquet-statistics truncation: a catalog stores bounded-width
    * min/max, never KB-wide strings — while its NDV key stays the full
    * text. `embeddings.embedding` (array) is out of scope for a scalar
    * catalog: its vector stats live in the ANN family (s28/s22).
    */
  private[graft] final case class AuditCol(name: String, kind: String,
      prefixLen: Int = 0)
  private[graft] val LakeAudit: Seq[(String, String, Seq[AuditCol])] = Seq(
    ("region", "r_regionkey", Seq(AuditCol("r_regionkey", "int"),
      AuditCol("r_name", "str"))),
    ("nation", "n_nationkey", Seq(AuditCol("n_nationkey", "int"),
      AuditCol("n_name", "str"), AuditCol("n_regionkey", "int"))),
    ("customer", "c_custkey", Seq(AuditCol("c_custkey", "int"),
      AuditCol("c_name", "str"), AuditCol("c_nationkey", "int"),
      AuditCol("c_acctbal", "dbl"), AuditCol("c_mktsegment", "str"))),
    ("supplier", "s_suppkey", Seq(AuditCol("s_suppkey", "int"),
      AuditCol("s_name", "str"), AuditCol("s_nationkey", "int"),
      AuditCol("s_acctbal", "dbl"))),
    ("part", "p_partkey", Seq(AuditCol("p_partkey", "int"),
      AuditCol("p_name", "str"), AuditCol("p_brand", "str"),
      AuditCol("p_type", "str"), AuditCol("p_size", "int"),
      AuditCol("p_retailprice", "dbl"))),
    ("orders", "o_orderkey", Seq(AuditCol("o_orderkey", "int"),
      AuditCol("o_custkey", "int"), AuditCol("o_orderstatus", "str"),
      AuditCol("o_totalprice", "dbl"), AuditCol("o_orderdate", "ts"),
      AuditCol("o_orderpriority", "str"))),
    ("lineitem", "l_orderkey", Seq(AuditCol("l_orderkey", "int"),
      AuditCol("l_partkey", "int"), AuditCol("l_suppkey", "int"),
      AuditCol("l_linenumber", "int"), AuditCol("l_quantity", "dbl"),
      AuditCol("l_extendedprice", "dbl"), AuditCol("l_discount", "dbl"),
      AuditCol("l_tax", "dbl"), AuditCol("l_returnflag", "str"),
      AuditCol("l_linestatus", "str"), AuditCol("l_shipdate", "ts"))),
    ("events", "event_id", Seq(AuditCol("event_id", "int"),
      AuditCol("ts", "ts"), AuditCol("user_id", "int"),
      AuditCol("event_type", "str"), AuditCol("value", "dbl"),
      AuditCol("props", "str"))),
    ("documents", "doc_id", Seq(AuditCol("doc_id", "int"),
      AuditCol("text", "str", prefixLen = 32), AuditCol("lang", "str"),
      AuditCol("source", "str"), AuditCol("n_chars", "int"))),
    ("embeddings", "vec_id", Seq(AuditCol("vec_id", "int"),
      AuditCol("label", "int"))))

  /** [[AuditCol]] → the Spark [[ColSpec]] lane triple (see [[LakeAudit]]
    * for the per-kind contract the oracle mirrors).
    */
  private[graft] def auditSpec(c: AuditCol): ColSpec = {
    val nullS = lit(null).cast("string")
    val nullD = lit(null).cast("double")
    val v = col(c.name)
    c.kind match {
      case "int" => (c.name, v.cast("double"), nullS, v.cast("string"))
      case "dbl" => (c.name, v, nullS,
        floor(v * 1000000 + 0.5).cast("long"))
      case "str" =>
        val sv = if (c.prefixLen > 0) substring(v, 1, c.prefixLen) else v
        (c.name, nullD, sv, v)
      case "ts" =>
        // NTZ-loaded columns (o_orderdate, l_shipdate) normalize through
        // the session-zoned type first — the session TZ is UTC (see
        // Tables.loadEvents), so the cast is value-preserving and
        // unix_micros accepts it; events.ts is already LTZ (no-op cast)
        val us = unix_micros(v.cast(org.apache.spark.sql.types.TimestampType))
        (c.name, us.cast("double"), nullS, us)
    }
  }

  /** The catalog shard lane every lake-sweep build keys on — ONE helper
    * so q99's full sweep, the q104 prior build, and the q104 delta
    * refresh cannot shard differently.
    */
  private[graft] def lakeShard(shardKey: String): Column =
    pmod(col(shardKey).cast("long"),
      lit(ExtensionQueries7.SketchShards.toLong))

  /** q104's simulated nightly ingest: rows whose shard key ≡ 0
    * (mod 2·SketchShards) — a strict SUBSET of catalog shard 0, so the
    * incremental refresh touches exactly one of the 8 shard partitions
    * per table AND the within-shard merge (prior rows + delta rows
    * coexisting in shard 0) is genuinely exercised, not just the
    * untouched-shard passthrough. A table with NO qualifying rows (no
    * ingest today) is part of the contract — its refresh writes an
    * empty artifact and serves unchanged; fixture keys start at 0 so
    * every fixture table has a non-empty delta, and Round17Spec covers
    * the empty case on a synthetic table.
    */
  private[graft] val IngestDeltaMod: Long =
    2L * ExtensionQueries7.SketchShards

  // TOTAL predicate (r17 review): a NULL (or uncastable) shard key makes
  // the raw comparison NULL, and a row for which both `pred` and `!pred`
  // are null-filtered out would land in NEITHER the prior nor the delta —
  // silently breaking the pinned byte-equality with the full rebuild.
  // coalesce(…, false) routes null-keyed rows to the prior side, where
  // the full build's null shard group already counts them.
  private[graft] def ingestDeltaPred(shardKey: String): Column =
    coalesce(pmod(col(shardKey).cast("long"), lit(IngestDeltaMod)) === 0,
      lit(false))

  /** Session-scoped stored PRIOR catalog lake for q104's incremental
    * sweep: the full shard-partitioned stats + NDV-register artifacts
    * over yesterday's corpus (every row NOT in [[ingestDeltaPred]]'s
    * delta), one subroot per [[LakeAudit]] table — the artifacts a
    * deployment's previous nightly ANALYZE already wrote. Memoized per
    * (session, fixture); Bench pre-builds it untimed so q104 prices
    * only what a real nightly pays — aggregate the ingest delta, append
    * its shard rows, serve the merged catalog — while q99's own entry
    * keeps pricing the full-rebuild sweep (the d07/d22 accounting
    * split).
    */
  private val lakePriorMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  private[graft] def lakeCatalogPriorRoot(s: SparkSession, dir: String)
      : String = {
    lakePriorMemo.entrySet().removeIf(e => e.getKey._1.sparkContext.isStopped)
    // computeIfAbsent: a concurrent duplicate build would interleave
    // Scratch.fresh's delete+mkdir under the same path (see d22PriorRoot)
    lakePriorMemo.computeIfAbsent((s, dir), { _ =>
      val root = graft.sources.Scratch.fresh(s,
        s"lake_catalog_prior_${graft.sources.Scratch.dirTag(dir)}")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.DurationInt
      Await.result(Future.sequence(LakeAudit.map {
        case (tbl, shardKey, cols) => Future {
          writeCatalogShards(
            catalogLongForm(
              t(s, dir, tbl).filter(!ingestDeltaPred(shardKey)),
              lakeShard(shardKey), cols.map(auditSpec)),
            s"$root/$tbl", "overwrite")
        }
      }), 30.minutes)
      root
    })
  }

  /** s36 beam-search geometry. Entry points are the [[WalkEntryN]]
    * smallest vec_ids (a fixed, data-independent rule — production graph
    * ANN uses medoid or hub entries; any deterministic choice serves,
    * and recall vs brute truth is graded in s22 either way). Each hop
    * expands the beam through the capped graph's directed top-3 edges
    * and re-keeps the [[WalkBeam]] best by (cos desc, vec_id asc);
    * [[WalkHops]] hops bound the walk depth, so the whole serve is a
    * FIXED plan — no data-dependent iteration to replay.
    */
  private[graft] val WalkBeam = 8
  private[graft] val WalkHops = 3
  private[graft] val WalkEntryN = 4

  /** Graph-walk ANN serving (s36's body): greedy beam search over s31's
    * occupancy-capped kNN graph. Per hop: candidates = beam ∪ beam's
    * graph neighbors (dedup'd), scored cos(q, ·) rounded to 1e-6 BEFORE
    * ranking (both engines rank identical values), beam = top
    * [[WalkBeam]]. Scale shape: the graph build is s31's linear-in-
    * corpus plan (shared via the cache with s31/s22 consumers); each
    * hop's expansion join touches |queries|·beam·3 edge rows — the
    * serve itself never scans the corpus beyond the candidate id set,
    * which is the point of graph ANN at 100 TB: a query's work is
    * O(beam · degree · hops), independent of n.
    */
  private[graft] def graphWalk(s: SparkSession, dir: String): DataFrame =
    walkFrom(s, dir, (q, e) =>
      q.select(col("query_id")).crossJoin(
        e.orderBy(col("vec_id")).limit(WalkEntryN).select(col("vec_id"))))

  /** s37's entry rule: the COARSE layer of hierarchical graph ANN —
    * route each query to its [[ExtensionQueries.IvfProbe]] nearest IVF
    * cells (s31's own training, shared through the trainer caches) and
    * enter the walk from each probed cell's single most-central capped
    * member (the rank-1 row of s31's occupancy cap). Query-AWARE
    * entries where s36's fixed global entries are blind: the walk
    * starts inside the query's own region of the graph, which is
    * exactly what HNSW's upper layers buy — s22's graph_walk vs
    * graph_walk_ivf rows price the difference.
    */
  private[graft] val ivfWalkSeeds: (DataFrame, DataFrame) => DataFrame =
    (q, e) => {
      val (cent, assigned) = graft.operators.Kmeans.fit(
        e.select(col("vec_id"), col("v")),
        k = ExtensionQueries.IvfCells, iters = ExtensionQueries.IvfIters)
      ivfQCells(q, cent).join(ivfHeads(cent, assigned), Seq("cell"))
        .select(col("query_id"), col("vec_id"))
    }

  /** The per-cell entry heads (rank-1 row of s31's occupancy cap):
    * (cell, vec_id). Factored out of [[ivfWalkSeeds]] (r19) so s40 can
    * persist the heads as a stored serving artifact; ops verbatim.
    */
  private[graft] def ivfHeads(cent: DataFrame, assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.VectorOps
    val wCap = Window.partitionBy(col("cell"))
      .orderBy(col("bcos").desc, col("vec_id").asc)
    assigned
      .join(broadcast(cent.select(col("cell"), col("cv"))), Seq("cell"))
      .withColumn("bcos", VectorOps.cosineFast(col("v"), col("cv")))
      .withColumn("brn", row_number().over(wCap))
      .filter(col("brn") === 1)
      .select(col("cell"), col("vec_id"))
  }

  /** Each query's [[ExtensionQueries.IvfProbe]] nearest cells over a
    * centroid table: (query_id, cell). Factored out of [[ivfWalkSeeds]]
    * (r19) — s40's serve routes queries over the STORED centroids with
    * exactly this rule.
    */
  private[graft] def ivfQCells(q: DataFrame, cent: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.VectorOps
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell").asc)
    q.crossJoin(broadcast(cent))
      .withColumn("ccos", VectorOps.cosineFast(col("qv"), col("cv")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= ExtensionQueries.IvfProbe)
      .select(col("query_id"), col("cell"))
  }

  private[graft] def graphWalkIvf(s: SparkSession, dir: String): DataFrame =
    walkFrom(s, dir, ivfWalkSeeds)

  /** s39: IVF-routed entries AND symmetric edges — the composition.
    * Measured at the clustered decade (the r18 walk-family recall table
    * in PLANS.md: a 20k-vector fixture with 10 planted clusters): neither
    * half suffices alone — s36's fixed entries read recall@5 0.02 (blind
    * entries), s37's query-aware entries still 0.02 on the DIRECTED capped
    * graph (the walk lands in the right region — purity 0.80 — then strands
    * on anti-hub reachability), s38's symmetric edges from blind
    * entries reach only 0.18; the composition reads 0.57 at the same
    * beam/hops (saturating by hops 6). The 200-point Round15Spec
    * fixture cannot see this — directed walks still succeed there —
    * which is exactly why the clustered DECADE grading existed as a
    * carried item.
    */
  private[graft] def graphWalkIvfSym(s: SparkSession, dir: String): DataFrame =
    walkFrom(s, dir, ivfWalkSeeds, symmetric = true)

  /** s38: the walk over the SYMMETRIZED capped graph — s36's fixed
    * entries, but every stored edge is traversable in BOTH directions
    * (out-edges ∪ reversed edges, deduplicated). This is the published
    * graph-ANN prescription (NSW/HNSW keep bidirectional links —
    * Malkov & Yashunin, TPAMI 2018, §4): a directed top-R graph leaves
    * "anti-hub" points with few or no IN-edges unreachable no matter
    * the hop budget, and Round15Spec's clustered fixture measures
    * exactly that — the directed walk's recall SATURATES below 1.0
    * while extra hops buy nothing, and symmetrizing lifts it at equal
    * beam/hops. Scale shape: the reversal is a projection of the
    * already-built edge set (≤ 2·n·R rows) — no new corpus pass; the
    * serve is the same O(beam · degree · hops) per query with degree
    * ≤ 2R.
    */
  private[graft] def graphWalkSym(s: SparkSession, dir: String): DataFrame =
    walkFrom(s, dir, (q, e) =>
      q.select(col("query_id")).crossJoin(
        e.orderBy(col("vec_id")).limit(WalkEntryN).select(col("vec_id"))),
      symmetric = true)

  /** The shared beam loop of s36/s37/s38 over s31's capped graph;
    * `mkSeeds` builds the hop-0 candidate set (query_id, vec_id) from
    * (q, e); `symmetric` walks the edge set in both directions (s38).
    */
  private def walkFrom(s: SparkSession, dir: String,
      mkSeeds: (DataFrame, DataFrame) => DataFrame,
      symmetric: Boolean = false): DataFrame = {
    val raw = ExtensionQueries3.knnGraph(s, dir, ExtensionQueries.IvfProbe,
        Some(ExtensionQueries3.GraphCapR))
      .select(col("vec_id").as("src"), col("neighbor").as("dst"))
    val g = (if (symmetric)
        raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
      else raw).persist()
    val e = ExtensionQueries.embeddingsD(s, dir)
    val q = e.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    walkOver(g, e, q, mkSeeds)
  }

  /** The beam loop itself over an arbitrary (graph, corpus, query) triple
    * — factored out (r15) so recall can be graded on CONSTRUCTED
    * geometry too (Round15Spec's clustered fixture; the registered
    * fixture's embeddings are isotropic, where no graph is navigable and
    * the honest walk recall read-off is ~chance). `g` is the directed
    * edge set (src, dst); `e` is (vec_id, v); `q` is (query_id, qv).
    *
    * Each hop's beam is MATERIALIZED to a driver-local relation (r21):
    * the loop references `beam` twice per hop (the keep branch and the
    * expansion join), so a lazy chain re-executes hop h−1's whole
    * sub-DAG 2× per reference — 2^hops copies of the seed scoring by
    * the last hop, which is also what made the walk rows' ANALYSIS cost
    * grow (every .join re-analyzes the doubled tree). The beam is
    * beamWidth·|queries| rows of (id, id, cos) — CONSTANT-size serving
    * state, never data-scale (the fitConverged/ndvTruthLocal collect
    * class) — so each hop now starts from a LocalRelation: plan depth,
    * driver analysis, and executed work are all linear in hops. Values
    * are untouched (collect round-trips the exact IEEE doubles); the
    * full walk-family oracle gate re-ran green after the change.
    *
    * EAGER semantics (r21 advice, documented): because each hop collects,
    * CONSTRUCTING a walk query's DataFrame executes the whole walk — the
    * returned frame is the final beam's LocalRelation ranking, not a lazy
    * pipeline. Plan-only consumers (Explain, PlanSpec's all-queries sweep)
    * therefore pay the walk's execution just to look at the plan; that is the
    * accepted price of the 2.4–3x serving win (the alternative — a
    * lazily-initialized builder — would make the registry value stateful for
    * no production benefit, since every production consumer acts on the frame
    * anyway).
    */
  private[graft] def walkOver(g: DataFrame, e: DataFrame, q: DataFrame,
      mkSeeds: (DataFrame, DataFrame) => DataFrame,
      beamWidth: Int = WalkBeam, hops: Int = WalkHops): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.VectorOps
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    def scoreTop(cand: DataFrame, k: Int): DataFrame =
      cand.join(q, Seq("query_id"))
        .join(e, Seq("vec_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos",
          Agg.roundAt(VectorOps.cosineFast(col("qv"), col("v")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("query_id"), col("vec_id"), col("cos"))
    // beamWidth·|q| rows to the driver, back as a LocalRelation (exact
    // row values — see the doc comment's linearity argument)
    def rematerialize(b: DataFrame): DataFrame = {
      val s = b.sparkSession
      s.createDataFrame(java.util.Arrays.asList(b.collect(): _*), b.schema)
    }
    var beam = rematerialize(scoreTop(mkSeeds(q, e), beamWidth))
    for (_ <- 1 to hops) {
      val cand = beam.select(col("query_id"), col("vec_id"))
        .union(beam.join(g, col("vec_id") === col("src"))
          .select(col("query_id"), col("dst").as("vec_id")))
        .distinct()
      beam = rematerialize(scoreTop(cand, beamWidth))
    }
    beam
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB replay of [[graphWalk]]: s31's graph CTEs as the edge set,
    * the hop loop unrolled [[WalkHops]] times (fixed depth — same
    * unroll-vs-loop argument as d07's oracle, but here the depth is a
    * constant of the operator, not a convergence bound).
    */
  private[graft] def graphWalkSql: String = walkSql(s"""
      entries AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT $WalkEntryN),
      w0 AS (SELECT q.query_id, en.vec_id FROM q CROSS JOIN entries en)""")

  /** [[graphWalkSym]]'s replay: s36's chain with the edge CTE
    * symmetrized (out ∪ reversed, deduplicated).
    */
  private[graft] def graphWalkSymSql: String = walkSql(s"""
      entries AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT $WalkEntryN),
      w0 AS (SELECT q.query_id, en.vec_id FROM q CROSS JOIN entries en)""",
    symmetric = true)

  /** [[graphWalkIvf]]'s replay: the walk chain over IVF-routed entries —
    * the same training CTEs s31's graph already embeds (c/a at
    * [[ExtensionQueries.IvfIters]]), each query's probe cells, the
    * rank-1 capped member per cell as its entry.
    */
  private[graft] def graphWalkIvfSql: String =
    walkSql(ivfEntriesCtes())

  /** [[graphWalkIvfSym]]'s replay: the IVF entry CTEs over the
    * symmetrized edge CTE — both halves verbatim from s37/s38.
    */
  private[graft] def graphWalkIvfSymSql: String =
    walkSql(ivfEntriesCtes(), symmetric = true)

  /** [[graphWalkIvfSymSql]] at an explicit cell count — the scaled
    * family's oracle (s44, r20): the identical walk-chain text with `k`
    * threaded through the graph and entry CTEs (one home, no drift).
    */
  private[graft] def graphWalkIvfSymSqlAt(k: Int): String =
    walkSql(ivfEntriesCtes(k), symmetric = true, k = k)

  private def ivfEntriesCtes(
      k: Int = ExtensionQueries.IvfCells): String = {
    val iters = ExtensionQueries.IvfIters
    s"""${ExtensionQueries.kmTrainingCtes(k, iters)},
      heads AS (
        SELECT cell, vec_id FROM (
          SELECT b.cell, b.vec_id,
                 row_number() OVER (PARTITION BY b.cell ORDER BY
                   (${ExtensionQueries.dotSql("b.v", "c.cv")} /
                    (sqrt(${ExtensionQueries.dotSql("b.v", "b.v")}) *
                     sqrt(${ExtensionQueries.dotSql("c.cv", "c.cv")}))) DESC,
                   b.vec_id ASC) AS brn
          FROM a$iters b JOIN c$iters c ON b.cell = c.cell
        ) x WHERE brn = 1
      ),
      qcells AS (
        SELECT query_id, cell FROM (
          SELECT q.query_id, c.cell,
                 row_number() OVER (PARTITION BY q.query_id ORDER BY
                   (${ExtensionQueries.dotSql("q.qv", "c.cv")} /
                    (sqrt(${ExtensionQueries.dotSql("q.qv", "q.qv")}) *
                     sqrt(${ExtensionQueries.dotSql("c.cv", "c.cv")}))) DESC,
                   c.cell ASC) AS prn
          FROM q CROSS JOIN c$iters c
        ) p WHERE prn <= ${ExtensionQueries.IvfProbe}
      ),
      w0 AS (SELECT qc.query_id, h.vec_id FROM qcells qc
             JOIN heads h ON qc.cell = h.cell)"""
  }

  /** The shared walk-chain SQL: `entriesCtes` must define `w0(query_id,
    * vec_id)` — the hop-0 candidates. It may reference `e`, `q`, and
    * any CTEs it brings along (the IVF variant splices the km training
    * CTEs, which the embedded s31 graph subquery ALSO builds; DuckDB
    * evaluates the two independently, and the training is
    * deterministic, so both copies land on identical centroids). Walk
    * CTEs are `w`-prefixed to stay clear of the training chain's
    * c<i>/a<i> names.
    */
  private def walkSql(entriesCtes: String, symmetric: Boolean = false,
      k: Int = ExtensionQueries.IvfCells): String = {
    val dot = ExtensionQueries.dotSql("q.qv", "e.v")
    val qn = ExtensionQueries.dotSql("q.qv", "q.qv")
    val en = ExtensionQueries.dotSql("e.v", "e.v")
    def scoreCte(h: Int, from: String) = s"""
      ws$h AS (
        SELECT c.query_id, c.vec_id,
               floor(($dot / (sqrt($qn) * sqrt($en))) * 1000000 + 0.5)
                 / 1000000 AS cos
        FROM $from c JOIN q ON c.query_id = q.query_id
        JOIN e ON c.vec_id = e.vec_id
        WHERE c.vec_id <> c.query_id
      ),
      wb$h AS (
        SELECT query_id, vec_id, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, vec_id ASC) AS rn FROM ws$h
        ) x WHERE rn <= $WalkBeam
      )"""
    val hops = (1 to WalkHops).map { h =>
      s"""
      w$h AS (
        SELECT DISTINCT query_id, vec_id FROM (
          SELECT query_id, vec_id FROM wb${h - 1}
          UNION ALL
          SELECT b.query_id, g.dst AS vec_id
          FROM wb${h - 1} b JOIN g ON g.src = b.vec_id
        ) u
      ),${scoreCte(h, s"w$h")}"""
    }.mkString(",")
    val symCte = if (symmetric) s""",
      g AS (
        SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM g0
          UNION ALL
          SELECT dst AS src, src AS dst FROM g0
        ) u
      )""" else ", g AS (SELECT src, dst FROM g0)"
    s"""
      WITH g0 AS (
        SELECT vec_id AS src, neighbor AS dst
        FROM (${ExtensionQueries3.knnGraphSql(
            cap = Some(ExtensionQueries3.GraphCapR), k = k)}) gg
      )$symCte,
      e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),
      q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id <= 2),$entriesCtes,${scoreCte(0, "w0")},$hops
      SELECT query_id, CAST(rn AS INTEGER) AS rank, vec_id, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY cos DESC, vec_id ASC) AS rn FROM wb$WalkHops
      ) f WHERE rn <= 5
      ORDER BY query_id, rank"""
  }

  /** The oracle half of [[auditSpec]]: the same per-kind lane triple as
    * DuckDB SQL, one SELECT per (table, column), UNION ALL'd into q99's
    * base CTE. Every lane is explicitly CAST so the union's column
    * types are fixed by construction.
    */
  private[graft] def lakeBaseSql: String =
    LakeAudit.flatMap { case (tbl, _, cols) =>
      cols.map { c =>
        val (nval, sval, cval) = c.kind match {
          case "int" => (s"CAST(${c.name} AS DOUBLE)",
            "CAST(NULL AS VARCHAR)", s"CAST(${c.name} AS VARCHAR)")
          case "dbl" => (s"CAST(${c.name} AS DOUBLE)",
            "CAST(NULL AS VARCHAR)",
            s"CAST(CAST(floor(${c.name} * 1000000 + 0.5) AS BIGINT) AS VARCHAR)")
          case "str" =>
            val sv = if (c.prefixLen > 0) s"substr(${c.name}, 1, ${c.prefixLen})"
              else c.name
            ("CAST(NULL AS DOUBLE)", s"CAST($sv AS VARCHAR)",
              s"CAST(${c.name} AS VARCHAR)")
          case "ts" => (s"CAST(epoch_us(${c.name}) AS DOUBLE)",
            "CAST(NULL AS VARCHAR)", s"CAST(epoch_us(${c.name}) AS VARCHAR)")
        }
        s"SELECT '$tbl' AS tbl, '${c.name}' AS seg, $nval AS nval, " +
          s"$sval AS sval, $cval AS cval FROM $tbl"
      }
    }.mkString("\n        UNION ALL\n        ")

  /** t33/t34's shared substrate: per source, exact doc/token counts and
    * the dedup-weighted effective-token fixed point (each doc's tokens
    * DIV its converged d07 cluster size, summed as longs).
    */
  private[graft] def effTokensPerSource(s: SparkSession, dir: String): DataFrame = {
    val clusters = ExtensionQueries.all("d07_dedup_clusters")(s, dir)
      .select(col("doc_id"), col("cluster_id"))
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("csize"))
    val tok = t(s, dir, "documents").select(col("doc_id"), col("source"),
      size(graft.operators.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
    tok.join(clusters, Seq("doc_id")).join(sizes, Seq("cluster_id"))
      .withColumn("eff_fp", expr("n_tokens * 1000000L DIV csize"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("raw_tokens"),
        sum(col("eff_fp")).as("eff_fp"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Until-convergence k-means (s32): the round-13 convergence
    // discipline — "a fixed iteration budget silently ships the wrong
    // answer once the data outgrows it" — applied to INDEX TRAINING.
    // s05 trains its IVF router with a fixed 2-iteration budget (fine
    // for routing); this operator runs Lloyd to the actual fixed point
    // (recompute∘assign idempotent), detected exactly from the k
    // collected centroid rows, capped at [[KmConvMaxIters]] as a runaway
    // guard. Scale shape: every iteration is the same constant-size plan
    // — corpus × broadcast(k literal centroids) + one explode/agg
    // shuffle — because the k·64 centroid doubles are re-emitted as a
    // literal each round (bounded, planner-side; never a data-scale
    // collect), so lineage cannot grow however deep convergence runs.
    // The oracle replays a FIXED [[KmConvOracleUnroll]]-round training
    // run ≥ the measured depth: past the fixed point extra rounds are
    // no-ops, so both engines land on identical centroids — the same
    // unroll-vs-adaptive argument d07's oracle uses.
    "s32_kmeans_converged" -> ((s, dir) => {
      val e = ExtensionQueries.embeddingsD(s, dir)
        .select(col("vec_id"), col("v"))
      val (cent, assigned, _) = Kmeans.fitConverged(e,
        k = ExtensionQueries.IvfCells, maxIters = KmConvMaxIters)
      val sizes = assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members"))
      cent.select(col("cell"), posexplode(col("cv")).as(Seq("dim", "val")))
        .join(sizes, Seq("cell"))
        .select(col("cell"), col("n_members"), col("dim"),
          Agg.roundAt(col("val"), 6).as("centroid"))
        .orderBy(col("cell"), col("dim"))
    }),

    // Sample-trained k-means (s33): s32's scale remedy. s32 proved exact
    // full-corpus convergence depth GROWS with data (and trips any fixed
    // cap eventually — measured at 10×); the production shape trains to
    // the fixed point on a FIXED-SIZE deterministic sample (the seed
    // hash-rank's top-[[KmSampleN]] prefix — the k seeds are therefore
    // identical to s32's) where depth is bounded at any corpus scale,
    // then assigns the FULL corpus in ONE row-local pass against the
    // trained literals. Scale shape: training cost is constant in corpus
    // size (sample rows × bounded depth); the only full-corpus work is
    // one shuffle-free assignment projection + one count aggregate.
    "s33_kmeans_sampled" -> ((s, dir) => {
      val e = ExtensionQueries.embeddingsD(s, dir)
        .select(col("vec_id"), col("v"))
      val samp = e.withColumn("hrank",
          pmod(pmod(col("vec_id"), lit(1000003L)) * lit(427799L), lit(1000003L)))
        .orderBy(col("hrank"), col("vec_id")).limit(KmSampleN)
        .select(col("vec_id"), col("v"))
      val (cent, _, _) = Kmeans.fitConverged(samp,
        k = ExtensionQueries.IvfCells, maxIters = KmConvMaxIters)
      val cents = cent.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq
      val sizes = Kmeans.assignLiteral(e, cents)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
      cent.select(col("cell"), posexplode(col("cv")).as(Seq("dim", "val")))
        .join(sizes, Seq("cell"))
        .select(col("cell"), col("n_members"), col("dim"),
          Agg.roundAt(col("val"), 6).as("centroid"))
        .orderBy(col("cell"), col("dim"))
    }),

    // LSH banding design table (d20): for every (bands × rows)
    // factorization of the signature budget, the expected behavior of
    // the banding scheme over the OBSERVED pair-similarity distribution
    // (d14's signature-estimated Jaccard, the table a deployment tunes
    // from when the exact join is unaffordable): collision threshold
    // s* = (1/b)^(1/r), expected candidate volume Σ p(s), expected
    // missed true dups Σ_{dup}(1−p), expected false candidates
    // Σ_{non-dup} p. This is the decision a 100 TB dedup run makes
    // BEFORE it runs — candidate volume is the join cost, missed dups
    // the quality cost — priced here from sketch state alone. Float
    // discipline: p is unrolled IEEE multiplication (no pow), s* a
    // driver-side literal, per-pair p fixed-pointed to 1e6 BEFORE the
    // integer sums, so partitioning can never reorder double adds.
    // Scale shape: ONE pass over the candidate table — each pair row
    // explodes a literal 6-struct array (one per (b,r) scheme), so the
    // d14 subtree executes once (the first form unioned six branch
    // SELECTs and re-ran the whole estimate pipeline per scheme:
    // measured 59 s at sf1 vs 11 s for d14 itself; this form is one
    // d14 execution + a 6× row fan-out of 4-field structs into a
    // 6-group aggregate). (The pair population is the surfaced
    // candidate set — at 100 TB substitute a uniform pair sample for
    // the unconditioned curve; the arithmetic is identical.)
    "d20_lsh_band_tuning" -> ((s, dir) => {
      val pairs = ExtensionQueries.all("d14_minhash_estimate")(s, dir)
        .select(col("est_jaccard").as("s"), col("jaccard"))
      val schemes = array(BandGrid.map { case (b, r) =>
        struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
          lit(sStar(b, r)).as("s_star_raw"),
          floor(expr(pCollideSql(b, r)) * 1e6).cast("long").as("p_fp"))
      }: _*)
      pairs.select(explode(schemes).as("g"), col("jaccard"))
        .select(col("g.bands").as("bands"),
          col("g.rows_per_band").as("rows_per_band"),
          col("g.s_star_raw").as("s_star_raw"),
          col("g.p_fp").as("p_fp"), col("jaccard"))
        .groupBy(col("bands"), col("rows_per_band"), col("s_star_raw"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("p_fp")).as("cand_fp"),
          sum(when(col("jaccard") >= 0.5, lit(1000000L) - col("p_fp"))
            .otherwise(0L)).as("missed_fp"),
          sum(when(col("jaccard") < 0.5, col("p_fp"))
            .otherwise(0L)).as("false_fp"))
        .select(col("bands"), col("rows_per_band"),
          Agg.roundAt(col("s_star_raw"), 6).as("s_star"),
          col("n_pairs"),
          (col("cand_fp").cast("double") / 1e6).as("exp_candidates"),
          (col("missed_fp").cast("double") / 1e6).as("exp_missed_dups"),
          (col("false_fp").cast("double") / 1e6).as("exp_false_candidates"))
        .orderBy(col("rows_per_band"))
    }),

    // A/B experiment analysis (e17): per event type, a Welch z-test of
    // the event-value mean between the two user-hash variants — the
    // decision read-out every experimentation platform computes. Float
    // discipline: n, Σv and Σv² are EXACT (count + DECIMAL(30,6) sums —
    // v·v is one IEEE multiply, identical in both engines), so the mean
    // / variance / z doubles derive deterministically from exact inputs
    // through an op-for-op identical formula; z fixed-points at 1e6 and
    // the significance flag compares the ROUNDED z, so both engines gate
    // on identical values. Scale shape: one events scan → one 2·|types|-
    // group partial-aggregated shuffle; everything after is a |types|-row
    // self-merge.
    "e17_ab_test" -> ((s, dir) => {
      val perVariant = abVariantMoments(t(s, dir, "events"))
        .withColumn("mean", col("sv") / col("n"))
        .withColumn("variance",
          (col("svv") - col("sv") * col("sv") / col("n")) / (col("n") - 1))
      val a = perVariant.filter(col("variant") === 0)
        .select(col("event_type"), col("n").as("n_a"),
          col("mean").as("mean_a"), col("variance").as("var_a"))
      val b = perVariant.filter(col("variant") === 1)
        .select(col("event_type"), col("n").as("n_b"),
          col("mean").as("mean_b"), col("variance").as("var_b"))
      a.join(b, Seq("event_type"))
        .withColumn("z", Agg.roundAt(
          (col("mean_b") - col("mean_a")) /
            sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 6))
        .select(col("event_type"), col("n_a"), col("n_b"),
          Agg.roundAt(col("mean_a"), 6).as("mean_a"),
          Agg.roundAt(col("mean_b"), 6).as("mean_b"),
          col("z").as("z_score"),
          (abs(col("z")) >= 1.959964).as("significant"))
        .orderBy(col("event_type"))
    }),

    // A/B conversion-rate test (e18): e17's binary-metric sibling — the
    // two-proportion z-test on converted-user rates (a user converts if
    // they have ≥1 HIGH-VALUE purchase — value > 90; a bare "any
    // purchase" definition saturates this fixture at rate 1.0 for both
    // variants, where the pooled variance is 0 and the z-statistic is
    // undefined — ANSI mode correctly refuses the 0/0 rather than
    // shipping a NaN verdict). All inputs are exact integers
    // (distinct-user counts), the pooled-variance z derives through an
    // op-for-op identical formula, significance gates on the ROUNDED z —
    // together e17 (continuous metric) and e18 (binary metric) are the
    // two read-outs every experimentation platform ships. Scale shape:
    // one events scan → per-user conversion flags (one user-keyed
    // partial-agg shuffle) → a 2-row variant aggregate.
    "e18_ab_conversion" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" && col("value") > 90, 1)
          .otherwise(0)).as("converted"))
        .withColumn("variant", (col("user_id") % 2).cast("int"))
      val pv = perUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
      val a = pv.filter(col("variant") === 0)
        .select(col("n").as("n_a"), col("c").as("conv_a"))
      val b = pv.filter(col("variant") === 1)
        .select(col("n").as("n_b"), col("c").as("conv_b"))
      a.crossJoin(b)
        .withColumn("rate_a", col("conv_a").cast("double") / col("n_a"))
        .withColumn("rate_b", col("conv_b").cast("double") / col("n_b"))
        .withColumn("pool",
          (col("conv_a") + col("conv_b")).cast("double") / (col("n_a") + col("n_b")))
        .withColumn("z", Agg.roundAt(
          (col("rate_b") - col("rate_a")) /
            sqrt(col("pool") * (lit(1.0) - col("pool")) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
        .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
          Agg.roundAt(col("rate_a"), 6).as("rate_a"),
          Agg.roundAt(col("rate_b"), 6).as("rate_b"),
          col("z").as("z_score"),
          (abs(col("z")) >= 1.959964).as("significant"))
    }),

    // Always-valid sequential A/B monitoring (e21): the mSPRT (mixture
    // sequential probability-ratio test, Johari et al.'s always-valid
    // inference) over the purchase-value metric — the answer to "can I
    // peek at the experiment every day?", which e17's fixed-horizon z
    // explicitly cannot give (peeking inflates its false-positive rate;
    // the mSPRT's ln Λ is valid at EVERY look). Per day, over the
    // CUMULATIVE exact moments of both user-hash variants: with the
    // standard τ² = σ² mixture, ln Λ = ½·ln((na+nb)/(na+nb+na·nb)) +
    // Δ²/(2σ²h(h+1)) with h = 1/na + 1/nb — the log's argument is a
    // ratio of positive INTEGERS, so [[graft.functions.DetLn]] makes
    // both engines' logs bit-identical, and the rest is IEEE arithmetic
    // in one mirrored op order over exact fixed-point sums. The
    // always-valid decision is the RUNNING MAX of ln Λ against the
    // spliced ln(1/α) literal: once significant, always significant —
    // the monotone decision rule that makes daily peeking safe. Rows
    // begin at the first day both arms have n ≥ 2 and pooled σ² > 0
    // (before that the monitor is not defined). Scale shape: one events
    // scan → per-(day, variant) exact sums (map-side combinable), a
    // |days|-row cumulative window, |days|-row arithmetic after.
    "e21_msprt" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.DetLn.detLn
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("variant")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ev = t(s, dir, "events").filter(col("event_type") === "purchase")
        .withColumn("variant", (col("user_id") % 2).cast("int"))
        .withColumn("day", to_date(col("ts")))
      // per-row micro-unit longs (the e19 rule): value has a ≤6-dp
      // decimal image and v·v rounds to 6 dp identically in both
      // engines, so the cumulative sums are exact integers
      val perDay = ev.groupBy(col("day"), col("variant"))
        .agg(count(lit(1)).as("dn"),
          sum((col("value").cast("decimal(30,6)") * 1000000).cast("long"))
            .as("dsv"),
          sum(((col("value") * col("value")).cast("decimal(30,6)") * 1000000)
            .cast("long")).as("dsvv"))
      val spine = ev.select(col("day")).distinct()
        .crossJoin(Seq(0, 1).toDF("variant"))
      val cum = spine.join(perDay, Seq("day", "variant"), "left")
        .select(col("day"), col("variant"),
          sum(coalesce(col("dn"), lit(0L))).over(w).as("n"),
          sum(coalesce(col("dsv"), lit(0L))).over(w).as("sv"),
          sum(coalesce(col("dsvv"), lit(0L))).over(w).as("svv"))
      val a = cum.filter(col("variant") === 0)
        .select(col("day"), col("n").as("n_a"), col("sv").as("sv_a"),
          col("svv").as("svv_a"))
      val b = cum.filter(col("variant") === 1)
        .select(col("day"), col("n").as("n_b"), col("sv").as("sv_b"),
          col("svv").as("svv_b"))
      val wAll = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      a.join(b, Seq("day"))
        .filter(col("n_a") >= 2 && col("n_b") >= 2)
        // each fixed-point sum widens to a double ONCE, and every
        // subsequent expression has one explicit association, mirrored
        // op-for-op in the oracle
        .withColumn("sa", col("sv_a").cast("double") / 1e6)
        .withColumn("sb", col("sv_b").cast("double") / 1e6)
        .withColumn("saa", col("svv_a").cast("double") / 1e6)
        .withColumn("sbb", col("svv_b").cast("double") / 1e6)
        .withColumn("mean_a", col("sa") / col("n_a"))
        .withColumn("mean_b", col("sb") / col("n_b"))
        .withColumn("var_pool",
          ((col("saa") - col("sa") * col("sa") / col("n_a"))
            + (col("sbb") - col("sb") * col("sb") / col("n_b")))
            / (col("n_a") + col("n_b") - 2))
        .filter(col("var_pool") > 0)
        .withColumn("h",
          lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))
        .withColumn("delta", col("mean_b") - col("mean_a"))
        .withColumn("ln_lambda", Agg.roundAt(
          lit(0.5) * (detLn(col("n_a") + col("n_b"))
            - detLn(msprtLnArg(col("n_a"), col("n_b"))))
            + col("delta") * col("delta")
              / (lit(2.0) * col("var_pool") * col("h") * (col("h") + lit(1.0))), 6))
        .withColumn("ln_lambda_max", max(col("ln_lambda")).over(wAll))
        .select(col("day"), col("n_a"), col("n_b"),
          Agg.roundAt(col("mean_a"), 6).as("mean_a"),
          Agg.roundAt(col("mean_b"), 6).as("mean_b"),
          col("ln_lambda"), col("ln_lambda_max"),
          (col("ln_lambda_max") >= MsprtLnAlphaInv).as("significant"))
        .orderBy(col("day"))
    }),

    // Near-dup threshold sweep (d21): d20 prices the CANDIDATE-GENERATION
    // knob (bands × rows); this prices the VERIFICATION knob — for each
    // Jaccard threshold on the exact pair similarities, how many pairs
    // verify as duplicates and how many documents are touched. Together
    // they are the two decisions a dedup run makes before the petabyte
    // pass. One pass over the d04 verified pairs (the d20 explode
    // pattern: each pair row fans out to the bounded threshold grid,
    // then to its two doc sides), ONE aggregation per bounded threshold
    // key: pair count recovered exactly as doc-rows DIV 2, doc exposure
    // as a distinct count — never a collected array (a collect_list of
    // pair ids would be an unbounded aggregation buffer at 100 TB).
    "d21_dedup_threshold_sweep" -> ((s, dir) => {
      // both grid aggregations below read the STORED verified-pair table
      // (r16, the d14 note) — the sweep is a tuning report over the
      // verify pass a previous job wrote, so nothing here re-runs LSH or
      // exact Jaccard; two columnar scans of the narrow parquet replace
      // the r15 persist of a recomputed table
      val scored = ExtensionQueries.verifiedPairs(s, dir)
        .select(col("doc_a"), col("doc_b"),
          Agg.roundAt(col("jaccard"), 4).as("j"))
      // two SMALL aggregations instead of the r14 form's single
      // countDistinct over |pairs|×|thresholds|×2 exploded doc rows
      // (measured 31 s at sf1 — the 54M-row distinct shuffle was ~80%
      // of the query): pair counts explode to a map-side-combinable
      // |thresholds|-row aggregate, and "docs touched at ≥ th" is
      // exactly "docs whose MAX pair jaccard ≥ th" — one per-doc max
      // (|docs| rows out), then the same bounded-grid count. A doc
      // qualifies iff one of its pairs does, so the inner join keeps
      // exactly the thresholds the old form emitted. Identical output,
      // verbatim oracle.
      val pairCounts = scored
        .select(col("j"), explode(typedLit(DedupThresholds)).as("threshold"))
        .filter(col("j") >= col("threshold"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_dup_pairs"))
      val docMax = scored
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc"), col("j"))
        .groupBy(col("doc")).agg(max(col("j")).as("mj"))
      val docCounts = docMax
        .select(col("mj"), explode(typedLit(DedupThresholds)).as("threshold"))
        .filter(col("mj") >= col("threshold"))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_docs_touched"))
      pairCounts.join(docCounts, Seq("threshold"))
        .select(col("threshold"), col("n_dup_pairs"), col("n_docs_touched"))
        .orderBy(col("threshold"))
    }),

    // Dedup-weighted token budget (t33): raw vs EFFECTIVE token counts
    // per source, where each document's tokens are down-weighted by its
    // d07 duplicate-cluster size (a doc duplicated 5× contributes its
    // tokens once, not five times). This is the number a training-data
    // buyer actually wants — "how many unique tokens do I have" — and it
    // composes two audited pipelines (d07's converged clusters, t01's
    // tokenization) joined on doc_id. Exact integer arithmetic: the
    // per-doc weight is (n_tokens · 1e6) DIV cluster_size, summed as
    // longs, so partitioning can never reorder float adds. Scale shape:
    // cluster sizes are one count over the (memoized) cluster table; the
    // weighting is a row-local join + one |sources|-group aggregate.
    "t33_dedup_weighted_tokens" -> ((s, dir) => {
      effTokensPerSource(s, dir)
        .select(col("source"), col("n_docs"), col("raw_tokens"),
          (col("eff_fp").cast("double") / 1e6).as("effective_tokens"),
          Agg.roundAt(col("eff_fp").cast("double") / 1e6 /
            col("raw_tokens"), 6).as("unique_fraction"))
        .orderBy(col("source"))
    }),

    // Persisted inverted-index lake table + term-pruned BM25 serving
    // (t32): t25 recomputes corpus statistics per query — the right
    // correctness baseline, the wrong operational shape. This builds the
    // index ONCE as lake artifacts (the q94/q95 pattern, lexical twin):
    // postings (term, doc_id, tf, dl) partitioned by a term-hash bucket,
    // per-term document frequencies, and the 1-row corpus stats — then
    // SERVES the query reading only index state: the postings scan is
    // pruned to the probe terms' hash-bucket partitions (bucket literals
    // computed at plan time) with the term filter pushed to parquet, df
    // and corpus stats broadcast from their own artifacts. At 100 TB the
    // build is one tokenize+aggregate ingest pass, and a query's cost is
    // the probe terms' posting rows — never a corpus rescan. Postings
    // carry dl (impact-style denormalization) so scoring joins nothing
    // doc-sized. Scoring math is t25's bit-for-bit (same fixed-point
    // idf/tf discipline), so the round trip build → partition → prune →
    // serve provably changes nothing: the oracle is t25's, computed
    // end-to-end from raw documents.
    "t32_inverted_index_lake" -> ((s, dir) => {
      import ExtensionQueries4.{Bm25Terms, Bm25K}
      val toks = split(lower(trim(col("text"))), "\\s+")
      val docs = t(s, dir, "documents")
      val base = docs.select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
          explode(col("tk")).as("term"))
      val postings = base
        .groupBy(col("term"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("pbucket",
          (ExtensionQueries3.md5Hash48(col("term")) % IndexBuckets).cast("int"))
      val termStats = postings.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val corpus = docs.select(size(toks).cast("long").as("dl"))
        .agg(sum(col("dl")).as("S"), count(lit(1)).as("N"))
      val root = graft.sources.Scratch.fresh(s,
        s"inv_index_${graft.sources.Scratch.dirTag(dir)}")
      postings.write.mode("overwrite").partitionBy("pbucket")
        .parquet(s"$root/postings")
      termStats.write.mode("overwrite").parquet(s"$root/terms")
      corpus.write.mode("overwrite").parquet(s"$root/corpus")
      // ---- serving: reads ONLY the index artifacts ----
      val probeBuckets = Bm25Terms
        .map(tm => (md5Hash48Lit(tm) % IndexBuckets).toInt).distinct
      val post = s.read.parquet(s"$root/postings")
        .filter(col("pbucket").isInCollection(probeBuckets) &&
          col("term").isInCollection(Bm25Terms))
      val dfs = broadcast(s.read.parquet(s"$root/terms")
        .filter(col("term").isInCollection(Bm25Terms)))
      val st = broadcast(s.read.parquet(s"$root/corpus"))
      post.join(dfs, Seq("term")).crossJoin(st)
        .withColumn("idf_fp",
          floor(log((col("N") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
            * 1e9).cast("long"))
        .withColumn("num", lit(44L) * col("tf") * col("S"))
        .withColumn("den", lit(20L) * col("tf") * col("S") +
          lit(6L) * col("S") + lit(18L) * col("dl") * col("N"))
        .withColumn("term_fp",
          floor(col("idf_fp").cast("double") / 1e9 *
            (col("num").cast("double") / col("den").cast("double")) * 1e6)
            .cast("long"))
        .groupBy(col("doc_id"))
        .agg(sum(col("term_fp")).as("score_fp"), count(lit(1)).as("n_hits"))
        .orderBy(col("score_fp").desc, col("doc_id").asc)
        .limit(Bm25K)
        .select(col("doc_id"), col("n_hits"), col("score_fp"),
          (col("score_fp").cast("double") / 1e6).as("score"))
    }),

    // PERSISTED column-statistics catalog (q96): the ANALYZE TABLE /
    // CBO-metadata operator — per audited column of `orders`: row count,
    // null count, min/max (typed: numeric and string lanes), and NDV
    // estimated from a persisted p=12 HLL register table. Built per
    // SHARD in one map-side-combinable pass each for stats and
    // registers, written shard-partitioned (the q94/q95 stored-artifact
    // pattern), merged on read by sum/min/max + register-max — so at
    // 100 TB a catalog refresh after an ingest appends only the new
    // shard's rows (≤ |cols|·(m + 1) rows per shard), the optimizer
    // reads only catalog state, and NDV composes across partitions,
    // days, and snapshots by the same register algebra q90 proved.
    // Continuous doubles hash a fixed-point canonicalization (cents) so
    // both engines hash identical strings. No ndv_true column (r16):
    // the served catalog is the production shape, the DuckDB oracle
    // still recomputes the FULL HLL estimate cross-engine, and the
    // exact-NDV accuracy grading (≤10%) lives in Round15Spec, which
    // pays the countDistinct itself — so neither catalog entry's bench
    // line prices a full dedup shuffle that exists only to grade.
    "q96_column_stats_catalog" -> ((s, dir) => {
      val root = graft.sources.Scratch.fresh(s,
        s"stats_catalog_${graft.sources.Scratch.dirTag(dir)}")
      statsCatalog(s, t(s, dir, "orders"),
        pmod(col("o_orderkey"), lit(ExtensionQueries7.SketchShards.toLong)),
        ordersAuditSpecs, root, withTruth = false)
    }),

    // Transactional catalog publish (q101): q96's two artifact tables —
    // the per-shard stats and the p=12 HLL NDV registers — committed as
    // ONE TxCatalog transaction and served from the catalog-pinned
    // snapshot, so a reader can never pair a new stats version with old
    // registers (an inconsistent pair would silently mis-estimate NDV
    // against the wrong row counts). The per-table Snapshots commits are
    // durable but catalog-invisible until the single catalog-manifest
    // publish — the same exclusive-publish primitive as q84, one level
    // up. The oracle is q96's end-to-end replay verbatim: the
    // transactional storage round trip must change nothing. Round14Spec
    // drives the isolation window itself (a reader inside the
    // between-commits hook still sees the old consistent pair).
    "q101_tx_stats_publish" -> ((s, dir) => {
      import graft.sources.TxCatalog
      val root = graft.sources.Scratch.fresh(s,
        s"tx_catalog_${graft.sources.Scratch.dirTag(dir)}")
      // the fused (tiny, |shards|·|cols|-row) aggregate is persisted
      // across the transaction's two member writes — nothing
      // |rows|×|cols|-sized is ever cached (statsCatalog's r15 rule),
      // and since r16 the whole entry is ONE streaming pass (no truth)
      val longF = catalogLongForm(t(s, dir, "orders"),
        pmod(col("o_orderkey"), lit(ExtensionQueries7.SketchShards.toLong)),
        ordersAuditSpecs)
      // shard-aligned layout before the persist — writeCatalogShards'
      // r21 rule: one file per shard dir instead of |tasks|·|shards|
      val fused = fusedCatalogAgg(longF)
        .repartition(ExtensionQueries7.SketchShards, col("shard")).persist()
      try {
        val (stats, regs) = catalogArtifacts(fused)
        TxCatalog.commitAll(s, s"$root/catalog",
          Seq(s"$root/stats" -> stats, s"$root/ndv_regs" -> regs))
        val snap = TxCatalog.snapshot(s, s"$root/catalog")
        // production shape (r16, the q96 note): no ndv_true pass
        serveCatalogFrom(None, snap(s"$root/stats"),
          snap(s"$root/ndv_regs"))
      } finally fused.unpersist()
    }),

    // Whole-lake statistics sweep (q99): q96's ANALYZE-TABLE catalog run
    // over EVERY registered table — one row per (table, column), 50
    // columns across the 10 fixture tables, each audited through the
    // same shard-partitioned stats + p=12 HLL register lake and merged
    // on read. This is the nightly ANALYZE job a CBO feeds on: per
    // table it is ONE map-side-combinable pass (the long form explodes
    // |rows| × |audited cols| INSIDE the scan stage — no join, no
    // repeated scans per column), per-shard artifacts mean tomorrow's
    // ingest appends only its shard's ≤ |cols|·(m+1) rows, and tables
    // audit independently so a 100 TB lake fans the sweep out one job
    // per table. Lane typing (incl. the 1e6 fixed-point double keys,
    // epoch-micro timestamps, and parquet-style truncated text min/max)
    // is [[LakeAudit]]'s single metadata table — the oracle's base CTEs
    // are generated from the same rows, so the engines cannot drift
    // column-by-column. Round14Spec proves the ≥2-table incremental
    // property: appending one table's new shard leaves every other
    // table's catalog rows byte-identical. The sweep runs `withTruth =
    // false` (r15): a production ANALYZE never pays an exact per-column
    // distinct count — the estimate-vs-truth grading lives where it is
    // cheap and still hash-verified, in q96/q101's single-table catalogs
    // and Round15Spec's per-table accuracy bound.
    "q99_lake_stats_sweep" -> ((s, dir) => {
      val root = graft.sources.Scratch.fresh(s,
        s"lake_catalog_${graft.sources.Scratch.dirTag(dir)}")
      // tables audit independently, so their build jobs (two artifact
      // writes each) are submitted CONCURRENTLY — on a shared cluster
      // the small dims fill the slots the big facts leave idle; serial
      // submission measured 30.8 s at sf0.1, the whole wall dominated
      // by 20 back-to-back write jobs
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.DurationInt
      Await.result(Future.sequence(LakeAudit.map {
        case (tbl, shardKey, cols) => Future {
          statsCatalog(s, t(s, dir, tbl), lakeShard(shardKey),
              cols.map(auditSpec), s"$root/$tbl", withTruth = false)
            .withColumn("table_name", lit(tbl))
        }
      }), 30.minutes).reduce(_.unionByName(_))
        .select(col("table_name"), col("col_name"), col("n_rows"),
          col("n_null"), col("ndv_est"),
          col("min_num"), col("max_num"), col("min_str"), col("max_str"))
        .orderBy(col("table_name"), col("col_name"))
    }),

    // INCREMENTAL whole-lake sweep (q104, r17): the nightly a deployment
    // actually runs. q99 re-analyzes every shard of every table per run
    // — the full-rebuild price, and it keeps pricing that (the d07/d22
    // split). This entry prices the incremental form: the prior
    // shard-partitioned catalog artifacts PRE-EXIST (the memoized
    // [[lakeCatalogPriorRoot]], pre-built untimed in Bench), today's
    // ingest delta ([[ingestDeltaPred]] — a strict subset of shard 0)
    // is aggregated ALONE through the same fused one-pass build, its
    // per-shard rows land beside the prior's (append-as-new-files:
    // the delta root is separate so re-runs are idempotent and the
    // prior stays immutable), and the serve-side merge — sum/min/max
    // for stats, register-max for NDV — makes the catalog BYTE-EQUAL
    // to q99's full rebuild (Round17Spec pins it; the oracle is q99's
    // verbatim). Per-ingest cost is O(Δ·|cols|) compute + |changed
    // shards| artifact files, never a corpus re-scan: at 100 TB the
    // sweep drops from re-reading the lake to reading the day's
    // ingest. Tables whose delta is empty (no ingest today) write an
    // empty artifact and serve unchanged — the explicit-schema read
    // covers the no-files case.
    "q104_incremental_lake_sweep" -> ((s, dir) => {
      val prior = lakeCatalogPriorRoot(s, dir)
      val deltaRoot = graft.sources.Scratch.fresh(s,
        s"lake_catalog_delta_${graft.sources.Scratch.dirTag(dir)}")
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.DurationInt
      Await.result(Future.sequence(LakeAudit.map {
        case (tbl, shardKey, cols) => Future {
          writeCatalogShards(
            catalogLongForm(t(s, dir, tbl).filter(ingestDeltaPred(shardKey)),
              lakeShard(shardKey), cols.map(auditSpec)),
            s"$deltaRoot/$tbl", "overwrite")
          // explicit schemas on BOTH sides: either root may be file-less
          // (no ingest today / no prior rows), where inference throws
          val pStats = s.read.schema(statsArtifactSchema)
            .parquet(s"$prior/$tbl/stats")
          val pRegs = s.read.schema(regsArtifactSchema)
            .parquet(s"$prior/$tbl/ndv_regs")
          val dStats = s.read.schema(statsArtifactSchema)
            .parquet(s"$deltaRoot/$tbl/stats")
          val dRegs = s.read.schema(regsArtifactSchema)
            .parquet(s"$deltaRoot/$tbl/ndv_regs")
          serveCatalogFrom(None, pStats.unionByName(dStats),
              pRegs.unionByName(dRegs))
            .withColumn("table_name", lit(tbl))
        }
      }), 30.minutes).reduce(_.unionByName(_))
        .select(col("table_name"), col("col_name"), col("n_rows"),
          col("n_null"), col("ndv_est"),
          col("min_num"), col("max_num"), col("min_str"), col("max_str"))
        .orderBy(col("table_name"), col("col_name"))
    }),

    // Query-BY-DOCUMENT hybrid fusion (t38): s16 fuses ONE term
    // query's BM25 ranking with ONE vector query's top-k — the search
    // box. This is the other hybrid serving shape, related-items /
    // recommendation: for EVERY query document at once, fuse its
    // lexical neighbors (t19's idf-weighted inverted-index doc
    // similarity) with its embedding neighbors (s01's exact cosine
    // top-k) — a per-query full-outer RRF over multi-query rankings,
    // which s16's single-query form cannot express. Same rank-only
    // discipline (Σ 1e9 DIV (60+rank) per arm — exact integer
    // arithmetic, no cross-family score calibration), and each arm
    // catches what the other misses: shared rare terms vs semantic
    // similarity with no term overlap. Scale shape: both arms are
    // their registered scale-shaped plans; the fusion is a full-outer
    // join on (query, doc) over k-per-query rows.
    "t38_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // the shared RRF constant — s16 and t38 must fuse with the same
      // k0 or the two hybrid shapes silently diverge
      val rrf = expr(
        s"CAST(1000000000 DIV (${ExtensionQueries4.RrfK} + __r) AS BIGINT)")
      val lex = ExtensionQueries3.all("t19_doc_similarity")(s, dir)
        .filter(col("doc_id") <= 2)
        .select(col("doc_id").as("query_id"), col("neighbor").as("doc"),
          col("rank").as("__r"))
        .withColumn("lex_fp", rrf)
        .select(col("query_id"), col("doc"), col("lex_fp"))
      val vec = ExtensionQueries.all("s01_knn_brute")(s, dir)
        .select(col("query_id"), col("vec_id").as("doc"),
          col("rank").as("__r"))
        .withColumn("vec_fp", rrf)
        .select(col("query_id"), col("doc"), col("vec_fp"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf_fp").desc, col("doc").asc)
      lex.join(vec, Seq("query_id", "doc"), "full_outer")
        .withColumn("rrf_fp",
          coalesce(col("lex_fp"), lit(0L)) + coalesce(col("vec_fp"), lit(0L)))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc").as("doc_id"),
          col("rrf_fp"), col("lex_fp").isNotNull.as("in_lex"),
          col("vec_fp").isNotNull.as("in_vec"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // STORED incremental view maintenance (q103): q51 proves the
    // algebra (decimal partials re-aggregate exactly); this closes the
    // LAKE loop around it — the derived view lives as a versioned
    // Snapshots table and is maintained from the source table's OWN
    // CDC feed. An orders snapshot table takes two append commits; the
    // view (per-status count + exact-decimal revenue) is built ONCE
    // from v1, then MAINTAINED by aggregating only readChanges(v1→v2)
    // — O(delta) — merging into the stored view by key (additive
    // aggregates compose; a non-additive distinct would swap in q96's
    // register trick), and commitReplace-publishing the refreshed view
    // as its own atomic version. The oracle is the full GROUP BY over
    // all of orders verbatim: maintenance must be indistinguishable
    // from recomputation. At 100 TB this is a nightly fact re-agg
    // replaced by folding a day's partition into a keys-sized view.
    "q103_incremental_agg" -> ((s, dir) => {
      import graft.sources.{Scratch, Snapshots}
      val o = t(s, dir, "orders")
      val root = Scratch.fresh(s,
        s"ivm_agg_${graft.sources.Scratch.dirTag(dir)}")
      val (tbl, view) = (s"$root/orders", s"$root/view")
      def agg(df: DataFrame): DataFrame =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
            Agg.decPartialSum(col("o_totalprice")).as("rev_dec"))
      val v1 = Snapshots.commit(s, tbl, o.filter(col("o_orderkey") % 3 =!= 0))
      Snapshots.commit(s, view, agg(Snapshots.readAsOf(s, tbl, v1)))
      val v2 = Snapshots.commit(s, tbl, o.filter(col("o_orderkey") % 3 === 0))
      // maintenance: aggregate ONLY the delta, merge into the stored view
      val delta = agg(Snapshots.readChanges(s, tbl, v1, v2))
      val merged = Snapshots.readLatest(s, view)
        .unionByName(delta)
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("n_orders")).as("n_orders"),
          sum(col("rev_dec")).as("rev_dec"))
      Snapshots.commitReplace(s, view, merged)
      Snapshots.readLatest(s, view)
        .select(col("o_orderstatus"), col("n_orders"),
          Agg.roundAt(col("rev_dec").cast("double"), 2).as("revenue"))
        .orderBy(col("o_orderstatus"))
    }),

    // Sketch set-DIFFERENCE (q102): the a-not-b operation that completes
    // q87's theta-sketch algebra (union, intersection, Jaccard — and now
    // difference, the "viewers who never purchased" audience a targeting
    // pipeline actually exports). Same mechanics as q87: θ = min(θa,
    // θb), both bottom-k samples re-trimmed below θ, est = |sample
    // difference| · 2^48/θ, exact regime when both segments fit their
    // sketches. Deterministic for q87's reason: bottom-k is a pure
    // function of the distinct hash set, so even the approximate
    // estimate is oracle-replayable bit-for-bit. Scale shape: each
    // segment folds map-side to one ≤ k-long row; the difference is
    // array math on two bounded rows — composable across days from the
    // q98 stored sample lake with no re-scan.
    "q102_sketch_difference" -> ((s, dir) => {
      import s.implicits._
      val k = ExtensionQueries3.KmvK
      val th48 = math.pow(2, 48)
      def seg(tpe: String) =
        t(s, dir, "events").filter(col("event_type") === tpe)
          .select(ExtensionQueries3.md5Hash48(col("user_id")).as("h")).as[Long]
          .select(graft.operators.Kmv.keep(k).toColumn)
      val a = seg("view").toDF("ha")
      val b = seg("purchase").toDF("hb")
      val thA = when(size(col("ha")) >= k, element_at(col("ha"), k))
        .otherwise(lit(1L << 48))
      val thB = when(size(col("hb")) >= k, element_at(col("hb"), k))
        .otherwise(lit(1L << 48))
      a.crossJoin(broadcast(b))
        .withColumn("theta", least(thA, thB))
        .withColumn("sa", filter(col("ha"), h => h < col("theta")))
        .withColumn("sb", filter(col("hb"), h => h < col("theta")))
        .withColumn("n_anotb", size(array_except(col("sa"), col("sb"))).cast("long"))
        .withColumn("n_bnota", size(array_except(col("sb"), col("sa"))).cast("long"))
        .select(lit(k).as("k"), col("theta"), col("n_anotb"), col("n_bnota"),
          Agg.roundAt(col("n_anotb").cast("double") * lit(th48)
            / col("theta").cast("double"), 4).as("est_anotb"),
          Agg.roundAt(col("n_bnota").cast("double") * lit(th48)
            / col("theta").cast("double"), 4).as("est_bnota"))
    }),

    // Graph-walk ANN serving (s36): the query path the capped kNN graph
    // (s31) exists to enable — beam search from fixed entry points,
    // expanding through the graph's directed top-3 edges, re-ranking a
    // bounded beam per hop. This completes the graph-ANN family: s13/s31
    // BUILD the graph, s36 SERVES from it, and s22's metrics table
    // grades the walk's recall beside every other index (graph_walk
    // row). Per-query work is O(beam · degree · hops) — independent of
    // corpus size, which is graph ANN's whole value at 100 TB — and the
    // fixed hop count makes the plan static (no data-dependent
    // iteration), so the oracle replays it as an unrolled CTE chain.
    "s36_graph_walk_ann" -> ((s, dir) => graphWalk(s, dir)),

    // IVF-routed graph walk (s37): s36 with the COARSE layer — each
    // query enters the walk from its own probe cells' most-central
    // capped members instead of fixed global entries (see
    // [[graphWalkIvf]]). This is the two-layer serving shape
    // hierarchical graph ANN (HNSW's upper layers, DiskANN's medoid
    // routing) exists for: entry cost is |q|·k centroid scores — the
    // IVF routing the engine already pays in s04/s05 — and the walk
    // starts inside the query's own region of the graph. Both walks
    // are priced against each other and against the stored graph in
    // s22's graded table; on THIS fixture's isotropic embeddings (max
    // pairwise cosine ~0.21 — no cluster structure to navigate) the
    // two land near-identical recall, which is itself the honest
    // read-off: entry locality pays on clustered real-world vectors,
    // and the constant per-query cost is the design point either way.
    "s37_graph_walk_ivf" -> ((s, dir) => graphWalkIvf(s, dir)),

    // Bidirectional graph walk (s38, r15): s36 over the SYMMETRIZED
    // capped graph — see [[graphWalkSym]]. The round-15 clustered-
    // geometry grading (Round15Spec) showed the directed walk's recall
    // saturating below 1.0 with extra hops buying nothing: top-R
    // out-edges leave anti-hub points with no IN-edges unreachable.
    // Keeping each link traversable both ways (the NSW/HNSW
    // prescription) is a projection of the stored edge set, not a new
    // corpus pass, and s22's graded table prices the lift beside
    // graph_walk at identical beam/hops.
    "s38_graph_walk_sym" -> ((s, dir) => graphWalkSym(s, dir)),

    // Hierarchical bidirectional walk (s39, r18): s37's IVF-routed
    // entries over s38's symmetrized edges — the composition, added
    // after grading the family at a CLUSTERED decade (the r18 recall
    // table in PLANS.md: 20k vectors, 10 planted clusters) showed
    // neither half suffices alone: query-aware entries on the directed
    // graph land in the right region then strand on anti-hub
    // reachability (recall@5 0.02 at purity 0.80), symmetric edges
    // from blind fixed entries read 0.18, the composition 0.57 at
    // identical beam/hops. This is the configuration HNSW actually
    // ships (upper-layer routing + bidirectional links) — see
    // [[graphWalkIvfSym]].
    "s39_graph_walk_ivf_sym" -> ((s, dir) => graphWalkIvfSym(s, dir)),

    // Auto-salted join (q100): q26 applies a FIXED salt factor; this
    // closes the q97 → q26 loop — the factor is chosen by the skew
    // diagnosis itself (JoinOps.skewSaltFactor, the exact integer
    // ⌈max·n_keys/total⌉ q97 reports), so the same code self-tunes from
    // flat (factor 1 → plain join, no salt column in the plan) to
    // pathological (capped fan-out) key distributions. The diagnosis is
    // a 1-row three-long aggregate — the only driver round trip, and at
    // 100 TB it reads the PERSISTED skew report instead. The oracle is
    // the unsalted join verbatim (q26's): salting is a pure plan
    // rewrite, whatever factor the diagnosis picks.
    "q100_autosalted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").withColumnRenamed("l_suppkey", "suppkey")
      val sup = t(s, dir, "supplier").withColumnRenamed("s_suppkey", "suppkey")
      graft.operators.JoinOps.autoSaltedJoin(li, sup, Seq("suppkey"),
          saltFrom = col("l_orderkey") * 8 + col("l_linenumber"))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          Agg.roundAt(Agg.decSum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("s_nationkey"))
    }),

    // Training-mixture design table (t34): the decision layer on top of
    // t33's effective-token budget — for each temperature α in the
    // closed-form grid {0.5, 1.0}, the per-source sampling weight
    // wᵢ = nᵢ^α / Σ nⱼ^α over EFFECTIVE (dedup-weighted) tokens, the
    // expected token draw under the fixed [[MixTokenBudget]], and the
    // implied epochs over each source (the >1-epoch repetition warning a
    // mixture designer checks). α = 1.0 is proportional sampling;
    // α = 0.5 is the square-root temperature that upweights small
    // sources — the Pile/mT5-style knob. Float discipline: n^0.5 is
    // IEEE-correctly-rounded sqrt (no libm bet), fixed-pointed to 1e6
    // BEFORE the per-α long sums so partitioning can never reorder
    // double adds; every division happens once, in the same operand
    // order in both engines. Scale shape: rides d07's memoized clusters
    // + one |sources|-row aggregate; the α grid is a bounded literal
    // fan-out of an already-bounded table.
    "t34_mixture_weights" -> ((s, dir) => {
      val eff = effTokensPerSource(s, dir).select(col("source"), col("eff_fp"))
      val byAlpha = eff.select(col("source"), col("eff_fp"),
          explode(array(
            struct(lit(0.5).as("alpha"),
              floor(sqrt(col("eff_fp").cast("double") / 1e6) * 1e6)
                .cast("long").as("wfp")),
            struct(lit(1.0).as("alpha"), col("eff_fp").as("wfp")))).as("a"))
        .select(col("source"), col("eff_fp"),
          col("a.alpha").as("alpha"), col("a.wfp").as("wfp"))
      val totals = byAlpha.groupBy(col("alpha")).agg(sum(col("wfp")).as("wtot"))
      byAlpha.join(broadcast(totals), Seq("alpha"))
        .withColumn("w_raw", col("wfp").cast("double") / col("wtot").cast("double"))
        .select(col("alpha"), col("source"),
          (col("eff_fp").cast("double") / 1e6).as("effective_tokens"),
          Agg.roundAt(col("w_raw"), 6).as("weight"),
          Agg.roundAt(col("w_raw") * MixTokenBudget, 3).as("expected_tokens"),
          Agg.roundAt(col("w_raw") * MixTokenBudget /
            (col("eff_fp").cast("double") / 1e6), 6).as("epochs"))
        .orderBy(col("alpha"), col("source"))
    }),

    // CUPED variance-reduced A/B analysis (e19): the third member of the
    // experimentation family — e17 tests a continuous metric, e18 a
    // conversion rate, e19 applies the industry-standard CUPED
    // adjustment: each user's post-period metric Y is corrected by their
    // PRE-period covariate X (ycup = y − θ(x − x̄), θ = cov(X,Y)/var(X)
    // pooled), which provably never increases in-sample variance (the
    // OLS residual property) and so shrinks the experiment's detectable
    // effect size. Float discipline: per-user X/Y are exact decimal sums
    // fixed-pointed to 1e6 longs; cross moments are exact big-integer
    // products (decimal/HUGEINT) cast to double once; θ and the
    // adjustment are the identical op-for-op expression in both engines;
    // adjusted values re-fixed-pointed (floor + 0.5) BEFORE the final
    // sums so no engine ever adds raw doubles in aggregate order. Scale
    // shape: one events scan → per-user conditional sums (bounded state
    // per user), a 1-row moment aggregate broadcast back (the q07 lazy
    // scalar pattern), a row-local adjustment, and bounded finals.
    "e19_cuped" -> ((s, dir) => {
      // per-row micro-units BEFORE the sum: each row's value has a ≤6-dp
      // decimal image, so summing the per-row longs equals fixed-pointing
      // the decimal sum — and neither engine ever widens a decimal
      // accumulator past its dialect's cap
      def fpSum(cond: Column): Column =
        sum((when(cond, col("value")).otherwise(0.0).cast("decimal(30,6)")
          * 1000000).cast("long"))
      // multi-consumer note: mom, adj, byVar, and varG each re-evaluate
      // this subtree (the events scan + per-user shuffle). Measured both
      // ways at sf0.1: persist() cost MORE than the pipelined recompute
      // (1.7 → 3.1 s min2warm — columnar-cache materialization beats a
      // cheap scan only when the scan dominates), so the fixture shape
      // stays unpersisted; a 100 TB run, where the events scan IS the
      // dominant cost, would persist or pre-stage this table.
      val perUser = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
        .groupBy(col("user_id"))
        .agg(fpSum(col("us") < CupedSplitUs).as("x_fp"),
          fpSum(col("us") >= CupedSplitUs).as("y_fp"))
        .withColumn("variant", (col("user_id") % 2).cast("int"))
      def bigSq(a: Column, b: Column): Column =
        a.cast("decimal(20,0)") * b.cast("decimal(20,0)")
      // θ guard: a constant pre-period covariate (var(x) = 0 — e.g. every
      // event after the split) makes cov/var 0/0; CUPED then degenerates
      // to θ = 0 (no adjustment) instead of NaN-poisoning every adjusted
      // column (Spark would floor NaN to 0L silently; DuckDB would error)
      val mom = perUser.agg(count(lit(1)).as("n"),
          sum(col("x_fp")).as("sx"), sum(col("y_fp")).as("sy"),
          sum(bigSq(col("x_fp"), col("y_fp"))).cast("double").as("sxy"),
          sum(bigSq(col("x_fp"), col("x_fp"))).cast("double").as("sxx"))
        .withColumn("var_num",
          col("sxx") - col("sx").cast("double") * col("sx").cast("double") / col("n"))
        .withColumn("theta", when(col("var_num") === 0.0, lit(0.0)).otherwise(
          (col("sxy") - col("sx").cast("double") * col("sy").cast("double") / col("n")) /
            col("var_num")))
        .withColumn("mean_x", col("sx").cast("double") / col("n"))
      val adj = perUser
        .crossJoin(broadcast(mom.select(col("theta"), col("mean_x"))))
        .withColumn("ycup_fp",
          floor(col("y_fp").cast("double") -
            col("theta") * (col("x_fp").cast("double") - col("mean_x")) + 0.5)
            .cast("long"))
      val byVar = adj.groupBy(col("variant"))
        .agg(count(lit(1)).as("n_v"), sum(col("y_fp")).as("sy_v"),
          sum(col("ycup_fp")).as("syc_v"))
        .withColumn("mean_post", col("sy_v").cast("double") / 1e6 / col("n_v"))
        .withColumn("mean_cuped", col("syc_v").cast("double") / 1e6 / col("n_v"))
      val a = byVar.filter(col("variant") === 0)
        .select(col("n_v").as("n_a"), col("mean_post").as("mpa"),
          col("mean_cuped").as("mca"))
      val b = byVar.filter(col("variant") === 1)
        .select(col("n_v").as("n_b"), col("mean_post").as("mpb"),
          col("mean_cuped").as("mcb"))
      val varG = adj.agg(count(lit(1)).as("n"),
          sum(col("y_fp")).as("sy"),
          sum(bigSq(col("y_fp"), col("y_fp"))).cast("double").as("syy"),
          sum(col("ycup_fp")).as("syc"),
          sum(bigSq(col("ycup_fp"), col("ycup_fp"))).cast("double").as("sycc"))
        .withColumn("var_post",
          (col("syy") - col("sy").cast("double") * col("sy").cast("double") / col("n")) /
            (col("n") - 1))
        .withColumn("var_cuped",
          (col("sycc") - col("syc").cast("double") * col("syc").cast("double") / col("n")) /
            (col("n") - 1))
        .withColumn("var_reduction", lit(1.0) - col("var_cuped") / col("var_post"))
      a.crossJoin(b)
        .crossJoin(broadcast(mom.select(col("theta"))))
        .crossJoin(broadcast(varG.select(col("var_reduction"))))
        .select(col("n_a"), col("n_b"),
          Agg.roundAt(col("mpa"), 6).as("mean_post_a"),
          Agg.roundAt(col("mpb"), 6).as("mean_post_b"),
          Agg.roundAt(col("mca"), 6).as("mean_cuped_a"),
          Agg.roundAt(col("mcb"), 6).as("mean_cuped_b"),
          Agg.roundAt(col("mpb") - col("mpa"), 6).as("post_diff"),
          Agg.roundAt(col("mcb") - col("mca"), 6).as("cuped_diff"),
          Agg.roundAt(col("theta"), 6).as("theta"),
          Agg.roundAt(col("var_reduction"), 6).as("var_reduction"))
    }),

    // Join-skew diagnosis report (q97): the decision table BEHIND q26's
    // salted join — for each candidate join key of the events fact, the
    // per-key group-size distribution (exact interpolated p50/p99, the
    // q28 discipline), the max/mean skew ratio, and an integer salt
    // factor ⌈max·n/total⌉ (how many salt buckets flatten the heaviest
    // key to the mean) computed in exact integer arithmetic. At 100 TB
    // this is the pre-flight a pipeline runs BEFORE committing a
    // shuffle: the per-key sizes are one map-side-combinable aggregate
    // per key, the report is a 1-row reduction of that bounded table —
    // and the skew_ratio/salt_factor columns are exactly what AQE's
    // skew-join threshold and q26's salt fan-out consume. Scale shape:
    // one events pass per candidate key, nothing key-cardinality-sized
    // ever leaves the aggregate.
    "q97_join_skew_report" -> ((s, dir) => {
      def keyReport(key: String): DataFrame =
        t(s, dir, "events").groupBy(col(key)).agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_keys"), sum(col("sz")).as("total_rows"),
            max(col("sz")).as("max_rows"),
            expr("percentile(sz, 0.5)").as("p50_rows"),
            expr("percentile(sz, 0.99)").as("p99_rows"))
          .select(lit(key).as("join_key"), col("n_keys"), col("total_rows"),
            Agg.roundAt(col("total_rows").cast("double") / col("n_keys"), 6)
              .as("mean_rows"),
            col("max_rows"), col("p50_rows"), col("p99_rows"),
            Agg.roundAt(col("max_rows").cast("double") /
              (col("total_rows").cast("double") / col("n_keys")), 6)
              .as("skew_ratio"),
            expr("(max_rows * n_keys + total_rows - 1) DIV total_rows")
              .as("salt_factor"))
      keyReport("user_id").unionByName(keyReport("event_type"))
        .orderBy(col("join_key"))
    }),

    // Eval-contamination report (t35): the EVAL-side integrity audit
    // beside d10's train-side filter — per eval document (the doc_id %
    // 97 holdout d10 defines), its distinct 3-gram shingle count, how
    // many of those shingles leak from ANY training document, how many
    // distinct training documents touch it, the contamination fraction,
    // and a verdict bucket (clean < 0.2 ≤ partial < 0.8 ≤ burned,
    // gated on the ROUNDED fraction so both engines compare identical
    // values). d10 answers "what do I drop from train"; t35 answers
    // "which evals are still trustworthy — and how badly burned are the
    // rest", the report an eval-suite owner actually reads. Scale
    // shape: ONE shingle pass, and the eval↔train join carries NO
    // broadcast hint (r15 — the r14 hint forced the eval side into
    // every executor, and on THIS fixture the holdout is doc_id % 97,
    // ~1% of the corpus: corpus-proportional, an OOM at 100 TB, not a
    // plan choice). A real eval suite is constant-size and AQE will
    // broadcast it below spark.sql.autoBroadcastJoinThreshold on its
    // MEASURED size; above it the planner's shuffled join is the
    // correct plan, not a failure. The per-eval-doc aggregate stays
    // bounded by the holdout size either way.
    "t35_contamination_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // row-local shingle COUNT per eval doc (no explode): an eval doc
      // with < 3 tokens has an empty shingle set but must still get its
      // report row (n_shingles 0, verdict clean) — absence would be
      // indistinguishable from "not an eval doc"
      val totals = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"),
          size(graft.functions.TextHash.shingleHashes(col("text"), 3))
            .cast("long").as("n_shingles"))
      val shingled = docs.select(col("doc_id"),
        explode(graft.functions.TextHash.shingleHashes(col("text"), 3)).as("sh"))
      val evalSh = shingled.filter(col("doc_id") % 97 === 0)
      val trainSh = shingled.filter(col("doc_id") % 97 =!= 0)
        .select(col("sh"), col("doc_id").as("train_doc"))
      val hits = trainSh.join(evalSh, Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("sh")).as("n_contaminated"),
          countDistinct(col("train_doc")).as("n_train_docs"))
      totals.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
        .withColumn("contamination", when(col("n_shingles") === 0, lit(0.0))
          .otherwise(Agg.roundAt(
            col("n_contaminated").cast("double") / col("n_shingles"), 6)))
        .withColumn("verdict",
          when(col("contamination") >= 0.8, "burned")
            .when(col("contamination") >= 0.2, "partial")
            .otherwise("clean"))
        .orderBy(col("doc_id"))
    }),

    // Incremental cluster MAINTENANCE (d22): d17 generates a new ingest's
    // candidate pairs without re-scanning history; this closes the loop —
    // it updates the CONVERGED CLUSTER TABLE itself. SERVING FORM (r14):
    // the prior converged assignment and the band-fingerprint index are
    // read from persisted Snapshots tables (the s24/s30 stored-artifact
    // pattern, built once per session by [[d22PriorRoot]] — in a
    // deployment, by yesterday's build job), so this query prices ONLY
    // the per-ingest maintenance pass: band the delta, join it against
    // the stored index, propagate over { stars ∪ delta edges }. The
    // prior assignment enters as star edges (doc → its stored
    // representative): stars preserve exactly the old components'
    // connectivity, so the propagation provably equals a full
    // re-clustering of the whole corpus — including the hard case where
    // one new doc BRIDGES two previously-separate old clusters
    // (Round13cSpec pins it on a constructed graph, and pins this
    // stored-prior result row-for-row against d07's full recompute) —
    // while the old×old pair generation (the quadratic-ish LSH join
    // over 100 TB of history) never runs again. min-label invariant:
    // the stored label IS the old component's min id, so star
    // propagation lands on the same canonical representatives as the
    // full run. The oracle is d07's full-recompute SQL verbatim —
    // equality is the contract.
    "d22_incremental_clusters" -> ((s, dir) => {
      import graft.operators.Dedup
      val root = d22PriorRoot(s, dir)
      val prior = graft.sources.Snapshots.readLatest(s, s"$root/assignments")
      val index = graft.sources.Snapshots.readLatest(s, s"$root/band_index")
      val feats = ExtensionQueries.docFeatures(s, dir)
      val delta = feats.filter(ExtensionQueries.ingestDelta(col("id")))
      val stars = prior.select(col("id").as("doc_a"), col("label").as("doc_b"))
      // delta-touching edges only; history enters pre-banded from the
      // STORED index (d17's contract — corpus text is never re-hashed)
      val newPairs = Dedup.incrementalCandidatePairs(index, delta,
          bands = 4, rows = 3)
        .select(col("doc_new").as("doc_a"), col("doc_matched").as("doc_b"))
      Dedup.labelClusters(feats.select("id"), stars.unionByName(newPairs),
          ExtensionQueries.ClusterMaxRounds)
        .select(col("id").as("doc_id"), col("label").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // DSIR-style importance selection (t36): score every TRAIN document
    // by the hashed-n-gram log-likelihood ratio between the TARGET
    // distribution (the doc_id % 97 eval holdout — "data that looks like
    // what I want more of") and the corpus distribution, then keep docs
    // at or above the exact 75th-percentile score — the importance-
    // resampling data-selection recipe of Xie et al. 2023. Per-bucket
    // Laplace-smoothed weight w(b) = ln(c_t(b)+1) − ln(c_c(b)+1), plus
    // the per-token global term ln(C+B) − ln(T+B); every ln argument is
    // a positive integer, so [[graft.functions.DetLn]] makes both
    // engines' logs bit-identical by construction (the t28 rule), the
    // weights are fixed-pointed to 1e6 longs, and each doc's score is an
    // exact integer dot product — no float aggregation order anywhere.
    // Scale shape: two bounded count tables (≤ B rows) broadcast into a
    // one-pass per-(doc, bucket) aggregate; the selection threshold is
    // one 1-row exact-percentile aggregate broadcast back (at 100 TB
    // swap in q80's mergeable quantile sketch for the same join shape).
    "t36_dsir_selection" -> ((s, dir) => {
      import graft.functions.DetLn.detLn
      val B = DsirBuckets
      // multi-consumer note: tCnt, cCnt, and docB each re-run this
      // tokenize+hash pass. Measured both ways at sf0.1: caching the
      // exploded token rows cost more than the three pipelined re-scans
      // (3.9 → 5.2 s min2warm — the explode output is the largest
      // relation in the query and materializing it defeats map-side
      // combine), so it stays unpersisted here; at 100 TB the count
      // tables would be built once at ingest (the q94/q95 stored-sketch
      // pattern) rather than cached in-session.
      // r22: r21's spreadToCores here reverted with the other three sites
      // — the spread change was a net loss on the driver's full 32-core
      // bench and shuffled raw document text (the exchange moved the heavy
      // column, not the narrow projection; guide §2.3).
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.operators.TextOps.tokens(col("text"))).as("term"))
        .withColumn("b", ExtensionQueries3.md5Hash48(col("term")) % B)
      val isEval = col("doc_id") % 97 === 0
      val tCnt = toks.filter(isEval).groupBy(col("b"))
        .agg(count(lit(1)).as("ct"))
      val cCnt = toks.filter(!isEval).groupBy(col("b"))
        .agg(count(lit(1)).as("cc"))
      // per-bucket fixed-point weights: corpus buckets left-join target
      val wtab = cCnt.join(tCnt, Seq("b"), "left")
        .select(col("b"), floor((detLn(coalesce(col("ct"), lit(0L)) + 1) -
          detLn(col("cc") + 1)) * 1e6).cast("long").as("w_fp"))
      // global per-token term from the two exact totals
      val gfp = tCnt.agg(sum(col("ct")).as("tt")).crossJoin(
          cCnt.agg(sum(col("cc")).as("cs")))
        .select(floor((detLn(col("cs") + B) - detLn(col("tt") + B)) * 1e6)
          .cast("long").as("g_fp"))
      val docB = toks.filter(!isEval).groupBy(col("doc_id"), col("b"))
        .agg(count(lit(1)).as("cd"))
      val scored = docB.join(broadcast(wtab), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cd")).as("n_tokens"),
          sum(col("cd") * col("w_fp")).as("dot_fp"))
        .crossJoin(broadcast(gfp))
        .select(col("doc_id"), col("n_tokens"),
          (col("dot_fp") + col("n_tokens") * col("g_fp")).as("score_fp"))
      val thr = scored.agg(
        expr(s"percentile(score_fp, $DsirKeepQuantile)").as("p_sel"))
      scored.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_tokens"), col("score_fp"),
          Agg.roundAt(col("score_fp").cast("double") / 1e6, 6).as("score"),
          (col("score_fp") >= col("p_sel")).as("selected"))
        .orderBy(col("doc_id"))
    }),

    // Prototype-based data pruning (s34): the embedding-geometry member
    // of the selection trio (t36 selects by distribution match, the
    // d-family by duplication; s34 by PROTOTYPICALITY — Sorscher et al.
    // 2022, "Beyond neural scaling laws"): cluster the corpus with s33's
    // sample-trained converged k-means, measure every vector's cosine to
    // its OWN centroid, and keep the HARD half of each cluster (cosine
    // at or below the cell's exact median) — pruning the prototypical
    // easy examples is the data-diet that beats random pruning at scale.
    // Scale shape: constant-cost training (fixed sample), ONE row-local
    // full-corpus assignment against broadcast literals, one per-cell
    // exact-percentile aggregate (k rows) broadcast back; cosine values
    // are the same arithmetic s05's oracle replays bit-for-bit.
    "s34_prototype_pruning" -> ((s, dir) => {
      val e = ExtensionQueries.embeddingsD(s, dir)
        .select(col("vec_id"), col("v"))
      val samp = e.withColumn("hrank",
          pmod(pmod(col("vec_id"), lit(1000003L)) * lit(427799L), lit(1000003L)))
        .orderBy(col("hrank"), col("vec_id")).limit(KmSampleN)
        .select(col("vec_id"), col("v"))
      val (cent, _, _) = Kmeans.fitConverged(samp,
        k = ExtensionQueries.IvfCells, maxIters = KmConvMaxIters)
      val cents = cent.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1)))
        .sortBy(_._1).toSeq
      // persisted narrow (vec_id, cell, cos) — the per-cell median and the
      // final projection both read it; without the persist the corpus
      // assignment+cosine pass would run twice
      val withCos = Kmeans.assignLiteral(e, cents)
        .join(broadcast(cent), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          graft.operators.VectorOps.cosineFast(col("v"), col("cv")).as("cos"))
        .persist()
      val thr = withCos.groupBy(col("cell"))
        .agg(expr("percentile(cos, 0.5)").as("cell_median"))
      withCos.join(broadcast(thr), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          Agg.roundAt(col("cos"), 6).as("cos_to_centroid"),
          (col("cos") <= col("cell_median")).as("keep"))
        .orderBy(col("vec_id"))
    }),

    // Sample-ratio-mismatch check (e20): the guardrail an experimentation
    // platform evaluates BEFORE trusting any readout (e17/e18/e19) — a
    // one-degree-of-freedom chi-square that the user-hash split actually
    // delivered its designed 50/50 allocation: χ² = (n_a − n_b)²/(n_a +
    // n_b), flagged at the 0.001 significance bar (10.828) the industry
    // uses for SRM (an unhealthy split invalidates the experiment
    // regardless of its p-values). Exact integer counts; one double
    // division; the flag gates on the ROUNDED statistic. Scale shape:
    // one distinct-users aggregate → a 2-row group → a 1-row report.
    "e20_srm_check" -> ((s, dir) => {
      // one unconditional 1-row aggregate (NOT a join of per-variant
      // rows): an all-one-variant split — the maximal mismatch this
      // guardrail exists to catch — must still produce its report row
      t(s, dir, "events")
        .select(col("user_id")).distinct()
        .agg(sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("user_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_b"))
        .withColumn("chi2", Agg.roundAt(
          ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))).cast("double") /
            (col("n_a") + col("n_b")), 6))
        .select(col("n_a"), col("n_b"),
          Agg.roundAt(col("n_a").cast("double") / (col("n_a") + col("n_b")), 6)
            .as("ratio_a"),
          col("chi2"), (col("chi2") >= 10.828).as("srm_detected"))
    }),

    // PERSISTED KMV sample lake table (q98): the last member of the
    // persisted-sketch family (q94 HLL registers, q95 CMS grids, q96
    // catalog, t32 postings) — per (shard, segment), the bottom-k hash
    // SAMPLE itself is written shard-partitioned to the lake and merged
    // on read by union-and-trim. Persisting the SAMPLE (not just the
    // count) is what theta-sketch warehouses store: any later audience
    // arithmetic — q87's union/intersection/Jaccard between any stored
    // segments, across days or snapshots — is array math on ≤ k longs
    // per segment, never a re-scan. The shard layer is algebraically
    // transparent (bottom-k of a union == trimmed union of bottom-ks: a
    // pure function of the distinct hash set), so the oracle computes
    // the global sample directly from raw events. true_distinct rides
    // along as the accuracy column; this fixture sits in the exact
    // regime (n_kept < k), where the estimate IS the exact count.
    "q98_kmv_sample_lake" -> ((s, dir) => {
      val k = ExtensionQueries3.KmvK
      val kmvKeepU = udaf(graft.operators.Kmv.keep(k),
        org.apache.spark.sql.Encoders.scalaLong)
      val segHash = t(s, dir, "events")
        .select(col("event_type").as("seg"),
          ExtensionQueries3.md5Hash48(col("user_id")).as("h"))
        .withColumn("shard",
          pmod(col("h"), lit(ExtensionQueries7.SketchShards.toLong)).cast("int"))
      val shardSamples = segHash.groupBy(col("shard"), col("seg"))
        .agg(kmvKeepU(col("h")).as("hs"))
      val sink = graft.sources.Scratch.fresh(s,
        s"kmv_samples_${graft.sources.Scratch.dirTag(dir)}")
      shardSamples.write.mode("overwrite").partitionBy("shard").parquet(sink)
      // merge-on-read: union-and-trim of ≤ shards bounded samples per seg
      val merged = s.read.parquet(sink)
        .groupBy(col("seg"))
        .agg(slice(array_sort(array_distinct(flatten(collect_list(col("hs"))))),
          1, k).as("hs"))
      val exact = t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("true_distinct"))
        .select(col("event_type").as("seg"), col("true_distinct"))
      merged
        .withColumn("n_kept", size(col("hs")))
        .withColumn("theta", when(col("n_kept") >= k, element_at(col("hs"), k))
          .otherwise(lit(1L << 48)))
        .join(exact, Seq("seg"))
        .select(col("seg").as("event_type"), lit(k).as("k"),
          lit(ExtensionQueries7.SketchShards).as("n_shards"),
          col("n_kept"), col("theta"),
          Agg.roundAt(
            when(col("n_kept") < k, col("n_kept").cast("double"))
              .otherwise(lit((k - 1).toDouble) * lit(math.pow(2, 48))
                / col("theta")), 4).as("est_distinct"),
          col("true_distinct"))
        .orderBy(col("event_type"))
    }),

    // Duplicate-cluster health report (g04): the graph-health gate a
    // pipeline reads BEFORE trusting its dedup clusters — the classic
    // failure of too-permissive LSH banding is a GIANT near-dup
    // component that silently merges unrelated documents, and the
    // symptom is exactly this table: per cluster-size bucket, how many
    // clusters and how many docs; plus the corpus-level summary every
    // row carries (singleton fraction, max cluster size, giant-component
    // doc fraction, and a verdict gated on the rounded fraction at the
    // 10% bar). Rides d07's memoized converged clusters; the report is
    // one |clusters|-sized aggregate folded to a bounded bucket table.
    "g04_cluster_health" -> ((s, dir) => {
      val clusters = ExtensionQueries.all("d07_dedup_clusters")(s, dir)
        .select(col("doc_id"), col("cluster_id"))
      val sizes = clusters.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("csize"))
      // bounded log2 size buckets: 1, 2, 3-4, 5-8, ...
      val bucketed = sizes.withColumn("bucket",
        when(col("csize") === 1, lit(0))
          .otherwise((length(bin(col("csize") - 1))).cast("int")))
      val summary = sizes.agg(
          count(lit(1)).as("n_clusters"),
          sum(col("csize")).as("n_docs"),
          max(col("csize")).as("max_csize"),
          sum(when(col("csize") === 1, 1L).otherwise(0L)).as("n_singletons"))
        .withColumn("singleton_frac", Agg.roundAt(
          col("n_singletons").cast("double") / col("n_clusters"), 6))
        .withColumn("giant_frac", Agg.roundAt(
          col("max_csize").cast("double") / col("n_docs"), 6))
        .withColumn("verdict",
          when(col("giant_frac") >= 0.1, "giant_component")
            .otherwise("healthy"))
      bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_clusters_in_bucket"),
          sum(col("csize")).as("n_docs_in_bucket"))
        .crossJoin(broadcast(summary.select(col("n_clusters"), col("n_docs"),
          col("max_csize"), col("singleton_frac"), col("giant_frac"),
          col("verdict"))))
        .orderBy(col("bucket"))
    }),

    // Epoch-reshuffled reader sharding (t37): the deterministic global
    // shuffle a trainer's data loader runs — per epoch, every document
    // gets a fresh pseudo-random order key h = hash(epoch : doc_id) and
    // lands on reader h mod R, so (a) each epoch visits the corpus in a
    // DIFFERENT order with no coordination state beyond the epoch
    // number, (b) any reader can locate its shard of any epoch
    // independently (resumable, no shuffle service), and (c) the
    // per-reader token load is hash-balanced — the token_share column
    // is the balance audit. One corpus pass fanned out over the bounded
    // epoch grid; nothing order-dependent anywhere.
    "t37_reader_shards" -> ((s, dir) => {
      val readers = 4
      val epochs = 2
      val perReader = t(s, dir, "documents")
        .select(col("doc_id"),
          size(graft.operators.TextOps.tokens(col("text"))).cast("long")
            .as("n_tokens"),
          explode(array((0 until epochs).map(lit(_)): _*)).as("epoch"))
        .withColumn("h", ExtensionQueries3.md5Hash48(
          concat_ws(":", col("epoch"), col("doc_id"))))
        .withColumn("reader", (col("h") % readers).cast("int"))
        .groupBy(col("epoch"), col("reader"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      val totals = perReader.groupBy(col("epoch"))
        .agg(sum(col("n_tokens")).as("epoch_tokens"))
      perReader.join(broadcast(totals), Seq("epoch"))
        .select(col("epoch"), col("reader"), col("n_docs"), col("n_tokens"),
          Agg.roundAt(col("n_tokens").cast("double")
            / col("epoch_tokens").cast("double"), 6).as("token_share"))
        .orderBy(col("epoch"), col("reader"))
    }),

    // ANN recall with exact Wilson confidence intervals (s35): the error
    // bars an eval report ships — a point recall from a finite query set
    // says nothing about whether two methods actually differ; the Wilson
    // 95% interval over the n_queries·K recovered-slot trials does.
    // Built on s22's per-query metrics (one row per method), every
    // arithmetic step (z and z² spliced as shared literals, divisions in
    // one fixed order, IEEE-correctly-rounded sqrt) identical in both
    // engines, bounds rounded at 1e-6. Scale shape: rides s22's shared
    // ANN caches; the interval math is a |methods|-row epilogue.
    "s35_recall_ci" -> ((s, dir) => {
      val z = 1.959964
      val z2 = z * z
      val per = ExtensionQueries6.all("s22_ann_method_metrics")(s, dir)
        .groupBy(col("method"))
        .agg(count(lit(1)).as("n_queries"), sum(col("n_hits")).as("n_hits"))
        .withColumn("n_trials",
          col("n_queries") * ExtensionQueries5.KnnK)
        .withColumn("p", col("n_hits").cast("double") / col("n_trials"))
        .withColumn("denom", lit(1.0) + lit(z2) / col("n_trials"))
        .withColumn("center",
          (col("p") + lit(z2) / (lit(2.0) * col("n_trials"))) / col("denom"))
        .withColumn("half", lit(z) * sqrt(
          col("p") * (lit(1.0) - col("p")) / col("n_trials") +
            lit(z2) / (lit(4.0) * col("n_trials") * col("n_trials")))
          / col("denom"))
      per.select(col("method"), col("n_queries"), col("n_trials"),
          col("n_hits"),
          Agg.roundAt(col("p"), 6).as("recall"),
          Agg.roundAt(col("center") - col("half"), 6).as("ci_lo"),
          Agg.roundAt(col("center") + col("half"), 6).as("ci_hi"))
        .orderBy(col("method"))
    })
  )

  /** The (ccos desc, cell asc) argmax as a lexicographic struct-min over
    * the same cosine arithmetic s05's oracle uses.
    */
  private def argminCellSql(vec: String, cent: String, cell: String): String = {
    import ExtensionQueries.dotSql
    val cos = s"((${dotSql(vec, cent)}) / " +
      s"(sqrt(${dotSql(vec, vec)}) * sqrt(${dotSql(cent, cent)})))"
    s"(min(struct_pack(nc := -$cos, cl := $cell))).cl"
  }

  /** A `rounds`-round Lloyd training run over the rows of `src` (a CTE
    * with (vec_id, v)) as RECURSIVE CTEs `seeds` + `cent(iter, cell, cv,
    * n_members)` — the recursion's working table materializes each
    * round's k centroids, so execution is linear in rounds (the
    * s05-style unrolled CTE chain at depth 30 planned to a 30× inlined
    * expression tree DuckDB spent >10 min on; this form runs in ~1 s).
    * The assignment's rank window becomes [[argminCellSql]] because a
    * window over the recursive table is not expressible there; the
    * cosine expression and the per-(cell,dim) DECIMAL recompute are
    * s05's oracle verbatim, so round r's centroids are bit-identical to
    * the engine's round r.
    */
  private def kmRecursionCtes(src: String, rounds: Int): String = s"""
      seeds AS (
        SELECT CAST(row_number() OVER (ORDER BY ((vec_id % 1000003) * 427799) % 1000003, vec_id) - 1 AS INTEGER) AS cell, v
        FROM $src
        QUALIFY row_number() OVER (ORDER BY ((vec_id % 1000003) * 427799) % 1000003, vec_id) <= ${ExtensionQueries.IvfCells}
      ),
      cent(iter, cell, cv, n_members) AS (
        SELECT 0, cell, v, CAST(0 AS BIGINT) FROM seeds
        UNION ALL
        SELECT iter, cell, list(c ORDER BY dim) AS cv, min(cnt) AS n_members
        FROM (
          SELECT a.iter, a.cell, CAST(i AS INTEGER) AS dim,
                 CAST(sum(CAST(a.v[i+1] AS DECIMAL(30,6))) AS DOUBLE) / count(a.v[i+1]) AS c,
                 count(a.v[i+1]) AS cnt
          FROM (
            SELECT t.iter + 1 AS iter, s.vec_id, s.v,
                   ${argminCellSql("s.v", "t.cv", "t.cell")} AS cell
            FROM $src s CROSS JOIN cent t
            WHERE t.iter < $rounds
            GROUP BY 1, 2, 3
          ) a CROSS JOIN range(0, 64) t2(i)
          GROUP BY 1, 2, 3
        ) r
        GROUP BY iter, cell
      )"""

  /** e17's exact per-(event_type, variant) moments — n, Σv, Σv² with
    * decimal sums. Shared VERBATIM by the batch query and the streaming
    * twin: the key space is 2·|event types| (bounded), so as a
    * complete-mode streaming aggregation its state is the moments table
    * itself — the experiment read-out updates continuously while the
    * z-test join stays a tiny batch-side epilogue. StreamingSpec pins
    * stream ≡ batch across a batch split.
    */
  private[graft] def abVariantMoments(events: DataFrame): DataFrame =
    events
      .withColumn("variant", (col("user_id") % 2).cast("int"))
      .groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("n"), Agg.decSum(col("value")).as("sv"),
        Agg.decSum(col("value") * col("value")).as("svv"))

  // lazy: breaks the object-initialization cycle with ExtensionQueries6
  // (its s22 oracle embeds graphWalkSql from THIS object, while entries
  // below embed ITS s22 oracle — lazily deferring this map means neither
  // <clinit> needs the other's finished map). q101 shares q96's oracle
  // VERBATIM and is appended post-construction — a map literal cannot
  // reference its own entries.
  lazy val oracles: Map[String, String] = oraclesBase +
    ("q101_tx_stats_publish" -> oraclesBase("q96_column_stats_catalog")) +
    // q104's catalog is byte-equal to q99's full rebuild by merge algebra
    // (Round17Spec pins it), so its oracle is q99's full-table replay
    // VERBATIM — the incremental path must be indistinguishable from the
    // one-shot sweep (the q103 IVM rule applied to the catalog lake)
    ("q104_incremental_lake_sweep" -> oraclesBase("q99_lake_stats_sweep"))

  private lazy val oraclesBase: Map[String, String] = Map(

    // Replays a fixed [[KmConvOracleUnroll]]-round training run over the
    // full corpus — see [[kmRecursionCtes]] for why it is recursive.
    "s32_kmeans_converged" -> s"""
      WITH RECURSIVE
      e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),${kmRecursionCtes("e", KmConvOracleUnroll)}
      SELECT c.cell, c.n_members, CAST(i AS INTEGER) AS dim,
             floor(c.cv[i + 1] * 1000000 + 0.5) / 1000000 AS centroid
      FROM cent c CROSS JOIN range(0, 64) t(i)
      WHERE c.iter = $KmConvOracleUnroll
      ORDER BY cell, dim""",

    // Trains over the hash-rank-prefix sample, then one full-corpus
    // assignment + count — the engine's two phases replayed exactly.
    "s33_kmeans_sampled" -> s"""
      WITH RECURSIVE
      e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),
      samp AS (
        SELECT vec_id, v FROM e
        QUALIFY row_number() OVER (ORDER BY ((vec_id % 1000003) * 427799) % 1000003, vec_id) <= $KmSampleN
      ),${kmRecursionCtes("samp", KmSampleOracleUnroll)},
      final AS (
        SELECT cell, cv FROM cent WHERE iter = $KmSampleOracleUnroll
      ),
      assigned AS (
        SELECT f.vec_id, ${argminCellSql("f.v", "c.cv", "c.cell")} AS cell
        FROM e f CROSS JOIN final c
        GROUP BY f.vec_id, f.v
      ),
      sizes AS (
        SELECT cell, count(*) AS n_members FROM assigned GROUP BY cell
      )
      SELECT c.cell, s.n_members, CAST(i AS INTEGER) AS dim,
             floor(c.cv[i + 1] * 1000000 + 0.5) / 1000000 AS centroid
      FROM final c JOIN sizes s USING (cell)
      CROSS JOIN range(0, 64) t(i)
      ORDER BY cell, dim""",

    // Same unrolled-product collision math over the d14 estimate table.
    "d20_lsh_band_tuning" -> s"""
      WITH pairs AS (
        SELECT est_jaccard AS s, jaccard
        FROM (${ExtensionQueries.oracles("d14_minhash_estimate")})
      ),
      per AS (
        ${BandGrid.map { case (b, r) =>
          s"""SELECT $b AS bands, $r AS rows_per_band,
             CAST(${sStar(b, r)} AS DOUBLE) AS s_star_raw,
             CAST(floor(${pCollideSql(b, r)} * 1000000) AS BIGINT) AS p_fp, jaccard
          FROM pairs"""
        }.mkString("\n        UNION ALL\n        ")}
      )
      SELECT bands, rows_per_band,
             floor(s_star_raw * 1000000 + 0.5) / 1000000 AS s_star,
             count(*) AS n_pairs,
             CAST(sum(p_fp) AS DOUBLE) / 1000000 AS exp_candidates,
             CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1000000 - p_fp ELSE 0 END)
               AS DOUBLE) / 1000000 AS exp_missed_dups,
             CAST(sum(CASE WHEN jaccard < 0.5 THEN p_fp ELSE 0 END)
               AS DOUBLE) / 1000000 AS exp_false_candidates
      FROM per GROUP BY 1, 2, 3 ORDER BY rows_per_band""",

    // Exact n / Σv / Σv² per (type, variant); identical op-for-op mean /
    // variance / z formula; significance gates on the ROUNDED z.
    "e17_ab_test" -> s"""
      WITH pv AS (
        SELECT event_type, CAST(user_id % 2 AS INTEGER) AS variant,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sv,
               CAST(sum(CAST(value * value AS DECIMAL(30,6))) AS DOUBLE) AS svv
        FROM events GROUP BY 1, 2
      ),
      m AS (
        SELECT event_type, variant, n, sv / n AS mean,
               (svv - sv * sv / n) / (n - 1) AS variance
        FROM pv
      ),
      j AS (
        SELECT a.event_type, a.n AS n_a, b.n AS n_b,
               a.mean AS mean_a, b.mean AS mean_b,
               floor((b.mean - a.mean) / sqrt(a.variance / a.n + b.variance / b.n)
                 * 1000000 + 0.5) / 1000000 AS z_score
        FROM m a JOIN m b ON a.event_type = b.event_type
        WHERE a.variant = 0 AND b.variant = 1
      )
      SELECT event_type, n_a, n_b,
             floor(mean_a * 1000000 + 0.5) / 1000000 AS mean_a,
             floor(mean_b * 1000000 + 0.5) / 1000000 AS mean_b,
             z_score, abs(z_score) >= 1.959964 AS significant
      FROM j ORDER BY event_type""",

    // Exact per-user conversion flags; identical pooled-variance z.
    "e18_ab_conversion" -> s"""
      WITH pu AS (
        SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
               max(CASE WHEN event_type = 'purchase' AND value > 90
                 THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY 1
      ),
      pv AS (
        SELECT variant, count(*) AS n, CAST(sum(converted) AS BIGINT) AS c
        FROM pu GROUP BY 1
      ),
      j AS (
        SELECT a.n AS n_a, b.n AS n_b, a.c AS conv_a, b.c AS conv_b,
               CAST(a.c AS DOUBLE) / a.n AS rate_a,
               CAST(b.c AS DOUBLE) / b.n AS rate_b,
               CAST(a.c + b.c AS DOUBLE) / (a.n + b.n) AS pool
        FROM pv a CROSS JOIN pv b
        WHERE a.variant = 0 AND b.variant = 1
      ),
      z AS (
        SELECT n_a, n_b, conv_a, conv_b, rate_a, rate_b,
               floor((rate_b - rate_a) / sqrt(pool * (1.0 - pool)
                 * (1.0 / n_a + 1.0 / n_b)) * 1000000 + 0.5) / 1000000 AS z_score
        FROM j
      )
      SELECT n_a, n_b, conv_a, conv_b,
             floor(rate_a * 1000000 + 0.5) / 1000000 AS rate_a,
             floor(rate_b * 1000000 + 0.5) / 1000000 AS rate_b,
             z_score, abs(z_score) >= 1.959964 AS significant
      FROM z""",

    // d04's verified pairs swept over the same bounded threshold grid;
    // pair count recovered exactly as doc-rows // 2.
    "d21_dedup_threshold_sweep" -> s"""
      WITH scored AS (
        SELECT doc_a, doc_b, jaccard AS j
        FROM (${ExtensionQueries.oracles("d04_jaccard_neardup")})
      ),
      pr AS (
        SELECT CAST(t.threshold AS DOUBLE) AS threshold, s.doc_a, s.doc_b
        FROM scored s
        CROSS JOIN (SELECT unnest([${DedupThresholds.mkString(", ")}]) AS threshold) t
        WHERE s.j >= CAST(t.threshold AS DOUBLE)
      ),
      d AS (
        SELECT threshold, unnest([doc_a, doc_b]) AS doc FROM pr
      )
      SELECT threshold, CAST(count(*) // 2 AS BIGINT) AS n_dup_pairs,
             CAST(count(DISTINCT doc) AS BIGINT) AS n_docs_touched
      FROM d GROUP BY 1 ORDER BY 1""",

    // d07's unrolled propagation + t01's tokenization, composed; the
    // weighting is integer fixed-point so the sums are order-free.
    "t33_dedup_weighted_tokens" -> s"""
      WITH clusters AS (
        SELECT doc_id, cluster_id FROM (${ExtensionQueries.oracles("d07_dedup_clusters")})
      ),
      sizes AS (
        SELECT cluster_id, count(*) AS csize FROM clusters GROUP BY 1
      ),
      tok AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
      ),
      w AS (
        SELECT t.source, t.n_tokens, (t.n_tokens * 1000000) // s.csize AS eff_fp
        FROM tok t JOIN clusters c USING (doc_id) JOIN sizes s USING (cluster_id)
      )
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
             CAST(sum(eff_fp) AS DOUBLE) / 1000000 AS effective_tokens,
             floor(CAST(sum(eff_fp) AS DOUBLE) / 1000000
               / CAST(sum(n_tokens) AS BIGINT) * 1000000 + 0.5) / 1000000 AS unique_fraction
      FROM w GROUP BY source ORDER BY source""",

    // The lake round trip is transparent by construction: serving must
    // equal t25's end-to-end computation from raw documents.
    "t32_inverted_index_lake" -> ExtensionQueries4.oracles("t25_bm25"),

    // Catalog replay (q96): the shard layer is algebraically transparent
    // (per-shard counts/min/max merged by sum/min/max, register maxes by
    // max, equal their direct global forms), so the oracle computes the
    // whole catalog END-TO-END from raw orders at the same p=12
    // geometry; Spark's write → partition → merge-on-read round trip
    // must change nothing. (The SQL lives in [[q96OracleSql]], shared
    // verbatim with q101 — the transactional publish must be
    // output-invisible.)
    "q96_column_stats_catalog" -> s"""
      WITH base AS (
        SELECT 'o_orderkey' AS seg, CAST(o_orderkey AS DOUBLE) AS nval,
               CAST(NULL AS VARCHAR) AS sval, CAST(o_orderkey AS VARCHAR) AS cval
        FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(o_custkey AS DOUBLE), NULL,
               CAST(o_custkey AS VARCHAR) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', NULL, o_orderstatus, o_orderstatus FROM orders
        UNION ALL
        SELECT 'o_orderpriority', NULL, o_orderpriority, o_orderpriority
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', o_totalprice, NULL,
               CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
        FROM orders
      ),
      h AS (
        SELECT seg, CAST(('0x' || substr(md5(cval), 1, 12)) AS BIGINT) AS h
        FROM base WHERE cval IS NOT NULL
      ),
      r AS (
        SELECT seg, h // ${ExtensionQueries7.HllRemMod12} AS bucket,
               CASE WHEN h % ${ExtensionQueries7.HllRemMod12} = 0
                    THEN ${ExtensionQueries7.HllRemBits12 + 1}
                    ELSE ${ExtensionQueries7.HllRemBits12 + 1}
                      - length(bin(h % ${ExtensionQueries7.HllRemMod12}))
               END AS rho
        FROM h
      ),
      regs AS (SELECT seg, bucket, max(rho) AS reg FROM r GROUP BY 1, 2),
      sk AS (
        SELECT seg, count(*) AS n_present,
               CAST(sum(CAST(1 AS BIGINT)
                 << (${ExtensionQueries7.HllRemBits12 + 1} - reg)) AS BIGINT)
                 + (${ExtensionQueries7.HllM12} - count(*))
                 * (CAST(1 AS BIGINT) << ${ExtensionQueries7.HllRemBits12 + 1})
                 AS sum_fp
        FROM regs GROUP BY 1
      ),
      est AS (
        SELECT seg, n_present,
               (${ExtensionQueries7.HllM12} - n_present) AS v_empty,
               ${ExtensionQueries7.HllAlphaNum12} / CAST(sum_fp AS DOUBLE)
                 AS raw_est
        FROM sk
      ),
      cor AS (
        SELECT seg,
               CASE WHEN raw_est <= CAST(${2.5 * ExtensionQueries7.HllM12}
                         AS DOUBLE) AND v_empty > 0
                    THEN CAST([${ExtensionQueries7.HllLcFp12.mkString(",")}]
                      [CAST(greatest(v_empty, 1) AS INTEGER)] AS DOUBLE)
                      / 1000000.0
                    ELSE raw_est END AS corrected
        FROM est
      ),
      stats AS (
        SELECT seg, count(*) AS n_rows,
               CAST(count(*) - count(cval) AS BIGINT) AS n_null,
               min(nval) AS min_num, max(nval) AS max_num,
               min(sval) AS min_str, max(sval) AS max_str
        FROM base GROUP BY 1
      )
      SELECT s.seg AS col_name, s.n_rows, s.n_null,
             floor(COALESCE(c.corrected, 0) * 10000 + 0.5) / 10000 AS ndv_est,
             s.min_num, s.max_num, s.min_str, s.max_str
      FROM stats s LEFT JOIN cor c ON s.seg = c.seg
      ORDER BY col_name""",

    // Whole-lake replay (q99): the same shard-transparency argument as
    // q96, per (table, column) — the base CTE is GENERATED from
    // [[LakeAudit]], so both engines' lane typing comes from one
    // metadata table.
    "q99_lake_stats_sweep" -> s"""
      WITH base AS (
        ${lakeBaseSql}
      ),
      h AS (
        SELECT tbl, seg, CAST(('0x' || substr(md5(cval), 1, 12)) AS BIGINT) AS h
        FROM base WHERE cval IS NOT NULL
      ),
      r AS (
        SELECT tbl, seg, h // ${ExtensionQueries7.HllRemMod12} AS bucket,
               CASE WHEN h % ${ExtensionQueries7.HllRemMod12} = 0
                    THEN ${ExtensionQueries7.HllRemBits12 + 1}
                    ELSE ${ExtensionQueries7.HllRemBits12 + 1}
                      - length(bin(h % ${ExtensionQueries7.HllRemMod12}))
               END AS rho
        FROM h
      ),
      regs AS (SELECT tbl, seg, bucket, max(rho) AS reg FROM r GROUP BY 1, 2, 3),
      sk AS (
        SELECT tbl, seg, count(*) AS n_present,
               CAST(sum(CAST(1 AS BIGINT)
                 << (${ExtensionQueries7.HllRemBits12 + 1} - reg)) AS BIGINT)
                 + (${ExtensionQueries7.HllM12} - count(*))
                 * (CAST(1 AS BIGINT) << ${ExtensionQueries7.HllRemBits12 + 1})
                 AS sum_fp
        FROM regs GROUP BY 1, 2
      ),
      est AS (
        SELECT tbl, seg, n_present,
               (${ExtensionQueries7.HllM12} - n_present) AS v_empty,
               ${ExtensionQueries7.HllAlphaNum12} / CAST(sum_fp AS DOUBLE)
                 AS raw_est
        FROM sk
      ),
      cor AS (
        SELECT tbl, seg,
               CASE WHEN raw_est <= CAST(${2.5 * ExtensionQueries7.HllM12}
                         AS DOUBLE) AND v_empty > 0
                    THEN CAST([${ExtensionQueries7.HllLcFp12.mkString(",")}]
                      [CAST(greatest(v_empty, 1) AS INTEGER)] AS DOUBLE)
                      / 1000000.0
                    ELSE raw_est END AS corrected
        FROM est
      ),
      stats AS (
        SELECT tbl, seg, count(*) AS n_rows,
               CAST(count(*) - count(cval) AS BIGINT) AS n_null,
               min(nval) AS min_num, max(nval) AS max_num,
               min(sval) AS min_str, max(sval) AS max_str
        FROM base GROUP BY 1, 2
      )
      SELECT s.tbl AS table_name, s.seg AS col_name, s.n_rows, s.n_null,
             floor(COALESCE(c.corrected, 0) * 10000 + 0.5) / 10000 AS ndv_est,
             s.min_num, s.max_num, s.min_str, s.max_str
      FROM stats s LEFT JOIN cor c ON s.tbl = c.tbl AND s.seg = c.seg
      ORDER BY table_name, col_name""",

    // The auto-salted join is a pure plan rewrite whatever factor the
    // diagnosis picks — its oracle is the plain join verbatim (q26's).
    "q100_autosalted_join" -> RelationalQueries.oracles("q26_salted_join"),

    // RRF replay: both arms' own (individually hash-verified) oracles
    // as scoped subqueries, fused with the same integer arithmetic.
    "t38_hybrid_rrf" -> s"""
      WITH lex AS (
        SELECT doc_id AS query_id, neighbor AS doc,
               CAST(1000000000 // (${ExtensionQueries4.RrfK} + rank) AS BIGINT) AS lex_fp
        FROM (${ExtensionQueries3.oracles("t19_doc_similarity")}) t
        WHERE doc_id <= 2
      ),
      vec AS (
        SELECT query_id, vec_id AS doc,
               CAST(1000000000 // (${ExtensionQueries4.RrfK} + rank) AS BIGINT) AS vec_fp
        FROM (${ExtensionQueries.oracles("s01_knn_brute")}) v
      ),
      fused AS (
        SELECT COALESCE(l.query_id, v.query_id) AS query_id,
               COALESCE(l.doc, v.doc) AS doc,
               l.lex_fp, v.vec_fp,
               COALESCE(l.lex_fp, 0) + COALESCE(v.vec_fp, 0) AS rrf_fp
        FROM lex l FULL OUTER JOIN vec v
          ON l.query_id = v.query_id AND l.doc = v.doc
      ),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY rrf_fp DESC, doc ASC) AS rank
        FROM fused
      )
      SELECT query_id, CAST(rank AS INTEGER) AS rank, doc AS doc_id,
             CAST(rrf_fp AS BIGINT) AS rrf_fp,
             lex_fp IS NOT NULL AS in_lex, vec_fp IS NOT NULL AS in_vec
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""",

    // IVM replay: the stored-view maintenance loop must be
    // indistinguishable from the one-shot aggregate over all rows.
    "q103_incremental_agg" -> """
      SELECT o_orderstatus, count(*) AS n_orders,
             floor(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) * 100 + 0.5) / 100 AS revenue
      FROM orders GROUP BY 1 ORDER BY 1""",

    // mSPRT replay: the same exact fixed-point cumulative moments, the
    // DetLn integer-ratio log, and one mirrored op order throughout;
    // ln(1/α) is the same spliced literal.
    "e21_msprt" -> {
      def ln(x: String) = graft.functions.DetLn.detLnSql(x)
      val lnAinv = java.lang.Double.toString(MsprtLnAlphaInv)
      s"""
      WITH ev AS (
        SELECT CAST(user_id % 2 AS INTEGER) AS variant,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value
        FROM events WHERE event_type = 'purchase'
      ),
      perday AS (
        SELECT day, variant, count(*) AS dn,
               CAST(sum(CAST(CAST(value AS DECIMAL(30,6)) * 1000000 AS BIGINT)) AS BIGINT) AS dsv,
               CAST(sum(CAST(CAST(value * value AS DECIMAL(30,6)) * 1000000 AS BIGINT)) AS BIGINT) AS dsvv
        FROM ev GROUP BY 1, 2
      ),
      spine AS (
        SELECT d.day, v.variant
        FROM (SELECT DISTINCT day FROM ev) d
        CROSS JOIN (SELECT unnest([0, 1]) AS variant) v
      ),
      cum AS (
        SELECT s.day, s.variant,
               CAST(sum(COALESCE(p.dn, 0)) OVER w AS BIGINT) AS n,
               CAST(sum(COALESCE(p.dsv, 0)) OVER w AS BIGINT) AS sv,
               CAST(sum(COALESCE(p.dsvv, 0)) OVER w AS BIGINT) AS svv
        FROM spine s LEFT JOIN perday p
          ON s.day = p.day AND s.variant = p.variant
        WINDOW w AS (PARTITION BY s.variant ORDER BY s.day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ),
      j AS (
        SELECT a.day, a.n AS n_a, b.n AS n_b,
               CAST(a.sv AS DOUBLE) / 1000000.0 AS sa,
               CAST(b.sv AS DOUBLE) / 1000000.0 AS sb,
               CAST(a.svv AS DOUBLE) / 1000000.0 AS saa,
               CAST(b.svv AS DOUBLE) / 1000000.0 AS sbb
        FROM cum a JOIN cum b ON a.day = b.day
        WHERE a.variant = 0 AND b.variant = 1 AND a.n >= 2 AND b.n >= 2
      ),
      m AS (
        SELECT day, n_a, n_b, sa / n_a AS mean_a, sb / n_b AS mean_b,
               ((saa - sa * sa / n_a) + (sbb - sb * sb / n_b))
                 / (n_a + n_b - 2) AS var_pool
        FROM j
      ),
      f AS (
        SELECT *, (1.0 / n_a + 1.0 / n_b) AS h,
               (mean_b - mean_a) AS delta
        FROM m WHERE var_pool > 0
      ),
      l AS (
        SELECT day, n_a, n_b, mean_a, mean_b,
               floor((0.5 * (${ln("n_a + n_b")} - ${ln("n_a + n_b + n_a * n_b")})
                 + delta * delta
                   / (2.0 * var_pool * h * (h + 1.0))) * 1000000 + 0.5)
                 / 1000000 AS ln_lambda
        FROM f
      )
      SELECT day, n_a, n_b,
             floor(mean_a * 1000000 + 0.5) / 1000000 AS mean_a,
             floor(mean_b * 1000000 + 0.5) / 1000000 AS mean_b,
             ln_lambda,
             max(ln_lambda) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS ln_lambda_max,
             max(ln_lambda) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               >= $lnAinv AS significant
      FROM l ORDER BY day"""
    },

    // Walk replay: s31's graph CTEs + the unrolled fixed-depth beam loop.
    "s36_graph_walk_ann" -> graphWalkSql,

    // IVF-entry walk replay: the same chain over the km-training +
    // probe-routed entry CTEs.
    "s37_graph_walk_ivf" -> graphWalkIvfSql,

    // Bidirectional-walk replay: s36's chain, edge CTE symmetrized.
    "s38_graph_walk_sym" -> graphWalkSymSql,

    // Composition replay: IVF entry CTEs over the symmetrized edge CTE.
    "s39_graph_walk_ivf_sym" -> graphWalkIvfSymSql,

    // Difference replay: q87's segment CTEs + θ-trim, EXCEPT instead of
    // UNION/INTERSECT. 2^48 = 281474976710656 exactly in both engines.
    "q102_sketch_difference" -> {
      val k = ExtensionQueries3.KmvK
      def segCte(name: String, tpe: String) = s"""
      $name AS (
        SELECT DISTINCT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
        FROM events WHERE event_type = '$tpe' ORDER BY h LIMIT $k
      )"""
      s"""
      WITH ${segCte("ha", "view")},
      ${segCte("hb", "purchase")},
      ta AS (SELECT CASE WHEN count(*) >= $k THEN max(h)
                    ELSE CAST(281474976710656 AS BIGINT) END AS th FROM ha),
      tb AS (SELECT CASE WHEN count(*) >= $k THEN max(h)
                    ELSE CAST(281474976710656 AS BIGINT) END AS th FROM hb),
      th AS (SELECT least(ta.th, tb.th) AS theta FROM ta, tb),
      sa AS (SELECT count(*) AS n_anotb
             FROM (SELECT h FROM ha EXCEPT SELECT h FROM hb) d, th
             WHERE h < theta),
      sb AS (SELECT count(*) AS n_bnota
             FROM (SELECT h FROM hb EXCEPT SELECT h FROM ha) d, th
             WHERE h < theta)
      SELECT $k AS k, theta, n_anotb, n_bnota,
             floor(CAST(n_anotb AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
               / CAST(theta AS DOUBLE) * 10000 + 0.5) / 10000 AS est_anotb,
             floor(CAST(n_bnota AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
               / CAST(theta AS DOUBLE) * 10000 + 0.5) / 10000 AS est_bnota
      FROM th, sa, sb"""
    },

    // t33's substrate re-aggregated per source, then the identical
    // op-for-op weight/draw/epoch arithmetic (sqrt is IEEE-correctly
    // rounded in both engines; the per-α sums are exact longs).
    "t34_mixture_weights" -> s"""
      WITH clusters AS (
        SELECT doc_id, cluster_id FROM (${ExtensionQueries.oracles("d07_dedup_clusters")})
      ),
      sizes AS (
        SELECT cluster_id, count(*) AS csize FROM clusters GROUP BY 1
      ),
      tok AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
      ),
      eff AS (
        SELECT t.source,
               CAST(sum((t.n_tokens * 1000000) // s.csize) AS BIGINT) AS eff_fp
        FROM tok t JOIN clusters c USING (doc_id) JOIN sizes s USING (cluster_id)
        GROUP BY 1
      ),
      a AS (
        SELECT source, eff_fp, CAST(0.5 AS DOUBLE) AS alpha,
               CAST(floor(sqrt(CAST(eff_fp AS DOUBLE) / 1000000.0) * 1000000)
                 AS BIGINT) AS wfp
        FROM eff
        UNION ALL
        SELECT source, eff_fp, CAST(1.0 AS DOUBLE), eff_fp FROM eff
      ),
      tot AS (
        SELECT alpha, CAST(sum(wfp) AS BIGINT) AS wtot FROM a GROUP BY 1
      ),
      j AS (
        SELECT a.alpha, a.source, a.eff_fp,
               CAST(a.wfp AS DOUBLE) / CAST(t.wtot AS DOUBLE) AS w_raw
        FROM a JOIN tot t USING (alpha)
      )
      SELECT alpha, source,
             CAST(eff_fp AS DOUBLE) / 1000000.0 AS effective_tokens,
             floor(w_raw * 1000000 + 0.5) / 1000000 AS weight,
             floor(w_raw * ${MixTokenBudget} * 1000 + 0.5) / 1000 AS expected_tokens,
             floor(w_raw * ${MixTokenBudget}
               / (CAST(eff_fp AS DOUBLE) / 1000000.0) * 1000000 + 0.5) / 1000000
               AS epochs
      FROM j ORDER BY alpha, source""",

    // The identical op-for-op CUPED pipeline: per-user fixed-point X/Y,
    // exact big-integer cross moments, one θ, row-local adjustment
    // re-fixed-pointed before the final exact sums.
    "e19_cuped" -> s"""
      WITH pu AS (
        SELECT user_id, CAST(user_id % 2 AS INTEGER) AS variant,
               CAST(sum(CAST(CAST(CASE WHEN epoch_us(ts) < $CupedSplitUs
                   THEN value ELSE 0 END AS DECIMAL(30,6)) * 1000000
                 AS BIGINT)) AS BIGINT) AS x_fp,
               CAST(sum(CAST(CAST(CASE WHEN epoch_us(ts) >= $CupedSplitUs
                   THEN value ELSE 0 END AS DECIMAL(30,6)) * 1000000
                 AS BIGINT)) AS BIGINT) AS y_fp
        FROM events GROUP BY 1, 2
      ),
      mom AS (
        SELECT count(*) AS n,
               CAST(sum(x_fp) AS BIGINT) AS sx, CAST(sum(y_fp) AS BIGINT) AS sy,
               CAST(sum(CAST(x_fp AS HUGEINT) * y_fp) AS DOUBLE) AS sxy,
               CAST(sum(CAST(x_fp AS HUGEINT) * x_fp) AS DOUBLE) AS sxx
        FROM pu
      ),
      th AS (
        SELECT CASE WHEN (sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                      = 0.0 THEN 0.0
                    ELSE (sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) /
                      (sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
               END AS theta,
               CAST(sx AS DOUBLE) / n AS mean_x
        FROM mom
      ),
      adj AS (
        SELECT p.variant, p.y_fp,
               CAST(floor(CAST(p.y_fp AS DOUBLE)
                 - t.theta * (CAST(p.x_fp AS DOUBLE) - t.mean_x) + 0.5)
                 AS BIGINT) AS ycup_fp
        FROM pu p CROSS JOIN th t
      ),
      bv AS (
        SELECT variant, count(*) AS n_v,
               CAST(sum(y_fp) AS DOUBLE) / 1000000.0 / count(*) AS mean_post,
               CAST(sum(ycup_fp) AS DOUBLE) / 1000000.0 / count(*) AS mean_cuped
        FROM adj GROUP BY 1
      ),
      vg AS (
        SELECT count(*) AS n,
               CAST(sum(y_fp) AS BIGINT) AS sy,
               CAST(sum(CAST(y_fp AS HUGEINT) * y_fp) AS DOUBLE) AS syy,
               CAST(sum(ycup_fp) AS BIGINT) AS syc,
               CAST(sum(CAST(ycup_fp AS HUGEINT) * ycup_fp) AS DOUBLE) AS sycc
        FROM adj
      ),
      vr AS (
        SELECT CAST(1.0 AS DOUBLE)
                 - ((sycc - CAST(syc AS DOUBLE) * CAST(syc AS DOUBLE) / n) / (n - 1))
                 / ((syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1))
                 AS var_reduction
        FROM vg
      )
      SELECT a.n_v AS n_a, b.n_v AS n_b,
             floor(a.mean_post * 1000000 + 0.5) / 1000000 AS mean_post_a,
             floor(b.mean_post * 1000000 + 0.5) / 1000000 AS mean_post_b,
             floor(a.mean_cuped * 1000000 + 0.5) / 1000000 AS mean_cuped_a,
             floor(b.mean_cuped * 1000000 + 0.5) / 1000000 AS mean_cuped_b,
             floor((b.mean_post - a.mean_post) * 1000000 + 0.5) / 1000000 AS post_diff,
             floor((b.mean_cuped - a.mean_cuped) * 1000000 + 0.5) / 1000000 AS cuped_diff,
             floor(t.theta * 1000000 + 0.5) / 1000000 AS theta,
             floor(v.var_reduction * 1000000 + 0.5) / 1000000 AS var_reduction
      FROM bv a CROSS JOIN bv b CROSS JOIN th t CROSS JOIN vr v
      WHERE a.variant = 0 AND b.variant = 1""",

    // Same two per-key size tables, same exact percentile semantics
    // (quantile_cont ≡ Spark percentile bit-for-bit — the q28 rule),
    // integer-exact ceiling for the salt factor.
    "q97_join_skew_report" -> {
      def rep(key: String) = s"""
        SELECT '$key' AS join_key, n_keys, total_rows,
               floor(CAST(total_rows AS DOUBLE) / n_keys * 1000000 + 0.5)
                 / 1000000 AS mean_rows,
               max_rows, p50_rows, p99_rows,
               floor(CAST(max_rows AS DOUBLE)
                 / (CAST(total_rows AS DOUBLE) / n_keys) * 1000000 + 0.5)
                 / 1000000 AS skew_ratio,
               CAST((max_rows * n_keys + total_rows - 1) // total_rows
                 AS BIGINT) AS salt_factor
        FROM (
          SELECT count(*) AS n_keys, CAST(sum(sz) AS BIGINT) AS total_rows,
                 CAST(max(sz) AS BIGINT) AS max_rows,
                 quantile_cont(sz, 0.5) AS p50_rows,
                 quantile_cont(sz, 0.99) AS p99_rows
          FROM (SELECT $key, count(*) AS sz FROM events GROUP BY 1)
        )"""
      s"""${rep("user_id")} UNION ALL ${rep("event_type")}
        ORDER BY join_key"""
    },

    // d10's shingle construction, with the per-doc shingle LIST kept so
    // empty-shingle eval docs still report; the verdict gates on the
    // same rounded fraction both engines computed identically.
    "t35_contamination_report" -> s"""
      WITH shl AS (
        SELECT doc_id, list_distinct(list_transform(
          CASE WHEN len(toks) >= 3
               THEN list_transform(range(0, len(toks)-2),
                      i -> array_to_string(list_slice(toks, i+1, i+3), ' '))
               ELSE []::VARCHAR[] END,
          s -> ${ExtensionQueries.chSql("s")})) AS shs
        FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
              FROM documents) tok
      ),
      sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
      ev AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 = 0),
      tr AS (SELECT doc_id AS train_doc, sh FROM sh WHERE doc_id % 97 <> 0),
      totals AS (
        SELECT doc_id, CAST(len(shs) AS BIGINT) AS n_shingles
        FROM shl WHERE doc_id % 97 = 0
      ),
      hits AS (
        SELECT ev.doc_id, count(DISTINCT ev.sh) AS n_contaminated,
               count(DISTINCT tr.train_doc) AS n_train_docs
        FROM ev JOIN tr USING (sh) GROUP BY 1
      ),
      j AS (
        SELECT t.doc_id, t.n_shingles,
               COALESCE(h.n_contaminated, 0) AS n_contaminated,
               COALESCE(h.n_train_docs, 0) AS n_train_docs,
               CASE WHEN t.n_shingles = 0 THEN CAST(0 AS DOUBLE)
                    ELSE floor(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
                      / t.n_shingles * 1000000 + 0.5) / 1000000
               END AS contamination
        FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
      )
      SELECT doc_id, n_shingles, n_contaminated, n_train_docs, contamination,
             CASE WHEN contamination >= 0.8 THEN 'burned'
                  WHEN contamination >= 0.2 THEN 'partial'
                  ELSE 'clean' END AS verdict
      FROM j ORDER BY doc_id""",

    // The incremental form must be INDISTINGUISHABLE from a full
    // re-clustering — its oracle is d07's full-recompute SQL verbatim.
    "d22_incremental_clusters" -> ExtensionQueries.oracles("d07_dedup_clusters"),

    // Same hashed buckets, the same DetLn rendering for every log, the
    // same fixed-point dot product, the same exact percentile.
    "t36_dsir_selection" -> {
      def ln(x: String) = graft.functions.DetLn.detLnSql(x)
      s"""
      WITH toks AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(term), 1, 12)) AS BIGINT) % $DsirBuckets AS b
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
              FROM documents)
      ),
      tcnt AS (SELECT b, count(*) AS ct FROM toks WHERE doc_id % 97 = 0 GROUP BY 1),
      ccnt AS (SELECT b, count(*) AS cc FROM toks WHERE doc_id % 97 <> 0 GROUP BY 1),
      wtab AS (
        SELECT c.b,
               CAST(floor((${ln("COALESCE(t.ct, 0) + 1")} - ${ln("c.cc + 1")})
                 * 1000000.0) AS BIGINT) AS w_fp
        FROM ccnt c LEFT JOIN tcnt t USING (b)
      ),
      g AS (
        SELECT CAST(floor((${ln(s"cs + $DsirBuckets")} - ${ln(s"tt + $DsirBuckets")})
                 * 1000000.0) AS BIGINT) AS g_fp
        FROM (SELECT CAST(sum(ct) AS BIGINT) AS tt FROM tcnt),
             (SELECT CAST(sum(cc) AS BIGINT) AS cs FROM ccnt)
      ),
      docb AS (
        SELECT doc_id, b, count(*) AS cd FROM toks
        WHERE doc_id % 97 <> 0 GROUP BY 1, 2
      ),
      scored AS (
        SELECT d.doc_id, CAST(sum(d.cd) AS BIGINT) AS n_tokens,
               CAST(sum(d.cd * w.w_fp) AS BIGINT) AS dot_fp
        FROM docb d JOIN wtab w USING (b) GROUP BY 1
      ),
      sc AS (
        SELECT doc_id, n_tokens,
               dot_fp + n_tokens * (SELECT g_fp FROM g) AS score_fp
        FROM scored
      ),
      thr AS (SELECT quantile_cont(score_fp, $DsirKeepQuantile) AS p_sel FROM sc)
      SELECT doc_id, n_tokens, CAST(score_fp AS BIGINT) AS score_fp,
             floor(CAST(score_fp AS DOUBLE) / 1000000.0 * 1000000 + 0.5)
               / 1000000 AS score,
             score_fp >= (SELECT p_sel FROM thr) AS selected
      FROM sc ORDER BY doc_id"""
    },

    // s33's sample-trained centroid replay, then the same cosine
    // arithmetic, per-cell exact median, and threshold cut.
    "s34_prototype_pruning" -> {
      import ExtensionQueries.dotSql
      def cosSql(a: String, b: String) =
        s"((${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"
      s"""
      WITH RECURSIVE
      e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
      ),
      samp AS (
        SELECT vec_id, v FROM e
        QUALIFY row_number() OVER (ORDER BY ((vec_id % 1000003) * 427799) % 1000003, vec_id) <= $KmSampleN
      ),${kmRecursionCtes("samp", KmSampleOracleUnroll)},
      final AS (
        SELECT cell, cv FROM cent WHERE iter = $KmSampleOracleUnroll
      ),
      assigned AS (
        SELECT f.vec_id, f.v, ${argminCellSql("f.v", "c.cv", "c.cell")} AS cell
        FROM e f CROSS JOIN final c
        GROUP BY f.vec_id, f.v
      ),
      wc AS (
        SELECT a.vec_id, a.cell, ${cosSql("a.v", "c.cv")} AS cos
        FROM assigned a JOIN final c USING (cell)
      ),
      thr AS (
        SELECT cell, quantile_cont(cos, 0.5) AS cell_median FROM wc GROUP BY 1
      )
      SELECT w.vec_id, w.cell,
             floor(w.cos * 1000000 + 0.5) / 1000000 AS cos_to_centroid,
             w.cos <= t.cell_median AS keep
      FROM wc w JOIN thr t USING (cell)
      ORDER BY w.vec_id"""
    },

    // Exact distinct-user variant counts (one unconditional aggregate —
    // an all-one-variant split still reports); identical χ² arithmetic.
    "e20_srm_check" -> s"""
      WITH j AS (
        SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM (SELECT DISTINCT user_id FROM events)
      ),
      c AS (
        SELECT n_a, n_b,
               floor(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
                 * 1000000 + 0.5) / 1000000 AS chi2
        FROM j
      )
      SELECT n_a, n_b,
             floor(CAST(n_a AS DOUBLE) / (n_a + n_b) * 1000000 + 0.5) / 1000000
               AS ratio_a,
             chi2, chi2 >= 10.828 AS srm_detected
      FROM c""",

    // Lake-sample replay (q98): per-shard bottom-k samples merged by
    // union-and-trim equal the direct global bottom-k (a pure function
    // of the distinct hash set), so the oracle ranks the distinct hashes
    // per segment directly; the estimate expression is q77's verbatim.
    "q98_kmv_sample_lake" -> s"""
      WITH h AS (
        SELECT DISTINCT event_type AS seg,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
                 AS BIGINT) AS h
        FROM events
      ),
      rk AS (
        SELECT seg, h, row_number() OVER (PARTITION BY seg ORDER BY h) AS r
        FROM h
      ),
      keep AS (SELECT seg, h, r FROM rk WHERE r <= ${ExtensionQueries3.KmvK}),
      sk AS (
        SELECT seg, CAST(count(*) AS INTEGER) AS n_kept,
               CASE WHEN count(*) >= ${ExtensionQueries3.KmvK} THEN max(h)
                    ELSE CAST(281474976710656 AS BIGINT) END AS theta
        FROM keep GROUP BY 1
      ),
      ex AS (
        SELECT event_type AS seg, count(DISTINCT user_id) AS true_distinct
        FROM events GROUP BY 1
      )
      SELECT sk.seg AS event_type, ${ExtensionQueries3.KmvK} AS k,
             ${ExtensionQueries7.SketchShards} AS n_shards,
             sk.n_kept, sk.theta,
             floor((CASE WHEN sk.n_kept < ${ExtensionQueries3.KmvK}
                      THEN CAST(sk.n_kept AS DOUBLE)
                      ELSE CAST(${ExtensionQueries3.KmvK - 1} AS DOUBLE)
                        * CAST(281474976710656 AS DOUBLE) / sk.theta END)
               * 10000 + 0.5) / 10000 AS est_distinct,
             ex.true_distinct
      FROM sk JOIN ex USING (seg)
      ORDER BY event_type""",

    // d07's clusters re-aggregated: same log2 size buckets, same rounded
    // fractions, same 10% giant-component bar.
    "g04_cluster_health" -> s"""
      WITH clusters AS (
        SELECT doc_id, cluster_id FROM (${ExtensionQueries.oracles("d07_dedup_clusters")})
      ),
      sizes AS (SELECT cluster_id, count(*) AS csize FROM clusters GROUP BY 1),
      b AS (
        SELECT csize, CASE WHEN csize = 1 THEN 0
                 ELSE CAST(length(bin(csize - 1)) AS INTEGER) END AS bucket
        FROM sizes
      ),
      summary AS (
        SELECT CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(csize) AS BIGINT) AS n_docs,
               CAST(max(csize) AS BIGINT) AS max_csize,
               CAST(sum(CASE WHEN csize = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_singletons
        FROM sizes
      ),
      s2 AS (
        SELECT n_clusters, n_docs, max_csize,
               floor(CAST(n_singletons AS DOUBLE) / n_clusters * 1000000 + 0.5)
                 / 1000000 AS singleton_frac,
               floor(CAST(max_csize AS DOUBLE) / n_docs * 1000000 + 0.5)
                 / 1000000 AS giant_frac
        FROM summary
      ),
      s3 AS (
        SELECT *, CASE WHEN giant_frac >= 0.1 THEN 'giant_component'
                       ELSE 'healthy' END AS verdict
        FROM s2
      )
      SELECT b.bucket, CAST(count(*) AS BIGINT) AS n_clusters_in_bucket,
             CAST(sum(b.csize) AS BIGINT) AS n_docs_in_bucket,
             s3.n_clusters, s3.n_docs, s3.max_csize,
             s3.singleton_frac, s3.giant_frac, s3.verdict
      FROM b CROSS JOIN s3
      GROUP BY b.bucket, s3.n_clusters, s3.n_docs, s3.max_csize,
               s3.singleton_frac, s3.giant_frac, s3.verdict
      ORDER BY b.bucket""",

    // Same per-(epoch : doc) hash keying, same mod-R assignment, same
    // rounded share.
    "t37_reader_shards" -> s"""
      WITH d AS (
        SELECT doc_id,
               CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS BIGINT)
                 AS n_tokens
        FROM documents
      ),
      fan AS (
        SELECT d.doc_id, d.n_tokens, e.epoch,
               CAST(('0x' || substr(md5(concat_ws(':', e.epoch, d.doc_id)), 1, 12))
                 AS BIGINT) AS h
        FROM d, (SELECT unnest([0, 1]) AS epoch) e
      ),
      pr AS (
        SELECT epoch, CAST(h % 4 AS INTEGER) AS reader,
               count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM fan GROUP BY 1, 2
      ),
      tot AS (
        SELECT epoch, CAST(sum(n_tokens) AS BIGINT) AS epoch_tokens
        FROM pr GROUP BY 1
      )
      SELECT pr.epoch, pr.reader, pr.n_docs, pr.n_tokens,
             floor(CAST(pr.n_tokens AS DOUBLE) / CAST(t.epoch_tokens AS DOUBLE)
               * 1000000 + 0.5) / 1000000 AS token_share
      FROM pr JOIN tot t USING (epoch)
      ORDER BY pr.epoch, pr.reader""",

    // s22's oracle re-aggregated per method; identical Wilson arithmetic
    // with the same spliced z / z² literals.
    "s35_recall_ci" -> {
      val z = 1.959964
      val z2 = z * z
      s"""
      WITH m AS (
        SELECT method, n_hits
        FROM (${ExtensionQueries6.oracles("s22_ann_method_metrics")})
      ),
      per AS (
        SELECT method, count(*) AS n_queries,
               CAST(sum(n_hits) AS BIGINT) AS n_hits,
               CAST(count(*) * ${ExtensionQueries5.KnnK} AS BIGINT) AS n_trials
        FROM m GROUP BY 1
      ),
      w AS (
        SELECT method, n_queries, n_trials, n_hits,
               CAST(n_hits AS DOUBLE) / n_trials AS p,
               1.0 + $z2 / n_trials AS denom
        FROM per
      ),
      c AS (
        SELECT method, n_queries, n_trials, n_hits, p,
               (p + $z2 / (2.0 * n_trials)) / denom AS center,
               $z * sqrt(p * (1.0 - p) / n_trials
                 + $z2 / (4.0 * n_trials * n_trials)) / denom AS half
        FROM w
      )
      SELECT method, n_queries, n_trials, n_hits,
             floor(p * 1000000 + 0.5) / 1000000 AS recall,
             floor((center - half) * 1000000 + 0.5) / 1000000 AS ci_lo,
             floor((center + half) * 1000000 + 0.5) / 1000000 AS ci_hi
      FROM c ORDER BY method"""
    }
  )
}
