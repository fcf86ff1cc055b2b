package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document deduplication operators for training-data pipelines.
  *
  * Scale design: every variant is expressed as hash -> groupBy/join on the
  * hash — the canonical shuffle-partitionable shape. Nothing is pairwise
  * over the full corpus: candidate generation always goes through a bucket
  * key (exact hash, MinHash band, or SimHash prefix), so pair counts stay
  * proportional to bucket occupancy, not n^2.
  */
object Dedup {

  /** Exact dedup: group identical content by md5, keep the smallest id.
    * One shuffle on the 128-bit content hash; at 100 TB this is the
    * standard first pass (hash is computed map-side, shuffle carries only
    * (hash, id)).
    */
  def exactGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash-LSH candidate pairs: docs sharing >=1 of `bands` band hashes.
    * Expects a df with (id, features) where features = distinct shingle
    * hashes (see [[TextOps.shingleHashes]]). Returns (doc_a < doc_b,
    * n_shared_bands).
    */
  def lshCandidatePairs(docs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val banded = bandFingerprints(docs, bands, rows)
    val a = banded.select(col("id").as("doc_a"), col("band_idx"), col("bh"))
    val b = banded.select(col("id").as("doc_b"), col("band_idx").as("band_idx_b"),
      col("bh").as("bh_b"))
    a.join(b, col("band_idx") === col("band_idx_b") && col("bh") === col("bh_b") &&
        col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Banded MinHash fingerprints — (id, band_idx, bh) rows, all band
    * hashes in one compiled pass (graft.functions.MinhashBands;
    * semantically equal to TextOps.bandHash per band, see TextHashSpec).
    * This IS the stored dedup index: bands × docs rows of three small
    * integers, the artifact an incremental pipeline persists (e.g. as a
    * [[graft.sources.Snapshots]] table) and appends each ingest's bands
    * to — re-banding history would mean re-reading corpus text.
    */
  def bandFingerprints(docs: DataFrame, bands: Int, rows: Int): DataFrame =
    bandFingerprints(docs, bands, rows, Nil)

  /** [[bandFingerprints]] carrying extra columns through the explode —
    * the ONE home of the banding expression, so candidate generation and
    * the fused verify ([[lshVerifiedPairs]], which carries `features`)
    * cannot drift apart.
    */
  def bandFingerprints(docs: DataFrame, bands: Int, rows: Int,
      carry: Seq[String]): DataFrame =
    docs.select(col("id") +: carry.map(col) :+
      posexplode(graft.functions.TextHash.minhashBands(col("features"), bands, rows))
        .as(Seq("band_idx", "bh")): _*)

  /** Incremental [[lshCandidatePairs]]: candidates for a NEW batch against
    * an already-deduplicated corpus. The historical side enters PRE-BANDED
    * as its stored fingerprint index — (id, band_idx, bh) rows from
    * [[bandFingerprints]], never the corpus text — and only two joins run:
    * delta × index and delta × delta. Historical pairs are never
    * recomputed and historical features are never re-hashed, so per-ingest
    * cost is O(Δ · collisions), not O(n²) — at 100 TB the difference
    * between deduping a day's crawl in minutes and re-deduping the corpus.
    * `delta` enters raw as (id, features); its fingerprints
    * (`bandFingerprints(delta, bands, rows)`) are what the caller appends
    * to the index after the ingest commits. `vs_existing` distinguishes
    * "duplicate of something we already have" (drop the new doc) from
    * "duplicate within the batch" (keep one).
    */
  def incrementalCandidatePairs(index: DataFrame, delta: DataFrame,
                                bands: Int, rows: Int): DataFrame = {
    // the delta bands feed three join sides — persist before mirroring
    // (the union-double-read rule, PLANS.md)
    val nb = bandFingerprints(delta, bands, rows).persist()
    val newSide = nb.select(col("id").as("doc_new"), col("band_idx"), col("bh"))
    def matches(other: DataFrame, extraCond: org.apache.spark.sql.Column,
                vsExisting: Boolean) =
      newSide.join(other.select(col("id").as("doc_matched"),
          col("band_idx").as("bi"), col("bh").as("bhb")),
          col("band_idx") === col("bi") && col("bh") === col("bhb") && extraCond)
        .groupBy(col("doc_new"), col("doc_matched"))
        .agg(count(lit(1)).as("n_shared_bands"))
        .withColumn("vs_existing", lit(vsExisting))
    matches(index, lit(true), vsExisting = true)
      .unionAll(matches(nb, col("doc_new") < col("doc_matched"), vsExisting = false))
  }

  /** Session-scoped memo for [[labelClusters]] results. The Kmeans
    * trainers share materializations through CacheManager's
    * canonical-plan dedup alone, but labelClusters localCheckpoints its
    * edge set — a per-call RDD identity that defeats plan-level dedup, so
    * every consumer of the SAME cluster assignment (d07, d08, d18) was
    * re-running the full propagation (measured ~2 s each at sf0.1, ~12 s
    * at sf1). Keyed by (session, analyzed-plan semantic hashes, maxRounds,
    * checkpoint dir) — distinct fixtures/graphs/configs stay distinct.
    * The 32-bit semantic hashes are the LOOKUP key only: each entry also
    * carries the canonicalized plans, and a hit must pass full plan
    * equality — a hash collision falls through to recompute instead of
    * silently returning the wrong clusters. Entries whose session has been
    * stopped are evicted on the next call (their cached blocks died with
    * the session), so the memo cannot pin stopped-session state across a
    * long-running driver's session churn.
    */
  private final case class ClusterMemoEntry(
      docsPlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      pairsPlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      result: DataFrame)
  private type MemoKey =
    (org.apache.spark.sql.SparkSession, Int, Int, Int, Option[String])
  /** Memo bound (r13-advice item): a long-lived session iterating many
    * distinct fixtures/graphs/configs must not accumulate persisted
    * propagation results without limit — beyond [[ClusterMemoCap]]
    * distinct keys the least-recently-USED entry is evicted and its
    * cached blocks unpersisted (access-order LinkedHashMap). 16 is far
    * above any one workload's live set (the full suite touches 4–6 keys
    * per fixture dir) while bounding worst-case pinned cache at a
    * handful of label tables.
    */
  private val ClusterMemoCap = 16
  private val clusterMemo =
    new java.util.LinkedHashMap[MemoKey, ClusterMemoEntry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[MemoKey, ClusterMemoEntry]): Boolean = {
        val evict = size() > ClusterMemoCap
        // a stopped session's blocks died with its context — unpersist
        // would go through a dead block manager and can throw, crashing
        // the UNRELATED caller whose put() triggered this eviction
        if (evict && !e.getKey._1.sparkContext.isStopped)
          e.getValue.result.unpersist()
        evict
      }
    }

  /** Resolve candidate pairs into duplicate clusters: min-label propagation
    * over the pair graph UNTIL CONVERGENCE (exact fixed-point detection),
    * capped at `maxRounds` as a runaway guard. After convergence every doc
    * carries the min id in its connected component; singletons keep their
    * own id. Each round is one join + one aggregate — shuffle-parallel —
    * and rounds-to-converge equals the cluster diameter (O(log n) for the
    * near-clique clusters LSH banding produces, but a 100 TB candidate
    * graph can contain longer chains, and a fixed round count silently
    * UNDER-MERGES them — the round-13 convergence spec pins that failure
    * mode on a 12-hop chain).
    *
    * Convergence detection is exact and cheap: with self-loop edges the
    * per-id label is monotonically non-increasing, so the per-round
    * aggregate SUM(label) (exact DECIMAL(38,0) arithmetic — no float
    * rounding, no 64-bit overflow below 10^38) strictly decreases until
    * the fixed point; two equal consecutive sums ⇔ no label changed ⇔
    * done. One 1-row aggregate job per round on the already-checkpointed
    * labels — no extra join, no driver-side data.
    */
  /** Drop (and unpersist) this session's memoized cluster assignments.
    * Bench calls it between timing passes so the d07 headline measures the
    * PROPAGATION, not a memo hit — without this, pass 2's sample is a
    * cache read and the min2warm headline would permanently hide
    * regressions in the propagation itself.
    */
  private[graft] def clearClusterMemo(s: org.apache.spark.sql.SparkSession): Unit =
    clusterMemo.synchronized {
      clusterMemo.entrySet().removeIf { e =>
        val matches = e.getKey._1 eq s
        if (matches) e.getValue.result.unpersist()
        matches
      }
    }

  /** Current memo occupancy — spec hook for the LRU bound. */
  private[graft] def clusterMemoSize: Int =
    clusterMemo.synchronized(clusterMemo.size())

  def labelClusters(docs: DataFrame, pairs: DataFrame, maxRounds: Int,
      reliableCheckpointDir: Option[String] = None): DataFrame = {
    val docsPlan = docs.queryExecution.analyzed.canonicalized
    val pairsPlan = pairs.queryExecution.analyzed.canonicalized
    val key = (docs.sparkSession, docsPlan.semanticHash(),
      pairsPlan.semanticHash(), maxRounds, reliableCheckpointDir)
    val hit = clusterMemo.synchronized {
      // evict entries from stopped sessions (their cache blocks are gone;
      // nothing to unpersist — the context that owned the blocks is dead)
      clusterMemo.entrySet().removeIf(e => e.getKey._1.sparkContext.isStopped)
      Option(clusterMemo.get(key))
        .filter(e => e.docsPlan == docsPlan && e.pairsPlan == pairsPlan)
    }
    hit.map(_.result).getOrElse {
      // compute OUTSIDE the memo lock (propagation runs multi-second
      // Spark jobs; holding the lock would serialize unrelated
      // first-callers) — a concurrent duplicate compute is benign: the
      // loser unpersists its copy and adopts the winner's.
      // r15: the default engine is [[starContractClusters]] — same exact
      // fixed point (Round15Spec pins equality on the fixtures AND on
      // adversarial graphs), measured 10.2 → 3.8 s at sf0.1 and 55.9 →
      // 9.2 s at sf1 (the contraction's shrinking per-round shuffles
      // turn d07's near-linear slope sublinear: 2.4× for 10× data).
      // `maxRounds` caps alternations (both are log-scale budgets). The
      // reliable-checkpoint path keeps the propagation form — its
      // single up-front edge materialization fits storage-backed
      // truncation; contraction checkpoints per round.
      val computed = (reliableCheckpointDir match {
        case Some(_) => labelClustersUncached(docs, pairs, maxRounds,
          reliableCheckpointDir)._1
        case None => starContractClusters(docs, pairs,
          maxAlternations = maxRounds)
      }).persist()
      val entry = ClusterMemoEntry(docsPlan, pairsPlan, computed)
      clusterMemo.synchronized {
        val prev = clusterMemo.get(key)
        if (prev == null) { clusterMemo.put(key, entry); computed }
        else if (prev.docsPlan == docsPlan && prev.pairsPlan == pairsPlan) {
          computed.unpersist(); prev.result
        } else {
          // 32-bit hash collision with a DIFFERENT plan: replace (the old
          // entry is unreachable through equality-checked lookups anyway)
          clusterMemo.put(key, entry)
          prev.result.unpersist()
          computed
        }
      }
    }
  }

  /** [[labelClusters]] body, uncached; also returns the number of
    * propagation rounds actually executed (specs and scale audits read it).
    */
  /** Exact connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii —
    * "Connected Components in MapReduce and Beyond", SoCC '14): the same
    * fixed point as [[labelClusters]] (every doc labeled with its
    * component's minimum id), reached by CONTRACTING the edge set toward
    * stars instead of re-joining the full edge set for
    * O(log diameter)-many label rounds. Each large-star round hangs
    * every node's larger neighbors off the neighborhood minimum; each
    * small-star round re-points every smaller neighbor at it. Both
    * preserve connectivity exactly, both only ever lower edge
    * endpoints, and the edge set shrinks geometrically — so per-round
    * shuffle cost FALLS as the algorithm proceeds, where the
    * label-propagation loop pays the full |E| join every round. That is
    * the difference that matters at 100 TB and already at the sf1
    * decade (measured: d07's propagation was the one production line
    * with a ~10× slope; see PLANS.md round 15/16).
    *
    * Operational shape per round: one window aggregate over the
    * symmetrized (shrinking) edge set + one distinct — both keyed
    * shuffles, map-side combinable. Convergence: a (count,
    * Σ xxhash64) signature repeated across one full alternation gates
    * an EXACT no-op certificate (`exceptAll` both ways, run once, at
    * star-sized cost) — the signature is a filter, the certificate is
    * the proof, so a hash collision cannot produce a wrong answer.
    */
  private[graft] def starContractClusters(docs: DataFrame, pairs: DataFrame,
      maxAlternations: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idCol = docs.columns.head
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    def signature(e: DataFrame): (Long, Option[java.math.BigDecimal]) = {
      val r = e.agg(count(lit(1)).as("n"),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")).as("h")).head()
      (r.getLong(0), Option(r.getDecimal(1)))
    }
    def largeStar(e: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("u"))
      e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
        .withColumn("m", least(min(col("v")).over(w), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // edges arrive oriented big→small, so grouping by the big end sees
      // exactly the ≤-neighbors the operation is defined over
      val w = Window.partitionBy(col("u"))
      val withM = e.withColumn("m", min(col("v")).over(w))
      withM.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(withM.select(col("u"), col("m").as("v")))
        .distinct()
    }
    var sig = signature(edges)
    var alternations = 0
    var converged = sig._1 == 0L
    while (!converged && alternations < maxAlternations) {
      // checkpoint BOTH phases: each references its input twice (the
      // symmetrize union / the two emit branches) — on a lazy input the
      // whole upstream pipeline would execute twice per reference
      val ls = largeStar(edges).localCheckpoint()
      val next = smallStar(ls).localCheckpoint()
      alternations += 1
      val nsig = signature(next)
      val candidate = nsig._1 == sig._1 &&
        ((nsig._2, sig._2) match {
          case (Some(a), Some(b)) => a.compareTo(b) == 0
          case (a, b) => a == b
        })
      // exact certificate, only on signature match: the alternation must
      // be a literal no-op (both ops idempotent on the star set)
      converged = candidate &&
        next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty
      // release the superseded round's checkpoint blocks NOW (r15
      // advice): `next` is materialized and this round's certificate has
      // run, so nothing references `ls` or the previous `edges` again —
      // without this, O(log n) full edge sets stay pinned in the block
      // manager until ContextCleaner GC
      org.apache.spark.sql.graft.CheckpointBridge.releaseLocalCheckpoint(ls)
      org.apache.spark.sql.graft.CheckpointBridge
        .releaseLocalCheckpoint(edges)
      edges = next
      sig = nsig
    }
    if (!converged && sig._1 > 0L)
      throw new IllegalStateException(
        s"star contraction not converged after $alternations alternations")
    // at convergence the edge set is a union of stars big→small: every
    // non-root points at its component minimum, roots/isolated docs
    // carry their own id
    val stars = edges.groupBy(col("u")).agg(min(col("v")).as("label"))
      .select(col("u").as("__sid"), col("label"))
    docs.select(col(idCol).as("id"))
      .join(stars, col("id") === col("__sid"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  private[graft] def labelClustersUncached(docs: DataFrame, pairs: DataFrame,
      maxRounds: Int, reliableCheckpointDir: Option[String] = None)
      : (DataFrame, Int) = {
    // Iterative-algorithm hygiene: the naive round
    // `labels.union(propagated(labels))` references `labels` TWICE, so the
    // logical plan doubles every iteration (2^rounds leaf copies — measured
    // 24s at sf0.1; round 1 worked around it with eager localCheckpoints,
    // still ~8s of materialization jobs). Adding SELF-LOOPS to the edge set
    // makes "keep my own label" just another neighbor propagation, so each
    // round is one join + one aggregate over a SINGLE labels reference —
    // plan growth is linear and the whole iteration stays lazy (zero jobs
    // until the caller's action). The edge set is checkpointed once: eager,
    // but it truncates the LSH lineage that the five round-joins would
    // otherwise re-derive per round (measured 6.7s/action fully lazy, and a
    // lazy persist() was 3-8x run-to-run unstable under AQE — the
    // checkpoint is the stable, predictable form).
    //
    // Default localCheckpoint stores blocks on executor local storage only:
    // fastest, but on a real cluster an executor loss kills the
    // lineage-truncated plan. Long multi-stage 100 TB jobs should pass
    // `reliableCheckpointDir` (shared storage): the edge set is then written
    // to parquet and re-read — same truncation, storage-backed recovery,
    // engine-portable (no SparkContext-global checkpoint dir needed).
    val edgesRaw = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .union(docs.select(col(docs.columns.head).as("src"),
        col(docs.columns.head).as("dst")))
    val edges = reliableCheckpointDir match {
      case Some(dir) =>
        val path = s"$dir/graft_edges_${java.util.UUID.randomUUID()}"
        edgesRaw.write.mode("error").parquet(path)
        edgesRaw.sparkSession.read.parquet(path)
      case None => edgesRaw.localCheckpoint()
    }
    var labels = docs.select(col(docs.columns.head).as("id"),
      col(docs.columns.head).as("label"))
    // Adaptive loop, three ingredients (each measured in r13):
    //
    // 1. LAZY edge rounds between polls: each round references the
    //    previous labels once, so the chained plan grows linearly and a
    //    whole inter-poll span evaluates as one pipelined query — the
    //    property that made the old fixed-5 form cheap (a first-cut
    //    per-round-checkpoint loop measured 7.1 s vs the old ~2 s at
    //    sf0.1 from per-round job+materialization overhead).
    // 2. POINTER DOUBLING at each poll (the Hash-to-Min / pointer-
    //    jumping CC trick): on the just-checkpointed labels, one cheap
    //    doc-keyed self-join rewrites label(id) ← label(label(id)),
    //    roughly squaring every label's reach. Edge rounds alone need
    //    diameter rounds; with a jump per poll the combined loop
    //    converges in O(log diameter) — the sf0.1 LSH candidate graph's
    //    real pure-edge depth is 22 on the current fixtures (PLANS.md,
    //    r14; ~10 on earlier generations — either way the fixed-5 form
    //    was silently under-merging it; 123 jobs / 18 s without jumps),
    //    and at 100 TB a long chain costs log, not linear, passes. Jump
    //    preserves the invariants the proof needs: label(id) is always
    //    the id of a component member and only ever decreases.
    // 3. A DOUBLING poll schedule (4, 6, 10, 18, …, capped): each poll
    //    checkpoints the chain, jumps, checkpoints the jump, and runs a
    //    1-row DECIMAL(38,0) label sum. Equal sums at consecutive polls
    //    ⇒ nothing (edge rounds OR jump) changed in the span — the sum
    //    strictly decreases whenever any label moves ⇒ the labels are
    //    edge-stable, and edge-stable labels are constant on components
    //    (mirrored edges) and equal to the component min. O(log)
    //    materializations, bounded overshoot.
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] = Option(
      df.agg(sum(col("label").cast("decimal(38,0)")).as("s")).head().getDecimal(0))
    // AQE stays ON for the loop's actions — measured both ways at sf0.1:
    // with AQE the loop runs many small per-stage jobs but coalesces the
    // tiny label-side shuffles (9.4 s); statically planned it runs 32
    // near-empty sort tasks per stage and costs 2× more (20 s). Runtime
    // coalescing is exactly what these skewed-size iterations need.
    var prevSum = labelSum(labels)
    var executed = 0
    var converged = false
    val it = pollSchedule(maxRounds).iterator
    while (!converged && it.hasNext) {
      val target = it.next()
      // last poll's checkpointed labels (the initial projection on the
      // first poll — a composite plan CheckpointBridge no-ops on);
      // captured BEFORE the lazy edge rounds chain onto it
      val pollStart = labels
      while (executed < target) {
        labels = edges
          .join(labels.withColumnRenamed("id", "__src"), col("src") === col("__src"))
          .groupBy(col("dst"))
          .agg(min("label").as("label"))
          .select(col("dst").as("id"), col("label"))
        executed += 1
      }
      val chained = labels.localCheckpoint()
      // the PREVIOUS poll's label checkpoint (captured at loop top,
      // BEFORE the lazy edge rounds chained onto it — the lazy chain's
      // plan also references the shared edge checkpoint, which must
      // live on; CheckpointBridge additionally refuses composite plans)
      // is superseded once `chained` materializes
      org.apache.spark.sql.graft.CheckpointBridge
        .releaseLocalCheckpoint(pollStart)
      // one pointer jump on the materialized labels: rewrite
      // label(id) ← label(label(id)) — on a monotone pointer chain this
      // doubles every label's reach for one cheap doc-keyed self-join.
      // (A full path-compression inner loop was measured SLOWER on the
      // real LSH graph — its pointer trees are shallow, so extra jump
      // iterations only added job overhead: 10.8 s vs 9.5 s at sf0.1.)
      // Both join sides read the same checkpointed RDD, so the self-join
      // cannot re-derive the edge chain (the plan-doubling trap the
      // self-loop trick exists for).
      val jumpTo = chained.select(col("id").as("__jid"),
        col("label").as("__jlabel"))
      labels = chained.join(jumpTo, col("label") === col("__jid"))
        .select(col("id"), col("__jlabel").as("label"))
        .localCheckpoint()
      // the jumped labels are materialized; the pre-jump checkpoint goes
      org.apache.spark.sql.graft.CheckpointBridge
        .releaseLocalCheckpoint(chained)
      val s = labelSum(labels)
      converged = (s, prevSum) match {
        case (Some(a), Some(b)) => a.compareTo(b) == 0
        case (a, b) => a == b // both None: empty graph, trivially stable
      }
      prevSum = s
    }
    (labels, executed)
  }

  /** Cumulative poll rounds for the adaptive loop: 4, then doubling
    * increments (+2, +4, +8, …), clamped to the cap — O(log cap) polls.
    */
  private[graft] def pollSchedule(maxRounds: Int): Seq[Int] = {
    val b = Seq.newBuilder[Int]
    var cur = math.min(4, maxRounds)
    var step = 2
    b += cur
    while (cur < maxRounds) {
      cur = math.min(cur + step, maxRounds)
      step *= 2
      b += cur
    }
    b.result()
  }

  /** OPTIONAL pre-propagation degree cap (default-off — d07 and every
    * registered query propagate the full candidate set): each doc keeps
    * its `maxDegree` strongest candidate edges (evidence = n_shared_bands
    * desc, partner-id asc tie-break), and an edge survives if EITHER
    * endpoint keeps it. The bound is GLOBAL, not per-node: every
    * surviving edge is charged to a keeper and each node keeps ≤
    * maxDegree, so |surviving edges| ≤ n·maxDegree — the per-round
    * propagation join touches a linear edge set however dense the LSH
    * graph gets. (A hub every neighbor keeps can still carry high
    * DEGREE — a star survives capping intact by design: dropping those
    * edges would disconnect docs whose only evidence is the hub.)
    * The trade is exact and one-sided: capping can only
    * DROP edges, so capped clusters are always a REFINEMENT of the
    * uncapped ones (never over-merge; an edge is lost — and a merge
    * missed — only when BOTH endpoints rank it below their cap, the
    * both-ends-saturated case Round14Spec constructs and quantifies).
    * Reach for this only when a future fixture decade makes propagation
    * dominate the suite (the r13 verdict's item 6 condition); at current
    * scales the full set converges in 22 rounds at sf0.1 and needs no
    * sampling.
    */
  def degreeCapEdges(pairs: DataFrame, maxDegree: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxDegree >= 1, s"maxDegree must be >= 1, got $maxDegree")
    val dir = pairs.select(col("doc_a").as("doc"), col("doc_b").as("partner"),
        col("n_shared_bands"))
      .unionByName(pairs.select(col("doc_b").as("doc"),
        col("doc_a").as("partner"), col("n_shared_bands")))
    val w = Window.partitionBy(col("doc"))
      .orderBy(col("n_shared_bands").desc, col("partner").asc)
    dir.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxDegree)
      .select(least(col("doc"), col("partner")).as("doc_a"),
        greatest(col("doc"), col("partner")).as("doc_b"),
        col("n_shared_bands"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("n_shared_bands")).as("n_shared_bands"))
  }

  /** Fused LSH candidate generation + exact-Jaccard verify (r17): the
    * features ride the band explode, so the verify's intersection count
    * runs WHERE THE BAND SELF-JOIN LANDS and the only pair-scale shuffle
    * left is the narrow (doc_a, doc_b, count, jaccard) aggregation.
    *
    * Why this beats [[lshCandidatePairs]] → [[jaccardOnPairs]] at scale:
    * the split form's verify joins the pair table back against features
    * TWICE (by doc_a, then by doc_b), and the second join's INPUT is the
    * first join's output — every candidate pair row carrying doc_a's full
    * feature array through a pair-scale shuffle (~kB × |candidates|; at
    * sf1 that is 6.7 M pairs × word-shingle arrays, the dominant bytes of
    * d04's whole line — and the candidate:corpus ratio only grows with
    * scale). The fused form never shuffles features at PAIR scale: each
    * doc's array moves through the band shuffle `bands` times (corpus
    * scale, fixed ×bands), collision rows compute jaccard in place, and
    * the aggregation that dedups multi-band pairs shuffles three numbers
    * per pair. The trade: a pair colliding in k>1 bands computes its
    * intersection k times. Measured (PLANS.md r17, same-session A/B, sf1):
    * word-shingle 4×3 split 5.7–6.5 s → fused 5.2 s even though the
    * duplicate-compute factor is 3.0× (20.4 M collision rows over 6.7 M
    * pairs) — the removed pair-scale array shuffle outweighs tripled
    * codegen CPU; char-5-gram 2×6 split 2.5–3.0 → fused 2.3–2.6 s at
    * factor 1.01. The factor is bounded by `bands` and the bytes win
    * grows with the candidate:corpus ratio, so the gap widens with scale.
    *
    * `first(jaccard)` in the agg is safe for bit-identity: every collision
    * row of a pair computes the same double from the same two arrays with
    * the same expression. Round16Spec pins the stored verified-pair table
    * (built through THIS path) row-equal, jaccard-bit-identical, to the
    * split lshCandidatePairs→jaccardOnPairs derivation.
    */
  def lshVerifiedPairs(docs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val banded = bandFingerprints(docs, bands, rows, carry = Seq("features"))
    val a = banded.select(col("id").as("doc_a"), col("features").as("fa"),
      col("band_idx"), col("bh"))
    val b = banded.select(col("id").as("doc_b"), col("features").as("fb"),
      col("band_idx").as("band_idx_b"), col("bh").as("bh_b"))
    a.join(b, col("band_idx") === col("band_idx_b") && col("bh") === col("bh_b") &&
        col("doc_a") < col("doc_b"))
      // same expression pair as jaccardOnPairs — bit-identical doubles
      .withColumn("__overlap",
        graft.functions.LongIntersectCount
          .intersectCount(col("fa"), col("fb")).cast("double"))
      .withColumn("jaccard",
        col("__overlap") / (size(col("fa")) + size(col("fb")) - col("__overlap")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"), first(col("jaccard")).as("jaccard"))
  }

  /** Exact Jaccard similarity on candidate pairs (the verify step after LSH
    * candidate generation). `withFeatures`: (id, features).
    *
    * Prefer [[lshVerifiedPairs]] when the pairs come straight from the
    * band self-join — it avoids shuffling feature arrays at pair scale.
    * This form remains for callers whose pair set is NOT the raw LSH
    * collision output (degree-capped graphs, externally stored pair
    * tables) and as the independent derivation Round16Spec checks the
    * fused path against.
    */
  def jaccardOnPairs(pairs: DataFrame, withFeatures: DataFrame): DataFrame = {
    val fa = withFeatures.select(col("id").as("doc_a"), col("features").as("fa"))
    val fb = withFeatures.select(col("id").as("doc_b"), col("features").as("fb"))
    // feature arrays are distinct-element by construction (shingle/char-gram
    // extractors dedup), so |a ∪ b| = |a| + |b| - |a ∩ b| — one
    // intersection COUNT per pair instead of intersect + union halves the
    // dominant per-pair cost (the arrays are ~n_chars long for char grams),
    // and the count-only native expression (intersect_count) never
    // materializes the intersection array size(array_intersect(...)) would
    // build and discard — exact-parity pinned in Round16Spec
    pairs.join(fa, "doc_a").join(fb, "doc_b")
      .withColumn("__overlap",
        graft.functions.LongIntersectCount
          .intersectCount(col("fa"), col("fb")).cast("double"))
      .withColumn("jaccard",
        col("__overlap") / (size(col("fa")) + size(col("fb")) - col("__overlap")))
      .drop("fa", "fb", "__overlap")
  }
}
