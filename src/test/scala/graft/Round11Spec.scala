package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Round 11: the events fixture has shipped with `ts` as parquet
  * TIMESTAMP(NANOS) (surfacing as a raw long under nanosAsLong) and as
  * TIMESTAMP(MICROS) (surfacing as TimestampNTZ) across fixture
  * generations. A fixed assumption of either encoding silently breaks every
  * query that touches `events` OR registers temp views — 16 queries failed
  * in round 10 for exactly this reason. These specs pin the adaptive load:
  * identical downstream schema (session-zoned TimestampType) and identical
  * values for both encodings, batch and streaming.
  */
class Round11Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Write the same three logical rows as (a) raw nanos longs the way a
    * TIMESTAMP(NANOS) file surfaces under nanosAsLong, and (b) NTZ micros
    * the way a pandas-written TIMESTAMP(MICROS) file surfaces.
    */
  private def writeFixtures(): (String, String) = {
    val base = Files.createTempDirectory("graft_ts_enc").toString
    val rows = Seq(
      (1L, 1704067200L * 1000000L, 10L, "view", 1.0, "{}"),
      (2L, 1704067260L * 1000000L + 123456L, 10L, "click", 2.0, "{}"),
      (3L, 1704070000L * 1000000L, 11L, "view", 3.0, "{}"))
    val nanosDir = s"$base/nanos/events.parquet"
    rows.map { case (id, us, u, t, v, p) => (id, us * 1000L, u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(nanosDir)
    val microsDir = s"$base/micros/events.parquet"
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros($"ts").cast(TimestampNTZType))
      .write.parquet(microsDir)
    (s"$base/nanos", s"$base/micros")
  }

  test("batch events load adapts to nanos-long and micros-NTZ encodings") {
    val (nanosDir, microsDir) = writeFixtures()
    val a = Tables.load(spark, nanosDir, "events")
    val b = Tables.load(spark, microsDir, "events")
    assert(a.schema("ts").dataType === TimestampType)
    assert(b.schema("ts").dataType === TimestampType)
    val key = Seq("event_id", "ts", "user_id", "event_type", "value")
    val av = a.select(key.map(col): _*).orderBy("event_id").collect().toSeq
    val bv = b.select(key.map(col): _*).orderBy("event_id").collect().toSeq
    assert(av === bv)
    // epoch arithmetic (what e03/e08 do) must analyze on both
    assert(a.select($"ts".cast(DoubleType)).count() === 3)
    assert(b.select($"ts".cast(DoubleType)).count() === 3)
  }

  private val Sf = "/root/testdata/sf0.001"

  test("s17 two-stage int8 rescore recovers the exact brute-force top-k") {
    // end-to-end recall property of the two-stage design: with the 4x
    // rescore margin (c=20, k=5), int8 stage-1 ranking error below the cut
    // line never costs a true neighbor on the fixture, and stage-2 cosines
    // are full-precision — so the served result IS the exact result.
    val cols = Seq("query_id", "rank", "vec_id", "cos").map(col)
    val exact = SparkEntry.queries("s01_knn_brute")(spark, Sf)
      .select(cols: _*).collect().toSeq
    val served = SparkEntry.queries("s17_knn_int8_rescore")(spark, Sf)
      .select(cols: _*).collect().toSeq
    assert(served === exact)
  }

  test("s20: candidate-set recall dominates int8-only; full recall at c=20") {
    val rows = SparkEntry.queries("s20_int8_recall")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (only, cand) = (r.getLong(1), r.getLong(3))
      // the c=20 candidate set contains the k=5 int8-only list
      assert(cand >= only)
      // s17's equals-brute spec implies the margin recovers everything here
      assert(cand === ExtensionQueries5.KnnK.toLong)
    }
  }

  test("s21 binary rescore: true cosines, exact ordering, bounded hamming") {
    val res = SparkEntry.queries("s21_knn_binary_rescore")(spark, Sf).collect()
    assert(res.nonEmpty)
    // hamming is a 64-bit distance; ranks order by the EXACT cosine
    res.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(1))
      assert(byRank.map(_.getDouble(4)).toSeq ===
        byRank.map(_.getDouble(4)).sortBy(-(_: Double)).toSeq)
      assert(rows.forall(r => r.getInt(3) >= 0 && r.getInt(3) <= 64))
    }
    // every served cosine is the full-precision value for that pair
    val exactAll = SparkEntry.queries("s01_knn_brute")(spark, Sf)
    import graft.operators.VectorOps
    val e = graft.sources.Tables.load(spark, Sf, "embeddings")
      .select($"vec_id", VectorOps.toDouble($"embedding").as("v"))
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    res.foreach { r =>
      val (q, c, cos) = (r.getLong(0), r.getLong(2), r.getDouble(4))
      val (a, b) = (vecs(q), vecs(c))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val exact = dot / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum))
      assert(math.abs(cos - math.floor(exact * 1e6 + 0.5) / 1e6) < 2e-6)
    }
    // the 1-bit first pass is coarse but not useless: it recovers a
    // meaningful share of the exact top-k through the c=4k margin
    val truth = exactAll.select($"query_id", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(2 - 1))).toSet
    val got = res.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.4, s"binary-rescore recall $recall")
  }

  test("s19 multi-probe metrics dominate single-probe per query") {
    // probe2's candidate pool is a superset of probe1's per query, and the
    // approx list ranks by the same exact cosine as the ground truth — so
    // every metric is monotonically >= (a relevant doc can only be
    // displaced by another relevant doc ranked above it).
    val m = SparkEntry.queries("s19_retrieval_metrics")(spark, Sf)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(4), r.getDouble(5))).toMap
    val queries = m.keys.map(_._2).toSeq.distinct
    assert(queries.nonEmpty)
    for (q <- queries) {
      val (h1, mrr1, ndcg1) = m(("lsh_probe1", q))
      val (h2, mrr2, ndcg2) = m(("lsh_probe2", q))
      assert(h2 >= h1, s"n_hits regressed for query $q")
      assert(mrr2 >= mrr1, s"mrr regressed for query $q")
      assert(ndcg2 >= ndcg1, s"ndcg regressed for query $q")
    }
  }

  test("t26 contamination rate is exact on a constructed corpus") {
    val dir = Files.createTempDirectory("graft_t26").toString
    Seq(
      // eval doc 0: 4 distinct 3-grams, 2 of which appear in train -> 0.5
      (0L, "a b c d e f"),
      // train doc 1 shares the "a b c d" span with eval doc 0
      (1L, "a b c d q r s"),
      (2L, "t u v w x y z"),
      // eval doc 97: zero overlap with any train doc -> 0.0
      (97L, "m1 m2 m3 m4"),
      // eval doc 194: under 3 tokens -> no shingles -> absent from output
      (194L, "x y"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t26_ngram_overlap")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got.keySet === Set(0L, 97L))
    assert(got(0L) === ((4L, 2L, 0.5)))
    assert(got(97L)._2 === 0L)
    assert(got(97L)._3 === 0.0)
  }

  test("q85 per-group estimates bracket the exact percentile within max_err") {
    val li = graft.sources.Tables.load(spark, Sf, "lineitem")
      .select($"l_returnflag".as("g"), $"l_extendedprice".cast("double").as("x"))
    val exact = li.groupBy($"g").agg(
      expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY x)").as("p50"),
      expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY x)").as("p90"),
      expr("percentile_cont(0.99) WITHIN GROUP (ORDER BY x)").as("p99"))
      .collect().map(r => r.getString(0) ->
        Map(0.5 -> r.getDouble(1), 0.9 -> r.getDouble(2), 0.99 -> r.getDouble(3)))
      .toMap
    val est = SparkEntry.queries("q85_grouped_quantile_sketch")(spark, Sf)
      .collect()
    assert(est.length === 9) // 3 groups x 3 targets
    est.foreach { r =>
      val (g, q, e, w) =
        (r.getString(0), r.getDouble(1), r.getDouble(3), r.getDouble(4))
      val x = exact(g)(q)
      // est is the lower edge of the bin holding the ceil(q*n)-th value;
      // percentile_cont interpolates, so allow one bin width each side
      assert(x >= e - w - 1e-6 && x <= e + 2 * w + 1e-6,
        s"group $g q=$q: exact $x outside [$e - w, $e + 2w], w=$w")
    }
  }

  test("e11 native session_window equals manual gaps-and-islands with the > rule") {
    import org.apache.spark.sql.expressions.{Window => W}
    val ev = graft.sources.Tables.load(spark, Sf, "events")
    val byUser = W.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val running = byUser.rowsBetween(W.unboundedPreceding, W.currentRow)
    val us = unix_micros($"ts")
    val gapUs = ExtensionQueries5.SessionGapSec.toLong * 1000000L
    val manual = ev
      .withColumn("__prev", lag(us, 1).over(byUser))
      .withColumn("__new", when($"__prev".isNull || us - $"__prev" > gapUs, 1L)
        .otherwise(0L))
      .withColumn("__sid", sum($"__new").over(running))
      .groupBy($"user_id", $"__sid")
      .agg(min($"ts").as("session_start"),
        (max(us) + gapUs).as("__end_us"),
        count(lit(1)).as("n_events"),
        graft.operators.Agg.roundAt(graft.operators.Agg.decSum($"value"), 2)
          .as("sum_value"))
      .select($"user_id", $"session_start",
        timestamp_micros($"__end_us").as("session_end"), $"n_events",
        $"sum_value")
      .orderBy($"user_id", $"session_start").collect().toSeq
    val native = SparkEntry.queries("e11_session_window")(spark, Sf)
      .collect().toSeq
    assert(native === manual)
    // pin the boundary rule: an event EXACTLY gap after the previous one
    // still merges into the same session; one microsecond past it splits
    def sessions(ts2: String): Long = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L, "view", 1.0, "{}"),
      (2L, java.sql.Timestamp.valueOf(ts2), 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .groupBy($"user_id",
        session_window($"ts", s"${ExtensionQueries5.SessionGapSec} seconds"))
      .count().count()
    assert(sessions("2024-01-01 00:30:00") === 1L)
    assert(sessions("2024-01-01 00:30:00.000001") === 2L)
  }

  test("t27 containment fields are internally consistent and asymmetric") {
    val rows = SparkEntry.queries("t27_containment")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (shared, na, nb) = (r.getLong(2), r.getInt(3), r.getInt(4))
      val (ca, cb, flag) = (r.getDouble(5), r.getDouble(6), r.getBoolean(7))
      assert(shared <= math.min(na, nb))
      assert(math.abs(ca - math.floor(shared.toDouble / na * 10000 + 0.5) / 10000) < 1e-9)
      assert(math.abs(cb - math.floor(shared.toDouble / nb * 10000 + 0.5) / 10000) < 1e-9)
      assert(flag === (math.max(shared.toDouble / na, shared.toDouble / nb) >=
        ExtensionQueries5.ContainThr))
    }
    // the metric is genuinely asymmetric on the fixture: some candidate
    // pair has different containments in the two directions
    assert(rows.exists(r => r.getDouble(5) != r.getDouble(6)))
  }

  test("m08 finds aligned shared frames and drops boilerplate past the df cap") {
    val dir = Files.createTempDirectory("graft_m08").toString
    val W = ExtensionQueries5.FrameW
    def frame(c: Char): String = c.toString * W
    val shared = frame('s')
    val boiler = frame('z')
    val docs =
      // docs 0 and 1 share ONE aligned frame; the rest differ
      Seq((0L, shared + frame('a')), (1L, shared + frame('b'))) ++
        // 12 docs > FrameDfCap all carry the boilerplate frame
        (2L to 13L).map(i => (i, boiler + frame(('c' + i).toChar)))
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("m08_frame_overlap")(spark, dir).collect()
    // the boilerplate frame is in 12 > 10 docs -> contributes no pairs;
    // only (0,1) remains, sharing exactly one of two frames each
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((0L, 1L, 1L)))
    assert(r.getDouble(5) === 0.5)
  }

  test("q86 clip counts obey the sketch-construction bounds; p50 inside [lo,hi]") {
    val win = SparkEntry.queries("q86_winsorize")(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(win.keySet === Set("A", "N", "R"))
    win.foreach { case (g, (n, lo, hi)) =>
      // values strictly below the p01 bin's lower edge are < ceil(0.01*n)
      // (the bin was the FIRST reaching that cumulative count), and values
      // above the p99 bin's upper edge are <= n - ceil(0.99*n)
      assert(lo < math.ceil(ExtensionQueries5.WinsorLoQ * n).toLong,
        s"group $g: n_clipped_lo=$lo vs n=$n")
      assert(hi <= n - math.ceil(ExtensionQueries5.WinsorHiQ * n).toLong,
        s"group $g: n_clipped_hi=$hi vs n=$n")
    }
    // the q85 median estimate lies inside q86's clip bounds per group
    val p50 = SparkEntry.queries("q85_grouped_quantile_sketch")(spark, Sf)
      .filter($"quantile" === 0.5).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val li = graft.sources.Tables.load(spark, Sf, "lineitem")
      .select($"l_returnflag".as("g"), $"l_extendedprice".as("x"))
    val mm = li.groupBy($"g").agg(min($"x").as("mn"), max($"x").as("mx"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    p50.foreach { case (g, est) =>
      val (mn, mx) = mm(g)
      assert(est > mn && est < mx)
    }
  }

  test("t28 regression recovers the slope of a constructed power-law corpus") {
    val dir = Files.createTempDirectory("graft_t28").toString
    // counts(r) = floor(2000 / r): a Zipf s=1 spectrum over 20 terms
    val R = 20
    val counts = (1 to R).map(r => 2000 / r)
    val text = (1 to R).flatMap(r => Seq.fill(counts(r - 1))(f"w$r%02d"))
      .mkString(" ")
    Seq((0L, text)).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val row = SparkEntry.queries("t28_zipf_fit")(spark, dir).collect().head
    assert(row.getLong(0) === R.toLong)
    assert(row.getString(1) === "w01")
    assert(row.getLong(2) === 2000L)
    // replay the exact fixed-point regression in plain Scala
    val pts = (1 to R).map { r =>
      (math.floor(math.log(r.toDouble) * 1e6).toLong,
        math.floor(math.log(counts(r - 1).toDouble) * 1e6).toLong)
    }
    val n = R.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val expect = math.floor(
      (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble * 1e6 + 0.5) / 1e6
    assert(row.getDouble(3) === expect)
    // and it is Zipf-ish: slope near -1 (floor() quantization shifts it)
    assert(row.getDouble(3) < -0.9 && row.getDouble(3) > -1.1)
  }

  test("m09 silence trim keeps exactly the loud windows, byte-exact") {
    import graft.operators.Multimodal
    import graft.operators.Multimodal.MediaRecord
    // window=4: [loud][silent][loud] + a 2-byte tail that must be dropped
    val loud1 = "ZZZZ".getBytes("UTF-8")   // (90-32)^2 * 4 = 13456 >= thr
    val silent = "    ".getBytes("UTF-8")  // 0 < thr
    val loud2 = "QQQQ".getBytes("UTF-8")
    val tail = "ZZ".getBytes("UTF-8")
    val samples = loud1 ++ silent ++ loud2 ++ tail
    val payload = Multimodal.Pcm.encodeHeader(samples.length) ++ samples
    val allSilent = Multimodal.Pcm.encodeHeader(4) ++ silent
    val media = Seq(
      MediaRecord(1L, "audio", payload, samples.length, 1),
      MediaRecord(2L, "audio", allSilent, 4, 1)).toDS()
    val got = Multimodal.audioSilenceTrim(media, window = 4, silenceThr = 100L)
      .collect().map(t => t.doc_id -> t).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(b: Array[Byte]) = md.digest(b).map("%02x".format(_)).mkString
    assert(got(1L).n_windows === 3)
    assert(got(1L).n_kept === 2)
    assert(got(1L).kept_bytes === 8)
    assert(got(1L).trimmed_md5 === hex(loud1 ++ loud2))
    assert(got(2L).n_kept === 0)
    assert(got(2L).trimmed_md5 === hex(Array.empty[Byte]))
  }

  test("t29 grouped sketch is partitioning-invariant and exact-regime correct") {
    // exact regime (capacity >= per-source vocab): the sketch equals plain
    // per-source counts, and the answer cannot depend on physical layout
    val base = SparkEntry.queries("t29_grouped_heavy_hitters")(spark, Sf)
      .collect().toSeq
    assert(base.nonEmpty && base.map(_.getString(0)).distinct.size > 1)
    val docs = graft.sources.Tables.load(spark, Sf, "documents")
    val exact = docs
      .select($"source", explode(graft.operators.TextOps.tokens($"text")).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("est"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"source")
          .orderBy($"est".desc, $"term".asc)))
      .filter($"rank" <= ExtensionQueries5.GHHTopK)
      .select($"source", $"rank", $"term", $"est")
      .orderBy($"source", $"rank").collect().toSeq
    assert(base === exact)
    // different physical partitioning -> different partial summaries ->
    // same merged answer (the mergeable-summary property)
    val ssU = udaf(
      graft.operators.HeavyHitters.spaceSaving(ExtensionQueries5.GHHCapacity),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]())
    def run(parts: Int) = docs
      .select($"source", graft.operators.TextOps.tokens($"text").as("toks"))
      .repartition(parts)
      .groupBy($"source").agg(ssU($"toks").as("ss"))
      .select($"source", explode($"ss").as("e"))
      .select($"source", $"e.term", $"e.est")
      .orderBy($"source", $"e.est".desc, $"e.term").collect().toSeq
    assert(run(1) === run(7))
  }

  test("e12 streaks: strict increase, equal values break, known answer") {
    val dir = Files.createTempDirectory("graft_e12").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // user 7: values 1,2,3 | 1,5 | 2 -> longest 3, 3 streaks, 6 events
    // user 8: values 4,4 -> equal value BREAKS (strict) -> two streaks of 1
    val rows = Seq(
      (1L, ts(1), 7L, "view", 1.0, "{}"), (2L, ts(2), 7L, "view", 2.0, "{}"),
      (3L, ts(3), 7L, "view", 3.0, "{}"), (4L, ts(4), 7L, "view", 1.0, "{}"),
      (5L, ts(5), 7L, "view", 5.0, "{}"), (6L, ts(6), 7L, "view", 2.0, "{}"),
      (7L, ts(1), 8L, "view", 4.0, "{}"), (8L, ts(2), 8L, "view", 4.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("e12_value_streaks")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(7L) === ((3L, 3L, 6L)))
    assert(got(8L) === ((1L, 2L, 2L)))
  }

  test("int_dot native equals the portable fold, incl. null/mismatch edges") {
    import graft.functions.IntDotProduct.intDot
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-127L, 127L), Seq(127L, 127L)),
      (Seq.empty[Long], Seq.empty[Long]))
      .toDF("a", "b")
    val native = df.select(intDot($"a", $"b")).collect().map(_.get(0)).toSeq
    val fold = df.select(
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L), (acc, x) => acc + x))
      .collect().map(_.get(0)).toSeq
    assert(native === fold)
    assert(native === Seq(32L, 0L, 0L))
    // length mismatch and null element both -> null, like the fold
    val edges = Seq(
      (Seq[java.lang.Long](1L), Seq[java.lang.Long](1L, 2L)),
      (Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L, 2L)))
      .toDF("a", "b")
    val got = edges.select(intDot($"a", $"b")).collect()
    assert(got.forall(_.isNullAt(0)))
    // SQL surface registration
    df.createOrReplaceTempView("r11_intdot")
    assert(spark.sql("SELECT int_dot(a, b) AS d FROM r11_intdot ORDER BY d")
      .collect().map(_.getLong(0)).toSeq === Seq(0L, 0L, 32L))
  }

  test("streaming events read matches the batch load for both encodings") {
    val (nanosDir, microsDir) = writeFixtures()
    for (dir <- Seq(nanosDir, microsDir)) {
      val stream = graft.streaming.EventStreams.readEventStream(
        spark, s"$dir/events.parquet")
      assert(stream.schema("ts").dataType === TimestampType)
      val got = graft.streaming.EventStreams.runToMemory(
        stream, s"r11_enc_${dir.replaceAll("[^a-z]", "")}",
        org.apache.spark.sql.streaming.OutputMode.Append())
      val batch = Tables.load(spark, dir, "events")
      assert(got.orderBy("event_id").collect().toSeq ===
        batch.orderBy("event_id").collect().toSeq)
    }
  }
}
