package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class SnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fact = Seq(
    ("a", "x", 2020, 1.0), ("a", "x", 2021, 2.0), ("a", "x", 2021, 3.0),
    ("a", "y", 2019, 4.0), ("b", "x", 2021, 5.0)
  ).toDF("k1", "k2", "year", "v")

  test("latestPerKeyJoin keeps all rows tied for the max (reference semantics)") {
    val got = Snapshot.latestPerKeyJoin(fact, Seq("k1", "k2"), "year")
      .select("v").as[Double].collect().sorted
    assert(got.toSeq == Seq(2.0, 3.0, 4.0, 5.0))
  }

  test("latestPerKeyWindow returns exactly one row per key, by total order") {
    val got = Snapshot.latestPerKeyWindow(fact, Seq("k1", "k2"),
        Seq(col("year").desc, col("v").desc))
      .select("v").as[Double].collect().sorted
    assert(got.toSeq == Seq(3.0, 4.0, 5.0))
  }

  test("filterLatestGlobal matches the collect-and-filter equivalent") {
    val lazyRows = Snapshot.filterLatestGlobal(fact, "year")
      .select("v").as[Double].collect().sorted
    val mx = fact.agg(max("year")).first.getInt(0)
    val eagerRows = fact.filter(col("year") === mx)
      .select("v").as[Double].collect().sorted
    assert(lazyRows.toSeq == eagerRows.toSeq)
  }
}

class ScoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("minMaxScore maps min->0, max->100, all within [0,100]") {
    val df = Seq(1.0, 3.0, 5.0, 9.0).toDF("v")
    val got = Score.minMaxScore(df, "v", "s").orderBy("v")
      .select("s").as[Double].collect()
    assert(got.head == 0.0 && got.last == 100.0)
    assert(got.forall(s => s >= 0 && s <= 100))
  }

  test("min == max degenerates to NaN, faithful to the reference (no guard)") {
    val df = Seq(2.0, 2.0).toDF("v")
    val got = Score.minMaxScore(df, "v", "s").select("s").as[Double].collect()
    assert(got.forall(_.isNaN))
  }

  test("lazy variant equals the reference's driver-collect variant") {
    val df = Seq(1.0, 4.0, 7.5, 11.25).toDF("v")
    val a = Score.minMaxScore(df, "v", "s").orderBy("v").select("s").as[Double].collect()
    val b = Score.minMaxScoreCollect(df, "v", "s").orderBy("v").select("s").as[Double].collect()
    assert(a.toSeq == b.toSeq)
  }

  test("window variant equals the cross-join variant, nulls and NaN included") {
    for (vs <- Seq(Seq(Some(1.0), Some(4.0), None, Some(11.25)), Seq(Some(2.0), Some(2.0)))) {
      val df = vs.toDF("v")
      val a = Score.minMaxScore(df, "v", "s").orderBy("v").select("s").collect()
      val b = df.withColumn("s", Score.minMaxOver(col("v"))).orderBy("v").select("s").collect()
      assert(a.toSeq == b.toSeq, s"$vs")
    }
  }
}

class AggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("decAvg is bit-identical under any repartitioning") {
    val vals = (1 to 10001).map(i => math.sin(i) * 1e5)
    val df = vals.toDF("v")
    val a = df.repartition(1).agg(Agg.decAvg(col("v"))).first.getDouble(0)
    val b = df.repartition(7).agg(Agg.decAvg(col("v"))).first.getDouble(0)
    val c = df.repartition(32).agg(Agg.decAvg(col("v"))).first.getDouble(0)
    assert(a == b && b == c) // exact bit equality, not tolerance
  }

  test("decAvg matches plain avg within quantization tolerance") {
    val df = Seq(1.25, 2.5, 3.125).toDF("v")
    val dec = df.agg(Agg.decAvg(col("v"))).first.getDouble(0)
    val plain = df.agg(avg(col("v"))).first.getDouble(0)
    assert(math.abs(dec - plain) < 1e-6)
  }

  test("decAvg ignores nulls like avg") {
    val df = Seq(Some(2.0), None, Some(4.0)).toDF("v")
    assert(df.agg(Agg.decAvg(col("v"))).first.getDouble(0) == 3.0)
  }

  test("roundAt rounds half up at the requested scale") {
    val df = Seq((1.005, 2.344), (12.345, -1.0)).toDF("a", "b")
    val got = df.select(Agg.roundAt(col("a"), 2), Agg.roundAt(col("b"), 2)).collect()
    assert(got(0).getDouble(1) == 2.34)
    assert(got(1).getDouble(0) == 12.35)
  }
}

class EnrichSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import java.sql.Date

  test("daysOnMarket: null removed -> days to as-of; else listing duration") {
    val df = Seq(
      (Date.valueOf("2001-12-01"), Option.empty[Date]),
      (Date.valueOf("2001-12-01"), Some(Date.valueOf("2001-12-11")))
    ).toDF("listed", "removed")
    val got = df.select(
      Enrich.daysOnMarket(col("listed"), col("removed"), Date.valueOf("2002-01-01")))
      .as[Int].collect()
    assert(got.toSeq == Seq(31, 10))
  }

  test("ageInYears is year arithmetic") {
    val df = Seq(1990, 2002).toDF("yb")
    val got = df.select(Enrich.ageInYears(col("yb"), Date.valueOf("2002-01-01")))
      .as[Int].collect()
    assert(got.toSeq == Seq(12, 0))
  }
}

class SummaryOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("multiAvg produces avg_<col> per value column, one row per key") {
    val df = Seq(("a", 1.0, 10.0), ("a", 3.0, 30.0), ("b", 5.0, 50.0))
      .toDF("k", "x", "y")
    val got = SummaryOps.multiAvg(df, Seq("k"), Seq("x", "y")).orderBy("k").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(got(0).getDouble(1) == 2.0 && got(0).getDouble(2) == 20.0)
    assert(got(1).getDouble(1) == 5.0 && got(1).getDouble(2) == 50.0)
  }

  test("finalizeReport renames, rounds, and resolves case-insensitively") {
    val df = Seq((1.23456, "x")).toDF("raw_value", "name")
    val got = SummaryOps.finalizeReport(df,
      renames = Seq("raw_value" -> "VALUE", "name" -> "NAME"),
      roundCols = Seq("VALUE"),
      finalCols = Seq("NAME", "VALUE"))
    assert(got.columns.toSeq == Seq("NAME", "VALUE"))
    assert(got.first.getDouble(1) == 1.23)
  }
}

class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("flagship produces the 13-column reporting schema with sane scores") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toList == graft.pipeline.LocationSummary.FinalCols)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val crime = r.getDouble(r.fieldIndex("CRIME_SCORE"))
      assert(crime.isNaN || (crime >= 0 && crime <= 100))
    }
  }

  test("append sink appends (two writes double the rows)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/out"
    val df = SparkEntry.entry(spark)
    val n = df.count()
    graft.pipeline.LocationSummary.writeSummary(df, tmp)
    graft.pipeline.LocationSummary.writeSummary(df, tmp)
    assert(spark.read.parquet(tmp).count() == 2 * n)
    // the rebalance hint (r17) must coalesce each tiny append to ONE
    // target-byte-sized file, not one sliver per shuffle partition —
    // without it this KB-scale summary would land in up to
    // |shuffle partitions| files per append
    val files = new java.io.File(tmp).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.length == 2,
      s"expected 1 coalesced file per append, got ${files.length}")
  }

  test("partitioned sink lays out STATE= directories and round-trips") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_psink").toString + "/out"
    val df = SparkEntry.entry(spark)
    graft.pipeline.LocationSummary.writeSummaryPartitioned(df, tmp)
    val dirs = new java.io.File(tmp).listFiles().map(_.getName).filter(_.startsWith("STATE="))
    assert(dirs.nonEmpty)
    assert(spark.read.parquet(tmp).count() == df.count())
  }

  test("typed Dataset view exposes compile-time fields") {
    val ds = graft.pipeline.LocationSummary.buildTyped(spark, "/root/testdata/sf0.001")
    val rows = ds.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.STATE == "EUROPE")
      assert(r.CRIME_SCORE.isNaN || (r.CRIME_SCORE >= 0 && r.CRIME_SCORE <= 100))
    }
  }
}

class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("operators are total on empty inputs") {
    val emptyFact = Seq.empty[(String, Int, Double)].toDF("k", "year", "v")
    assert(Snapshot.latestPerKeyJoin(emptyFact, Seq("k"), "year").count() == 0)
    assert(Snapshot.latestPerKeyWindow(emptyFact, Seq("k"), Seq(col("year").desc)).count() == 0)
    assert(Snapshot.filterLatestGlobal(emptyFact, "year").count() == 0)
    assert(Score.minMaxScore(emptyFact, "v", "s").count() == 0)
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exactGroups(emptyDocs, "text", "doc_id").count() == 0)
    val emptyEvents = Seq.empty[(Long, Long, java.sql.Timestamp)]
      .toDF("user_id", "event_id", "ts")
    assert(EventOps.sessionize(emptyEvents, 1800).count() == 0)
  }
}
