package graft

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.LocationSummary
import graft.sources.Tables

/** Both flagship surfaces ([[LocationSummary.build]] and [[FlagshipSql]])
  * against the reference-shaped SQL they replace: latest-year join-backs,
  * scalar subqueries and 1-row min/max cross joins, each branch reading
  * lineitem ⋈ supplier on its own ([[JoinBackSql]]). Rows must be equal,
  * NaN for NaN, on a small planted fixture and on the generated fixtures.
  */
class FlagshipEquivalenceSpec extends AnyFunSuite {
  // a session of its own, so the fixture's temp views shadow no other suite's
  lazy val spark: SparkSession = SparkTestSession.spark.newSession()

  private val flagshipTables =
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem")

  /** Every surface's rows, ordered by ZIP_CODE; asserts they agree. */
  private def assertSurfacesAgree(dir: String): Seq[Row] = {
    flagshipTables.foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val reference = spark.sql(JoinBackSql)
    val want = reference.collect().toSeq
    for ((name, df) <- Seq(
        "LocationSummary.build" -> LocationSummary.build(spark, dir),
        "FlagshipSql" -> spark.sql(FlagshipSql.sql))) {
      assert(shape(df) == shape(reference), s"$name schema at $dir")
      // Row equality treats NaN as equal to NaN
      assert(df.collect().toSeq == want, s"$name rows at $dir")
    }
    want
  }

  private def ts(s: String) = LocalDateTime.parse(s + "T00:00:00")

  /** A star schema with the edge cases the rewrite must keep:
    *   - RUSSIA (EUROPE) has crime rows but no 'N' rows in the global
    *     latest 'N' year, so the inner join drops it — after its crime
    *     average (the largest) has set the crime score's scale;
    *   - FRANCE's flags have different latest years (A 1997, N and R 1998),
    *     GERMANY's R rows end in 1995;
    *   - GERMANY's two latest orders share a date, so o_orderkey picks the
    *     living wage, and a larger key on an earlier date must not;
    *   - a null extended price and a non-EUROPE nation in the global year.
    * `flat` gives every lineitem the same price and tax, so every average
    * is equal and both scores are NaN.
    */
  private def writeFixture(flat: Boolean): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_flagship_eq").toString
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.parquet(s"$dir/$name.parquet")
    write("region",
      StructType.fromDDL("r_regionkey INT, r_name STRING"),
      Seq(Row(0, "EUROPE"), Row(1, "ASIA")))
    val nations = Seq(1 -> "FRANCE", 2 -> "GERMANY", 3 -> "ROMANIA", 4 -> "RUSSIA", 5 -> "CHINA")
    write("nation",
      StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"),
      nations.map { case (k, n) => Row(k, n, if (k == 5) 1 else 0) })
    write("supplier",
      StructType.fromDDL("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"),
      nations.map { case (k, n) => Row(k * 10L, s"S_$n", k, 100.0 * k) })
    write("customer",
      StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"),
      for ((k, _) <- nations; j <- 0 to 1)
        yield Row(k * 10L + j, s"C_${k}_$j", k, 250.5 * k + 75.25 * j, "BUILDING"))
    // (orderkey, custkey, totalprice, orderdate)
    val orders = Seq(
      (101L, 10L, 4000.0, "1998-03-01"), (102L, 11L, 2000.0, "1998-09-15"),
      (103L, 10L, 9999.0, "1997-12-31"),
      (201L, 20L, 5000.0, "1998-08-01"), (202L, 21L, 3000.0, "1998-08-01"),
      (299L, 20L, 7000.0, "1998-01-01"),
      (301L, 30L, 1500.0, "1998-05-05"), (401L, 41L, 2500.0, "1998-06-06"),
      (501L, 50L, 800.0, "1998-02-02"))
    write("orders",
      StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
      orders.map { case (o, c, p, d) => Row(o, c, "O", p, ts(d), "1-URGENT") })
    // (nation, flag, year, extended prices)
    val facts = Seq(
      (1, "N", 1998, Seq(1200.0, 800.0)), (1, "N", 1997, Seq(5000.0)),
      (1, "R", 1998, Seq(3000.0)), (1, "A", 1997, Seq(900.0, 1100.0)),
      (2, "N", 1998, Seq(2500.0)), (2, "R", 1995, Seq(4000.0)),
      (3, "N", 1998, Seq(600.0, 700.0, 650.0)), (3, "A", 1998, Seq(100.0)),
      (4, "R", 1998, Seq(9000.0)), (4, "N", 1996, Seq(7000.0)),
      (5, "N", 1998, Seq(1500.0)), (5, "R", 1997, Seq(50.0)))
    val factRows = for {
      ((k, flag, y, prices), i) <- facts.zipWithIndex
      (p, j) <- prices.zipWithIndex
    } yield (900L + i, k * 10L, j + 1, p, 0.01 * ((i + j) % 5), flag, s"$y-0${1 + j}-15")
    // removal events (line 7) of orders 101 and 201, shipped by CHINA's supplier
    val removalRows = Seq(
      (101L, 50L, 7, 300.0, 0.02, "R", "1998-04-01"),
      (201L, 50L, 7, 400.0, 0.03, "R", "1998-10-01"))
    val nullPrice = Row(999L, 1L, 30L, 1, 1.0, null, 0.0, 0.04, "N", "F", ts("1998-02-15"))
    val lineitems = (factRows ++ removalRows).map { case (o, s, ln, p, tax, flag, d) =>
      Row(o, 1L, s, ln, 1.0, if (flat) 1000.0 else p, 0.0, if (flat) 0.0 else tax, flag, "F",
        ts(d))
    } :+ nullPrice
    write("lineitem",
      StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
        "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
      lineitems)
    dir
  }

  test("planted edge cases: same rows as the join-back reference") {
    val rows = assertSurfacesAgree(writeFixture(flat = false))
    def at(zip: String) = rows.find(_.getAs[String]("ZIP_CODE") == zip).get
    // RUSSIA has no 'N' rows in 1998: dropped
    assert(rows.map(_.getAs[String]("ZIP_CODE")) == Seq("FRANCE", "GERMANY", "ROMANIA"))
    // same date: the larger order key wins; a later date beats a larger key
    assert(at("GERMANY").getAs[Double]("RECOMMENDED_ANNUAL_SALARY") == 3000.0 / 1000 * 40 * 52)
    assert(at("FRANCE").getAs[Double]("RECOMMENDED_ANNUAL_SALARY") == 2000.0 / 1000 * 40 * 52)
    // RUSSIA's crime average (8.0) still sets the top of the crime scale
    assert(rows.map(_.getAs[Double]("CRIME_SCORE")).forall(_ < 100.0))
    assert(at("ROMANIA").getAs[Double]("CRIME_SCORE") == 0.0)
    assert(at("GERMANY").getAs[Double]("EXPENSE_SCORE") == 100.0)
  }

  test("equal averages everywhere: both scores are NaN on every surface") {
    val rows = assertSurfacesAgree(writeFixture(flat = true))
    // the reporting round is applied to the NaN score; compare with what it
    // makes of NaN rather than with NaN itself (Spark's floor is a BIGINT)
    val roundedNaN = spark.range(1)
      .select(graft.operators.Agg.roundAt(org.apache.spark.sql.functions.lit(Double.NaN), 2))
      .head().getDouble(0)
    assert(rows.size == 3)
    for (r <- rows; c <- Seq("CRIME_SCORE", "EXPENSE_SCORE"))
      assert(r.getAs[Double](c).equals(roundedNaN), s"$c in $r")
  }

  test("generated fixtures: same rows as the join-back reference") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
      assert(assertSurfacesAgree(sf).nonEmpty, sf)
  }

  /** The flagship SQL before its branches were merged: each branch scans
    * lineitem ⋈ supplier itself, latest years come from join-backs and
    * scalar subqueries, scores from 1-row min/max cross joins, and the
    * living wage from a row_number() window. The reference for both
    * surfaces.
    */
  private val JoinBackSql = """
WITH dim_location AS (
  SELECT n_nationkey AS location_id, n_name AS zip_code, r_name AS state,
         'C' || n_regionkey AS county
  FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
crime AS (
  SELECT s_nationkey AS location_id, l_returnflag AS crime_type,
         l_extendedprice / 1000 AS rate, year(l_shipdate) AS snap_year
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
),
crime_latest AS (
  SELECT c.* FROM crime c
  JOIN (SELECT location_id, crime_type, max(snap_year) AS mx
        FROM crime GROUP BY 1, 2) m
    ON c.location_id = m.location_id AND c.crime_type = m.crime_type
       AND c.snap_year = m.mx
),
crime_avg AS (
  SELECT location_id, zip_code, CAST(sum(CAST(rate AS DECIMAL(30,6))) AS DOUBLE) / count(rate) AS avg_crime_rate
  FROM crime_latest JOIN dim_location USING (location_id)
  GROUP BY 1, 2
),
crime_mm AS (
  SELECT min(avg_crime_rate) AS mn, max(avg_crime_rate) AS mx FROM crime_avg
),
crime_norm AS (
  SELECT location_id,
         CASE WHEN mx = mn THEN CAST('NaN' AS DOUBLE)
              ELSE (avg_crime_rate - mn) / (mx - mn) * 100 END
           AS normalized_crime_rate
  FROM crime_avg CROSS JOIN crime_mm
),
expense AS (
  SELECT s_nationkey AS location_id, l_extendedprice * (l_tax + 0.05) AS amount,
         year(l_shipdate) AS snap_year
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_returnflag = 'N'
),
expense_latest AS (
  SELECT * FROM expense WHERE snap_year = (SELECT max(snap_year) FROM expense)
),
expense_avg AS (
  SELECT location_id, zip_code, CAST(sum(CAST(amount AS DECIMAL(30,6))) AS DOUBLE) / count(amount) AS avg_expense
  FROM expense_latest JOIN dim_location USING (location_id)
  GROUP BY 1, 2
),
expense_mm AS (
  SELECT min(avg_expense) AS mn, max(avg_expense) AS mx FROM expense_avg
),
expense_norm AS (
  SELECT location_id,
         CASE WHEN mx = mn THEN CAST('NaN' AS DOUBLE)
              ELSE (avg_expense - mn) / (mx - mn) * 100 END
           AS normalized_expense
  FROM expense_avg CROSS JOIN expense_mm
),
living_wage AS (
  SELECT c_nationkey AS location_id, o_totalprice / 1000 AS hourly_wage,
         o_orderdate, o_orderkey, year(o_orderdate) AS snap_year
  FROM orders JOIN customer ON o_custkey = c_custkey
),
rec_salary AS (
  SELECT location_id, hourly_wage * 40 * 52 AS RECOMMENDED_ANNUAL_SALARY
  FROM (SELECT *, row_number() OVER (PARTITION BY location_id
                                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM living_wage
        WHERE snap_year = (SELECT max(snap_year) FROM living_wage)) t
  WHERE rn = 1
),
avg_salary AS (
  SELECT c_nationkey AS location_id, CAST(sum(CAST(c_acctbal * 100 AS DECIMAL(30,6))) AS DOUBLE) / count(c_acctbal * 100) AS AVERAGE_ANNUAL_SALARY
  FROM customer GROUP BY 1
),
removals AS (
  SELECT l_orderkey, max(l_shipdate) AS removed_ts
  FROM lineitem WHERE l_linenumber = 7 GROUP BY 1
),
listing_base AS (
  SELECT o_orderkey, c_nationkey AS location_id, o_totalprice AS price,
         o_orderkey % 4 + 1 AS bathrooms, o_custkey % 5 + 2 AS bedrooms,
         o_totalprice / 75.0 AS square_footage,
         1950 + o_orderkey % 70 AS year_built,
         CAST(o_orderdate AS DATE) AS listed_date, year(o_orderdate) AS snap_year
  FROM orders JOIN customer ON o_custkey = c_custkey
),
listing AS (
  SELECT lb.*,
         2002 - year_built AS age_in_years,
         CASE WHEN removed_ts IS NULL
              THEN datediff(DATE '2002-01-01', listed_date)
              ELSE datediff(CAST(removed_ts AS DATE), listed_date) END
           AS days_on_market
  FROM listing_base lb LEFT JOIN removals r ON lb.o_orderkey = r.l_orderkey
  WHERE snap_year = (SELECT max(snap_year) FROM listing_base)
),
listing_summary AS (
  SELECT location_id, CAST(sum(CAST(price AS DECIMAL(30,6))) AS DOUBLE) / count(price) AS avg_price, CAST(sum(CAST(bathrooms AS DECIMAL(30,6))) AS DOUBLE) / count(bathrooms) AS avg_bathrooms,
         CAST(sum(CAST(bedrooms AS DECIMAL(30,6))) AS DOUBLE) / count(bedrooms) AS avg_bedrooms, CAST(sum(CAST(age_in_years AS DECIMAL(30,6))) AS DOUBLE) / count(age_in_years) AS avg_age_in_years,
         CAST(sum(CAST(square_footage AS DECIMAL(30,6))) AS DOUBLE) / count(square_footage) AS avg_square_footage,
         CAST(sum(CAST(days_on_market AS DECIMAL(30,6))) AS DOUBLE) / count(days_on_market) AS avg_days_on_market
  FROM listing GROUP BY 1
)
SELECT
  zip_code AS ZIP_CODE,
  state AS STATE,
  county AS COUNTY,
  RECOMMENDED_ANNUAL_SALARY,
  floor((AVERAGE_ANNUAL_SALARY) * 100 + 0.5) / 100 AS AVERAGE_ANNUAL_SALARY,
  floor((normalized_expense) * 100 + 0.5) / 100 AS EXPENSE_SCORE,
  floor((normalized_crime_rate) * 100 + 0.5) / 100 AS CRIME_SCORE,
  floor((avg_price) * 100 + 0.5) / 100 AS AVERAGE_HOME_PRICE,
  floor((avg_age_in_years) * 100 + 0.5) / 100 AS AVERAGE_HOME_AGE_IN_YEARS,
  floor((avg_square_footage) * 100 + 0.5) / 100 AS AVERAGE_SQUARE_FOOTAGE,
  floor((avg_price / avg_square_footage) * 100 + 0.5) / 100 AS AVERAGE_PRICE_PER_SQUARE_FOOT,
  floor((avg_days_on_market) * 100 + 0.5) / 100 AS AVERAGE_TIME_ON_MARKET_IN_DAYS,
  DATE '2002-01-01' AS SNAPSHOT_DATE
FROM listing_summary
JOIN dim_location USING (location_id)
JOIN rec_salary USING (location_id)
JOIN avg_salary USING (location_id)
JOIN crime_norm USING (location_id)
JOIN expense_norm USING (location_id)
ORDER BY ZIP_CODE
"""
}
