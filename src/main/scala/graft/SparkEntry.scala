package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.LocationSummary

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is deterministic (fixed as-of date instead of
  * the reference's wall-clock `current_date()`, canonical ORDER BY on a
  * unique key) so the driver's DuckDB hash-compare is stable.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    LocationSummary.build(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
      "flagship_location_summary" -> ((s, dir) => LocationSummary.build(s, dir)),
      // same pipeline, pure SQL surface (parity proof; shares the oracle)
      "flagship_sql" -> ((s, dir) => {
        graft.sources.Tables.createTempViews(s, dir)
        s.sql(FlagshipSql.sql)
      })
    ) ++ RelationalQueries.all ++ RelationalQueries2.all ++
      RelationalQueries3.all ++ RelationalQueries4.all ++ ExtensionQueries.all ++
      ExtensionQueries2.all ++ ExtensionQueries3.all ++ ExtensionQueries4.all ++
      ExtensionQueries5.all ++ ExtensionQueries6.all ++ ExtensionQueries7.all ++
      ExtensionQueries8.all ++ ExtensionQueries9.all ++ ExtensionQueries10.all ++
      ExtensionQueries11.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Map("flagship_location_summary" -> FlagshipOracle.sql,
      "flagship_sql" -> FlagshipOracle.sql) ++
      RelationalQueries.oracles ++ RelationalQueries2.oracles ++
      RelationalQueries3.oracles ++ RelationalQueries4.oracles ++
      ExtensionQueries.oracles ++ ExtensionQueries2.oracles ++
      ExtensionQueries3.oracles ++ ExtensionQueries4.oracles ++
      ExtensionQueries5.oracles ++ ExtensionQueries6.oracles ++
      ExtensionQueries7.oracles ++ ExtensionQueries8.oracles ++
      ExtensionQueries9.oracles ++ ExtensionQueries10.oracles ++
      ExtensionQueries11.oracles
}

/** DuckDB spec of [[LocationSummary.build]] in the reference's shape
  * (latest-year join-backs, scalar subqueries, 1-row min/max cross joins,
  * a row_number() living wage), fixed as-of DATE '2002-01-01', same
  * rounding, same ORDER BY. The engine's two surfaces compute the same rows
  * with one pass per fact (FlagshipEquivalenceSpec).
  */
object FlagshipOracle {
  val sql: String = """
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
  -- 1-row aggregate cross join, not min/max OVER (): the window form
  -- funnels its whole input through one task, the broadcast scalar doesn't
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
  SELECT location_id, hourly_wage * 40 * 52 AS "RECOMMENDED_ANNUAL_SALARY"
  FROM (SELECT *, row_number() OVER (PARTITION BY location_id
                                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM living_wage
        WHERE snap_year = (SELECT max(snap_year) FROM living_wage)) t
  WHERE rn = 1
),
avg_salary AS (
  SELECT c_nationkey AS location_id, CAST(sum(CAST(c_acctbal * 100 AS DECIMAL(30,6))) AS DOUBLE) / count(c_acctbal * 100) AS "AVERAGE_ANNUAL_SALARY"
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
              THEN date_diff('day', listed_date, DATE '2002-01-01')
              ELSE date_diff('day', listed_date, CAST(removed_ts AS DATE)) END
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
  zip_code AS "ZIP_CODE",
  state AS "STATE",
  county AS "COUNTY",
  "RECOMMENDED_ANNUAL_SALARY",
  floor(("AVERAGE_ANNUAL_SALARY") * 100 + 0.5) / 100 AS "AVERAGE_ANNUAL_SALARY",
  floor((normalized_expense) * 100 + 0.5) / 100 AS "EXPENSE_SCORE",
  floor((normalized_crime_rate) * 100 + 0.5) / 100 AS "CRIME_SCORE",
  floor((avg_price) * 100 + 0.5) / 100 AS "AVERAGE_HOME_PRICE",
  floor((avg_age_in_years) * 100 + 0.5) / 100 AS "AVERAGE_HOME_AGE_IN_YEARS",
  floor((avg_square_footage) * 100 + 0.5) / 100 AS "AVERAGE_SQUARE_FOOTAGE",
  floor((avg_price / avg_square_footage) * 100 + 0.5) / 100 AS "AVERAGE_PRICE_PER_SQUARE_FOOT",
  floor((avg_days_on_market) * 100 + 0.5) / 100 AS "AVERAGE_TIME_ON_MARKET_IN_DAYS",
  DATE '2002-01-01' AS "SNAPSHOT_DATE"
FROM listing_summary
JOIN dim_location USING (location_id)
JOIN rec_salary USING (location_id)
JOIN avg_salary USING (location_id)
JOIN crime_norm USING (location_id)
JOIN expense_norm USING (location_id)
ORDER BY "ZIP_CODE"
"""
}

/** The flagship as PURE Spark SQL over the registered temp views — the
  * SQL-surface parity proof: a SQL-only user of the engine runs the same
  * pipeline and gets the same oracle-verified answer ([[FlagshipOracle]] is
  * the spec). Same shape as [[LocationSummary.build]]: crime and expense
  * read one `fact_yearly` pre-aggregate of lineitem ⋈ supplier, window
  * maxima replace the oracle's latest-year join-backs and scalar
  * subqueries over it, window min/max replace its scalar cross joins, and
  * the recommended salary is an argmax inside `listing_summary`. A call
  * scans lineitem twice (the summary and the removals) and orders twice
  * (the listing and its latest-year scalar).
  */
object FlagshipSql {
  val sql: String = """
WITH dim_location AS (
  SELECT n_nationkey AS location_id, n_name AS zip_code, r_name AS state,
         'C' || n_regionkey AS county
  FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
fact_yearly AS (
  -- exact decimal partials at (location, crime_type, year) grain: a
  -- dimension-bounded summary, re-summed below without loss
  SELECT s_nationkey AS location_id, l_returnflag AS crime_type,
         year(l_shipdate) AS snap_year,
         sum(CAST(l_extendedprice / 1000 AS DECIMAL(30,6))) AS sum_rate,
         count(l_extendedprice / 1000) AS cnt_rate,
         sum(CAST(l_extendedprice * (l_tax + 0.05) AS DECIMAL(30,6))) AS sum_amount,
         count(l_extendedprice * (l_tax + 0.05)) AS cnt_amount
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2, 3
),
fact_latest AS (
  -- crime: latest year per (location, crime_type); expense: 'N' rows of
  -- the latest year any location has 'N' rows in
  SELECT *,
         snap_year = max(snap_year) OVER (PARTITION BY location_id, crime_type)
           AS in_crime,
         crime_type = 'N' AND snap_year =
           max(CASE WHEN crime_type = 'N' THEN snap_year END) OVER ()
           AS in_expense
  FROM fact_yearly
),
branch_avg AS (
  SELECT location_id,
         CAST(sum(CASE WHEN in_crime THEN sum_rate END) AS DOUBLE)
           / sum(CASE WHEN in_crime THEN cnt_rate END) AS avg_crime_rate,
         count(CASE WHEN in_crime THEN 1 END) AS crime_rows,
         CAST(sum(CASE WHEN in_expense THEN sum_amount END) AS DOUBLE)
           / sum(CASE WHEN in_expense THEN cnt_amount END) AS avg_expense,
         count(CASE WHEN in_expense THEN 1 END) AS expense_rows
  FROM fact_latest
  WHERE location_id IN (SELECT location_id FROM dim_location)
  GROUP BY 1
),
branch_mm AS (
  -- whole-frame windows over <= |locations| rows; the scores scale over
  -- every location a branch has, before the inner join drops those the
  -- other branch lacks
  SELECT *,
         min(avg_crime_rate) OVER () AS crime_mn, max(avg_crime_rate) OVER () AS crime_mx,
         min(avg_expense) OVER () AS expense_mn, max(avg_expense) OVER () AS expense_mx
  FROM branch_avg
),
scores AS (
  SELECT location_id,
         CASE WHEN crime_mx = crime_mn THEN CAST('NaN' AS DOUBLE)
              ELSE (avg_crime_rate - crime_mn) / (crime_mx - crime_mn) * 100 END
           AS normalized_crime_rate,
         CASE WHEN expense_mx = expense_mn THEN CAST('NaN' AS DOUBLE)
              ELSE (avg_expense - expense_mn) / (expense_mx - expense_mn) * 100 END
           AS normalized_expense
  FROM branch_mm
  WHERE crime_rows > 0 AND expense_rows > 0
),
orders_customer AS (
  SELECT o_orderkey, o_custkey, c_nationkey AS location_id, o_totalprice,
         o_orderdate, year(o_orderdate) AS snap_year
  FROM orders JOIN customer ON o_custkey = c_custkey
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
  SELECT o_orderkey, o_orderdate, location_id, o_totalprice AS price,
         o_orderkey % 4 + 1 AS bathrooms, o_custkey % 5 + 2 AS bedrooms,
         o_totalprice / 75.0 AS square_footage,
         1950 + o_orderkey % 70 AS year_built,
         CAST(o_orderdate AS DATE) AS listed_date
  FROM orders_customer
  WHERE snap_year = (SELECT max(snap_year) FROM orders_customer)
),
listing AS (
  SELECT lb.*,
         2002 - year_built AS age_in_years,
         CASE WHEN removed_ts IS NULL
              THEN datediff(DATE '2002-01-01', listed_date)
              ELSE datediff(CAST(removed_ts AS DATE), listed_date) END
           AS days_on_market
  FROM listing_base lb LEFT JOIN removals r ON lb.o_orderkey = r.l_orderkey
),
listing_summary AS (
  -- the living wage is the latest order per location (o_orderkey is unique)
  SELECT location_id,
         max_by(price, struct(o_orderdate, o_orderkey)) / 1000 * 40 * 52 AS RECOMMENDED_ANNUAL_SALARY,
         CAST(sum(CAST(price AS DECIMAL(30,6))) AS DOUBLE) / count(price) AS avg_price, CAST(sum(CAST(bathrooms AS DECIMAL(30,6))) AS DOUBLE) / count(bathrooms) AS avg_bathrooms,
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
JOIN avg_salary USING (location_id)
JOIN scores USING (location_id)
ORDER BY ZIP_CODE
"""
}
