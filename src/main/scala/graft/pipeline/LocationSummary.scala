package graft.pipeline

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Agg, Enrich, Score, Snapshot, SummaryOps}
import graft.sources.Tables

/** The flagship pipeline: the reference job
  * (`/root/reference/src/main/scala/App.scala:22-270`) re-expressed
  * Spark-first over the Parquet fixtures (mapping per FIXTURES.md):
  *
  *   - dim_location (App.scala:95-108)        -> nation x region, state filter
  *   - fact_crime_rate (App.scala:22-50)      -> lineitem via supplier;
  *     crime_type <- l_returnflag; latest snapshot-year per (location, type)
  *   - fact_living_wage (App.scala:52-75)     -> orders via customer; global
  *     latest year + one deterministic row per location (argmax in the
  *     listing aggregate)
  *   - fact_typical_annual_salary (77-93)     -> customer account balances
  *   - fact_annual_expense (110-133)          -> lineitem via supplier,
  *     filtered, global latest year
  *   - fact_listing (135-169)                 -> orders as listings; removal
  *     events derived from lineitem (nullable -> left join)
  *
  * Every stage over a fact is shuffle-parallel: the only broadcast sides
  * are bounded dimensions (25 nations) and the 1-row latest-year scalar,
  * and the only single-task windows run over dimension-bounded aggregates.
  * No driver-side collection anywhere (the reference's `.first` min/max is
  * replaced by the lazy window in [[Score.minMaxOver]]). A build scans
  * lineitem twice (the summary and the removals) and orders once, and
  * persists only the two fact joins.
  */
object LocationSummary {

  val FinalCols: List[String] = List(
    "ZIP_CODE", "STATE", "COUNTY", "RECOMMENDED_ANNUAL_SALARY", "AVERAGE_ANNUAL_SALARY",
    "EXPENSE_SCORE", "CRIME_SCORE", "AVERAGE_HOME_PRICE", "AVERAGE_HOME_AGE_IN_YEARS",
    "AVERAGE_SQUARE_FOOTAGE", "AVERAGE_PRICE_PER_SQUARE_FOOT", "AVERAGE_TIME_ON_MARKET_IN_DAYS",
    "SNAPSHOT_DATE")

  def build(spark: SparkSession, sfDir: String, asOf: Date = Enrich.DefaultAsOf,
      state: String = "EUROPE"): DataFrame = {
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    val orders = Tables.load(spark, sfDir, "orders")
    val customer = Tables.load(spark, sfDir, "customer")
    val supplier = Tables.load(spark, sfDir, "supplier")

    // dim_location with the reference's single-state filter (App.scala:106).
    val dimLocation = broadcast(Tables.dimLocation(spark, sfDir).filter(col("state") === state))

    // fact_crime_rate (App.scala:22-50) and fact_annual_expense
    // (App.scala:110-133) both consume lineitem⋈supplier. Building each
    // branch from the raw join would scan and shuffle the dominant fact
    // TWICE — at 100 TB that doubles the whole pipeline's cost. Instead the
    // join is pre-aggregated ONCE at (location_id, l_returnflag, snap_year)
    // grain: a summary whose cardinality is fixed by the dimensions
    // (locations × 3 flags × ~7 years ≈ hundreds of rows at ANY input
    // scale), with map-side partial aggregation so the single shuffle moves
    // only partials. Both branches then re-aggregate exact decimal partials
    // ([[Agg.decReAvg]]) — bit-identical to the one-shot averages because
    // decimal sums are associative.
    //
    // The summary is persisted (lazy, lineage-backed — an executor loss
    // recomputes it, unlike localCheckpoint) so every build() in a session
    // (the report, its sinks, repeated runs) reads the ~500-row cache
    // instead of re-scanning lineitem; Spark's CacheManager dedupes by
    // canonicalized plan, so those calls share one entry rather than
    // accumulating copies.
    val factYearly = lineitem
      .join(supplier, lineitem("l_suppkey") === supplier("s_suppkey"), "inner")
      .groupBy(
        col("s_nationkey").as("location_id"),
        col("l_returnflag"),
        year(col("l_shipdate")).as("snap_year"))
      .agg(
        Agg.decPartialSum(col("l_extendedprice") / 1000).as("sum_rate"),
        count(col("l_extendedprice")).as("cnt_rate"),
        Agg.decPartialSum(col("l_extendedprice") * (col("l_tax") + 0.05)).as("sum_amount"),
        count(col("l_extendedprice") * (col("l_tax") + 0.05)).as("cnt_amount"))
      .persist()

    // Both branches in ONE pass over the summary. Window maxima stand in for
    // the reference's latest-snapshot join-backs: per (location, crime_type)
    // for crime (App.scala:27-48), and over the 'N' rows of every location
    // for expense (App.scala:115-128). A window over the whole summary runs
    // in one task, which is cheap only because the summary is
    // dimension-bounded. The branches are CASE expressions, not filters, so
    // nothing is pushed into the summary's own plan and the cache is shared.
    val inCrime = col("snap_year") === col("crime_latest")
    val inExpense = col("l_returnflag") === "N" && col("snap_year") === col("expense_latest")
    // One aggregate per location re-sums each branch's latest-year partials
    // and counts its rows: the reference inner-joins both branches, so a
    // location without rows in either is dropped, but only AFTER the scores
    // are scaled over every location the branch has.
    val scores = factYearly
      .withColumn("crime_latest",
        max(col("snap_year")).over(Window.partitionBy("location_id", "l_returnflag")))
      .withColumn("expense_latest",
        max(when(col("l_returnflag") === "N", col("snap_year"))).over(Window.partitionBy()))
      .join(dimLocation, Seq("location_id"), "left_semi")
      .groupBy("location_id")
      .agg(
        Agg.decReAvg(when(inCrime, col("sum_rate")), when(inCrime, col("cnt_rate")))
          .as("avg_crime_rate"),
        count(when(inCrime, lit(1))).as("crime_rows"),
        Agg.decReAvg(when(inExpense, col("sum_amount")), when(inExpense, col("cnt_amount")))
          .as("avg_expense"),
        count(when(inExpense, lit(1))).as("expense_rows"))
      // min/max windows over the ≤ |locations|-row result
      .withColumn("normalized_crime_rate", Score.minMaxOver(col("avg_crime_rate")))
      .withColumn("normalized_expense", Score.minMaxOver(col("avg_expense")))
      .filter(col("crime_rows") > 0 && col("expense_rows") > 0)
      .select("location_id", "normalized_crime_rate", "normalized_expense")

    // fact_living_wage (App.scala:52-75) and fact_listing (App.scala:135-169)
    // BOTH consume orders⋈customer restricted to the global latest snapshot
    // year, and the latest-year scalar is a second consumer of the same
    // join. Sharing the DataFrame is NOT enough: column pruning rewrites
    // each consumer's copy of the subtree with a different projection, the
    // canonical plans diverge, ReuseExchange never fires, and the join runs
    // once per consumer (measured: concurrent ~4 s jobs at sf0.1, 52 parquet
    // scans in the executed plan). persist() is the pruning-proof share:
    // CacheManager dedupes by canonicalized plan, so the max-year scalar and
    // the listing aggregate read ONE materialized copy. At 100 TB this is a
    // spill-capable (MEMORY_AND_DISK) cache of the join output — ~1 GB per
    // executor on a 1000-executor cluster — vs running the dominant join
    // twice.
    val ordersCustomer = orders
      .join(customer, orders("o_custkey") === customer("c_custkey"), "inner")
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("c_nationkey").as("location_id"),
        col("o_totalprice"),
        col("o_orderdate"),
        year(col("o_orderdate")).as("snap_year"))
      .persist()
    val ocLatest = Snapshot.filterLatestGlobal(ordersCustomer, "snap_year")

    // fact_typical_annual_salary: grouped AVG per location (App.scala:208-209).
    val avgAnnualSalary = customer
      .select(col("c_nationkey").as("location_id"), (col("c_acctbal") * 100).as("salary"))
      .groupBy("location_id")
      .agg(Agg.decAvg(col("salary")).alias("AVERAGE_ANNUAL_SALARY"))

    // fact_listing: orders as listings; nullable removal via LEFT JOIN against
    // lineitem-derived removal events (App.scala:135-169).
    val removals = lineitem
      .filter(col("l_linenumber") === 7)
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("removed_ts"))
    val listingBase = ocLatest
      .select(
        col("o_orderkey"),
        col("o_orderdate"),
        col("location_id"),
        col("o_totalprice").as("price"),
        (col("o_orderkey") % 4 + 1).as("bathrooms"),
        (col("o_custkey") % 5 + 2).as("bedrooms"),
        (col("o_totalprice") / 75.0).as("square_footage"),
        (lit(1950) + col("o_orderkey") % 70).as("year_built"),
        to_date(col("o_orderdate")).as("listed_date"))
    val listing = listingBase
      .join(removals, listingBase("o_orderkey") === removals("l_orderkey"), "left")
      .withColumn("removed_date", to_date(col("removed_ts")))
      .withColumn("age_in_years", Enrich.ageInYears(col("year_built"), asOf))
      .withColumn("days_on_market",
        Enrich.daysOnMarket(col("listed_date"), col("removed_date"), asOf))
    // fact_living_wage rides the listing aggregate: the same latest-year
    // rows, one per location picked by argmax (o_orderdate, o_orderkey) —
    // the row a row_number() window would pick, as o_orderkey is unique
    // (App.scala:52-75: there the household filter selects the row).
    val listingSummary = SummaryOps.multiAvg(
      listing, Seq("location_id"),
      Seq("price", "bathrooms", "bedrooms", "age_in_years", "square_footage", "days_on_market"),
      Enrich.annualize(max_by(col("price"), struct(col("o_orderdate"), col("o_orderkey"))) / 1000)
        .as("RECOMMENDED_ANNUAL_SALARY"))

    // Star-join chain on location_id (App.scala:217-232).
    val raw = listingSummary
      .join(dimLocation, Seq("location_id"), "inner")
      .join(avgAnnualSalary, Seq("location_id"), "inner")
      .join(scores, Seq("location_id"), "inner")
      .withColumn("AVERAGE_PRICE_PER_SQUARE_FOOT",
        Enrich.ratio(col("avg_price"), col("avg_square_footage")))

    SummaryOps.finalizeReport(
      raw.withColumn("SNAPSHOT_DATE", lit(asOf)),
      renames = Seq(
        "normalized_expense" -> "EXPENSE_SCORE",
        "normalized_crime_rate" -> "CRIME_SCORE",
        "avg_price" -> "AVERAGE_HOME_PRICE",
        "avg_age_in_years" -> "AVERAGE_HOME_AGE_IN_YEARS",
        "avg_square_footage" -> "AVERAGE_SQUARE_FOOTAGE",
        "avg_days_on_market" -> "AVERAGE_TIME_ON_MARKET_IN_DAYS",
        "zip_code" -> "ZIP_CODE",
        // The reference gets UPPER names for free from Snowflake's identifier
        // casing (SURVEY §1); over Parquet we rename explicitly so the final
        // case-insensitive select emits the reporting-schema names.
        "state" -> "STATE",
        "county" -> "COUNTY"),
      roundCols = Seq(
        "AVERAGE_HOME_PRICE", "AVERAGE_HOME_AGE_IN_YEARS", "AVERAGE_SQUARE_FOOTAGE",
        "AVERAGE_ANNUAL_SALARY", "EXPENSE_SCORE", "CRIME_SCORE",
        "AVERAGE_TIME_ON_MARKET_IN_DAYS", "AVERAGE_PRICE_PER_SQUARE_FOOT"),
      finalCols = FinalCols
    ).orderBy(col("ZIP_CODE"))
  }

  /** Append-mode sink, the engine's `summary_zip_code` equivalent
    * (`App.scala:265-270`).
    *
    * The `rebalance` hint (r17) coalesces the output to TARGET-BYTE-sized
    * files before the write: AQE measures the actual shuffle bytes at
    * runtime and packs partitions to
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (64 MB default) —
    * no driver-side row/size estimate, no collect. Without it every
    * append emits one file per upstream partition — and AQE alone cannot
    * help, because the typical caller hands a cached summary in, so the
    * write plan has NO exchange for AQE to coalesce (measured at sf0.1,
    * PLANS.md r17 sink probe: plain 4 files / 16.2 KB total vs rebalanced
    * 1 file / 4.4 KB — per-file footer overhead tripled the bytes — and the
    * rebalanced write was FASTER, 0.35 vs 0.62 s, fewer file commits).
    * Rebalancing BY ZIP_CODE keeps each zip's rows in one file if the
    * output ever spans several target-size files (equality pruning on
    * the report's key survives; same measured cost as keyless
    * rebalance). Row content is untouched — q56's oracle hash pins that
    * — only the file layout changes.
    */
  def writeSummary(df: DataFrame, outPath: String): Unit =
    df.hint("rebalance", col("ZIP_CODE")).write.mode("append").parquet(outPath)

  /** Partitioned append sink — the 100 TB shape: one directory per STATE so
    * downstream readers prune partitions instead of scanning history.
    * Rebalancing BY the partition column packs each state's output into
    * target-byte files instead of |shuffle partitions| slivers per state
    * dir (the small-file problem multiplied by partition fan-out).
    */
  def writeSummaryPartitioned(df: DataFrame, outPath: String): Unit =
    df.hint("rebalance", col("STATE")).write.mode("append")
      .partitionBy("STATE").parquet(outPath)

  /** Catalog-managed append sink — the Spark-native equivalent of the
    * reference's named-warehouse-table append (`App.scala:265-270`,
    * `option("dbtable", "summary_zip_code")`): after this, any SQL user of
    * the session catalog can `SELECT * FROM summary_zip_code` without
    * knowing a path. Backed by parquet under `spark.sql.warehouse.dir`;
    * append-mode like the reference, so history accumulates across runs.
    */
  def writeSummaryTable(df: DataFrame, table: String = "summary_zip_code"): Unit =
    df.write.mode("append").format("parquet").saveAsTable(table)

  /** The reporting row as a typed record (field names resolve
    * case-insensitively against the UPPER_SNAKE reporting schema).
    */
  case class SummaryRow(
      ZIP_CODE: String, STATE: String, COUNTY: String,
      RECOMMENDED_ANNUAL_SALARY: Double, AVERAGE_ANNUAL_SALARY: Double,
      EXPENSE_SCORE: Double, CRIME_SCORE: Double, AVERAGE_HOME_PRICE: Double,
      AVERAGE_HOME_AGE_IN_YEARS: Double, AVERAGE_SQUARE_FOOTAGE: Double,
      AVERAGE_PRICE_PER_SQUARE_FOOT: Double, AVERAGE_TIME_ON_MARKET_IN_DAYS: Double,
      SNAPSHOT_DATE: java.sql.Date)

  /** Typed Dataset view of the flagship — compile-time field access for
    * downstream Scala consumers.
    */
  def buildTyped(spark: SparkSession, sfDir: String,
      asOf: Date = Enrich.DefaultAsOf,
      state: String = "EUROPE"): Dataset[SummaryRow] = {
    import spark.implicits._
    build(spark, sfDir, asOf, state).as[SummaryRow]
  }
}
