package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker

/** JVM side of the benchmark; `perfbench/run.py` builds it, prepares the
  * inputs and launches it, then checks outputs and prints the metrics.
  *
  * One invocation runs one workload on all the cores the JVM may use:
  * [[Setups]] fresh sessions (each with table warm-up), a cold pass that
  * dumps every result for the oracle compare, then whole timed passes
  * until `--seconds` have elapsed (at least three). Every timed query
  * is a call into the engine's registry (build) followed by its action
  * (`count()`, or an append to a Parquet sink with `--append`); its row
  * count goes into the raw JSON record this writes, and run.py checks it
  * against the oracle's cached count and turns the record into metrics.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  final case class Opts(data: String, queries: Seq[String], seconds: Double,
      trace: Boolean, append: Boolean, dump: String, scratch: String,
      out: String)

  /** Set-ups per run: the first, from JVM start, is `setup_s`; the warm
    * re-set-up in a fresh session goes to the run record.
    */
  val Setups = 2

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def list(k: String) = kv(k).split(",").toSeq.filter(_.nonEmpty)
    val o = Opts(kv("data"), list("queries"), kv("seconds").toDouble,
      kv("trace") == "1", kv("append") == "1", kv("dump"), kv("scratch"),
      kv("out"))
    val registry = graft.SparkEntry.queries
    val missing = o.queries.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    new ObjectMapper().writeValue(new java.io.File(o.out), run(o, registry))
  }

  /** The session graft.Bench times: local[cpus], one shuffle partition
    * per core, the engine's FuseDotProduct rule installed.
    */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.experimental.extraOptimizations ++= Seq(graft.plans.FuseDotProduct)
    s
  }

  /** Reads every column of every table once (null counts force page
    * decode), as graft.Bench does, so no timed query pays first-touch I/O.
    */
  def warmTables(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions.{col, count}
    graft.sources.Tables.all.foreach { t =>
      val df = graft.sources.Tables.load(spark, dir, t)
      val aggs = df.columns.map(c => count(col(c)))
      df.agg(aggs.head, aggs.toIndexedSeq.tail: _*).collect()
    }
  }

  private def stop(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def jmap(kvs: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def jlist(xs: Iterable[Any]): java.util.List[Any] =
    new java.util.ArrayList[Any](xs.asJavaCollection)

  private def errorOf(e: Throwable): java.util.Map[String, Any] =
    jmap("class" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(2000))

  private def bytesUnder(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally st.close()
    }

  /** Old-generation heap in use right after a full collection, in MB. The
    * second collection frees what Spark's ContextCleaner released in
    * response to the first (unreferenced persisted blocks, broadcasts).
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(o: Opts, registry: Map[String, Query]): java.util.Map[String, Any] = {
    val cpus = Runtime.getRuntime.availableProcessors
    val trace = new Trace(cpus)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val root = trace.begin(0L, "workload", "workload")
    // Set-up, repeated in fresh sessions; the first also pays JVM start.
    val setupS = (0 until Setups).map { i =>
      val t0 = System.nanoTime()
      val spark = trace.span(root, "setup", s"setup $i") { _ =>
        val s = session(cpus)
        if (o.trace) trace.attach(s)
        warmTables(s, o.data)
        s
      }
      val took = if (i == 0)
        (System.currentTimeMillis() - jvmStart) / 1000.0 else secs(t0)
      if (i < Setups - 1) { if (o.trace) trace.detach(spark); stop(spark) }
      took
    }
    val spark = SparkSession.active
    val scratchRoot = Paths.get(o.scratch)

    // Cold pass: every query once, its result to Parquet for the oracle's
    // full-value compare. It runs in sorted order whatever the seed, so
    // every run's timed passes start from the same JIT warm-up.
    val t0 = System.nanoTime()
    val firstPass = o.queries.sorted.map { q =>
      val tq = System.nanoTime()
      try {
        registry(q)(spark, o.data).coalesce(1).write.mode("overwrite")
          .parquet(s"${o.dump}/$q")
        jmap("name" -> q, "s" -> secs(tq))
      } catch { case NonFatal(e) => jmap("name" -> q, "error" -> errorOf(e)) }
    }
    val firstPassS = secs(t0)
    val coldHeapMb = liveHeapMb()

    // Timed passes: whole passes until the time is spent. In a traced
    // run every other pass runs with the listeners detached, so the
    // record carries its own tracing overhead.
    val sink = scratchRoot.resolve(s"etl_sink_${spark.sparkContext.applicationId}")
    val tracedPasses = scala.collection.mutable.Set[Long]()
    val sinkRows = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val passes = new java.util.ArrayList[Any]()
    val tStart = System.nanoTime()
    var i = 0
    // at least three passes: a median past the JIT's first warm pass, and
    // in a traced run both traced and untraced passes
    while (i < 3 || secs(tStart) < o.seconds) {
      val traced = o.trace && i % 2 == 0
      if (o.trace && i > 0) {
        if (traced) trace.attach(spark) else trace.detach(spark)
      }
      graft.operators.Dedup.clearClusterMemo(spark)
      val results = new java.util.ArrayList[Any]()
      var wall = 0.0
      var builderAnalysisMs = 0L
      val (pa, pb) = trace.span(root, "pass", s"pass $i") { passId =>
        if (traced) tracedPasses += passId
        val a = System.currentTimeMillis()
        o.queries.foreach { q =>
          trace.span(passId, "query", q) { qid =>
            val t0 = System.nanoTime()
            try {
              val df = trace.span(qid, "build", q)(_ => registry(q)(spark, o.data))
              val tb = System.nanoTime()
              // the builder's own analysis never reaches the listener: only
              // executed plans do
              if (traced) builderAnalysisMs += df.queryExecution.tracker.phases
                .get(QueryPlanningTracker.ANALYSIS).map(_.durationMs).getOrElse(0L)
              val rows = trace.span(qid, "action", q) { _ =>
                if (o.append) {
                  df.write.mode("append").parquet(sink.resolve(q).toString)
                  -1L
                } else df.count()
              }
              val ta = System.nanoTime()
              wall += (ta - t0) / 1e9
              results.add(jmap("name" -> q, "build_s" -> (tb - t0) / 1e9,
                "action_s" -> (ta - tb) / 1e9, "rows" -> rows))
            } catch { case NonFatal(e) =>
              results.add(jmap("name" -> q, "error" -> errorOf(e)))
            }
          }
        }
        (a, System.currentTimeMillis())
      }
      // An appended result's row count is what its sink grew by.
      if (o.append) results.asScala.foreach {
        case r: java.util.Map[String, Any] @unchecked if !r.containsKey("error") =>
          val q = r.get("name").toString
          val total = spark.read.parquet(sink.resolve(q).toString).count()
          r.put("rows", total - sinkRows(q))
          sinkRows(q) = total
        case _ => ()
      }
      val pass = jmap("index" -> i, "traced" -> traced, "wall_s" -> wall,
        "queries" -> results)
      if (traced) {
        trace.drain(spark.sparkContext)
        val queries = trace.ownSpans.filter(s => s.layer == "query" &&
          s.start >= pa && s.end <= pb)
        pass.put("layers", jmap(trace.passLayers(pa, pb, wall, queries,
          builderAnalysisMs)
          .toSeq.sortBy(_._1): _*))
        pass.put("cache", cacheStats(spark))
      }
      pass.put("stored_mb", bytesUnder(scratchRoot) / 1048576.0)
      pass.put("heap_mb", liveHeapMb())
      passes.add(pass)
      i += 1
    }
    if (o.trace) trace.detach(spark)
    trace.end(root)
    val spans = trace.allSpans
    val record = jmap(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "cpus" -> cpus,
      "setup_s" -> setupS.head,
      "warm_setup_s" -> jlist(setupS.tail),
      "first_pass" -> jmap("wall_s" -> firstPassS, "heap_mb" -> coldHeapMb,
        "queries" -> jlist(firstPass)),
      "passes" -> passes,
      "self_s" -> (if (o.trace) jmap(trace.selfTimes(spans, tracedPasses.toSet)
        .toSeq.sortBy(_._1): _*) else jmap()),
      "spans" -> (if (o.trace) jlist(spans.sortBy(_.id).map(s => jmap(
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
        else jlist(Nil)))
    stop(spark)
    record
  }

  /** Block-manager cache: persisted RDDs and their partitions and sizes. */
  private def cacheStats(spark: SparkSession): java.util.Map[String, Any] = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    jmap("cache.rdds" -> infos.length.toDouble,
      "cache.partitions" -> infos.map(_.numCachedPartitions).sum.toDouble,
      "cache.mem_mb" -> infos.map(_.memSize).sum / 1048576.0,
      "cache.disk_mb" -> infos.map(_.diskSize).sum / 1048576.0)
  }
}

/** Writes the DuckDB oracle SQL of the named queries as one JSON object:
  * `OracleSql <out.json> <name,name,...>`.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val m = new java.util.LinkedHashMap[String, String]()
    args(1).split(",").foreach(n => m.put(n, sql(n)))
    new ObjectMapper().writeValue(new java.io.File(args(0)), m)
  }
}
