package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.AnalyzerMain
import graft.plans.Analyzer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The benchmark's JVM side. Runs one workload over the dead-letter streaming
 * topology, checks its sink counts against the batch twin, and writes one
 * JSON record (metrics, correctness, run environment) to `--out`.
 *
 * Workloads:
 *  - `dl-stream-steady`: open loop, Spark's `rate` source at 250 rec/s per
 *    core after a ramp-up; latency is timed per record from its due time.
 *  - `dl-stream-bulk`: closed loop, `rate-micro-batch` triggers of
 *    [[BulkRows]] records.
 *
 * With `--trace 1` the same measurement runs untraced for the first half of
 * the window and traced for the second (the gap is the tracing overhead),
 * then the stage-split streams, the operator-suite probe and the `local[1]`
 * baseline add the per-layer record.
 *
 * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
 *          --cores C --work DIR --cache DIR --out FILE
 *          [--ops-data DIR]
 */
object PerfBench {
  val SteadyRatePerCore = 250L
  val BulkRows = 15000L
  val SplitRows = 10000L
  /** A record emitted later than this after its due time counts as failed. */
  val LatencyLimitMs = 30000L
  val WarmBatches = 3
  /** Seconds over which the steady workload's `rate` source ramps up. */
  val RampUpS = 12L
  /** The operator-suite queries of the traced run's `ops` probe. */
  val OpsQueries = Seq("web_url_canonical_chain", "text_dup_spans")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: String, cache: String, out: String, opsData: Option[String])

  private def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("cores").toInt, req("work"), req("cache"), req("out"), kv.get("ops-data"))
  }

  def session(cores: Int, work: String, master: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        AnalyzerMain.stateStoreProviderClass("rocksdb").get)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile of a sorted array. */
  def pct(sorted: Array[Double], p: Double): Double =
    sorted(math.max(0, math.ceil(p * sorted.length).toInt - 1))

  final class Ctx(val spark: SparkSession, val perm: Permutation, val opts: Opts) {
    private val n = new java.util.concurrent.atomic.AtomicInteger(0)
    def checkpoint(tag: String): String =
      Files.createDirectories(Paths.get(opts.work, "ckpt", s"$tag-${n.incrementAndGet()}"))
        .toString
    def records(ids: DataFrame): DataFrame = Feed.records(Feed.ids(ids), perm)
    /** The stream's records for ids `[0, ids)`, as a batch frame. */
    def twinRecords(ids: Long): DataFrame = records(spark.range(ids).toDF("value"))
  }

  /** One measured window: per-record latencies and the batches it spans. */
  final case class Window(latMs: Array[Double], attempted: Long, failed: Long,
      batches: Vector[Batch]) {
    def throughput: Double = batches.map(_.rows).sum / (batches.map(_.triggerMs).sum / 1e3)
  }

  private def windowMetrics(w: Window): Map[String, M] = {
    val lat = w.latMs.sorted
    Map(
      "latency_p50_ms" -> M(pct(lat, 0.5), "ms"),
      "latency_p90_ms" -> M(pct(lat, 0.9), "ms"),
      "throughput_rps" -> M(w.throughput, "1/s"))
  }

  /** Per-trigger layer metrics (medians over the window's batches). */
  private def triggerMetrics(w: Window, lagS: Batch => Double): Map[String, M] = {
    val bs = w.batches
    def med(f: Batch => Double) = median(bs.map(f))
    def dur(k: String) = med(_.durationMs.getOrElse(k, 0L).toDouble)
    def writeMs(b: Batch, sink: String) =
      Option(b.sinks.writeNs.get(sink)).map(_.longValue / 1e6).getOrElse(0.0)
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      med(b => b.progress.stateOperators.headOption.map(f).getOrElse(0.0))
    val sinks = graft.streaming.StreamingAnalyzer.SinkNames
    Map(
      "streaming.planning_ms" -> M(dur("queryPlanning"), "ms"),
      "streaming.wal_commit_ms" -> M(dur("walCommit"), "ms"),
      "streaming.offset_commit_ms" -> M(dur("commitOffsets"), "ms"),
      "streaming.add_batch_ms" -> M(dur("addBatch"), "ms"),
      "streaming.trigger_ms" -> M(dur("triggerExecution"), "ms"),
      "streaming.batch_overhead_ms" -> M(med(b =>
        b.durationMs.getOrElse("addBatch", 0L) - sinks.map(writeMs(b, _)).sum), "ms"),
      "streaming.state.commit_ms" -> M(state(_.commitTimeMs.toDouble), "ms"),
      "streaming.state.update_ms" -> M(state(_.allUpdatesTimeMs.toDouble), "ms"),
      "streaming.state.rows_total" -> M(state(_.numRowsTotal.toDouble), "count"),
      "streaming.state.rows_updated" -> M(state(_.numRowsUpdated.toDouble), "count"),
      "streaming.state.memory_bytes" -> M(state(_.memoryUsedBytes.toDouble), "bytes"),
      "sources.lag_s" -> M(med(lagS), "s")) ++
      sinks.map(s => s"streaming.sink_write_ms.$s" -> M(med(writeMs(_, s)), "ms"))
  }

  /** Sink counts of the batches `0..k` that committed without a gap, and
    * the generator ids they cover (`[0, ids)`). */
  private def committed(bs: Vector[Batch]): (Long, Map[String, Long]) = {
    val chain = bs.sortBy(_.id).foldLeft(Vector.empty[Batch]) { (acc, b) =>
      val next = acc.lastOption.map(_.endValue).getOrElse(0L)
      if (b.startValue == next && (acc.nonEmpty || b.startValue == 0L)) acc :+ b else acc
    }
    val counts = graft.streaming.StreamingAnalyzer.SinkNames.map { s =>
      s -> chain.map(b => Option(b.sinks.rows.get(s)).map(_.longValue).getOrElse(0L)).sum
    }.toMap
    (chain.lastOption.map(_.endValue).getOrElse(0L), counts)
  }

  /** The sink-count check against the batch twin over the same ids;
    * `parsed` is the twin's parse of them. */
  private def twinCheck(parsed: DataFrame, ids: Long, sinkRows: Map[String, Long])
      : (Boolean, Seq[String]) = {
    val out = Analyzer.analyzeParsed(parsed)
    val all = out.all.count()
    val errors = out.errors.count()
    val st = out.stats.agg(count(lit(1)), sum(col("count"))).head()
    val (statsRows, statsCount) = (st.getLong(0), st.getLong(1))
    val checks = Seq(
      ("all", sinkRows("all"), all),
      ("errors", sinkRows("errors"), errors),
      ("stats", sinkRows("stats"), statsCount),
      ("examples", sinkRows("examples"), statsRows))
    val failed = checks.filter(c => c._2 != c._3)
      .map(c => s"${c._1}: stream ${c._2} rows, batch twin expects ${c._3}")
    (ids > 0 && failed.isEmpty,
      if (ids == 0) Seq("no micro-batch committed") else failed)
  }

  /** Exact per-record counts of the stateless layers over `[0, ids)`. */
  private def exactCounts(parsed: DataFrame, ids: Long, sinkRows: Map[String, Long])
      : Map[String, M] = {
    val byBranch = parsed.groupBy(col("branch")).agg(count(lit(1)),
      count(col("parsed").getField("error"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = byBranch.values.map(_._1).sum
    Seq("avro_value", "streams_headers", "native_headers", "connect_headers").map { b =>
      s"operators.branch_rows.$b" -> M(byBranch.get(b).map(_._1.toDouble).getOrElse(0.0), "count")
    }.toMap ++ Map(
      "operators.rows_per_record" -> M(rows.toDouble / ids, "ratio"),
      "functions.parse_error_share" -> M(byBranch.values.map(_._2).sum.toDouble / rows, "ratio")) ++
      sinkRows.map { case (s, n) => s"streaming.sink_rows_per_record.$s" -> M(n.toDouble / ids, "ratio") }
  }

  /** Steady workload: the `rate` source offers [[SteadyRatePerCore]] × cores
    * records per second whatever the job's speed, after ramping up to that
    * rate over [[RampUpS]] seconds while the JVM warms up. Each record is due
    * at its place in the schedule; its latency runs to the end of the sink
    * writes of the batch that emitted it. Warm-up ends with the first batch
    * of only full-rate records that is also at least the [[WarmBatches]]th. */
  private def steadyWindows(run: StreamRun, sched: RateSchedule, windowsMs: Seq[Long],
      onWindow: Int => Unit): (Vector[Window], Long) = {
    val t0 = System.currentTimeMillis()
    val fullRate = sched.idsAt(sched.rampS)
    def warmed(bs: Vector[Batch]) =
      bs.size >= WarmBatches && bs.last.startValue >= fullRate
    val warm = run.await(t0 + 150000L)(warmed)
    require(warmed(warm), "stream did not warm up")
    val warmMs = warm.last.emitMs - t0
    val creation = StreamRun.rateCreationMs(run.checkpoint)
    def idAt(ms: Long) = sched.idAtMs(ms - creation)
    def due(v: Long) = creation + sched.dueMs(v)
    val tW = warm.last.emitMs
    val bounds = windowsMs.scanLeft(tW)(_ + _)
    val windows = bounds.zip(bounds.tail).zipWithIndex.map { case ((from, to), i) =>
      onWindow(i)
      val (vFrom, vTo) = (idAt(from), idAt(to))
      val bs = run.await(to + LatencyLimitMs)(_.exists(_.endValue >= vTo))
      val spans = bs.filter(b => b.endValue > vFrom && b.startValue < vTo)
      val lat = spans.flatMap { b =>
        (math.max(b.startValue, vFrom) until math.min(b.endValue, vTo))
          .map(v => b.emitMs - due(v))
      }
      val onTime = lat.filter(_ <= LatencyLimitMs).toArray
      Window(onTime, vTo - vFrom, (vTo - vFrom) - onTime.length, spans)
    }.toVector
    (windows, warmMs)
  }

  /** Bulk workload: closed loop, each trigger takes the next `rows` ids as
    * soon as the previous one commits. A record's latency is its batch's
    * trigger start to the end of its sink writes. */
  private def bulkWindows(run: StreamRun, windowsMs: Seq[Long],
      onWindow: Int => Unit): (Vector[Window], Long) = {
    val t0 = System.currentTimeMillis()
    val warm = run.await(t0 + 150000L)(_.size >= WarmBatches - 1)
    require(warm.size >= WarmBatches - 1, "stream did not warm up")
    val tW = warm.last.emitMs
    val bounds = windowsMs.scanLeft(tW)(_ + _)
    val windows = bounds.zip(bounds.tail).zipWithIndex.map { case ((from, to), i) =>
      onWindow(i)
      val bs = run.await(to + 150000L)(_.exists(b => b.startMs >= from && b.emitMs >= to))
      val spans = bs.filter(b => b.startMs >= from && b.startMs < to)
      val lat = spans.flatMap(b => Iterator.fill(b.rows.toInt)((b.emitMs - b.startMs).toDouble))
      val onTime = lat.filter(_ <= LatencyLimitMs).toArray
      Window(onTime, lat.size, lat.size - onTime.length, spans)
    }.toVector
    (windows, warm.last.emitMs - t0)
  }

  /** Trigger time of a short closed-loop stream of `rows`-id batches, after
    * one warm-up batch. */
  private def splitTriggerMs(ctx: Ctx, mode: String, rows: Long): (Double, Double) = {
    val src = ctx.spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rows).option("numPartitions", ctx.opts.cores).load()
    val run = new StreamRun(ctx.spark, mode, ctx.records(src), ctx.checkpoint(s"split-$mode"),
      StreamRun.microBatchIds)
    try {
      val bs = run.await(System.currentTimeMillis() + 120000L)(_.size >= 2).drop(1)
      require(bs.nonEmpty, s"$mode split stream made no progress")
      val ms = median(bs.map(_.triggerMs.toDouble))
      (ms, rows / (ms / 1e3))
    } finally { run.halt(); run.stop() }
  }

  private def opsProbe(ctx: Ctx, dir: String): Map[String, M] = {
    val spark = ctx.spark
    val outDir = Paths.get(ctx.opts.work, "ops")
    Files.createDirectories(outDir)
    val times = OpsQueries.map { q =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir).write.mode("overwrite")
        .parquet(outDir.resolve(q).toString)
      graft.ops.CacheScope.releaseAll(spark)
      s"ops.${q}_s" -> M((System.nanoTime() - t0) / 1e9, "s")
    }
    val sql = OpsQueries.map(q => s"${graft.model.JsonText.str(q)}:" +
      graft.model.JsonText.str(graft.SparkEntry.oracleSql(q))).mkString("{", ",", "}")
    Files.writeString(outDir.resolve("oracle_sql.json"), sql)
    times.toMap
  }

  private val t0Ms = System.currentTimeMillis()
  /** Progress line for the run log. */
  def phase(name: String): Unit =
    println(f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1e3}%7.1f s  $name " +
      f"(codegen ${org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9}%.1f s, " +
      f"jit ${java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3}%.1f s, " +
      f"classes ${java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount})")

  def main(argv: Array[String]): Unit = {
    val opts = parse(argv)
    require(Set("dl-stream-steady", "dl-stream-bulk").contains(opts.workload),
      s"unknown workload ${opts.workload}")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark0 = session(opts.cores, opts.work, s"local[${opts.cores}]")
    CodegenProbe.install
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    phase(s"session ready (${sessionS}s after JVM start)")
    val cg0 = CodegenProbe.snap()
    val eventsDir = Paths.get(opts.cache, "events").toString
    if (!Files.exists(Paths.get(eventsDir, "events.parquet", "_SUCCESS")))
      Feed.writeEvents(spark0, eventsDir)
    phase("events table ready")
    val tEnv = System.nanoTime()
    val base = Feed.baseRecords(spark0, eventsDir)
    val envelopeS = (System.nanoTime() - tEnv) / 1e9
    phase("envelope built")
    val perm = Permutation.fromSeed(base.length, opts.seed)
    BaseTable.records = base
    val ctx = new Ctx(spark0, perm, opts)
    val spark = ctx.spark
    val steady = opts.workload == "dl-stream-steady"
    val windowsMs =
      if (opts.trace) Seq(opts.seconds * 500L, opts.seconds * 500L) else Seq(opts.seconds * 1000L)
    val tracing = if (opts.trace) Some(new Tracing(spark)) else None
    var cgTraced = cg0
    val onWindow = (i: Int) => if (i == 1) {
      tracing.foreach(_.on = true); cgTraced = CodegenProbe.snap()
    }
    val sched = RateSchedule(SteadyRatePerCore * opts.cores, RampUpS)
    val src =
      if (steady) spark.readStream.format("rate").option("rowsPerSecond", sched.rowsPerSecond)
        .option("numPartitions", opts.cores).option("rampUpTime", s"${RampUpS}s").load()
      else spark.readStream.format("rate-micro-batch").option("rowsPerBatch", BulkRows)
        .option("numPartitions", opts.cores).load()
    val run = new StreamRun(spark, "full", ctx.records(src), ctx.checkpoint("main"),
      if (steady) sched.ids _ else StreamRun.microBatchIds)
    val (windows, warmMs) =
      try {
        phase("stream started")
        if (steady) steadyWindows(run, sched, windowsMs, onWindow)
        else bulkWindows(run, windowsMs, onWindow)
      } finally { phase("window measured"); run.halt(); run.stop() }
    val cgWarm = CodegenProbe.snap()
    phase(s"stream stopped (warm-up ${warmMs} ms)")
    run.batches.foreach(b => println(s"[perfbench] batch ${b.id} ids ${b.rows} " +
      s"trigger ${b.triggerMs} ms ${b.durationMs}"))
    val setupS = sessionS + envelopeS + warmMs / 1e3
    val (ids, sinkRows) = committed(run.batches)
    // cached, so the twin's outputs and the exact counts share one parse pass
    val parsed = Analyzer.parsed(ctx.twinRecords(ids)).persist()
    val (correct, problems) = twinCheck(parsed, ids, sinkRows)
    phase(s"batch twin checked over $ids ids")
    val main = windows.head
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, M]
    if (!opts.trace) {
      metrics ++= windowMetrics(main)
      metrics("setup_s") = M(setupS, "s")
    } else {
      val traced = windows(1)
      val creation = if (steady) StreamRun.rateCreationMs(run.checkpoint) else 0L
      val lag: Batch => Double =
        if (steady) b => (b.startMs - (creation + sched.dueMs(b.startValue))) / 1e3
        else _ => 0.0
      val (a, b) = (windowMetrics(main), windowMetrics(traced))
      metrics("trace.overhead_share") = M(
        if (steady) b("latency_p50_ms").value / a("latency_p50_ms").value - 1
        else a("throughput_rps").value / b("throughput_rps").value - 1, "ratio")
      val tFrom = traced.batches.map(_.startMs).min
      val tTo = traced.batches.map(_.emitMs).max
      metrics ++= triggerMetrics(traced, lag)
      metrics ++= tracing.get.summary(tFrom, tTo)
      metrics ++= CodegenProbe.delta(cgTraced, cgWarm)
      metrics("sources.envelope_s") = M(envelopeS, "s")
      metrics("codegen.setup_compile_ms") =
        CodegenProbe.delta(cg0, cgWarm)("codegen.compile_ms")
      metrics ++= exactCounts(parsed, ids, sinkRows)
      parsed.unpersist()
      tracing.foreach(_.close())
      phase("exact counts")
      val (parseMs, _) = splitTriggerMs(ctx, "parse", SplitRows)
      val (stateMs, _) = splitTriggerMs(ctx, "state", SplitRows)
      val (fullMs, fullRps) = splitTriggerMs(ctx, "full", SplitRows)
      metrics("operators.parse_us_per_rec") = M(parseMs * 1e3 / SplitRows, "us")
      metrics("streaming.state_us_per_rec") = M((stateMs - parseMs) * 1e3 / SplitRows, "us")
      metrics("streaming.fanout_us_per_rec") = M((fullMs - stateMs) * 1e3 / SplitRows, "us")
      phase("stage split")
      val cgOps = CodegenProbe.snap()
      opts.opsData.foreach(d => metrics ++= opsProbe(ctx, d))
      metrics("codegen.fallbacks") = M(CodegenProbe.snap().fallbacks - cg0.fallbacks, "count")
      metrics("ops.codegen_fallbacks") = M(CodegenProbe.snap().fallbacks - cgOps.fallbacks, "count")
      phase("ops probe")
      // the single-thread baseline: same plan and batch size on local[1]
      spark.stop()
      val one = session(opts.cores, opts.work, "local[1]")
      val ctx1 = new Ctx(one, perm, opts)
      val (_, oneRps) = splitTriggerMs(ctx1, "full", SplitRows)
      metrics("streaming.scaling_nproc_to_1") = M(fullRps / oneRps, "ratio")
    }
    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    if (!opts.trace) metrics("peak_rss_mb") = M(peakRssMb, "MB")
    val attempted = windows.map(_.attempted).sum
    val failed = windows.map(_.failed).sum
    writeResult(opts, correct, attempted, failed, problems, metrics.toSeq, Seq(
      "spark_version" -> SparkSession.active.version,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "batches" -> main.batches.size.toString,
      "ids" -> ids.toString))
    phase("result written")
    SparkSession.active.stop()
    phase("session stopped")
    // no lingering non-daemon thread may hold the process open
    sys.exit(0)
  }

  private def writeResult(opts: Opts, correct: Boolean, attempted: Long, failed: Long,
      problems: Seq[String], metrics: Seq[(String, M)], env: Seq[(String, String)]): Unit = {
    import graft.model.JsonText.str
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, m) => s"${str(k)}:{\"value\":${num(m.value)},\"unit\":${str(m.unit)}}" }
    val json = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""problems":${problems.map(str).mkString("[", ",", "]")},""" +
      s""""env":${env.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")},""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(opts.out), json)
  }
}
