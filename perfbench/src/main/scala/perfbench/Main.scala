package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftConf

/** Outcome of one workload run. `e2e` holds the end-to-end metrics every
  * workload reports, `report` the workload's own named figures, `layer`
  * the traced run's per-layer metrics; counters are divided by `perOp`
  * (queries or micro-batches) and occupancy uses `windowMs`. `samples`
  * holds the raw latencies (ms) by operation name. */
final case class Result(correct: Boolean, attempted: Int, failed: Int,
    e2e: Stats.Sheet, report: Stats.Sheet, layer: Stats.Sheet,
    perOp: Int, windowMs: Double = 0.0,
    samples: Map[String, Seq[Double]] = Map.empty)

object Result {
  def failed(attempted: Int, failed: Int): Result =
    Result(false, attempted, failed, new Stats.Sheet, new Stats.Sheet,
      new Stats.Sheet, 1)
}

/** JVM side of the benchmark; `run.py` builds the classpath and starts it.
  *
  *   --workload query-light|query-heavy|tdc-ingest  --seed N  --seconds S
  *   --trace 0|1  --data DIR (generated tables)  --work DIR (scratch)
  *   --traces DIR (span files)  --expected FILE (fingerprints)
  *   --out FILE (result JSON)
  *   --mode run|fingerprints
  */
object Main {
  /** Counters summed by the listener; reported per operation. */
  val PerOpCounters = Seq(
    "ops.build_ms" -> "ms", "ops.build_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.delay_ms" -> "ms",
    "scan.tasks" -> "count", "scan.input_rows" -> "rows",
    "scan.input_bytes" -> "bytes",
    "executor.run_ms" -> "ms", "executor.cpu_ms" -> "ms",
    "executor.gc_ms" -> "ms",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_ms" -> "ms",
    "spill.disk_bytes" -> "bytes", "spill.memory_bytes" -> "bytes",
    "pairs.observed" -> "pairs")

  /** Span layers whose self time is reported (per operation). */
  val SelfLayers = Seq("query", "ops.build", "exec", "catalyst", "job",
    "stage", "batch", "latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  /** Stream metrics a query workload has no use for still appear (as 0)
    * so every workload's traced run carries the same names. */
  val StreamLayerNames = Seq(
    "gen.late_ms" -> "ms", "stream.source.backlog_rows" -> "rows",
    "stream.source.backlog_slope.r1" -> "rows/s",
    "stream.source.backlog_slope.r2" -> "rows/s",
    "stream.source.offset_ms" -> "ms", "stream.decode.rows_in" -> "rows",
    "stream.decode.rows_out" -> "rows", "stream.decode.malformed" -> "rows",
    "stream.batch.count" -> "count", "stream.batch.rows_p50" -> "rows",
    "stream.batch.trigger_ms_p50" -> "ms", "stream.batch.plan_ms" -> "ms",
    "stream.batch.add_ms" -> "ms", "stream.batch.wal_ms" -> "ms",
    "stream.finalize_ms" -> "ms", "stream.state.rows_total" -> "rows",
    "stream.state.rows_updated" -> "rows", "stream.state.rows_removed" -> "rows",
    "stream.state.memory_bytes" -> "bytes", "stream.state.commit_ms" -> "ms",
    "stream.state.dropped_by_watermark" -> "rows",
    "stream.sink.rows_out" -> "rows", "stream.sink.ms" -> "ms")

  /** The session exactly as the engine's bench builds it (excluded
    * rules, extensions, bypass threshold, UTC, local[cores]), plus
    * benchmark-local directories so nothing is written outside `work`. */
  def session(cpus: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.shuffle.sort.bypassMergeThreshold",
        GraftConf.BypassMergeThreshold)
      .config("spark.sql.optimizer.excludedRules", GraftConf.ExcludedRules)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "10min")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()

  private def readExpected(path: String): Map[String, Map[String, String]] = {
    val root = Stats.Json.readTree(new java.io.File(path))
    import scala.jdk.CollectionConverters._
    root.properties().asScala.filter(_.getValue.isObject).map { e =>
      e.getKey -> e.getValue.properties().asScala
        .map(f => f.getKey -> f.getValue.asText()).toMap
    }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime.toDouble
    var setupS = Double.NaN
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)
    val data = Paths.get(args("data")).toAbsolutePath.toString
    val cpus = Runtime.getRuntime.availableProcessors
    val mode = args.getOrElse("mode", "run")
    val spark = session(cpus, work)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (mode == "fingerprints") writeFingerprints(spark, data, args("out"))
      else {
        val workload = args("workload")
        val seed = args("seed").toLong
        val seconds = args("seconds").toDouble
        val traced = args.getOrElse("trace", "0") == "1"
        val tracer =
          if (traced) Some(new Tracer(s"$workload-$seed-${System.currentTimeMillis}"))
          else None
        tracer.foreach(_.register(spark))
        // set-up ends at the first timed operation; a traced run forgets
        // whatever the warm-up recorded
        val markSetupDone = () => if (setupS.isNaN) {
          setupS = (Stats.nowMs() - jvmStartMs) / 1000.0
          tracer.foreach { t => t.drain(spark); t.reset() }
        }
        val r = workload match {
          case "query-light" | "query-heavy" =>
            val expected = readExpected(args("expected"))(workload)
            Queries.run(spark, data, expected, seed, seconds, tracer,
              markSetupDone)
          case "tdc-ingest" =>
            TdcIngest.run(spark, work, cpus, seed, seconds, tracer,
              markSetupDone)
        }
        r.e2e("setup_s") = (setupS, "s")
        r.e2e("peak_rss_mb") = (Stats.peakRssMb(), "MB")
        r.report("error_rate") =
          (r.failed.toDouble / math.max(1, r.attempted), "ratio")
        tracer.foreach(t => layerMetrics(t, r, cpus,
          Paths.get(args.getOrElse("traces", work.resolve("traces").toString)),
          workload))
        val metrics = if (traced) r.layer else r.e2e
        val body = Stats.json(Map(
          "correct" -> r.correct, "attempted" -> r.attempted,
          "failed" -> r.failed, "metrics" -> metrics.toJson,
          "e2e" -> r.e2e.toJson, "report" -> r.report.toJson,
          "layer" -> r.layer.toJson, "samples_ms" -> r.samples,
          "cpus" -> cpus))
        Files.write(Paths.get(args("out")), body.getBytes("UTF-8"))
      }
    } finally spark.stop()
  }

  /** Fill the traced run's per-layer sheet and write its spans. */
  private def layerMetrics(t: Tracer, r: Result, cpus: Int, traces: Path,
      workload: String): Unit = {
    val n = math.max(1, r.perOp).toDouble
    val c = t.counters
    PerOpCounters.foreach { case (k, u) => r.layer(k) = (c.getOrElse(k, 0.0) / n, u) }
    val jobs = c.getOrElse("scheduler.jobs", 0.0)
    r.layer("scheduler.tasks_per_job") =
      (if (jobs > 0) c.getOrElse("scheduler.tasks", 0.0) / jobs else 0.0, "ratio")
    // wall time of queries / batches not covered by any running job
    val top = t.spans.filter(s => s.layer == "query" || s.layer == "batch")
    val jobsBy = t.spans.filter(_.layer == "job")
    val gap = top.map { s =>
      val inside = jobsBy.filter(j => j.end > s.start && j.start < s.end)
        .map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
      (s.end - s.start) - Tracer.unionMs(inside)
    }.sum
    r.layer("scheduler.driver_gap_ms") = (gap / n, "ms")
    r.layer("executor.occupancy") = (if (r.windowMs > 0)
      c.getOrElse("executor.run_ms", 0.0) / (r.windowMs * cpus) else 0.0, "ratio")
    StreamLayerNames.foreach { case (k, u) =>
      if (!r.layer.rows.contains(k)) r.layer(k) = (0.0, u) }
    val self = t.selfTimeMs
    SelfLayers.foreach(l => r.layer(s"self_ms.$l") = (self.getOrElse(l, 0.0) / n, "ms"))
    t.writeJson(traces.resolve(s"${t.runId}.json"),
      Map("workload" -> workload, "e2e" -> r.e2e.toJson,
        "layer" -> r.layer.toJson))
  }

  /** Expected fingerprints of every member query, in name order. */
  private def writeFingerprints(spark: SparkSession, data: String,
      out: String): Unit = {
    val body = Seq("query-light", "query-heavy").map { w =>
      w -> Queries.members(w).map { n =>
        val o = Queries.runOne(spark, data, n, None, None)
        if (!o.ok) System.err.println(s"[perfbench] $n failed: ${o.error}")
        System.err.println(f"[perfbench] $n%-40s ${o.ms}%9.1f ms ${o.fp}")
        n -> (if (o.ok) o.fp else s"FAILED: ${o.error}")
      }.toMap
    }.toMap
    Files.write(Paths.get(out), Stats.json(body).getBytes("UTF-8"))
  }
}
