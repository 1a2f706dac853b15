package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.stream.{Pipelines, Sources}
import graft.time.OrbitTime

/** The `tdc-ingest` workload: JSON TDC hits appended on a fixed tick by a
  * generator thread (open loop) into a MemoryStream split into one
  * partition per core (the in-process stand-in for a multi-partition Kafka
  * topic), then `Sources.decodeHits` -> `OrbitTime.orbitTimestamp` ->
  * `Pipelines.occupancy` in update mode -> a timing sink that keeps the
  * latest count per key. Phases: fixed rate r1, fixed rate r2, then a
  * closed-loop drain of a pre-generated backlog in fixed-size batches. */
object TdcIngest {
  val TickMs = 50
  val R1 = 4000        // hits per second
  val R2 = 30000
  val WarmBatches = 4
  val DrainBatch = 75000
  val DrainBatches = 4
  /** Event-time rate of the drain backlog, hits per second. */
  val DrainEventRate = 100000

  def phases(seconds: Double): Seq[HitGen.Phase] = {
    val tickS = TickMs / 1000.0
    val ticks = math.max(40, (seconds * 0.4 / tickS).toInt)
    Seq(
      HitGen.Phase("warm", WarmBatches, R1, 1.0, scheduled = false),
      HitGen.Phase("r1", ticks, R1 * TickMs / 1000, tickS, scheduled = true),
      HitGen.Phase("r2", ticks, R2 * TickMs / 1000, tickS, scheduled = true),
      HitGen.Phase("drain", DrainBatches, DrainBatch,
        DrainBatch.toDouble / DrainEventRate, scheduled = false))
  }

  /** decodeHits -> orbit timestamp -> occupancy; `observe` around the
    * decoder only in the traced run. */
  def pipeline(src: DataFrame, traced: Boolean): DataFrame = {
    val in = if (traced) src.observe("decode_in", count(lit(1)).as("n")) else src
    val dec0 = Sources.decodeHits(in)
    val dec = if (traced) dec0.observe("decode_out", count(lit(1)).as("n")) else dec0
    Pipelines.occupancy(
      dec.withColumn("ts", OrbitTime.orbitTimestamp(col("ORBIT_CNT"))))
  }

  final case class SinkBatch(id: Long, endMs: Double, rows: Int, sinkMs: Double)

  private def offsetOf(s: String): Long =
    Option(s).filter(x => x.nonEmpty && x != "null").map(_.trim.toLong).getOrElse(-1L)

  def run(spark: SparkSession, work: java.nio.file.Path, cpus: Int,
      seed: Long, seconds: Double, tracer: Option[Tracer],
      markSetupDone: () => Unit): Result = {
    val chunks = HitGen.generate(seed, phases(seconds))
    val reference = HitGen.referenceOccupancy(chunks)

    val sinkBatches = new ConcurrentLinkedQueue[SinkBatch]()
    val latest = mutable.HashMap.empty[(Long, Int, Int), Long]
    val onBatch: (DataFrame, Long) => Unit = (df, id) => {
      val rows = df.collect()
      val t = System.nanoTime()
      rows.foreach { r =>
        latest((r.getTimestamp(0).getTime * 1000L, r.getInt(1), r.getInt(2))) =
          r.getLong(3)
      }
      sinkBatches.add(SinkBatch(id, Stats.nowMs(), rows.length,
        (System.nanoTime() - t) / 1e6))
    }
    val mem = MemoryStream[Array[Byte]](spark, cpus)(Encoders.BINARY)
    val q = pipeline(mem.toDF(), tracer.isDefined).writeStream
      .outputMode("update")
      .foreachBatch(onBatch)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(work, "ckpt").toString)
      .trigger(Trigger.ProcessingTime(0L))
      .start()

    // offset -> chunk, and cumulative records up to each offset
    val chunkAt = mutable.HashMap.empty[Long, HitGen.Chunk]
    val cumAt = mutable.HashMap.empty[Long, Long]
    var appended = 0L
    def append(c: HitGen.Chunk): Unit = {
      val off = offsetOf(mem.addData(c.records.toSeq).json())
      appended += c.records.length
      chunkAt.synchronized { chunkAt(off) = c; cumAt(off) = appended }
    }
    def committed: Long = Option(q.lastProgress)
      .map(p => offsetOf(p.sources(0).endOffset)).getOrElse(-1L)

    try {
      // warm-up, part of set-up: closed-loop batches on the measured query,
      // so the timed phases do not pay first-use class loading, code
      // generation and state-store creation
      chunks.filter(_.phase == "warm").foreach { c =>
        append(c); q.processAllAvailable() }
      val firstTimed = q.lastProgress.batchId + 1
      markSetupDone()
      // open loop: append each chunk at its due time, on one thread
      val lateMs = mutable.ArrayBuffer.empty[Double]
      val backlog = mutable.ArrayBuffer.empty[(String, Double, Double)]
      val t0 = Stats.nowMs()
      chunks.filter(_.dueMs >= 0).foreach { c =>
        val waitMs = t0 + c.dueMs - Stats.nowMs()
        if (waitMs > 0) Thread.sleep(waitMs.toLong, ((waitMs % 1) * 1e6).toInt)
        val now = Stats.nowMs()
        lateMs += now - (t0 + c.dueMs)
        val doneRecs = chunkAt.synchronized(cumAt.getOrElse(committed, 0L))
        backlog += ((c.phase, (now - t0) / 1000, (appended - doneRecs).toDouble))
        append(c)
      }
      q.processAllAvailable()
      // closed-loop drain: one fixed-size batch at a time
      val drain = chunks.filter(_.phase == "drain")
      // each drain batch's rate, append to commit
      val drainRates = drain.map { c =>
        val b0 = System.nanoTime()
        append(c)
        q.processAllAvailable()
        c.records.length / ((System.nanoTime() - b0) / 1e9)
      }
      tracer.foreach(_.drain(spark))
      report(chunkAt.toMap, reference, latest.toMap, sinkBatches.asScala.toSeq,
        q.recentProgress.toSeq.filter(_.batchId >= firstTimed), lateMs.toSeq, backlog.toSeq, t0,
        drainRates, tracer)
        .copy(windowMs = Stats.nowMs() - t0)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] tdc-ingest failed: $e")
        Result.failed(1, 1)
    } finally q.stop()
  }

  private def report(chunkAt: Map[Long, HitGen.Chunk],
      reference: Map[(Long, Int, Int), Long],
      latest: Map[(Long, Int, Int), Long], sink: Seq[SinkBatch],
      progress: Seq[StreamingQueryProgress], lateMs: Seq[Double],
      backlog: Seq[(String, Double, Double)], t0: Double,
      drainRates: Seq[Double], tracer: Option[Tracer]): Result = {
    val sinkById = sink.map(b => b.id -> b).toMap
    val timedSink = progress.flatMap(p => sinkById.get(p.batchId))
    val dataBatches = progress.filter(_.numInputRows > 0)
    // per data batch: the phase and due time of its oldest chunk
    val samples = dataBatches.flatMap { p =>
      val (s, e) = (offsetOf(p.sources(0).startOffset), offsetOf(p.sources(0).endOffset))
      val cs = (s + 1 to e).flatMap(chunkAt.get)
      val oldest = cs.filter(_.dueMs >= 0).sortBy(_.dueMs).headOption
      for (c <- oldest; b <- sinkById.get(p.batchId))
        yield (c.phase, b.endMs - (t0 + c.dueMs))
    }
    def lat(ph: String) = samples.filter(_._1 == ph).map(_._2)
    val occupancyOk = latest == reference
    if (!occupancyOk)
      System.err.println(s"[perfbench] occupancy mismatch: ${latest.size} keys " +
        s"emitted, ${reference.size} expected, " +
        s"${reference.count { case (k, v) => !latest.get(k).contains(v) }} differ")

    // the gated latency is r1's, the per-batch floor. Pooling r1 and r2
    // would let the ratio of their batch counts, which follows the trigger
    // speed, move the median; r2 queues, so it magnifies host noise.
    val e2e = new Stats.Sheet
    e2e("latency_p50_ms") = (Stats.median(lat("r1")), "ms")
    e2e("throughput_per_s") = (Stats.median(drainRates), "1/s")

    val rep = new Stats.Sheet
    for (ph <- Seq("r1", "r2")) {
      val xs = lat(ph)
      rep(s"hit_latency_p50_ms.$ph") = (Stats.median(xs), "ms")
      rep(s"hit_latency_p90_ms.$ph") = (Stats.quantile(xs, 0.9), "ms")
      rep(s"hit_latency_samples.$ph") = (xs.size.toDouble, "batches")
      val pts = backlog.filter(_._1 == ph).map(b => (b._2, b._3))
      rep(s"backlog_slope.$ph") = (Stats.slope(pts), "rows/s")
      rep(s"backlog_max.$ph") = ((0.0 +: pts.map(_._2)).max, "rows")
    }
    rep("drain_hits_per_s") = (Stats.median(drainRates), "1/s")
    rep("drain_batches") = (drainRates.size.toDouble, "batches")
    rep("gen.late_ms_p99") = (Stats.quantile(lateMs, 0.99), "ms")
    rep("tick_ms") = (TickMs.toDouble, "ms")

    val layer = new Stats.Sheet
    tracer.foreach { t =>
      // batch spans with their progress phases laid end to end
      val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets")
      progress.foreach { p =>
        val st = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        val id = t.batchSpanId(p.batchId)
        t.add(Span(id, 0L, s"batch:${p.batchId}", st, st + d.getOrElse("triggerExecution", 0.0)))
        var at = st
        order.foreach { k => d.get(k).foreach { ms =>
          t.add(Span(t.newId(), id, k, at, at + ms)); at += ms } }
      }
      def dur(k: String) = dataBatches.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
      val ops = progress.flatMap(_.stateOperators.headOption)
      def obs(name: String) = progress.map(p => Option(p.observedMetrics.get(name))
        .map(_.getLong(0).toDouble).getOrElse(0.0)).sum
      layer("gen.late_ms") = (Stats.quantile(lateMs, 0.99), "ms")
      layer("stream.source.backlog_rows") = ((0.0 +: backlog.map(_._3)).max, "rows")
      layer("stream.source.backlog_slope.r1") = (rep.rows("backlog_slope.r1")._1, "rows/s")
      layer("stream.source.backlog_slope.r2") = (rep.rows("backlog_slope.r2")._1, "rows/s")
      layer("stream.source.offset_ms") = (Stats.mean(dur("latestOffset")), "ms")
      layer("stream.decode.rows_in") = (obs("decode_in"), "rows")
      layer("stream.decode.rows_out") = (obs("decode_out"), "rows")
      layer("stream.decode.malformed") = (obs("decode_in") - obs("decode_out"), "rows")
      layer("stream.batch.count") = (dataBatches.size.toDouble, "count")
      layer("stream.batch.rows_p50") = (Stats.median(dataBatches.map(_.numInputRows.toDouble)), "rows")
      layer("stream.batch.trigger_ms_p50") = (Stats.median(dur("triggerExecution")), "ms")
      layer("stream.batch.plan_ms") = (Stats.mean(dur("queryPlanning")), "ms")
      layer("stream.batch.add_ms") = (Stats.mean(dur("addBatch")), "ms")
      layer("stream.batch.wal_ms") = (Stats.mean(dur("walCommit")), "ms")
      layer("stream.finalize_ms") = (progress.filter(_.numInputRows == 0).map(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)).sum, "ms")
      layer("stream.state.rows_total") = ((0.0 +: ops.map(_.numRowsTotal.toDouble)).max, "rows")
      layer("stream.state.rows_updated") = (ops.map(_.numRowsUpdated.toDouble).sum, "rows")
      layer("stream.state.rows_removed") = (ops.map(_.numRowsRemoved.toDouble).sum, "rows")
      layer("stream.state.memory_bytes") = ((0.0 +: ops.map(_.memoryUsedBytes.toDouble)).max, "bytes")
      layer("stream.state.commit_ms") = (Stats.mean(ops.map(_.commitTimeMs.toDouble)), "ms")
      layer("stream.state.dropped_by_watermark") = (ops.map(_.numRowsDroppedByWatermark.toDouble).sum, "rows")
      layer("stream.sink.rows_out") = (timedSink.map(_.rows.toDouble).sum, "rows")
      layer("stream.sink.ms") = (Stats.mean(timedSink.map(_.sinkMs)), "ms")
    }
    // attempted: every timed data batch plus the final occupancy
    // comparison (a failed batch stops the query and fails the run)
    Result(occupancyOk, dataBatches.size + 1, if (occupancyOk) 0 else 1,
      e2e, rep, layer,
      perOp = math.max(1, dataBatches.size),
      samples = Map("r1" -> lat("r1"), "r2" -> lat("r2"),
        "drain" -> drainRates.map(r => DrainBatch / r * 1000)))
  }
}
