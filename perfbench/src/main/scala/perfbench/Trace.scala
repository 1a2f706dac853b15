package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is 0 for a root span; times are epoch ms. */
final case class Span(id: Long, parent: Long, name: String,
    start: Double, end: Double) {
  def layer: String =
    if (name.startsWith("catalyst.")) "catalyst" else name.takeWhile(_ != ':')
}

/** Spans and counters of a traced run, kept in memory and written out at
  * the end. Benchmark-side spans wrap the calls into the engine; the
  * listener below adds a span per Spark job and stage, parented through a
  * thread-local job property, and sums the task metrics into counters. */
final class Tracer(val runId: String) {
  private val ids = new AtomicLong(0)
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val openNames = scala.collection.concurrent.TrieMap.empty[Long, String]
  val counters = scala.collection.concurrent.TrieMap.empty[String, Double]

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = spanBuf.synchronized { spanBuf += s }

  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)

  def count(name: String, by: Double = 1.0): Unit =
    counters.synchronized { counters(name) = counters.getOrElse(name, 0.0) + by }

  def nameOf(id: Long): Option[String] = openNames.get(id)

  /** Forget every span, counter and finished execution recorded so far. */
  def reset(): Unit = {
    spanBuf.synchronized(spanBuf.clear())
    counters.clear()
    executions.clear()
  }

  /** Time `body` as a span. Spark jobs submitted from this thread while it
    * runs carry its id and become its children. */
  def span[T](sc: SparkContext, parent: Long, name: String)(body: Long => T): T = {
    val id = newId()
    openNames(id) = name
    val prev = sc.getLocalProperty(Tracer.ParentKey)
    sc.setLocalProperty(Tracer.ParentKey, id.toString)
    val t0 = Stats.nowMs()
    try body(id)
    finally {
      add(Span(id, parent, name, t0, Stats.nowMs()))
      sc.setLocalProperty(Tracer.ParentKey, prev)
    }
  }

  /** Per-layer self time: each span's duration minus the union of its
    * children's intervals, summed by layer (the name before ':'). */
  def selfTimeMs: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Tracer.unionMs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
        math.max(0.0, (s.end - s.start) - covered)
      }.sum
    }
  }

  /** Listener that turns jobs/stages/tasks into spans and counters. */
  def listener: SparkListener = new SparkListener {
    private val jobs = scala.collection.concurrent.TrieMap.empty[Int, (Long, Long, Double)]
    private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      // a micro-batch's jobs nest under its batch span; other jobs under
      // the span that was open on the submitting thread
      val parent = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map(b => batchSpanId(b.toLong))
        .orElse(props.flatMap(p => Option(p.getProperty(Tracer.ParentKey)))
          .map(_.toLong))
        .getOrElse(0L)
      val id = newId()
      jobs(e.jobId) = (id, parent, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, id))
      count("scheduler.jobs")
      if (nameOf(parent).contains("ops.build")) count("ops.build_jobs")
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (id, parent, t0) =>
        add(Span(id, parent, s"job:${e.jobId}", t0, e.time.toDouble))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (t0 <- i.submissionTime; t1 <- i.completionTime)
        add(Span(newId(), stageJob.getOrElse(i.stageId, 0L),
          s"stage:${i.stageId}", t0.toDouble, t1.toDouble))
      count("scheduler.stages")
      count("scheduler.tasks", i.numTasks.toDouble)
      val m = i.taskMetrics
      if (m != null) {
        if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0) {
          count("scan.tasks", i.numTasks.toDouble)
          count("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
          count("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
        }
        count("executor.run_ms", m.executorRunTime.toDouble)
        count("executor.cpu_ms", m.executorCpuTime / 1e6)
        count("executor.gc_ms", m.jvmGCTime.toDouble)
        count("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        count("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        count("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        count("spill.disk_bytes", m.diskBytesSpilled.toDouble)
        count("spill.memory_bytes", m.memoryBytesSpilled.toDouble)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) count("scheduler.delay_ms", math.max(0L,
        e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime).toDouble)
    }
  }

  /** Stream batch id -> span id, so a micro-batch's jobs nest under it. */
  private val batchSpan = scala.collection.concurrent.TrieMap.empty[Long, Long]
  def batchSpanId(batchId: Long): Long = batchSpan.getOrElseUpdate(batchId, newId())

  /** Query-execution listener: Catalyst phase times of each finished
    * action, and the pairs its `graft_pairs_*` observations counted. */
  val executions = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  def qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      executions.add(qe)
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("graft_pairs_"))
          count("pairs.observed", row.getLong(0).toDouble)
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until every posted event reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)

  /** Catalyst phase spans of the actions finished since the last call,
    * attached under `parent`; returns (analysis, optimization, planning) ms. */
  def catalystUnder(parent: Long): (Double, Double, Double) = {
    var a, o, p = 0.0
    var qe = executions.poll()
    while (qe != null) {
      qe.tracker.phases.foreach { case (phase, s) =>
        add(Span(newId(), parent, s"catalyst.$phase",
          s.startTimeMs.toDouble, s.endTimeMs.toDouble))
        val d = (s.endTimeMs - s.startTimeMs).toDouble
        phase match {
          case "analysis" => a += d
          case "optimization" => o += d
          case "planning" => p += d
          case _ =>
        }
      }
      qe = executions.poll()
    }
    (a, o, p)
  }

  def writeJson(path: java.nio.file.Path, extra: Map[String, Any]): Unit = {
    val body = Stats.json(Map(
      "run_id" -> runId,
      "self_ms" -> selfTimeMs,
      "counters" -> counters.toMap,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start" -> s.start, "end" -> s.end))) ++ extra)
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}

object Tracer {
  val ParentKey = "perfbench.parent"

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}
