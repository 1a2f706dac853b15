package perfbench

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Graft, SparkEntry}
import graft.util.Det

/** The two declared-query workloads: closed loop, one client, every
  * member query built through `Q.fn` and executed through the `noop` sink
  * in a seeded order. Each execution also yields an output fingerprint
  * (row count + order-insensitive hash) checked against the expected file. */
object Queries {

  /** Families whose queries run over documents and embeddings. */
  val HeavyFamilies: Set[String] = Set("dedup", "text", "bpe", "sim", "mm",
    "contamination", "corpus", "curation", "curriculum", "dsir", "pack",
    "mix", "vec", "embed", "graph")

  /** The deliberately skew-prone theta join that certifies its binned
    * rewrite; like the engine's own bench, never a measured member. */
  val Control = "q_join_theta_range"

  def isHeavy(name: String): Boolean =
    name == "q_join_text_embedding" ||
      HeavyFamilies.contains(name.stripPrefix("q_").takeWhile(_ != '_'))

  /** Every declared query of a workload, by name. */
  def members(workload: String): Seq[String] = {
    val all = SparkEntry.queries.keys.filter(_ != Control).toSeq.sorted
    workload match {
      case "query-light" => all.filterNot(isHeavy)
      case "query-heavy" => all.filter(isHeavy)
    }
  }

  // ----------------------------------------------------- fingerprints

  /** Canonical form of a value for hashing: doubles through the engine's
    * deterministic 2-dp rounding (`Det.r2`), maps as sorted entry lists,
    * containers element-wise. */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(isnan(d) || abs(d) >= 1e15, d).otherwise(Det.r2(d))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType =>
      struct(st.fields.toIndexedSeq.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      canon(sort_array(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  /** `df` with positional column names and an observation that yields
    * "rows:hash" once an action over it finishes. */
  def fingerprinted(df: DataFrame): (DataFrame, Observation) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.toIndexedSeq.map(f =>
      canon(col(f.name), f.dataType)): _*)
    val obs = Observation()
    (named.observe(obs, count(lit(1)).as("rows"),
      sum(h.cast(DecimalType(20, 0))).as("hash")), obs)
  }

  def fingerprint(obs: Observation): String = {
    val r = Await.result(obs.future, 5.minutes)
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  // --------------------------------------------------------- running

  final case class Outcome(name: String, ms: Double, ok: Boolean,
      fp: String, buildMs: Double, error: String)

  /** Build, plan and execute one query through the noop sink. Caches are
    * cleared first, outside the timed region, as in the engine's bench.
    * The clock stops when the write returns; the check then waits for the
    * fingerprint, untimed. */
  def runOne(spark: SparkSession, data: String, name: String,
      expected: Option[String], tracer: Option[Tracer]): Outcome = {
    Graft.clearCaches(spark)
    val fn = SparkEntry.queries(name)
    val sc = spark.sparkContext
    def timed[T](parent: Long, span: String)(body: Long => T): T =
      tracer.fold(body(0L))(_.span(sc, parent, span)(body))
    val t0 = System.nanoTime()
    try {
      var buildMs = 0.0
      val (execId, obs) = timed(0L, s"query:$name") { qid =>
        val df = timed(qid, "ops.build") { _ => fn(spark, data) }
        buildMs = (System.nanoTime() - t0) / 1e6
        timed(qid, "exec") { eid =>
          val (out, obs) = fingerprinted(df)
          out.write.format("noop").mode("overwrite").save()
          (eid, obs)
        }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val fp = fingerprint(obs)
      tracer.foreach { t =>
        t.drain(spark)
        val (a, o, p) = t.catalystUnder(execId)
        t.count("catalyst.analysis_ms", a)
        t.count("catalyst.optimization_ms", o)
        t.count("catalyst.planning_ms", p)
        t.count("ops.build_ms", buildMs)
      }
      val ok = expected.forall(_ == fp)
      Outcome(name, ms, ok, fp, buildMs,
        if (ok) "" else s"fingerprint $fp, expected ${expected.get}")
    } catch {
      case e: Throwable =>
        Outcome(name, (System.nanoTime() - t0) / 1e6, ok = false, "", 0.0,
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
  }

  /** A run measures one full pass over its members per `PassSeconds` of
    * `--seconds` (at least one). Whole passes keep every member's weight
    * in the median equal, and the work of a run independent of the
    * engine's speed. */
  val PassSeconds = 7.5

  /** Closed loop: full passes over `names`, each in a seeded order. */
  def loop(spark: SparkSession, data: String, names: Seq[String],
      expected: Map[String, String], seed: Long, seconds: Double,
      tracer: Option[Tracer]): (Seq[Outcome], Double) = {
    val rnd = new scala.util.Random(seed)
    val passes = math.max(1, math.round(seconds / PassSeconds).toInt)
    val t0 = System.nanoTime()
    val out = for (_ <- 1 to passes; n <- rnd.shuffle(names))
      yield runOne(spark, data, n, expected.get(n), tracer)
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** A run measures `Members` queries evenly spaced through the
    * workload's members in name order (members are grouped by family in
    * name order, so the large families are all represented). Set-up runs
    * each once, untimed, so the measured passes see warm code. */
  val Members = 10

  /** The queries whose build carries a `graft_pairs_*` observation. Each
    * takes the place of the evenly spaced pick nearest to it in name
    * order, so the pair stages are measured and `pairs.observed` counts. */
  val PairCounted = Seq("q_dedup_editdist", "q_text_winnow_pairs")

  def measured(all: Seq[String]): Seq[String] = {
    val sorted = all.sorted
    val k = math.min(Members, sorted.size)
    val picks = Array.tabulate(k)(i => i * sorted.size / k)
    PairCounted.map(sorted.indexOf).filter(_ >= 0).foreach { p =>
      picks(picks.indices.minBy(i => math.abs(picks(i) - p))) = p
    }
    picks.toSeq.map(sorted)
  }

  def run(spark: SparkSession, data: String, expected: Map[String, String],
      seed: Long, seconds: Double, tracer: Option[Tracer],
      markSetupDone: () => Unit): Result = {
    val names = measured(expected.keys.toSeq)
    names.foreach(n => runOne(spark, data, n, None, None))
    // one full collection after the warm-up, not one per query: at this
    // table size a per-query collection costs about as much as the query
    System.gc()
    markSetupDone()
    val (out, elapsedS) = loop(spark, data, names, expected, seed, seconds, tracer)
    out.filterNot(_.ok).foreach(o =>
      System.err.println(s"[perfbench] ${o.name} failed: ${o.error}"))
    val ms = out.map(_.ms)
    val p50 = Stats.median(ms)
    val perS = out.size / (ms.sum / 1000)
    val e2e = new Stats.Sheet
    e2e("latency_p50_ms") = (p50, "ms")
    e2e("throughput_per_s") = (perS, "1/s")
    val rep = new Stats.Sheet
    rep("query_p50_ms") = (p50, "ms")
    rep("query_p90_ms") = (Stats.quantile(ms, 0.9), "ms")
    rep("queries_per_s") = (perS, "1/s")
    rep("query_samples") = (out.size.toDouble, "queries")
    rep("passes") = (out.size.toDouble / names.size, "count")
    val failed = out.count(!_.ok)
    Result(failed == 0, out.size, failed, e2e, rep, new Stats.Sheet,
      perOp = out.size, windowMs = elapsedS * 1000,
      samples = out.groupBy(_.name).map { case (n, os) => n -> os.map(_.ms) })
  }
}
