package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query (SURVEY.md §2b).
  *
  * @param name   stable query name — the t2 API key
  * @param fn     Spark implementation: (session, sfDir) => result
  * @param oracle equivalent ANSI SQL runnable by DuckDB against the same
  *               parquet tables (bare table names); None for ops whose
  *               output is not SQL-expressible (driver falls back to a
  *               rows-only check; scalatest covers semantics instead).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Session defaults shared by every entry point. */
object GraftConf {
  /** `InferFiltersFromGenerate` clones the generator's whole child
    * expression into a `size(...) > 0` filter and pushes it below
    * exchanges. Every generator input here is a computed, provably
    * non-empty array (token lists, shingles, LSH bands), so the inferred
    * filter never prunes a row — it only re-runs the expensive lambda
    * chain a second time, on the narrow pre-shuffle side of the plan.
    * Excluding the rule removes that double evaluation. */
  val ExcludedRules =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Shuffle-writer ceiling for the bypass-merge path (round 18).
    * Spark's default flips a combine-free exchange from the streaming
    * bypass writer to the buffering sort-based writer above 200 reduce
    * partitions; the census-provisioned pair-aggregation exchanges run
    * wider than that by design, and the sort-based writer's
    * serialize+radix-sort+merge added a measured 2.4 µs/row to the
    * winnow pair stage at sf3 (emission-stage executor time 409 s
    * bypass vs 1675 s sort-based, identical rows). The engine caps its
    * own provisioned widths at 1024 (Dedup.pairStageParts), so raising
    * the threshold to that cap bounds the bypass writer's cost at 1024
    * open-file buffers (~32 MB) per map task — the trade the default
    * guards against is M×R tiny blocks, and both M and R stay
    * engine-bounded here. Env-overridable for A/B and for deployments
    * whose shuffle service prefers merged outputs. */
  val BypassMergeThreshold: String =
    sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESH", "1024")
}

/** Parquet table loaders. One file per table under sfDir (TESTDATA.md). */
object Tables {
  /** The table at `dir/name.parquet`, read with its footer schema.
    * A bare `s.read.parquet` infers the schema with a one-task Spark job
    * on every call, one job per table reference at query construction.
    * [[footerSchema]] reads the same footer on the driver instead. */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(s, path) match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None => s.read.parquet(path)
    }
  }

  /** The schema Spark's parquet inference would give `path`, computed on
    * the driver with no job. It runs the executor side of that inference
    * here: `ParquetFileFormat.readSchemaFromFooter` under a
    * `ParquetToSparkSchemaConverter` built from the session conf, so
    * `nanosAsLong`, `binaryAsString` and `int96AsTimestamp` apply as they
    * would there. The footers it reads are the ones inference picks:
    *  - a file: that file;
    *  - a directory: its first data file in path order
    *    (`ParquetUtils.splitFiles` sorts the listing), or every data file,
    *    merged in path order, when `spark.sql.parquet.mergeSchema` is on.
    * Summary files (`_metadata`, `_common_metadata`) are not consulted;
    * Spark has not written them by default since 2.0. None when the path
    * is missing or holds no data file, so the caller's plain read raises
    * Spark's own error. */
  private[graft] def footerSchema(s: SparkSession,
      path: String): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = s.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (!fs.exists(p)) Seq.empty
      else fs.getFileStatus(p) match {
        case f if f.isFile => Seq(f)
        case _ => fs.listStatus(p).toSeq.filter { f =>
          val n = f.getPath.getName
          f.isFile && n.endsWith(".parquet") &&
            !n.startsWith("_") && !n.startsWith(".")
        }.sortBy(_.getPath.toString)
      }
    val touched = if (s.sessionState.conf.isParquetSchemaMergingEnabled) files
      else files.take(1)
    val converter = new ParquetToSparkSchemaConverter(s.sessionState.conf)
    val schemas = touched.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      try ParquetFileFormat.readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(f.getPath, r.getFooter), converter)
      finally r.close()
    }
    val caseSensitive = s.sessionState.conf.caseSensitiveAnalysis
    schemas.reduceOption(
      org.apache.spark.sql.graftbridge.Bridge.mergeSchemas(_, _, caseSensitive))
  }

  /** Normalize events.ts to a session-timezone (UTC) microsecond
    * TimestampType regardless of how the fixture was written. The driver
    * has shipped events.parquet with two different physical encodings so
    * far — TIMESTAMP(NANOS) through round 5, TIMESTAMP_MICROS
    * (isAdjustedToUTC=false) from round 6 — so the loader adapts to the
    * schema it actually reads instead of assuming one:
    *
    *  - LongType: the file carries TIMESTAMP(NANOS), which Spark 4
    *    rejects by default (PARQUET_TYPE_ILLEGAL) and we read under
    *    `nanosAsLong` as raw nanoseconds. Truncate to µs in integer
    *    space (`div` — a double division loses precision above 2^53 ns),
    *    exactly what DuckDB's µs-native TIMESTAMP does on the same file.
    *  - TimestampNTZType: the file carries TIMESTAMP_MICROS with
    *    isAdjustedToUTC=false. Cast to TimestampType: every session here
    *    pins spark.sql.session.timeZone=UTC, so the cast reinterprets the
    *    naive wall-clock as the same UTC instant DuckDB reads.
    *  - TimestampType (isAdjustedToUTC=true fixtures): already right.
    *
    * Shared by the batch reader below and Bench's streaming probes so
    * both paths carry identical event-time semantics. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  private def eventsRaw(s: SparkSession, d: String): DataFrame = {
    // Harmless when ts is already µs; lets a TIMESTAMP(NANOS) fixture
    // load (as LongType) instead of failing the scan outright.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(t(s, d, "events"))
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame =
    spread(s, t(s, d, "documents"), s"$d/documents.parquet")
  def embeddings(s: SparkSession, d: String): DataFrame =
    spread(s, t(s, d, "embeddings"), s"$d/embeddings.parquet")

  /** The corpora feeding compute-heavy per-row work (shingling, hashing,
    * vector math) must be spread across the cluster even when the file
    * layout can't: parquet can never split INSIDE a row group, so a
    * single-row-group file scans as one non-empty task no matter how
    * many byte-range splits the planner cuts — and everything before the
    * first shuffle serializes on one core.
    *
    * Measured failure of the previous split-count test (r14, sf10): a
    * 66 MB single-row-group documents file under local[32] plans
    * 17 byte-range splits (maxSplitBytes = size/parallelism), 16 of them
    * EMPTY — the count looked healthy, the repartition was skipped, and
    * every interpreted-lambda map phase ran one task
    * (q_text_language_ngram: 691 s isolated). The honest splittability
    * signal is the ROW-GROUP count, a metadata-only footer read,
    * memoized per path.
    *
    * The row-group count alone over-estimates too (ADVICE r14): the
    * planner PACKS many small row groups into one split when
    * maxSplitBytes exceeds row-group size, so a 20-row-group layout can
    * still plan only ~3 non-empty tasks. Effective scan parallelism is
    * bounded by BOTH counts, so the signal is their MIN: min(row
    * groups, planned splits). On a production corpus (thousands of
    * files × row groups) the footer sweep short-circuits at the
    * decision threshold — O(threshold) footer reads, not O(files);
    * locally the repartition is one narrow shuffle of a small table. */
  private val rowGroupCounts =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Total row groups across the parquet file(s) at `path`, stopping as
    * soon as the running count reaches `stopAt` (the answer past the
    * caller's threshold doesn't change the decision, so don't pay
    * O(files) footer I/O for it). Truncated results are therefore a
    * LOWER bound that is only exact below `stopAt`. */
  private[graft] def rowGroups(s: SparkSession, path: String,
      stopAt: Int = Int.MaxValue): Int = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      else Array(fs.getFileStatus(p))
    var sum = 0
    val it = files.iterator
    while (it.hasNext && sum < stopAt) {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(it.next(), conf))
      try sum += r.getFooter.getBlocks.size finally r.close()
    }
    sum
  }

  /** Planned-split probes, memoized per (split confs, path) (ADVICE
    * r15/r16): the probe forces physical planning of the scan
    * (`df.rdd.getNumPartitions`), and [[spread]] runs on every
    * documents/embeddings table construction — at large file counts
    * that is repeated split-planning work for an answer that cannot
    * change under fixed inputs. The answer DOES depend on the
    * session-level `spark.sql.files.maxPartitionBytes` /
    * `openCostInBytes` confs (SpreadGuardSpec itself flips them around
    * its calls), so those join the key rather than living in a
    * docstring constraint. */
  private val plannedSplits =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Cache key for [[plannedSplits]]: the split-geometry confs that
    * feed `FilePartition.maxSplitBytes`, then the path. Byte confs are
    * normalized to numeric bytes (ADVICE r17: '128MB' vs '134217728'
    * fragmented the cache needlessly), and `minPartitionNum` — the one
    * other session-settable input to the split count — joins the key;
    * the remaining input, `defaultParallelism`, is fixed by the
    * session's master string for its lifetime. */
  private def splitKey(s: SparkSession, path: String): String = {
    val c = s.conf
    def bytes(k: String, dflt: String): Long =
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        c.get(k, dflt))
    bytes("spark.sql.files.maxPartitionBytes", "128MB") + ":" +
      bytes("spark.sql.files.openCostInBytes", "4MB") + ":" +
      s.sessionState.conf.filesMinPartitionNum.getOrElse(-1) + ":" + path
  }

  /** `df` MUST be the canonical scan of `path` (no coalesce/repartition
    * applied): the planned-split probe is memoized per path, so a
    * transformed frame would poison the cache for later callers. */
  private[graft] def spread(s: SparkSession, df: DataFrame, path: String): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    // planned byte-range splits: an upper bound on scan tasks; when it
    // is already under the threshold the repartition happens regardless
    // of row groups, so the footer sweep is skipped entirely
    val planned = plannedSplits.getOrElseUpdate(splitKey(s, path),
      df.rdd.getNumPartitions)
    if (planned.toLong * 2 < target) return df.repartition(target)
    // the decision only needs "row groups < target/2?", so the footer
    // sweep may stop counting at the threshold; memoize per (threshold,
    // path) because a truncated count is not reusable under a larger
    // threshold
    val threshold = (target + 1) / 2
    val rgs = rowGroupCounts.getOrElseUpdate(s"$threshold:$path",
      try rowGroups(s, path, stopAt = threshold)
      catch { case scala.util.control.NonFatal(e) =>
        // Logged, explicit fallback (no silent caps): without the footer
        // count, trust the planner's split count alone — planned splits
        // still bound parallelism from above, so a one-row-group giant
        // file degrades to the pre-r14 behavior instead of silently
        // serializing AND silently skipping the log.
        System.err.println(s"[graft] rowGroups($path) failed " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
          "falling back to the planned split count alone")
        Int.MaxValue })
    // Long math — the Int.MaxValue fallback must not overflow the
    // comparison (Int.MaxValue * 2 == -2 would force a repartition,
    // the opposite of what the "trust the planner" sentinel means)
    if (rgs.toLong * 2 < target) df.repartition(target) else df
  }
}
