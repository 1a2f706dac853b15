package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, filter, length, split}

/** The library facade: DataFrame-in / DataFrame-out entry points for
  * every reusable operator core, independent of the test-data table
  * layout the declared `q_*` queries bind to. A user brings their own
  * DataFrames (any source) and composes; the declared queries in
  * [[graft.ops]] are these same cores applied to the benchmark tables,
  * so everything here is exercised by the oracle gate and scalatest.
  *
  * Column-function surface (fused Catalyst expressions, also exposed to
  * SQL via [[GraftExtensions]]): see [[graft.functions.VectorFunctions]]
  * (`cosineSim`, `dot`, `quantizeStats`), [[graft.functions.WordShingles]],
  * [[graft.functions.MinHashSig]], [[graft.functions.SimHashSig]],
  * [[graft.functions.HistogramAgg]], [[graft.functions.CountMin]],
  * [[graft.functions.VectorAvgAgg]], [[graft.functions.ZValue]].
  */
object Graft {

  // ------------------------------------------------------------- joins

  /** As-of (temporal) join: for each left row, the latest right row
    * with the same keys and rightTs <= leftTs (`direction =
    * "backward"`, the default) or the earliest with rightTs >= leftTs
    * (`"forward"`). Join-free (union + forward-fill window) — one
    * exchange, no pair explosion. */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String],
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame =
    ops.AsOf.asofJoin(left, right, keys, leftTs, rightTs, payload,
      direction, tolerance)

  /** Nearest-direction as-of join: the time-closest right row, exact
    * ties backward. Both directional fills ride one key exchange. */
  def asofNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String]): DataFrame =
    ops.AsOf.asofNearest(left, right, keys, leftTs, rightTs, payload)

  /** Skew-salted inner equi-join: row-identical to
    * `big.join(small, key)`, with the hot key spread `factor` ways. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      factor: Int): DataFrame =
    ops.Skew.saltedJoin(big, small, key, factor)

  /** Stats pass for [[saltedJoin]]: the hottest `n` join-key values. */
  def hotKeys(df: DataFrame, key: String, n: Int = 10): DataFrame =
    ops.Skew.hotKeys(df, key, n)

  /** Bloom-reduced left-semi join: row-identical to
    * `big.join(small.select(key).distinct, key, "left_semi")`, with the
    * small side first collapsed into one broadcast bloom row that drops
    * non-matching big-side rows MAP-SIDE, before the join's shuffle.
    * The generic form of the decontamination prune
    * ([[contaminationScanBloom]]); worth it exactly when `big` dwarfs
    * `small` — the bloom costs one small-side aggregation, the saving is
    * the shuffle of every non-matching big-side row. No false negatives
    * + the exact join downstream ⇒ never loses or invents a row. */
  def bloomSemiJoin(big: DataFrame, small: DataFrame,
      key: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import graft.functions.BloomFunctions
    // the sketch hashes the key's string form so any key type works;
    // the exact join below still compares raw values. The sketch column
    // gets a name the caller's frame provably doesn't use.
    val bf = Iterator.from(0).map(i => s"graft_bf_$i")
      .find(n => !big.columns.contains(n)).get
    val sketch = small
      .agg(BloomFunctions.bloom(col(key).cast("string")).as(bf))
    big.crossJoin(broadcast(sketch))
      .filter(BloomFunctions.mightContain(col(bf), col(key).cast("string")))
      .drop(bf)
      .join(small.select(key).distinct(), Seq(key), "left_semi")
  }

  // ------------------------------------------------------------- dedup

  /** Connected components of an undirected edge list `(a, b)` (both
    * long): `(v, comp)` with comp = min vertex id of the component.
    * Min-label propagation + pointer jumping — O(log diameter) rounds.
    * The near-dup clustering step between pair generation and survivor
    * selection. */
  def connectedComponents(edges: DataFrame): DataFrame =
    ops.Graph.connectedComponents(edges)

  /** Inverted-index pair generation: unordered `(a, b)` doc_id pairs
    * that share a blocking key, with posting lists above `maxDf`
    * dropped (hot keys carry no similarity signal and expand
    * quadratically). Input needs a `doc_id` column plus the `keys`. */
  def candidatePairs(df: DataFrame, keys: Seq[String],
      maxDf: Int = ops.Dedup.MaxPostingDf): DataFrame =
    ops.Dedup.pairsFromGroups(df, keys, maxDf)

  /** Survivor selection: one row per `groupCol` group — the member with
    * the highest `qualityCol` (ties to the smallest `idCol`) — with the
    * group size appended as `graft_sz` (namespaced so it never clobbers
    * a caller's column). Feed it a cluster assignment (e.g.
    * [[connectedComponents]] joined back to quality signals) to turn
    * near-dup clusters into a keep list. Both windows share the group
    * partition — ONE exchange. */
  def survivors(df: DataFrame, groupCol: String, qualityCol: String,
      idCol: String): DataFrame =
    ops.Graph.bestPerGroup(df, groupCol, qualityCol, idCol)

  // ------------------------------------------------- corpus assembly

  /** Sequence-packing report: rows packed end-to-end in `orderCol`
    * order within each `shardCol` shard, cut into `budget`-token bins
    * (concatenate-and-chunk). One row per (shard, bin): n_docs,
    * n_tokens, first row id. */
  def packBins(rows: DataFrame, shardCol: String, orderCol: String,
      nTokCol: String, budget: Int): DataFrame =
    ops.Corpus.packBins(rows, shardCol, orderCol, nTokCol, budget)

  /** Train/test contamination scan: per `probe` row, how many of its
    * distinct token n-grams appear anywhere in `corpus`. */
  def contaminationScan(probe: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      n: Int = ops.Corpus.ContamNgram): DataFrame =
    ops.Corpus.contaminationScan(probe, corpus, idCol, textCol, n)

  /** [[contaminationScan]] through the bloom semi-join reduction: the
    * probe side aggregates into one broadcast bloom row that prunes
    * corpus grams map-side before their distinct shuffle. Bit-identical
    * output (no false negatives + exact downstream join); use when the
    * corpus dwarfs the probe — i.e. in production. */
  def contaminationScanBloom(probe: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      n: Int = ops.Corpus.ContamNgram): DataFrame =
    ops.Corpus.contaminationScanBloom(probe, corpus, idCol, textCol, n)

  /** FUZZY decontamination: per `probe` row, how many `corpus` rows are
    * MinHash-LSH candidates with exact word-shingle Jaccard >=
    * `minJaccard` — catches near-duplicate eval leaks the verbatim
    * n-gram scans miss. Banded LSH equi-join with a hot-band cap;
    * bodies never shuffle. */
  def contaminationScanFuzzy(probe: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      minJaccard: Double = ops.Corpus.FuzzyContamJaccard): DataFrame =
    ops.Corpus.contaminationScanFuzzy(probe, corpus, idCol, textCol,
      minJaccard)

  /** DSIR-style importance weights (hashed unigram+bigram features, 256
    * buckets): per row, the integer-quantized log-likelihood-ratio
    * `w_bits` of its features under the `targetPred` subset's feature
    * distribution vs the whole corpus's, plus the `target_like` =
    * (w_bits > 0) keep flag. The model is a 256-row broadcast frame —
    * nothing grows with corpus size. */
  def dsirWeights(rows: DataFrame, idCol: String, textCol: String,
      targetPred: Column): DataFrame =
    ops.Curation.dsirWeights(rows, idCol, textCol, targetPred)

  /** Domain-mixture report per shard: document/token inventory, token
    * share (percent), and the uniform-target downsampling rate. */
  def mixWeights(rows: DataFrame, shardCol: String,
      nTokCol: String): DataFrame =
    ops.Corpus.mixWeights(rows, shardCol, nTokCol)

  /** Materialize [[mixWeights]]' downsample: per shard, docs/tokens in
    * vs kept under deterministic md5-bucket sampling at the reported
    * 2dp rate — reproducible on any engine/partitioning, no RNG. */
  def mixApply(rows: DataFrame, shardCol: String, idCol: String,
      nTokCol: String): DataFrame =
    ops.Corpus.mixApply(rows, shardCol, idCol, nTokCol)

  /** Snapshot diff across two corpus versions: per id, added / removed /
    * changed / unchanged, comparing `fpCol` (pass a hash, not the body).
    * One full-outer equi-join on the id. */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, idCol: String,
      fpCol: String, carryCols: Seq[String] = Nil): DataFrame =
    ops.Corpus.snapshotDiff(prev, cur, idCol, fpCol, carryCols)

  /** Exact-substring (span-level) dedup report, Lee et al. 2022: per
    * row, its distinct `n`-token sliding spans, how many a min-id-owner
    * rule would cut, and whether it survives intact. Span hashes
    * shuffle, never text; the join frame scales with the
    * duplicated-span set. */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    ops.Dedup.substringDedup(docs, idCol, textCol, n)

  /** SemDeDup-style semantic dedup verdicts (Abbas et al. 2023): assign
    * every vector to its highest-cosine stride-sampled seed cell, prune
    * a vector iff a lower-id cell-mate sits at cosine ≥ `eps` (min-id
    * owner — feed the (dup_of, vec_id) pairs to [[connectedComponents]]
    * for full chained clusters). One row per input vector:
    * (vec_id, cell, kept, dup_of). `vecCol` must be array<double>. */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
      k: Int = ops.Dedup.SemanticCells,
      eps: Double = ops.Dedup.SemanticEps,
      maxBlock: Int = ops.Dedup.MaxEmbeddingBlock): DataFrame =
    ops.Dedup.semanticDedup(vectors, idCol, vecCol, k, eps, maxBlock)

  /** Product-quantization encode: append each vector's per-subspace
    * nearest-codeword indices (`graft_codes` array<long>) and total
    * squared reconstruction error (`graft_pq_err`). `codebook` is the
    * flat array with codeword j's full vector at offset j·dim — build
    * one from any k rows (stride-sampled seeds, Lloyd output, a loaded
    * index file); the encode algebra is codebook-independent. `vecCol`
    * must be array<double>. */
  def pqEncode(vectors: DataFrame, vecCol: String, codebook: Array[Double],
      nCodes: Int, nSub: Int): DataFrame =
    vectors
      .withColumn("graft_codes", functions.PqFunctions.codes(
        org.apache.spark.sql.functions.col(vecCol), codebook, nCodes, nSub))
      .withColumn("graft_pq_err", functions.PqFunctions.residual(
        org.apache.spark.sql.functions.col(vecCol), codebook, nCodes, nSub))

  /** Sign-bit binary quantization of a 64-dim array<double> column
    * (named, not a Column — the packing fold references it by name):
    * bit i = (v[i] >= 0), one long per vector — 32× smaller than the
    * float32 row, candidate scans pay XOR+popcount per pair. */
  def binarySignCode(vCol: String): Column =
    ops.Similarity.binarySignCode(vCol)

  /** Hamming distance between two [[binarySignCode]] words. */
  def hammingDist(a: Column, b: Column): Column =
    ops.Similarity.hammingDist(a, b)

  /** 64-bit perceptual fingerprints for a media table (aHash of the
    * first decoded raster; windowed amplitude-sign hash for audio) —
    * one partition-batched decode, 8 bytes out per blob. */
  def perceptualHash(media: org.apache.spark.sql.Dataset[ops.Multimodal.Media]): DataFrame =
    ops.Multimodal.perceptualHash(media)

  /** Perceptual near-duplicate report over a media table: same-kind
    * neighbours within `maxHamming` of the fingerprint (complete at the
    * default radius via 4×16-bit multi-index banding) + the min-id-owner
    * keep verdict. Blobs decode once and never shuffle. */
  def perceptualDedup(media: org.apache.spark.sql.Dataset[ops.Multimodal.Media],
      maxHamming: Int = 3): DataFrame =
    ops.Multimodal.perceptualDedup(media, maxHamming)

  /** Best-fit-vs-chunk packing policy report per shard: docs stream in
    * `orderCol` order, each tail placed in the open bin with the
    * smallest remaining capacity that fits (state = the open-bin
    * remainder multiset only). One row per shard: bins used,
    * boundary-split docs (chunk's truncation cost), padding-waste ppm
    * (best-fit's cost), both policies from ONE pass. */
  def packBestFit(rows: DataFrame, shardCol: String, orderCol: String,
      nTokCol: String, budget: Int): DataFrame =
    ops.Corpus.packBestFit(rows, shardCol, orderCol, nTokCol, budget)

  /** Gopher heuristic rule matrix (Rae et al. 2021 A1.1) appended to
    * `docs`: per-rule counts and booleans plus the `gopher_keep`
    * conjunction, computed map-side from `textCol`. Every rule decision
    * is an integer comparison — engine-exact. */
  def gopherRules(docs: DataFrame, textCol: String): DataFrame =
    ops.Curation.gopherCounts(docs
      .withColumn("text", col(textCol))
      .withColumn("tk",
        filter(split(col(textCol), " "), t => length(t) > 0)))

  /** Binned interval-overlap join: pairs of `left`/`right` rows whose
    * integer intervals `[lStart, lEnd]` / `[rStart, rEnd]` overlap
    * (inclusive). Both sides explode to covered `binWidth` bins and
    * equi-join on the bin — no nested loop at any scale; pick binWidth
    * near the typical interval length. */
  def overlapJoin(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      binWidth: Long): DataFrame =
    ops.Analytics.overlapJoin(left, right, lStart, lEnd, rStart, rEnd,
      binWidth)

  /** Per-group 3-sigma outlier census over a value column: n, mean, sd,
    * outlier count, worst offender id + z — moments from exact
    * scaled-integer sums, deterministic under any partitioning. */
  def anomalyScan(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame =
    ops.Analytics.anomalyScan(df, groupCol, idCol, valueCol)

  /** DAU/WAU/MAU + stickiness per day from a (timestamp, user) event
    * frame — rolling distinct counts via a bounded fan-out explode over
    * the distinct activity frame, never a range self-join. */
  def activeUsers(df: DataFrame, tsCol: String, userCol: String): DataFrame =
    ops.Analytics.activeUsers(df, tsCol, userCol)

  /** Per-blob decode verdict over a media table — every blob decoded
    * end-to-end (all frames, full PCM) under failure capture, so
    * corruption costs a `failed` row, never the job. */
  def decodeStatus(media: org.apache.spark.sql.Dataset[ops.Multimodal.Media]): DataFrame =
    ops.Multimodal.decodeStatus(media)

  /** BPE-encode a text column against the compiled-in merge table (one
    * map-side codegen pass; see [[graft.functions.BpeEncode]]). */
  def bpeEncode(c: Column): Column = functions.BpeEncode.encode(c)

  /** BPE-encode against a caller-supplied (e.g. [[learnBpeMerges]]'d)
    * table — the learned-tokenizer round-trip. */
  def bpeEncodeWith(c: Column, merges: Seq[(String, String)]): Column =
    functions.BpeEncode.encodeWith(c, merges)

  /** Learn `k` BPE merges over `textCol` (Sennrich 2016) from its word
    * census: on the driver when the census has at most
    * [[ops.Corpus.BpeDriverCensusBound]] words, else as one pair-count
    * aggregation pass + a single collected argmax row per round.
    * Returns (a, b, count) in rank order; feed the pairs to
    * [[graft.functions.BpeEncode.pairs]]-style encoding or compile a
    * table like [[graft.functions.BpeEncode.Merges]]. */
  def learnBpeMerges(docs: DataFrame, textCol: String,
      k: Int): Seq[(String, String, Long)] =
    ops.Corpus.learnBpeMerges(docs, textCol, k)

  // ------------------------------------------------------------ layout

  /** Register `df` as a bucketed+sorted managed table — joins and
    * aggregations on `key` then plan with zero exchanges. */
  def bucketize(df: DataFrame, name: String, key: String, buckets: Int): Unit =
    sources.Layout.bucketize(df, name, key, buckets)

  /** Directory-partitioned write: range queries on `partCol` prune at
    * planning time. */
  def partitioned(df: DataFrame, path: String, partCol: String): Unit =
    sources.Layout.partitioned(df, path, partCol)

  /** Range-clustered write: `n` range-disjoint files sorted on `cols`,
    * so row-group min/max stats skip files at scan time. */
  def clustered(df: DataFrame, path: String, n: Int, cols: String*): Unit =
    sources.Layout.clustered(df, path, n, cols: _*)

  /** Compact a parquet directory into ~`targetMb` files at `dst` (the
    * small-files repair). Returns the file count written. */
  def compact(session: SparkSession, src: String, dst: String,
      targetMb: Int = 512): Int =
    sources.Layout.compact(session, src, dst, targetMb)

  // ----------------------------------------------------------- caches

  /** Evict every session-lifetime artifact the library memoized:
    * IVF index frames (unpersisted), connected-component assignments,
    * dataset-dimension probes, and the operator-persisted frames
    * (shingle/band/token caches) via the catalog. Index caches key on
    * (session, dataset path) and deliberately do NOT watch for in-place
    * rewrites of the path — call this when rewriting a dataset under the
    * same path, or before pointing a long-lived session at a new corpus.
    *
    * Blast radius: `catalog.clearCache()` clears the CONTEXT-wide cache
    * manager — every cached plan of every session sharing this
    * SparkContext, including frames the caller persisted themselves
    * (they recompute on next use; nothing is lost). The library's
    * operator persists carry no table names to target individually, so
    * a full clear is the only complete eviction — acceptable for the
    * intended use (refresh between corpus versions), not a per-query
    * cache tool. */
  def clearCaches(session: SparkSession): Unit = {
    ops.Similarity.clearSessionCaches(session)
    ops.Graph.clearSessionCaches(session)
    session.catalog.clearCache()
  }

  // --------------------------------------------------------- analytics

  /** Time-series gap fill: one row per (key, day) across each key's
    * observed span of `tsCol`, zero-filled. */
  def gapfillDaily(df: DataFrame, key: String, tsCol: String): DataFrame =
    ops.Analytics.gapfillDaily(df, key, tsCol)

  /** OHLC bars per (key, `bucket`-truncated event time): open/close at
    * the first/last (ts, idCol) — idCol must make the order total —
    * high/low extremes; ONE two-phase aggregation, no window. */
  def ohlcBars(events: DataFrame, key: String, tsCol: String,
      idCol: String, valueCol: String, bucket: String = "day"): DataFrame =
    ops.Analytics.ohlcBars(events, key, tsCol, idCol, valueCol, bucket)

  // ----------------------------------------------------- text / quality

  /** Top-`k` TF-IDF keywords per row of (idCol, textCol), integer
    * floor(log2) idf, ties total-ordered on the token. */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame =
    ops.TextOps.tfidfKeywords(docs, idCol, textCol, k)

  /** Data-profiling audit: per column, null + exact distinct counts
    * plus the row count — one aggregation pass over the frame. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    ops.Curation.profile(df, cols)
}
