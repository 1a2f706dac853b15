package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen kernels for the curation/text hot paths (round 18).
  *
  * Spark's higher-order functions (`transform`, `filter`, `aggregate`)
  * have no codegen — each call evaluates the lambda through
  * `SimpleHigherOrderFunction.eval` with a boxed element loop, and
  * thread-dump sampling of the sf3 bench put the curation family's CPU
  * squarely inside those interpreted loops (plus a per-token
  * md5-to-hex-string-to-conv round trip in the quality score). Each
  * kernel here replaces one interpreted spelling with a single static
  * call inside whole-stage codegen and is pinned to the exact semantics
  * of the spelling it replaces (the DuckDB oracles are unchanged);
  * TextKernelsSpec asserts equality against the original HOF spellings
  * including the edge cases (empty text, runs of separators, non-ASCII).
  */
object TextKernels {

  // ------------------------------------------------------- SpaceTokens

  /** `filter(split(text, ' '), t -> length(t) > 0)` as one byte scan.
    * Split is on the literal single space; a 0x20 byte never occurs
    * inside a UTF-8 multibyte sequence, so the byte scan is exact for
    * any input. Empty fields (leading/trailing/double spaces) are
    * dropped, exactly like the filter. */
  case class SpaceTokens(child: Expression) extends UnaryExpression {
    override def prettyName: String = "graft_space_tokens"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${t.catalogString}")
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      TextKernels.spaceTokens(input.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextKernels.spaceTokens($c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def spaceTokens(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val out = new java.util.ArrayList[Any](16)
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (i > start)
          out.add(UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, start, i)))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def spaceTokensCol(c: Column): Column =
    Bridge.column(SpaceTokens(Bridge.expression(c)))

  // ------------------------------------------------------ QualityScore

  /** The hash-bucket quality score over a token array, one md5 per
    * token with no hex/string round trip:
    * Σ ((first 4 digest bytes as unsigned) % buckets) * 2654435761 % 1001 - 500
    * — exactly `aggregate(transform(tk, t -> (cast(conv(substring(
    * md5(cast(t as binary)), 1, 8), 16, 10) as bigint) % buckets) *
    * 2654435761 % 1001 - 500), 0L, (acc, x) -> acc + x)`: conv(hex, 16,
    * 10) of the first 8 hex chars IS the first 4 digest bytes read as
    * an unsigned 32-bit integer, and every operand below is
    * non-negative, so Scala's % matches SQL's remainder. */
  case class QualityScore(child: Expression, buckets: Long)
      extends UnaryExpression {
    override def prettyName: String = "graft_quality_score"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${t.catalogString}")
    }
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any =
      TextKernels.qualityScore(input.asInstanceOf[ArrayData], buckets)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextKernels.qualityScore($c, ${buckets}L);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def qualityScore(tokens: ArrayData, buckets: Long): Long = {
    val md = digest.get()
    val buf = new Array[Byte](16)
    var acc = 0L
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      md.update(tokens.getUTF8String(i).getBytes)
      md.digest(buf, 0, 16)
      val v = ((buf(0) & 0xffL) << 24) | ((buf(1) & 0xffL) << 16) |
        ((buf(2) & 0xffL) << 8) | (buf(3) & 0xffL)
      acc += (v % buckets) * 2654435761L % 1001L - 500L
      i += 1
    }
    acc
  }

  def qualityScoreCol(c: Column, buckets: Long): Column =
    Bridge.column(QualityScore(Bridge.expression(c), buckets))

  // -------------------------------------------------- CountAlphaTokens

  /** `size(filter(tk, t -> t rlike '[a-zA-Z]'))` — the count of tokens
    * containing at least one ASCII letter. `rlike '[a-zA-Z]'` is an
    * unanchored find of a single ASCII letter, and ASCII bytes never
    * occur inside UTF-8 multibyte sequences, so a byte scan is exact. */
  case class CountAlphaTokens(child: Expression) extends UnaryExpression {
    override def prettyName: String = "graft_count_alpha_tokens"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${t.catalogString}")
    }
    override def dataType: DataType = IntegerType
    override def nullSafeEval(input: Any): Any =
      TextKernels.countAlphaTokens(input.asInstanceOf[ArrayData])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextKernels.countAlphaTokens($c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def countAlphaTokens(tokens: ArrayData): Int = {
    var count = 0
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val s = tokens.getUTF8String(i)
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val len = s.numBytes()
      var j = 0
      var found = false
      while (j < len && !found) {
        val b = org.apache.spark.unsafe.Platform.getByte(base, off + j)
        if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) found = true
        j += 1
      }
      if (found) count += 1
      i += 1
    }
    count
  }

  def countAlphaTokensCol(c: Column): Column =
    Bridge.column(CountAlphaTokens(Bridge.expression(c)))

  // ----------------------------------------------------- TrigramProfile

  /** `(size(filter(grams, g -> g IN (profile))), size(grams))` where
    * `grams = transform(sequence(1, greatest(length(text) - 2, 1)),
    * i -> substring(text, i, 3))` — the char-trigram profile hit and
    * window counts in one pass, without materializing the gram array.
    * Counts are over CODE POINTS like `length`/`substring`; the all-
    * ASCII fast path packs each 3-byte window into an int and binary-
    * searches the (ASCII, sorted) profile; rows with multibyte chars
    * take an exact per-window `substringSQL` path. */
  case class TrigramProfile(child: Expression, profile: Seq[String])
      extends UnaryExpression {
    require(profile.forall(p => p.getBytes("UTF-8").forall(_ >= 0)),
      "trigram profile must be ASCII")
    override def prettyName: String = "graft_trigram_profile"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${t.catalogString}")
    }
    override def dataType: DataType = StructType(Seq(
      StructField("hits", IntegerType, nullable = false),
      StructField("grams", IntegerType, nullable = false)))
    @transient private lazy val packed: Array[Int] = TrigramProfile.pack(profile)
    @transient private lazy val utf8Profile: Array[UTF8String] =
      profile.map(UTF8String.fromString).toArray
    override def nullSafeEval(input: Any): Any =
      TextKernels.trigramProfile(
        input.asInstanceOf[UTF8String], packed, utf8Profile)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val packedRef = ctx.addReferenceObj("packedProfile", packed, "int[]")
      val utf8Ref = ctx.addReferenceObj("utf8Profile", utf8Profile,
        "org.apache.spark.unsafe.types.UTF8String[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextKernels.trigramProfile($c, $packedRef, $utf8Ref);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  object TrigramProfile {
    private[functions] def pack(profile: Seq[String]): Array[Int] = {
      val a = profile.map { p =>
        val b = p.getBytes("UTF-8")
        require(b.length == 3, s"profile entries must be 3 ASCII chars: '$p'")
        ((b(0) & 0xff) << 16) | ((b(1) & 0xff) << 8) | (b(2) & 0xff)
      }.toArray.sorted
      a
    }
  }

  def trigramProfile(text: UTF8String, packed: Array[Int],
      profile: Array[UTF8String]): org.apache.spark.sql.catalyst.InternalRow = {
    val nBytes = text.numBytes()
    val nChars = text.numChars()
    var hits = 0
    var grams = 0
    if (nBytes == nChars) {
      // all-ASCII: windows are 3 consecutive bytes
      grams = math.max(nChars - 2, 1)
      if (nChars >= 3) {
        val base = text.getBaseObject
        val off = text.getBaseOffset
        var w = ((org.apache.spark.unsafe.Platform.getByte(base, off) & 0xff) << 8) |
          (org.apache.spark.unsafe.Platform.getByte(base, off + 1) & 0xff)
        var i = 2
        while (i < nBytes) {
          w = ((w << 8) & 0xffffff) |
            (org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0xff)
          if (java.util.Arrays.binarySearch(packed, w) >= 0) hits += 1
          i += 1
        }
      } else {
        // one window: the whole (short) text — an ASCII profile of
        // 3-char entries can only match a 3-char window, so hits stays
        // 0 unless some profile entry equals the short text (it cannot)
        hits = 0
      }
    } else {
      // exact generic path for multibyte rows: same windows via the
      // code-point substring the original spelling used
      grams = math.max(nChars - 2, 1)
      var i = 1
      val end = math.max(nChars - 2, 1)
      while (i <= end) {
        val g = text.substringSQL(i, 3)
        var k = 0
        var found = false
        while (k < profile.length && !found) {
          if (profile(k).equals(g)) found = true
          k += 1
        }
        if (found) hits += 1
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(hits, grams)
  }

  def trigramProfileCol(c: Column, profile: Seq[String]): Column =
    Bridge.column(TrigramProfile(Bridge.expression(c), profile))

  // ------------------------------------------------------ CountTokensIn

  /** `size(filter(toks, t -> t IN (w1, w2, ...)))` — the count of array
    * elements equal to one of a small literal word set. */
  case class CountTokensIn(child: Expression, words: Seq[String])
      extends UnaryExpression {
    override def prettyName: String = "graft_count_tokens_in"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${t.catalogString}")
    }
    override def dataType: DataType = IntegerType
    @transient private lazy val set: Array[UTF8String] =
      words.map(UTF8String.fromString).toArray
    override def nullSafeEval(input: Any): Any =
      TextKernels.countTokensIn(input.asInstanceOf[ArrayData], set)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val setRef = ctx.addReferenceObj("wordSet", set,
        "org.apache.spark.unsafe.types.UTF8String[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextKernels.countTokensIn($c, $setRef);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def countTokensIn(tokens: ArrayData, set: Array[UTF8String]): Int = {
    var count = 0
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      var k = 0
      var found = false
      while (k < set.length && !found) {
        if (set(k).equals(t)) found = true
        k += 1
      }
      if (found) count += 1
      i += 1
    }
    count
  }

  def countTokensInCol(c: Column, words: Seq[String]): Column =
    Bridge.column(CountTokensIn(Bridge.expression(c), words))

  // -------------------------------------------------------- SpanHashes

  /** `array_distinct(transform(sequence(1, size(tk) - n + 1),
    * i -> md5(cast(concat_ws(' ', slice(tk, i, n)) as binary))))` — the
    * distinct lowercase-hex md5 of every n-token window (tokens joined
    * by single spaces, empty tokens included exactly like concat_ws),
    * first-occurrence order like array_distinct. One digest reused
    * across windows, no slice/concat materialization. Null elements are
    * skipped by concat_ws; the dedup callers' token arrays are
    * split()-produced and never carry nulls, and the kernel mirrors the
    * skip for safety. */
  case class SpanHashes(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1, s"span width must be positive: $n")
    override def prettyName: String = "graft_span_hashes"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<string>, got ${t.catalogString}")
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      TextKernels.spanHashes(input.asInstanceOf[ArrayData], n)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextKernels.spanHashes($c, $n);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private val HexChars = "0123456789abcdef".getBytes("US-ASCII")

  def spanHashes(tokens: ArrayData, n: Int): ArrayData = {
    val count = tokens.numElements()
    val windows = count - n + 1
    if (windows <= 0) return new GenericArrayData(Array.empty[Any])
    // token byte arrays fetched once, reused by the n windows they span
    val tok = new Array[Array[Byte]](count)
    var i = 0
    while (i < count) {
      val u = tokens.getUTF8String(i)
      tok(i) = if (u == null) null else u.getBytes
      i += 1
    }
    val md = digest.get()
    val buf = new Array[Byte](16)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var w = 0
    while (w < windows) {
      md.reset()
      var j = 0
      var written = false
      while (j < n) {
        val t = tok(w + j)
        if (t != null) {           // concat_ws skips nulls AND their sep
          if (written) md.update(' '.toByte)
          md.update(t)
          written = true
        }
        j += 1
      }
      md.digest(buf, 0, 16)
      val hex = new Array[Byte](32)
      var k = 0
      while (k < 16) {
        hex(2 * k) = HexChars((buf(k) >> 4) & 0xf)
        hex(2 * k + 1) = HexChars(buf(k) & 0xf)
        k += 1
      }
      seen.add(UTF8String.fromBytes(hex))
      w += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  def spanHashesCol(c: Column, n: Int): Column =
    Bridge.column(SpanHashes(Bridge.expression(c), n))

  // ------------------------------------------------------ TokenEntropy

  /** Per-document token-entropy counts in one pass — replaces the
    * explode(split) -> groupBy(doc, tok) -> groupBy(doc) pipeline of
    * q_text_entropy, whose exploded frame is |corpus tokens| rows
    * through two aggregations. Semantics pinned to the relational
    * spelling: tokens are `split(text, ' ')` fields INCLUDING empties
    * (leading/trailing/double spaces), `n_tok` their count, `n_vocab`
    * the distinct count, `bits(t) = length(bin(n_tok div cnt(t)))` =
    * 64 - numberOfLeadingZeros(n_tok / cnt), `ent_bits = Σ cnt·bits`
    * over distinct tokens. The per-row state is one hash map bounded by
    * the document's own vocabulary — map-side at any corpus size. */
  case class TokenEntropy(child: Expression) extends UnaryExpression {
    override def prettyName: String = "graft_token_entropy"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${t.catalogString}")
    }
    override def dataType: DataType = StructType(Seq(
      StructField("n_tok", LongType, nullable = false),
      StructField("n_vocab", LongType, nullable = false),
      StructField("ent_bits", LongType, nullable = false)))
    override def nullSafeEval(input: Any): Any =
      TextKernels.tokenEntropy(input.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextKernels.tokenEntropy($c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def tokenEntropy(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var nTok = 0L
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        val tok = UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(bytes, start, i))
        val c = counts.get(tok)
        if (c == null) counts.put(tok, Array(1L)) else c(0) += 1
        nTok += 1
        start = i + 1
      }
      i += 1
    }
    var entBits = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val cnt = it.next()(0)
      val bits = 64L - java.lang.Long.numberOfLeadingZeros(nTok / cnt)
      entBits += cnt * bits
    }
    org.apache.spark.sql.catalyst.InternalRow(
      nTok, counts.size().toLong, entBits)
  }

  def tokenEntropyCol(c: Column): Column =
    Bridge.column(TokenEntropy(Bridge.expression(c)))

  // ---------------------------------------------------- TopTokenStats

  /** Per-document (max token frequency, token count) in one pass — the
    * [[TokenEntropy]] hash-map walk with an argmax instead of the
    * entropy sum. Replaces q_text_repetition's
    * explode(split) → groupBy(doc, tok) → groupBy(doc) → join-back
    * pipeline, whose exploded frame is |corpus tokens| rows through two
    * corpus-sized exchanges; the kernel's per-row state is one hash map
    * bounded by the document's own vocabulary — map-side at any corpus
    * size. Semantics pinned to the relational spelling: tokens are
    * `split(text, ' ')` fields INCLUDING empties (leading / trailing /
    * consecutive spaces), `max_cnt` the highest per-token count,
    * `n_toks` the total field count. */
  case class TopTokenStats(child: Expression) extends UnaryExpression {
    override def prettyName: String = "graft_top_token_stats"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${t.catalogString}")
    }
    override def dataType: DataType = StructType(Seq(
      StructField("max_cnt", LongType, nullable = false),
      StructField("n_toks", LongType, nullable = false)))
    override def nullSafeEval(input: Any): Any =
      TextKernels.topTokenStats(input.asInstanceOf[UTF8String])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextKernels.topTokenStats($c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def topTokenStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var nTok = 0L
    var maxCnt = 0L
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        val tok = UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(bytes, start, i))
        val c = counts.get(tok)
        val n = if (c == null) { counts.put(tok, Array(1L)); 1L }
                else { c(0) += 1; c(0) }
        if (n > maxCnt) maxCnt = n
        nTok += 1
        start = i + 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(maxCnt, nTok)
  }

  def topTokenStatsCol(c: Column): Column =
    Bridge.column(TopTokenStats(Bridge.expression(c)))

  // ---------------------------------------------------- IntersectCount

  /** `size(array_intersect(a, b))` for ASCENDING-SORTED inputs (e.g.
    * `array_sort`ed), via a merge walk: no per-pair hash set, no
    * re-hashing of a document's array for every pair it joins into —
    * thread dumps showed the band-sweep truth join spending its CPU in
    * per-pair HashSet builds over the same per-doc arrays. The count is
    * of DISTINCT common elements (array_intersect de-duplicates), with
    * nulls counted once iff present in both — array_sort places nulls
    * last, where the merge tail handles them. Callers sort each array
    * once at document granularity; the sort changes nothing downstream
    * (only sizes and intersection counts are consumed). */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {
    override def prettyName: String = "graft_sorted_intersect_count"
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two array<string>, got ${l.catalogString}, ${r.catalogString}")
      }
    override def dataType: DataType = IntegerType
    override def nullSafeEval(a: Any, b: Any): Any =
      TextKernels.sortedIntersectCount(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.TextKernels.sortedIntersectCount($a, $b);")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var count = 0
    var aNull = false
    var bNull = false
    var last: UTF8String = null      // last counted match, for dedup
    while (i < na && j < nb) {
      if (a.isNullAt(i)) { aNull = true; i += 1 }
      else if (b.isNullAt(j)) { bNull = true; j += 1 }
      else {
        val x = a.getUTF8String(i)
        val y = b.getUTF8String(j)
        // binaryCompare, NOT compareTo: Spark 4.1's compareTo guards a
        // "use binaryCompare or semanticCompare" assertion behind
        // SparkEnvUtils.isTesting, which reads System.getenv PER CALL —
        // thread dumps of the sf3 band-sweep truth join showed the
        // getenv map lookup as the top frame of every merge walk
        val c = x.binaryCompare(y)
        if (c == 0) {
          if (last == null || !x.equals(last)) { count += 1; last = x }
          i += 1; j += 1
        } else if (c < 0) i += 1
        else j += 1
      }
    }
    // nulls sort last: if both tails carry one, the built-in counts it once
    while (i < na) { if (a.isNullAt(i)) aNull = true; i += 1 }
    while (j < nb) { if (b.isNullAt(j)) bNull = true; j += 1 }
    if (aNull && bNull) count += 1
    count
  }

  def sortedIntersectCountCol(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(
      Bridge.expression(a), Bridge.expression(b)))

  // ------------------------------------------------------- PackedPairs

  /** All C(n,2) unordered pairs of a distinct id list, each packed as
    * (a << 32) | b with a < b — the pair-emission kernel behind the
    * grouped q_text_winnow_pairs spelling. Caller contract: ids are
    * distinct and sit in [0, 2^31) (the winnow pair stage's packable
    * guard checks the corpus id extent before choosing this path). The
    * kernel sorts its own copy of the input, so the a < b orientation —
    * and the emitted multiset — is independent of collect_list's
    * nondeterministic arrival order. Output size is C(n,2), bounded by
    * the caller's posting-df cap (C(1000,2) ≈ 500k longs ≈ 4 MB at the
    * production [[graft.ops.Dedup.MaxPostingDf]]); `explode` over the
    * primitive long array stays inside whole-stage codegen, unlike the
    * CodegenFallback [[PairCombinations]] generator, which allocates an
    * InternalRow per pair. */
  case class PackedPairs(child: Expression) extends UnaryExpression {
    override def prettyName: String = "graft_packed_pairs"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<bigint>, got ${t.catalogString}")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      TextKernels.packedPairs(input.asInstanceOf[ArrayData])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextKernels.packedPairs($c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The longest long array `UnsafeArrayData.fromPrimitiveArray`
    * accepts. It refuses an array whose size in 8-byte words,
    * (header + 8·len + 7) / 8 with header = 8 + 8·⌈len/64⌉ bytes,
    * exceeds Int.MaxValue / 8 = 268 435 455; so len + ⌈len/64⌉ + 1 ≤
    * 268 435 455, and the largest such len is 264 305 677. */
  val MaxPackedPairs: Long = 264305677L

  /** C(n,2), the array [[packedPairs]] allocates for `n` ids, computed in
    * Long: n·(n−1) overflows Int from n = 46 342. A caller that bypasses
    * the posting-df cap must die with this named bound (n > 22 992),
    * never a NegativeArraySizeException, Spark's unnamed array-size
    * error, or a silently truncated pair set. */
  def packedPairsSize(n: Int): Int = {
    val pairs = n.toLong * (n - 1) / 2
    require(pairs <= MaxPackedPairs,
      s"packedPairs: posting list of $n ids gives $pairs pairs, over the " +
        s"$MaxPackedPairs-element array bound — cap the group's df before " +
        "emission")
    pairs.toInt
  }

  def packedPairs(ds: ArrayData): ArrayData = {
    val ids = ds.toLongArray()
    val n = ids.length
    val out = new Array[Long](packedPairsSize(n))
    java.util.Arrays.sort(ids)
    var k = 0
    var i = 0
    while (i < n) {
      val hi = ids(i) << 32
      var j = i + 1
      while (j < n) { out(k) = hi | ids(j); k += 1; j += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  def packedPairsCol(c: Column): Column =
    Bridge.column(PackedPairs(Bridge.expression(c)))

  // ----------------------------------------------------------- NGrams

  /** Token n-grams of a text under `split(text, ' ')` semantics
    * (empty tokens preserved), each gram the tokens re-joined with a
    * single space — byte-identical to
    * `transform(sequence(1, size(tk)-n+1), i -> concat_ws(' ', slice(tk, i, n)))`
    * because a slice-rejoin of single-space-split tokens IS the
    * original byte span: the kernel emits the raw substring between
    * the two token boundaries, no token array, no per-gram concat.
    * `distinct = true` adds the `array_distinct` the contamination
    * grams apply (first-occurrence order, same as array_distinct).
    * Fewer than n tokens -> empty array (the caller's size(tk) >= n
    * filter composes identically: explode drops empty arrays). */
  case class NGrams(child: Expression, n: Int, distinct: Boolean)
      extends UnaryExpression {
    require(n >= 1, s"ngram width must be positive: $n")
    override def prettyName: String = "graft_ngrams"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects string, got ${t.catalogString}")
    }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(input: Any): Any =
      TextKernels.ngrams(input.asInstanceOf[UTF8String], n, distinct)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.TextKernels.ngrams($c, $n, $distinct);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def ngrams(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val bytes = text.getBytes
    // token boundaries under split(' ') semantics: a token starts at 0
    // or one past a space, ends at a space or the end of input
    var spaces = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    val m = spaces + 1                     // token count (empties kept)
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](m)
    var t = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    val out = new java.util.ArrayList[Any](m - n + 1)
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    var g = 0
    while (g <= m - n) {
      val start = starts(g)
      val end = if (g + n - 1 == m - 1) bytes.length else starts(g + n) - 1
      val gram = UTF8String.fromBytes(bytes, start, end - start)
      if (seen == null || seen.add(gram)) out.add(gram)
      g += 1
    }
    new GenericArrayData(out.toArray)
  }

  def ngramsCol(c: Column, n: Int, distinct: Boolean): Column =
    Bridge.column(NGrams(Bridge.expression(c), n, distinct))
}
