package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins each r18 codegen kernel to the interpreted HOF spelling it
  * replaced — same rows on adversarial inputs (empties, separator runs,
  * multibyte chars), so the oracle-facing semantics cannot drift. */
class TextKernelsSpec extends SparkSpec {

  private val texts = Seq(
    "",
    " ",
    "   ",
    "a",
    "ab",
    "the",
    "the quick brown fox of the and in a",
    "  leading and trailing  ",
    "double  space　wide",
    "tab\tand\nnewline the",
    "café déjà vu naïve the",           // multibyte chars
    "の the 日本語 of テスト",            // multibyte tokens
    "x" * 5000 + " the of and",
    "... the-end of it all ...")

  private def df = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  test("SpaceTokens == filter(split(text, ' '), t -> length(t) > 0)") {
    val got = df.select(col("id"),
      TextKernels.spaceTokensCol(col("text")).as("tk")).collect()
    val want = df.select(col("id"),
      expr("filter(split(text, ' '), t -> length(t) > 0)").as("tk")).collect()
    got.zip(want).foreach { case (g, w) =>
      assert(g.getSeq[String](1) === w.getSeq[String](1),
        s"row ${g.getLong(0)}")
    }
  }

  test("QualityScore == aggregate(transform(tk, md5-bucket), sum)") {
    val b = graft.ops.Curation.QualityBuckets
    val base = df.withColumn("tk",
      expr("filter(split(text, ' '), t -> length(t) > 0)"))
    val got = base.select(col("id"),
      TextKernels.qualityScoreCol(col("tk"), b).as("s")).collect()
    val want = base.select(col("id"), expr(
      s"""aggregate(transform(tk, t ->
         (cast(conv(substring(md5(cast(t as binary)), 1, 8), 16, 10)
            as bigint) % $b) * 2654435761 % 1001 - 500),
         0L, (acc, x) -> acc + x)""").as("s")).collect()
    got.zip(want).foreach { case (g, w) =>
      assert(g.getLong(1) === w.getLong(1), s"row ${g.getLong(0)}")
    }
  }

  test("CountAlphaTokens == size(filter(tk, t -> t rlike '[a-zA-Z]'))") {
    val base = df.withColumn("tk", split(col("text"), " "))
    val got = base.select(col("id"),
      TextKernels.countAlphaTokensCol(col("tk")).as("n")).collect()
    val want = base.select(col("id"),
      expr("size(filter(tk, t -> t rlike '[a-zA-Z]'))").as("n")).collect()
    got.zip(want).foreach { case (g, w) =>
      assert(g.getInt(1) === w.getInt(1), s"row ${g.getLong(0)}")
    }
  }

  test("CountTokensIn == size(filter(toks, t -> t IN (...)))") {
    val base = df.withColumn("toks", split(col("text"), " "))
    val got = base.select(col("id"),
      TextKernels.countTokensInCol(col("toks"),
        Seq("the", "a", "of")).as("n")).collect()
    val want = base.select(col("id"),
      expr("size(filter(toks, t -> t IN ('the', 'a', 'of')))").as("n"))
      .collect()
    got.zip(want).foreach { case (g, w) =>
      assert(g.getInt(1) === w.getInt(1), s"row ${g.getLong(0)}")
    }
  }

  test("SpanHashes == array_distinct(transform(sequence, md5(concat_ws(" +
      "slice))))") {
    for (n <- Seq(1, 2, 8)) {
      val base = df.withColumn("tk", split(col("text"), " "))
        .filter(size(col("tk")) >= n)
      val got = base.select(col("id"),
        TextKernels.spanHashesCol(col("tk"), n).as("g")).collect()
      val want = base.select(col("id"), expr(
        s"""array_distinct(transform(sequence(1, size(tk) - ${n - 1}),
            i -> md5(cast(concat_ws(' ', slice(tk, i, $n)) as binary))))""")
        .as("g")).collect()
      got.zip(want).foreach { case (g, w) =>
        assert(g.getSeq[String](1) === w.getSeq[String](1),
          s"n=$n row ${g.getLong(0)}")
      }
    }
  }

  test("TokenEntropy == explode/groupBy/groupBy relational spelling") {
    val base = df.select(col("id"),
      size(split(col("text"), " ")).cast("long").as("n_tok"),
      explode(split(col("text"), " ")).as("tok"))
      .groupBy("id", "n_tok", "tok")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("bits", length(bin(expr("n_tok div cnt"))).cast("long"))
      .groupBy("id", "n_tok")
      .agg(count(lit(1)).as("n_vocab"), sum(col("cnt") * col("bits")).as("ent_bits"))
    val want = base.orderBy("id")
      .select("id", "n_tok", "n_vocab", "ent_bits").collect()
    val got = df.select(col("id"),
      TextKernels.tokenEntropyCol(col("text")).as("te")).orderBy("id")
      .select(col("id"), col("te.n_tok"), col("te.n_vocab"), col("te.ent_bits"))
      .collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert((g.getLong(1), g.getLong(2), g.getLong(3)) ===
        (w.getLong(1), w.getLong(2), w.getLong(3)), s"row ${g.getLong(0)}")
    }
  }

  test("TopTokenStats == explode(split) -> groupBy(doc, tok) -> (max, sum)") {
    val want = df.select(col("id"),
      explode(split(col("text"), " ")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("id")
      .agg(max(col("cnt")).as("max_cnt"), sum(col("cnt")).as("n_toks"))
      .orderBy("id").collect()
    val got = df.select(col("id"),
      TextKernels.topTokenStatsCol(col("text")).as("ts")).orderBy("id")
      .select(col("id"), col("ts.max_cnt"), col("ts.n_toks")).collect()
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert((g.getLong(1), g.getLong(2)) === (w.getLong(1), w.getLong(2)),
        s"row ${g.getLong(0)}")
    }
  }

  test("SortedIntersectCount == size(array_intersect(a, b)) on sorted inputs") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (Seq.empty[String], Seq.empty[String]),
      (Seq("a"), Seq.empty[String]),
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a", "a", "b"), Seq("a", "a", "a")),       // duplicates
      (Seq("x", "y"), Seq("y", "x")),
      (Seq("の", "日本"), Seq("日本", "z")),
      ((1 to 500).map("w" + _), (250 to 700).map("w" + _)))
      .toDF("a", "b")
    val got = rows.select(TextKernels.sortedIntersectCountCol(
      array_sort(col("a")), array_sort(col("b"))))
      .collect().map(_.getInt(0)).toSeq
    val want = rows.select(size(array_intersect(col("a"), col("b"))))
      .collect().map(_.getInt(0)).toSeq
    assert(got === want)
  }

  test("TrigramProfile == (hits, grams) of the transform/filter spelling") {
    val profile = graft.ops.TextOps.EnTrigrams
    val inList = profile.map(t => s"'$t'").mkString(", ")
    val base = df.withColumn("grams", expr(
      "transform(sequence(1, greatest(length(text) - 2, 1))," +
      " i -> substring(text, i, 3))"))
    val got = df.select(col("id"),
      TextKernels.trigramProfileCol(col("text"), profile).as("tp"))
      .select(col("id"), col("tp.hits"), col("tp.grams")).collect()
    val want = base.select(col("id"),
      expr(s"size(filter(grams, g -> g IN ($inList)))").as("hits"),
      size(col("grams")).as("grams")).collect()
    got.zip(want).foreach { case (g, w) =>
      assert((g.getInt(1), g.getInt(2)) === (w.getInt(1), w.getInt(2)),
        s"row ${g.getLong(0)}")
    }
  }

  test("NGrams == [array_distinct](transform(sequence, concat_ws(slice))) " +
      "over split(text, ' ')") {
    for (n <- Seq(1, 2, 3, 10); dist <- Seq(true, false)) {
      val hof = df
        .select(col("id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= n)
        .select(col("id"), expr(
          s"""transform(sequence(1, size(tk) - ${n - 1}),
              i -> concat_ws(' ', slice(tk, i, $n)))""").as("g"))
        .select(col("id"),
          (if (dist) array_distinct(col("g")) else col("g")).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val got = df
        .select(col("id"),
          TextKernels.ngramsCol(col("text"), n, distinct = dist).as("g"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      df.select(col("id")).collect().map(_.getLong(0)).foreach { id =>
        assert(got(id) === hof.getOrElse(id, Seq.empty[String]),
          s"row $id n=$n distinct=$dist")
      }
    }
  }

  test("PackedPairs == every i<j pair of the sorted ids, packed (a<<32)|b, " +
      "independent of input order") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      Seq.empty[Long],
      Seq(7L),
      Seq(3L, 9L),
      Seq(9L, 3L),                                   // arrival order flipped
      Seq(5L, 1L, 4L, 2L),
      (0L until 100L).reverse,                       // C(100,2) = 4950 pairs
      Seq(0L, Int.MaxValue.toLong - 1))              // extremes of the guard
      .toDF("ids")
    val got = rows
      .select(explode(TextKernels.packedPairsCol(col("ids"))).as("ab"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = rows.collect().map(_.getSeq[Long](0)).flatMap { ids =>
      val sorted = ids.sorted
      for (i <- sorted.indices; j <- i + 1 until sorted.length)
        yield (sorted(i) << 32) | sorted(j)
    }.sorted.toSeq
    assert(got === want)
    // unpacking round-trips: a < b for every emitted pair
    got.foreach { ab =>
      assert((ab >> 32) < (ab & 0xFFFFFFFFL), s"orientation broken for $ab")
    }
  }

  test("packedPairsSize: C(n,2) in Long, bounded by the unsafe-array limit") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    // the same size test fromPrimitiveArray applies to an array of longs
    def fits(len: Long): Boolean =
      (UnsafeArrayData.calculateHeaderPortionInBytes(len) + 8L * len + 7) / 8 <=
        Int.MaxValue / 8
    assert(fits(TextKernels.MaxPackedPairs))
    assert(!fits(TextKernels.MaxPackedPairs + 1))
    assert(TextKernels.packedPairsSize(0) === 0)
    assert(TextKernels.packedPairsSize(1) === 0)
    assert(TextKernels.packedPairsSize(100) === 4950)
    assert(TextKernels.packedPairsSize(22992) === 264304536)
    // 46341 is the last n whose n·(n−1) fits in Int, 46342 the first that
    // wraps, 65536 the old bound; the message carries the exact Long count
    for ((n, pairs) <- Seq(22993 -> 264327528L, 46341 -> 1073720970L,
        46342 -> 1073767311L, 65536 -> 2147450880L)) {
      val e = intercept[IllegalArgumentException](TextKernels.packedPairsSize(n))
      assert(e.getMessage.contains(
        s"packedPairs: posting list of $n ids gives $pairs pairs"), e.getMessage)
    }
  }
}
