package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Query construction without avoidable driver round trips: table
  * schemas come from the parquet footer on the driver, with exactly the
  * schema Spark's own inference job gives, and BPE learns a small
  * census's merges on the driver with exactly the distributed rounds'
  * result. */
class QueryBuildSpec extends SparkSpec {

  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")

  /** Runs `body` and returns the Spark jobs it started on this thread. A
    * sentinel job behind it on the listener bus proves every earlier
    * job start has been delivered before the count is read. */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"graft-build-probe-${System.nanoTime}"
    val seen = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == "sentinel")
            sentinel.countDown()
          else seen.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      try body finally sc.setJobGroup(group, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      seen.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("footer schema equals Spark's inferred schema for every fixture table") {
    tables.foreach { name =>
      assert(Tables.t(spark, sf, name).schema ===
        spark.read.parquet(s"$sf/$name.parquet").schema, name)
    }
  }

  test("events footer schema follows nanosAsLong, on and off") {
    Seq("true", "false").foreach { v =>
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> v) {
        assert(Tables.t(spark, sf, "events").schema ===
          spark.read.parquet(s"$sf/events.parquet").schema, s"nanosAsLong=$v")
      }
    }
  }

  test("two-file directory: first file in path order, or merged under mergeSchema") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_footer")
    val dir = root.resolve("two.parquet")
    java.nio.file.Files.createDirectory(dir)
    // two generations with different columns, so which footers are read
    // shows in the schema
    Seq(("part-1.parquet", Seq((1L, "old")).toDF("id", "text")),
        ("part-0.parquet", Seq((2L, 0.5)).toDF("id", "score"))).foreach {
      case (file, df) =>
        val tmp = root.resolve(file + ".tmp").toString
        df.coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath, dir.resolve(file))
    }
    val path = dir.toString
    val unmerged = Tables.t(spark, root.toString, "two").schema
    assert(unmerged === spark.read.parquet(path).schema)
    assert(unmerged.fieldNames.toSeq === Seq("id", "score"))
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      val merged = Tables.t(spark, root.toString, "two").schema
      assert(merged === spark.read.parquet(path).schema)
      assert(merged.fieldNames.toSeq === Seq("id", "score", "text"))
    }
  }

  test("constructing lineitem and documents runs no Spark job") {
    assert(jobsDuring(Tables.lineitem(spark, sf)) === 0)
    assert(jobsDuring(Tables.documents(spark, sf)) === 0)
    // the probe itself sees the inference job a bare read launches
    assert(jobsDuring(spark.read.parquet(s"$sf/lineitem.parquet")) >= 1)
  }

  test("BPE merges: driver-side learning equals the distributed rounds") {
    val words = Corpus.bpeWordCounts(Tables.documents(spark, sf), "text")
    try {
      val (local, census) =
        Corpus.learnBpeMergesFromWords(words, Corpus.BpeLearnRounds)
      assert(!words.storageLevel.isValid, "census persisted below the bound")
      assert(census.collect().toSet === words.collect().toSet)
      val (rounds, cached) = Corpus.learnBpeMergesFromWords(words,
        Corpus.BpeLearnRounds, bound = 0)
      assert(cached.storageLevel.isValid, "distributed rounds read a cache")
      assert(local.length === Corpus.BpeLearnRounds)
      assert(local === rounds)
    } finally words.unpersist(blocking = true)
  }

  test("BPE ties break byte-wise on both paths, not in Java String order") {
    val s = spark
    import s.implicits._
    // "a ｡" (U+FF61, bytes EF BD A1) sorts before "a 😀" (U+1F600, bytes
    // F0 9F 98 80) byte-wise; Java String order puts the surrogate pair
    // (0xD83D) first. Both pairs occur twice, so round 1 is a tie.
    val words = Seq(("a｡", 2L), ("a😀", 2L), ("bc", 1L),
        ("cb", 1L), ("x", 5L)).toDF("w", "wn")
    val local = Corpus.learnBpeMergesFromWords(words, 4)._1
    val rounds = Corpus.learnBpeMergesFromWords(words, 4, bound = 0)._1
    words.unpersist(blocking = true)
    assert(local === rounds)
    assert(local.head === (("a", "｡", 2L)))
    // the census runs dry after four pairs; both paths stop early alike
    assert(Corpus.learnBpeMergesFromWords(words, 9)._1 ===
      Corpus.learnBpeMergesFromWords(words, 9, bound = 0)._1)
    words.unpersist(blocking = true)
  }

  test("q_bpe_apply_learned below the bound holds no cached census") {
    val out = Corpus.qBpeApplyLearned.fn(spark, sf)
    assert(out.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r
    }.isEmpty)
    // the apply pass reads the collected census, not the corpus
    assert(out.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.isEmpty)
  }
}
