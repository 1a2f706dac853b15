package graft.stream

import graft.SparkSpec
import graft.model.{TdcFixture, TdcHit}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The DSv2 replay source against a 61-hit capture CSV written from
  * [[TdcFixture.hits]]: schema, totals, batch pacing (admission
  * control), checkpointed exactly-once restart, and the batch twin. The
  * reference's real golden capture, when present, must stream the same
  * way. */
class TdcReplaySourceSpec extends SparkSpec {

  private val golden = "/root/reference/code/test/test_data.csv"

  /** [[TdcFixture.hits]] as a capture CSV, columns in the golden header's
    * order. */
  private lazy val capture: String = {
    val f = java.io.File.createTempFile("graft_tdc_capture", ".csv")
    f.deleteOnExit()
    val rows = TdcFixture.hits.map(h => Seq(h.HEAD, h.FPGA, h.TDC_CHANNEL,
      h.ORBIT_CNT, h.BX_COUNTER, h.TDC_MEAS).mkString(","))
    java.nio.file.Files.writeString(f.toPath,
      (TdcHit.schema.fieldNames.mkString(",") +: rows).mkString("", "\n", "\n"))
    f.getPath
  }

  private def ckptDir() =
    java.nio.file.Files.createTempDirectory("graft_replay_ckpt").toString

  /** Streams the 61-row capture at `path` at 20 rows per batch and checks
    * the batches and the rows against the plain CSV read. */
  private def streamsExactly(path: String): Unit = {
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val q = spark.readStream.format("graft-tdc-replay")
      .option("path", path).option("rowsPerBatch", 20)
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = df.select("FPGA", "TDC_CHANNEL", "ORBIT_CNT").collect()
        batches.synchronized {
          batches += got.length.toLong
          rows ++= got.map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptDir())
      .start()
    q.awaitTermination(60000)
    // 61 rows at 20/batch -> 20, 20, 20, 1
    assert(batches.toSeq === Seq(20L, 20L, 20L, 1L))
    assert(rows.size === 61)
    // cross-check against the plain CSV read (same file, same schema)
    val direct = Sources.hitsFromCsv(spark, path)
      .select("FPGA", "TDC_CHANNEL", "ORBIT_CNT").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(rows.sorted.toSeq === direct.sorted.toSeq)
  }

  test("streams the fixture capture exactly, honoring rowsPerBatch") {
    streamsExactly(capture)
  }

  test("streams the reference golden capture exactly, honoring rowsPerBatch") {
    assume(new java.io.File(golden).canRead, "reference checkout absent")
    streamsExactly(golden)
  }

  test("restart from the same checkpoint replays nothing (exactly once)") {
    val ckpt = ckptDir()
    def run(): Long = {
      var n = 0L
      val q = spark.readStream.format("graft-tdc-replay")
        .option("path", capture).option("rowsPerBatch", 25)
        .load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          n += df.count(); ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      q.awaitTermination(60000)
      n
    }
    assert(run() === 61L)
    assert(run() === 0L, "committed offsets were not honored on restart")
  }

  test("EP2 -> EP1 end-to-end: replayed capture drives streaming occupancy") {
    // the whole story on the capture: DSv2 replay (EP2) -> orbit
    // event time -> watermarked streaming occupancy (EP1's monitor)
    val hits = spark.readStream.format("graft-tdc-replay")
      .option("path", capture).option("rowsPerBatch", 20)
      .load()
      .withColumn("ts", graft.time.OrbitTime.orbitTimestamp(col("ORBIT_CNT")))
    // complete mode: the capture spans ~40 ms of orbit time, so every
    // hit lands in one open window that no later event ever closes —
    // append mode would (correctly) emit nothing. Complete emits the
    // full state each batch; the final table is the occupancy.
    val q = Pipelines.occupancy(hits, windowLen = "1 second",
        watermark = "5 seconds")
      .writeStream.format("memory").queryName("replay_occ")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptDir())
      .start()
    q.awaitTermination(60000)
    val occ = spark.table("replay_occ")
      .groupBy("FPGA", "TDC_CHANNEL")
      .agg(sum("n_hits").as("n")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val direct = Sources.hitsFromCsv(spark, capture)
      .groupBy("FPGA", "TDC_CHANNEL").count().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(occ === direct)
  }

  test("batch twin reads the capture with parallel input partitions") {
    val df = spark.read.format("graft-tdc-replay")
      .option("path", capture).load()
    assert(df.count() === 61L)
    assert(df.rdd.getNumPartitions === TdcReplaySource.Partitions)
    // the occupancy profile matches the engine's CSV path
    val viaSource = df.groupBy("FPGA").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val viaCsv = Sources.hitsFromCsv(spark, capture).groupBy("FPGA").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(viaSource === viaCsv)
  }

  test("Trigger.Once (ReadAllAvailable) drains the capture in one batch") {
    // rowsPerBatch=20 only paces rate-limited triggers; a ReadAllAvailable
    // limit must admit the full 61-row capture at once, not one 20-row
    // batch (the pre-fix behavior: the default case capped advancement)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-tdc-replay")
      .option("path", capture).option("rowsPerBatch", 20)
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.count() }; ()
      }
      .trigger(Trigger.Once())
      .option("checkpointLocation", ckptDir())
      .start()
    q.awaitTermination(60000)
    assert(batches.toSeq === Seq(61L))
  }
}
