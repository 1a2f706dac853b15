package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** Seeded TDC hit generator for the `tdc-ingest` workload.
  *
  * Hits take the value domains of `graft.model.TdcFixture` (HEAD 2, FPGA
  * 0-1, TDC_CHANNEL 1-128, BX_COUNTER 0-3563, TDC_MEAS 0-29). ORBIT_CNT
  * advances at the LHC orbit rate (11 245.6 orbits per second) of
  * *scheduled* time, so event time, windows and the watermark advance as
  * in a real run no matter how fast the engine keeps up. A fixed share of
  * hits is out of order by up to 3 s of event time (inside the 5 s
  * watermark, so none may be dropped) and a fixed share of records is
  * malformed JSON (the decoder must drop them). Every record is encoded
  * during set-up; the tick loop only appends.
  */
object HitGen {
  val OrbitsPerSecond = 11245.6
  val Orbit0 = 2252311494L
  val OutOfOrderShare = 0.02
  val MaxDisorderS = 3.0
  val MalformedShare = 0.005

  /** One append: records due at `dueMs` after the open-loop start (drain
    * chunks are not scheduled and carry -1). `hits` are the valid ones. */
  final case class Chunk(phase: String, dueMs: Double,
      records: Array[Array[Byte]], hits: Array[Hit])

  final case class Hit(fpga: Int, channel: Int, orbit: Long, bx: Int, tdc: Int)

  def encode(h: Hit): Array[Byte] =
    (s"""{"HEAD":2,"FPGA":${h.fpga},"TDC_CHANNEL":${h.channel},""" +
      s""""ORBIT_CNT":${h.orbit},"BX_COUNTER":${h.bx},"TDC_MEAS":${h.tdc}}""")
      .getBytes(UTF_8)

  /** A phase of `ticks` appends of `perTick` records, the k-th covering
    * event time [t0S + k*tickS, t0S + (k+1)*tickS). */
  final case class Phase(name: String, ticks: Int, perTick: Int,
      tickS: Double, scheduled: Boolean)

  def generate(seed: Long, phases: Seq[Phase]): Seq[Chunk] = {
    val rnd = new scala.util.Random(seed)
    var eventS = 0.0   // event time of the next chunk, seconds
    var dueS = 0.0     // open-loop schedule of the next chunk, seconds
    phases.flatMap { p =>
      (0 until p.ticks).map { _ =>
        val recs = new Array[Array[Byte]](p.perTick)
        val hits = mutable.ArrayBuilder.make[Hit]
        var i = 0
        while (i < p.perTick) {
          var s = eventS + rnd.nextDouble() * p.tickS
          if (rnd.nextDouble() < OutOfOrderShare)
            s = math.max(0.0, s - rnd.nextDouble() * MaxDisorderS)
          val h = Hit(rnd.nextInt(2), 1 + rnd.nextInt(128),
            Orbit0 + (s * OrbitsPerSecond).toLong, rnd.nextInt(3564),
            rnd.nextInt(30))
          val bytes = encode(h)
          recs(i) =
            if (rnd.nextDouble() < MalformedShare)
              java.util.Arrays.copyOf(bytes, bytes.length / 2)
            else { hits += h; bytes }
          i += 1
        }
        eventS += p.tickS
        val due = if (p.scheduled) dueS * 1000 else -1.0
        if (p.scheduled) dueS += p.tickS
        Chunk(p.name, due, recs, hits.result())
      }
    }
  }

  /** Window start (µs) of a hit: the same arithmetic as
    * `OrbitTime.orbitTimestamp` followed by a 1-second tumbling window. */
  def windowStartMicros(orbit: Long): Long = {
    val micros = orbit * 3564L * 25L / 1000L
    micros - micros % 1000000L
  }

  /** Plain-Scala reference occupancy: hits per (window, FPGA, channel). */
  def referenceOccupancy(chunks: Seq[Chunk]): Map[(Long, Int, Int), Long] = {
    val m = mutable.HashMap.empty[(Long, Int, Int), Long]
    for (c <- chunks; h <- c.hits) {
      val k = (windowStartMicros(h.orbit), h.fpga, h.channel)
      m(k) = m.getOrElse(k, 0L) + 1L
    }
    m.toMap
  }
}
