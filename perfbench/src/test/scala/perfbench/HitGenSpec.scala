package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HitGenSpec extends AnyFunSuite {
  private val phases = TdcIngest.phases(2.0)

  private def bytes(seed: Long): Array[Byte] =
    HitGen.generate(seed, phases).flatMap(_.records).toArray.flatten

  test("the same seed gives identical bytes, another seed does not") {
    assert(java.util.Arrays.equals(bytes(7L), bytes(7L)))
    assert(!java.util.Arrays.equals(bytes(7L), bytes(8L)))
  }

  test("hits stay inside the fixture domains and the watermark") {
    val chunks = HitGen.generate(3L, phases)
    val hits = chunks.flatMap(_.hits)
    assert(hits.forall(h => h.fpga >= 0 && h.fpga <= 1))
    assert(hits.forall(h => h.channel >= 1 && h.channel <= 128))
    assert(hits.forall(h => h.bx >= 0 && h.bx <= 3563))
    assert(hits.forall(h => h.tdc >= 0 && h.tdc <= 29))
    // no hit is older than 5 s of event time behind an earlier chunk
    val secs = (o: Long) => (o - HitGen.Orbit0) / HitGen.OrbitsPerSecond
    var maxSeen = 0.0
    chunks.foreach { c =>
      c.hits.foreach(h => assert(secs(h.orbit) > maxSeen - 5.0))
      maxSeen = math.max(maxSeen, (0.0 +: c.hits.map(h => secs(h.orbit))).max)
    }
  }

  test("malformed records are the ones missing from the valid hits") {
    val chunks = HitGen.generate(5L, phases)
    val records = chunks.map(_.records.length).sum
    val valid = chunks.map(_.hits.length).sum
    val share = (records - valid).toDouble / records
    assert(share > 0.002 && share < 0.01)
    val parsed = chunks.flatMap(_.records).count { r =>
      val s = new String(r, "UTF-8"); s.startsWith("{") && s.endsWith("}")
    }
    assert(parsed == valid)
  }

  test("reference occupancy counts every valid hit once") {
    val chunks = HitGen.generate(9L, phases)
    val occ = HitGen.referenceOccupancy(chunks)
    assert(occ.values.sum == chunks.map(_.hits.length).sum)
    assert(occ.keys.forall(_._1 % 1000000L == 0))
  }
}
