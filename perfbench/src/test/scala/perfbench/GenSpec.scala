package perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8

class GenSpec extends AnyFunSuite {
  private val vocab = Gen.vocabulary(50000)

  /** Every generator's rows for `seed`, serialized. */
  private def bytes(seed: Long): Array[Byte] = {
    val ev = (0L until 2000L).map(i => Gen.event(seed, i, 2000L, 90, 4000, 0.05))
    val obs = (0L until 500L).map(j => Gen.obs(seed, 3, j, 500L, 4000, 30, 90))
    val docs = (0L until 300L).map(id => Gen.doc(seed, id, vocab))
    (ev ++ obs ++ docs).mkString("\n").getBytes(UTF_8)
  }

  test("the same seed gives identical bytes, another seed different bytes") {
    assert(java.util.Arrays.equals(bytes(7), bytes(7)))
    assert(!java.util.Arrays.equals(bytes(7), bytes(8)))
  }

  test("vocabulary and replica maps are injective") {
    assert(vocab.distinct.length == vocab.length)
    val suffixes = (0L until 20000L).map(Gen.replicaSuffix(_, vocab))
    assert(suffixes.distinct.size == suffixes.size)
    assertThrows[IllegalArgumentException](Gen.replicaSuffix(50000L * 50000L, vocab))
    assertThrows[IllegalArgumentException](Gen.word(400, 2))
  }

  test("planted documents point at earlier clean documents") {
    val kinds = (0L until 5000L).map(Gen.kind(3, _))
    Seq(Gen.Kind.Clean, Gen.Kind.NearDup, Gen.Kind.ExactDup, Gen.Kind.LowQuality)
      .foreach(k => assert(kinds.contains(k)))
    (0L until 5000L).filter(id => kinds(id.toInt) == Gen.Kind.NearDup ||
        kinds(id.toInt) == Gen.Kind.ExactDup).foreach { id =>
      val b = Gen.baseOf(3, id)
      assert(b < id && Gen.kind(3, b) == Gen.Kind.Clean)
    }
  }

  test("event timestamps are unique and late rows arrive at most three days late") {
    val ev = (0L until 20000L).map(i => Gen.event(5, i, 20000L, 90, 4000, 0.05))
    assert(ev.map(_.tsUs).distinct.size == ev.size)
    ev.foreach { e =>
      val day = ((e.tsUs - Gen.EpochUs) / Gen.DayUs).toInt
      assert(day >= 0 && day < 90 && e.arrivalDay - day >= 0 && e.arrivalDay - day <= 3)
    }
    val late = ev.count(e => e.arrivalDay != ((e.tsUs - Gen.EpochUs) / Gen.DayUs).toInt)
    assert(late > 600 && late < 1400) // about 5%
  }
}
