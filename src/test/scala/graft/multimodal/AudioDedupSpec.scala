package graft.multimodal

import graft.SparkSpec
import graft.operators.TextDedup

/** [[TextDedup.envelopeSignatureFromSlots]] — the envelope→bit derivation
  * that `x_audio_dedup_pairs` feeds into the banded Hamming machinery —
  * checked against the slot-comparison loop and on encoded targets. */
class AudioDedupSpec extends SparkSpec {

  import spark.implicits._

  test("engine twin matches the in-row slot-comparison loop bit-for-bit") {
    // the envelope dHash derivation: bit b set iff slot b > slot b+1
    def loopHash(slots: Array[Double], bits: Int): Long = {
      var hash = 0L
      var b = 0
      while (b < bits) {
        if (slots(b) > slots(b + 1)) hash |= 1L << b
        b += 1
      }
      hash
    }
    val rnd = new scala.util.Random(42)
    val clips = (0L until 8L).map(id => id -> Array.fill(65)(rnd.nextDouble()))
    val rows = clips.flatMap { case (id, slots) =>
      slots.zipWithIndex.map { case (e, k) => (id, k, e) }
    }.toDF("doc_id", "k", "e")
    val got = TextDedup.envelopeSignatureFromSlots(rows, "doc_id", "k", "e")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    clips.foreach { case (id, slots) =>
      assert(got(id) == loopHash(slots, 64), s"doc $id diverged from the loop")
    }
  }

  test("engine twin recovers a prefix-walk-encoded target exactly") {
    // The x_audio_dedup_pairs fixture shape: slot k = k − 2·popcount(t &
    // (2^k − 1)) walks DOWN exactly where t has a set bit, so the
    // slot-comparison derivation must reproduce t verbatim. A >/<
    // flip, bit-order or off-by-one-slot bug changes every signature.
    val targets = Seq(0L, 1L, (1L << 55) | 5L, 0x00AAAAAAAAAAAAAAL)
    val rows = targets.zipWithIndex.flatMap { case (t, id) =>
      (0 to 56).map { k =>
        (id.toLong, k, k.toLong - 2 * java.lang.Long.bitCount(t & ((1L << k) - 1)))
      }
    }.toDF("doc_id", "k", "e")
    val got = TextDedup.envelopeSignatureFromSlots(rows, "doc_id", "k", "e", bits = 56)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    targets.zipWithIndex.foreach { case (t, id) =>
      assert(got(id.toLong) == t, s"target $t came back as ${got(id.toLong)}")
    }
  }
}
