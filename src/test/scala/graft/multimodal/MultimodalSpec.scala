package graft.multimodal

import graft.SparkSpec
import graft.operators.TextDedup

/** [[TextDedup.videoSignatureFromFrames]] — the per-bit majority combine
  * that `x_video_dedup_pairs` feeds into the banded Hamming machinery —
  * checked against a row-local majority loop. */
class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  /** The reference: bit k is set iff strictly more than half the frames
    * set it (ties → 0). */
  private def videoTemporalHash(frameHashes: Seq[Long], bits: Int = 64): Long = {
    val n = frameHashes.length
    var sig = 0L
    var k = 0
    while (k < bits) {
      var cnt = 0
      frameHashes.foreach { h => if (((h >> k) & 1L) == 1L) cnt += 1 }
      if (2 * cnt > n) sig |= 1L << k
      k += 1
    }
    sig
  }

  test("video majority combine: transient frame noise vanishes, persistent bits survive") {
    val base = 0x5A5A5A5A5A5AL
    val clips = Seq(
      // one frame of five flips extra bits (a scene insert / corrupted
      // frame) — the signature must equal the clean majority content
      1L -> Seq(base, base, base ^ 0xFF00L, base, base),
      // a bit present in 3 of 5 frames survives; 2 of 5 does not (strict)
      2L -> Seq(1L, 1L, 1L, 0L, 0L),
      3L -> Seq(1L, 1L, 0L, 0L, 0L),
      // tie (2 of 4) → 0, the documented strict-majority rule
      4L -> Seq(1L, 1L, 0L, 0L))
    val frames = clips.flatMap { case (d, hs) => hs.map(d -> _) }.toDF("doc_id", "fhash")
    val got = TextDedup.videoSignatureFromFrames(frames, "doc_id", "fhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> base, 2L -> 1L, 3L -> 0L, 4L -> 0L))
  }

  test("video combine parity: row-local hash == engine-side aggregate on random frames") {
    val rnd = new scala.util.Random(13)
    val frames = (0 until 30).flatMap { d =>
      (0 until 1 + rnd.nextInt(6)).map(f => (d.toLong, rnd.nextLong()))
    }
    val engine = TextDedup.videoSignatureFromFrames(
        frames.toDF("doc_id", "fhash"), "doc_id", "fhash", bits = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = frames.groupBy(_._1).map { case (d, fs) =>
      d -> videoTemporalHash(fs.map(_._2), bits = 64)
    }
    assert(engine == local)
  }
}
