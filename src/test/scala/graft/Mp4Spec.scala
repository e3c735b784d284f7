package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.Mp4Parse
import graft.sources.ImageGen

/** ISO BMFF metadata parse: generator round-trips (mvhd v0/v1, track
  * mixes), the size-encoding edge cases (largesize, size-0 to-end
  * boxes), and totality on malformed/crafted input.
  */
class Mp4Spec extends AnyFunSuite {

  test("round-trip: mvhd v0/v1, track handler mixes, exact duration math") {
    for (v1 <- Seq(false, true); nAudio <- 0 to 2; extra <- Seq(true, false)) {
      val handlers = Seq("vide") ++ Seq.fill(nAudio)("soun") ++
        (if (extra) Seq("text") else Seq.empty)
      val b = ImageGen.mp4(timescale = 1600, duration = 48000, handlers, mvhdV1 = v1)
      val m = Mp4Parse.parse(b).get
      assert(m.timescale == 1600 && m.duration == 48000, s"v1=$v1")
      assert(m.durationMs == 48000L * 1000 / 1600)
      assert(m.nVideoTracks == 1 && m.nAudioTracks == nAudio)
      assert(m.nOtherTracks == (if (extra) 1 else 0))
    }
    // v1 carries true 64-bit durations
    val big = ImageGen.mp4(90000, 0x123456789AL, Seq("vide"), mvhdV1 = true)
    assert(Mp4Parse.parse(big).get.duration == 0x123456789AL)
    // a forged duration past 2^53 would overflow durationMs — refused
    val forged = ImageGen.mp4(90000, 1L << 60, Seq("vide"), mvhdV1 = true)
    assert(Mp4Parse.parse(forged).isEmpty)
  }

  test("largesize and size-0 (to end) box encodings parse") {
    val base = ImageGen.mp4(1000, 5000, Seq("vide"))
    // rewrite the trailing mdat as a largesize box: size=1 + 64-bit size
    val mdatAt = base.length - 12
    assert(new String(base, mdatAt + 4, 4, "US-ASCII") == "mdat")
    val withLarge = base.take(mdatAt) ++ {
      val body = Array[Byte](9, 9, 9)
      val b = new Array[Byte](16 + body.length)
      b(3) = 1 // size == 1 → largesize follows fourcc
      System.arraycopy("mdat".getBytes("US-ASCII"), 0, b, 4, 4)
      b(15) = (16 + body.length).toByte // 64-bit BE largesize (small value)
      System.arraycopy(body, 0, b, 16, body.length)
      b
    }
    assert(Mp4Parse.parse(withLarge).get.timescale == 1000)
    // size-0 final box (extends to EOF)
    val withZero = base.take(mdatAt) ++ {
      val b = new Array[Byte](8 + 5)
      System.arraycopy("mdat".getBytes("US-ASCII"), 0, b, 4, 4)
      b // size stays 0
    }
    assert(Mp4Parse.parse(withZero).get.duration == 5000)
  }

  test("malformed input is total: None, never a throw or a loop") {
    val good = ImageGen.mp4(1000, 5000, Seq("vide", "soun"))
    assert(Mp4Parse.parse(good.dropRight(5)).isEmpty)  // torn tail
    assert(Mp4Parse.parse(null).isEmpty)
    assert(Mp4Parse.parse(Array.fill[Byte](64)(0x00)).isEmpty)
    assert(Mp4Parse.parse("not an mp4 at all, just text".getBytes).isEmpty)
    // a box claiming a size beyond the buffer
    val forged = good.clone()
    forged(0) = 0x7f // huge ftyp size
    assert(Mp4Parse.parse(forged).isEmpty)
    // nesting bomb: a moov whose body is itself (size loops) — the
    // depth/count caps must end it
    val loop = new Array[Byte](16)
    loop(3) = 16
    System.arraycopy("moov".getBytes("US-ASCII"), 0, loop, 4, 4)
    loop(11) = 8
    System.arraycopy("moov".getBytes("US-ASCII"), 0, loop, 12, 4)
    Mp4Parse.parse(loop) // no throw, no hang
    // random mutations never throw
    val rnd = new java.util.Random(11)
    for (_ <- 0 until 500) {
      val mut = java.util.Arrays.copyOf(good, 1 + rnd.nextInt(good.length))
      for (_ <- 0 until 6) mut(rnd.nextInt(mut.length)) = rnd.nextInt(256).toByte
      Mp4Parse.parse(mut)
    }
  }

  test("mm_video_meta: every doc parses with doc_id-exact metadata") {
    import TestSpark.{sf0001, spark}
    import spark.implicits._
    val rows = TestSpark.queries("mm_video_meta")(spark, sf0001)
      .as[(Long, Long, Long, Long, Int, Int, Int, Int)].collect()
    assert(rows.length == 500)
    rows.foreach { case (id, ts, dur, ms, nv, na, no, nb) =>
      assert(ts == 1000L + (id % 9) * 100L, s"doc $id")
      assert(dur == 1000L + id % 50000L)
      assert(ms == dur * 1000L / ts)
      assert(nv == 1 && na == (id % 3).toInt && no == (if (id % 4 == 0) 1 else 0))
      assert(nb > 0)
    }
  }
}
