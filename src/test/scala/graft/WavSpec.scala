package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.kernel.WavParse
import graft.sources.ImageGen

/** RIFF/WAVE parsing and the audio feature path: sample round-trips
  * (mono, stereo mix, chunk-skip variants), totality on malformed
  * payloads, and the mm_audio operator's cross-engine feature shape.
  */
class WavSpec extends AnyFunSuite {

  private def tone(i: Int): Int = ((i * 13) % 200 - 100) * 50

  test("mono round-trip: parsed samples equal the generated waveform") {
    val wav = ImageGen.wavReal(300, 8000)(tone)
    val w = WavParse.parse(wav).get
    assert(w.sampleRate == 8000 && w.channels == 1 && w.samples.length == 300)
    for (i <- 0 until 300) assert(w.samples(i) == tone(i).toShort, s"i=$i")
  }

  test("stereo mixes to mono by truncated average, exactly") {
    def r(i: Int): Int = tone(i + 7)
    val wav = ImageGen.wavReal(200, 44100, channels = 2)(tone, r)
    val w = WavParse.parse(wav).get
    assert(w.channels == 2 && w.samples.length == 200)
    for (i <- 0 until 200)
      assert(w.samples(i) == ((tone(i) + r(i)) >> 1).toShort, s"i=$i")
  }

  test("unknown chunks are skipped, including the odd-size pad byte") {
    for (odd <- Seq(false, true)) {
      val wav = ImageGen.wavReal(64, 8000, withListChunk = true, oddList = odd)(tone)
      val w = WavParse.parse(wav).get
      assert(w.samples.length == 64, s"odd=$odd")
      assert(w.samples(5) == tone(5).toShort)
    }
  }

  test("malformed payloads are total: None, never a throw") {
    val good = ImageGen.wavReal(100, 8000)(tone)
    assert(WavParse.parse(good.dropRight(30)).isEmpty)       // truncated data
    assert(WavParse.parse("RIFFjunk".getBytes("US-ASCII")).isEmpty)
    assert(WavParse.parse(null).isEmpty)
    assert(WavParse.parse(Array.fill[Byte](60)(0x41)).isEmpty)
    // data before fmt is malformed per our contract
    val noFmt = good.clone()
    noFmt(12) = 'X' // clobber the fmt chunk id → data arrives with no fmt
    assert(WavParse.parse(noFmt).isEmpty)
    // a forged frame count beyond the cap must not allocate
    val forged = ImageGen.wavReal(10, 8000)(tone)
    // patch the data chunk length to a huge value (offset: 12 + 24 + 4)
    val dlOff = 12 + 24 + 4
    forged(dlOff) = 0xff.toByte; forged(dlOff + 1) = 0xff.toByte
    forged(dlOff + 2) = 0xff.toByte; forged(dlOff + 3) = 0x7f.toByte
    assert(WavParse.parse(forged).isEmpty)
  }

  test("mm_audio: decoded-sample features are integer-exact and complete") {
    import TestSpark.{sf0001, spark}
    import spark.implicits._
    val rows = TestSpark.queries("mm_audio")(spark, sf0001)
      .as[(Long, Int, Long, Long, Long)].collect()
    assert(rows.length == 500)
    rows.foreach { case (id, sr, n, energy, zcr) =>
      assert(sr == graft.operators.Multimodal.AudioRate)
      assert(n == graft.operators.Multimodal.AudioFrames.toLong, s"doc $id")
      assert(energy > 0L, s"doc $id")
      assert(zcr > 0L && zcr < n, s"doc $id")
    }
    // spot-check one doc against a direct driver-side recount
    val (id0, _, _, e0, z0) = rows.minBy(_._1)
    val mono = (0 until graft.operators.Multimodal.AudioFrames).map { i =>
      if (id0 % 2 == 0) graft.operators.Multimodal.audioSampleAt(id0, i)
      else (graft.operators.Multimodal.audioSampleAt(id0, i) +
        graft.operators.Multimodal.audioSampleAt(id0, i + 7)) >> 1
    }.map(_.toShort.toInt)
    assert(e0 == mono.map(v => v.toLong * v).sum)
    assert(z0 == mono.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)))
  }
}
