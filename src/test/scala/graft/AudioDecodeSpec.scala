package graft

import org.apache.spark.sql.functions._

import graft.functions.{AudioFunctions, SpecAccess}

/** Real-encoder ground truth for the audio-header parser: the JDK's own
  * javax.sound writes actual RIFF/WAVE files (independent of our
  * synthesizer), and the decoder must recover rate/channels/bits/duration
  * from those bytes. FLAC has no JDK encoder, so its leg is covered by
  * hand-packed spec-layout bytes plus the arithmetic oracle of
  * `media_audio_stats`. */
class AudioDecodeSpec extends SparkSpec {
  import spark.implicits._

  /** A real PCM WAV file from javax.sound with `frames` frames of
    * silence. */
  private def wavBytes(rate: Float, bits: Int, channels: Int,
                       frames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate, bits, channels,
      bits > 8, false) // signed for 16-bit, unsigned 8-bit; little-endian
    val data = new Array[Byte](frames * fmt.getFrameSize)
    val stream = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(stream,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  private def info(b: Array[Byte]): Option[(String, Int, Int, Int, Long)] =
    Option(SpecAccess.infoRow(b)).map(r =>
      (r.getUTF8String(0).toString, r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4)))

  test("decodes real javax.sound WAV headers") {
    // 44100 Hz stereo 16-bit, 22050 frames = exactly 500 ms
    assert(info(wavBytes(44100f, 16, 2, 22050)) ===
      Some(("wav", 44100, 2, 16, 500L)))
    // 8 kHz mono 8-bit, 1000 frames = 125 ms
    assert(info(wavBytes(8000f, 8, 1, 1000)) ===
      Some(("wav", 8000, 1, 8, 125L)))
  }

  test("decodes hand-packed FLAC STREAMINFO bit fields") {
    // 44100 Hz (20 bits), 2 channels (3 bits, stored -1), 16 bits
    // (5 bits, stored -1), 88200 samples (36 bits) = 2000 ms
    def b(i: Int) = i.toByte
    val rate = 44100; val ch = 2; val bits = 16; val samples = 88200L
    val packed = Array[Byte](
      b(rate >> 12), b((rate >> 4) & 0xff),
      b(((rate & 0xf) << 4) | ((ch - 1) << 1) | ((bits - 1) >> 4)),
      b((((bits - 1) & 0xf) << 4) | ((samples >> 32) & 0xf).toInt),
      b(((samples >> 24) & 0xff).toInt), b(((samples >> 16) & 0xff).toInt),
      b(((samples >> 8) & 0xff).toInt), b((samples & 0xff).toInt))
    val flac = "fLaC".getBytes("ASCII") ++
      Array[Byte](0x80.toByte, 0, 0, 34) ++ // last-block STREAMINFO, len 34
      Array[Byte](0x10, 0, 0x10, 0) ++      // min/max block size 4096
      Array.fill[Byte](6)(0) ++             // min/max frame size unknown
      packed ++ Array.fill[Byte](16)(0)     // md5 placeholder
    assert(info(flac) === Some(("flac", 44100, 2, 16, 2000L)))
  }

  test("corrupt, truncated and non-audio payloads decode to null") {
    assert(info(Array.empty[Byte]).isEmpty)
    assert(info("not audio at all, just text".getBytes).isEmpty)
    assert(info(wavBytes(8000f, 8, 1, 10).take(20)).isEmpty) // truncated fmt
    // RIFF/WAVE with no chunks at all
    assert(info("RIFF\u0000\u0000\u0000\u0000WAVE".getBytes("ISO-8859-1")).isEmpty)
    // inconsistent byte rate must be rejected, not trusted
    val bad = wavBytes(8000f, 8, 1, 10)
    val fmtOff = 12 + 8 // "fmt " body
    bad(fmtOff + 8) = 0x01 // corrupt byteRate low byte
    assert(info(bad).isEmpty)
    // ADVERSARIAL u32 chunk lengths: values near 2^32 once truncated a
    // .toInt step to 0 (executor spin) or drove the cursor negative.
    // Every one of these must terminate promptly and decode to null.
    for (len <- Seq(0xFFFFFFF8L, 0xFFFFFFF9L, 0xFFFFFFFFL, 0x7FFFFFFFL)) {
      val evil = "RIFF\u0000\u0000\u0000\u0000WAVEjunk"
        .getBytes("ISO-8859-1") ++ Array[Byte](
        (len & 0xff).toByte, ((len >> 8) & 0xff).toByte,
        ((len >> 16) & 0xff).toByte, ((len >> 24) & 0xff).toByte) ++
        Array.fill[Byte](32)(0)
      assert(info(evil).isEmpty, s"len=0x${len.toHexString}")
    }
  }

  test("audio_info runs via the Column API over binary payloads") {
    val df = Seq(
      (1L, wavBytes(16000f, 16, 1, 8000)),
      (2L, "junk".getBytes)).toDF("id", "payload")
    val out = df.select(col("id"),
        AudioFunctions.audioInfo(col("payload")).as("a"))
      .select(col("id"), col("a.audio_format"), col("a.duration_ms"))
      .as[(Long, Option[String], Option[Long])].collect().sortBy(_._1)
    assert(out(0) === ((1L, Some("wav"), Some(500L))))
    assert(out(1) === ((2L, None, None)))
  }
}
