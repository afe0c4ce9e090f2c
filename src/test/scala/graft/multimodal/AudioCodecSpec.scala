package graft.multimodal

import graft.SparkSpec

/** The audio twin of the PNG codec tests: RIFF/WAVE containers synthesized
  * by [[AudioSynth]] must be real WAV files that round-trip every PCM
  * sample through `javax.sound.sampled`, and the oracle-gated aggregate
  * must equal a driver-side closed-form computation. */
class AudioCodecSpec extends SparkSpec {

  test("AudioSynth emits real RIFF/WAVE containers that round-trip every sample") {
    for (d <- Seq(1L, 4L, 97L, 400L, 1000L)) {
      val bytes = AudioSynth.wav(d)
      assert(bytes(0) == 'R'.toByte && bytes(1) == 'I'.toByte &&
        bytes(2) == 'F'.toByte && bytes(3) == 'F'.toByte)
      assert(bytes(8) == 'W'.toByte && bytes(11) == 'E'.toByte)
      val (n, rate, base) = AudioSynth.params(d)
      val dec = WavDecoder.decode(d, bytes)
      assert(dec.sample_rate == rate.toLong, s"doc $d rate")
      assert(dec.channels == 1 && dec.n_samples == n.toLong, s"doc $d shape")
      val samples = (0 until n).map(i => AudioSynth.sample(i, base).toLong)
      assert(dec.sample_sum == samples.sum, s"doc $d sum")
      assert(dec.sample_sq_sum == samples.map(s => s * s).sum, s"doc $d sq")
      assert(dec.sample_min == samples.min && dec.sample_max == samples.max)
    }
  }

  test("decoder reads format from the header, not from assumptions") {
    // a 2-channel big-amplitude clip built directly, bypassing AudioSynth:
    // the decoder must report 2 channels from the parsed header
    import javax.sound.sampled._
    val pcm = Array[Byte](0x10, 0x00, 0x20, 0x00, 0x30, 0x00, 0x40, 0x00)
    val fmt = new AudioFormat(44100f, 16, 2, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, 2L),
      AudioFileFormat.Type.WAVE, bos)
    val dec = WavDecoder.decode(0L, bos.toByteArray)
    assert(dec.channels == 2 && dec.sample_rate == 44100L && dec.n_samples == 2L)
    assert(dec.sample_sum == 0x10 + 0x20 + 0x30 + 0x40)
  }

  test("mm_audio_stats equals the closed-form PCM statistics at sf") {
    val got = Multimodal.audioStats(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val docIds = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).filter(_ % 3 == 1)
    assert(docIds.nonEmpty)
    val expected = docIds.map { d =>
      val (n, rate, base) = AudioSynth.params(d)
      val s = (0 until n).map(i => AudioSynth.sample(i, base).toLong)
      (rate.toLong, n.toLong, s.sum, s.map(x => x * x).sum, s.min, s.max)
    }.groupBy(_._1).map { case (rate, xs) =>
      (rate, xs.length.toLong, xs.map(_._2).sum, xs.map(_._3).sum,
        xs.map(_._4).sum, xs.map(_._5).min, xs.map(_._6).max)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expected)
  }

  test("audio silence runs match the analytic sample formula") {
    import spark.implicits._
    val ids = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id").as[Long].collect().filter(_ % 3 == 1).sorted
    def expected(docId: Long): (Long, Long, Long, Long, Long) = {
      val n = (docId % 601 + 200).toInt
      val rate = 8000 + (docId % 4) * 4000
      val base = ((docId % 997) * 7).toInt
      var quiet = 0L; var runs = 0L; var maxRun = 0L; var cur = 0L
      for (i <- 0 until n) {
        val s = (i * 31 + base) % 4096 - 2048
        if (math.abs(s) < 512) {
          quiet += 1; cur += 1
          if (cur == 1) runs += 1
          if (cur > maxRun) maxRun = cur
        } else cur = 0
      }
      (rate, n.toLong, quiet, runs, maxRun)
    }
    val got = Multimodal.audioSilence(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == ids.map(d => {
      val (r, n, q, ru, m) = expected(d); (d, r, n, q, ru, m)
    }).toSeq)
    // the quiet threshold actually bites: some clips have runs
    assert(got.exists(_._5 > 0))
  }

  test("a 2-channel WAV fails the per-clip silence computation") {
    import javax.sound.sampled._
    val pcm = Array[Byte](0x10, 0x00, 0x20, 0x00, 0x30, 0x00, 0x40, 0x00)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new java.io.ByteArrayInputStream(pcm),
      new AudioFormat(44100f, 16, 2, true, false), 2L),
      AudioFileFormat.Type.WAVE, bos)
    val e = intercept[IllegalArgumentException](
      Multimodal.silenceOne(0L, bos.toByteArray))
    assert(e.getMessage.contains("unexpected WAV encoding"), e.getMessage)
  }
}
