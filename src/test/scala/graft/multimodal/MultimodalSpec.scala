package graft.multimodal

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("ImageSynth emits real PNG containers that round-trip through ImageIO") {
    for (d <- Seq(0L, 3L, 48L, 249L, 498L)) {
      val bytes = ImageSynth.png(d)
      // PNG signature: this is an actual container, not a fake payload
      assert((bytes(0) & 0xff) == 0x89 && bytes(1) == 'P'.toByte &&
        bytes(2) == 'N'.toByte && bytes(3) == 'G'.toByte)
      val dec = ImageIoDecoder.decode(MediaRecord(d, "image", bytes))
      val (w, h, _) = ImageSynth.params(d)
      assert(dec.width == w && dec.height == h,
        s"doc $d: decoded ${dec.width}x${dec.height}, expected ${w}x$h")
      val (rs, gs, bs) = ImageSynth.channelSums(d)
      assert(dec.feature(0).toLong == rs, s"doc $d red sum")
      assert(dec.feature(1).toLong == gs, s"doc $d green sum")
      assert(dec.feature(2).toLong == bs, s"doc $d blue sum")
    }
  }

  test("every decoded pixel matches the synthesis pattern (not just sums)") {
    val d = 6L
    val (w, h, dd) = ImageSynth.params(d)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ImageSynth.png(d)))
    for (y <- 0 until h; x <- 0 until w)
      assert((img.getRGB(x, y) & 0xffffff) == ImageSynth.rgb(x, dd),
        s"pixel ($x,$y)")
  }

  test("featureExtract decodes actual bytes and preserves every row") {
    val media = Multimodal.imageMedia(spark, sfDir).repartition(7)
    val out = Multimodal.featureExtract(media)
    assert(out.count() == media.count())
    assert(out.columns.toSeq ==
      Seq("doc_id", "media_type", "n_bytes", "width", "height", "feature"))
    // a decoded row agrees with the closed form
    val row = out.filter($"doc_id" === 0).head()
    val (w, h, _) = ImageSynth.params(0L)
    assert(row.width == w && row.height == h)
  }

  test("mm_media_stats equals the closed-form pixel sums at sf") {
    val docIds = graft.core.Tables.documents(spark, sfDir)
      .select($"doc_id").where("doc_id % 3 = 0").as[Long].collect()
    val expected = docIds.map { d =>
      val (w, h, _) = ImageSynth.params(d)
      val (rs, gs, bs) = ImageSynth.channelSums(d)
      (w % 4, (1L, w.toLong, h.toLong, rs, gs, bs))
    }.groupBy(_._1).view.mapValues(_.map(_._2).reduce((a, b) =>
      (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4 + b._4, a._5 + b._5, a._6 + b._6)))
      .toMap
    val got = Multimodal.mediaStats(spark, sfDir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val e = expected(r.getLong(0).toInt)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)) == e, s"width_mod ${r.getLong(0)}")
    }
  }

  test("frameSample emits n byte-range frames per video, none for other media") {
    val media = Multimodal.mediaFromDocuments(spark, sfDir).as[MediaRecord]
    val frames = Multimodal.frameSample(media, 4).collect()
    val videos = media.filter(_.media_type == "video").count()
    assert(frames.length == videos * 4)
    assert(frames.forall(f => f.frame_idx >= 0 && f.frame_idx < 4))
    // byte ranges stay inside the payload
    assert(frames.forall(f => f.byte_offset + f.frame_bytes >= f.byte_offset))
  }

  test("resizeMeta preserves aspect ratio within integer truncation") {
    val decoded = Multimodal.featureExtract(Multimodal.imageMedia(spark, sfDir))
    val resized = Multimodal.resizeMeta(decoded, 32).collect()
    assert(resized.nonEmpty)
    assert(resized.forall { case (_, _, _, w, h) =>
      w >= 1 && h >= 1 && math.max(w, h) <= 32 })
  }

  test("frameDedup emits 4 fingerprinted frames per video with consistent counts") {
    val media = Multimodal.mediaFromDocuments(spark, sfDir).as[MediaRecord]
    val videos = media.filter(_.media_type == "video").count()
    val rows = Multimodal.frameDedup(spark, sfDir).collect()
    assert(rows.length == videos * 4)
    // fp_count is the global multiplicity of that fingerprint
    val byFp = rows.groupBy(_.getString(2)).view.mapValues(_.length.toLong)
    assert(rows.forall(r => r.getLong(3) == byFp(r.getString(2))))
  }

  test("aHash of a half-dark/half-bright image sets exactly the bright " +
    "columns' bits") {
    // 16x16: left 8 columns black (gray 0), right 8 columns white —
    // every cell in columns i>=4 is above the global mean, the rest below
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, if (x < 8) 0x000000 else 0xffffff)
    val (hi, lo) = Multimodal.AHash.halves(img)
    val expectedRowBits = (4 until 8).map(i => 1L << i).sum // per 8-bit row
    val expectedHalf = (0 until 4).map(j => expectedRowBits << (8 * j)).sum
    assert(lo == expectedHalf && hi == expectedHalf)
  }

  test("aHash dedup pairs equal a driver all-pairs Hamming scan over the " +
    "gated hash table (banding is lossless)") {
    val hs = Multimodal.imageAhash(spark, sfDir)
      .select("doc_id", "ahash_hi", "ahash_lo")
      .as[(Long, Long, Long)].collect()
    val expected = (for {
      a <- hs; b <- hs if a._1 < b._1
      d = java.lang.Long.bitCount(a._2 ^ b._2) +
        java.lang.Long.bitCount(a._3 ^ b._3)
      if d <= 3
    } yield (a._1, b._1) -> d.toLong).toMap
    val got = Multimodal.ahashDedup(spark, sfDir)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == expected)
    assert(got.nonEmpty, "synth corpus must contain perceptual near-dups")
  }

  test("image dhash matches the analytic gradient bits from the " +
    "synthesis formula") {
    val ids = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id").as[Long].collect().filter(_ % 3 == 0).sorted
    def expected(docId: Long): (Int, Int, Long, Long) = {
      val w = (docId % 49 + 16).toInt
      val h = ((docId * 3) % 41 + 12).toInt
      val dd = (docId % 251).toInt
      def g(x: Int): Long =
        ((x * 7 + dd) % 256 + (x * 11 + 2 * dd) % 256 + (x * 13 + 3 * dd) % 256).toLong
      val bx = (0 to 9).map(i => i * w / 9)
      val by = (0 to 8).map(j => j * h / 8)
      val colSum = (0 until 9).map(i => (bx(i) until bx(i + 1)).map(g).sum)
      var lo = 0L; var hi = 0L
      for (j <- 0 until 8; i <- 0 until 8) {
        val rowH = (by(j + 1) - by(j)).toLong
        val csL = colSum(i) * rowH
        val csR = colSum(i + 1) * rowH
        val aL = (bx(i + 1) - bx(i)).toLong * rowH
        val aR = (bx(i + 2) - bx(i + 1)).toLong * rowH
        if (csL * aR > csR * aL) {
          val k = j * 8 + i
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
      }
      (w, h, hi, lo)
    }
    val got = Multimodal.imageDhash(spark, sfDir)
      .as[(Long, Int, Int, Long, Long)].collect().toSeq
    assert(got == ids.map(d => {
      val (w, h, hi, lo) = expected(d); (d, w, h, hi, lo)
    }).toSeq)
    // gradient bits are non-degenerate: some set, some clear
    assert(got.exists(r => r._4 != 0L || r._5 != 0L))
    assert(got.exists(r => r._4 != -1L && r._5 != -1L))
  }

  test("resize pixels match a closed-form driver recompute") {
    val docIds = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).filter(_ % 3 == 0).sorted
    val expected = docIds.map { id =>
      val (w, h, dd) = ImageSynth.params(id)
      val (w2, h2) = Multimodal.AreaResample.dims(w, h, 32)
      def bounds(n: Int, k: Int) = (0 to k).map(i => i * n / k)
      val bx = bounds(w, w2)
      // pixels are column-constant, so the box sum factors as rows*colSum
      // and floor((rows*S)/(rows*nx)) = floor(S/nx) — sum per channel is
      // h2 * sum_i floor(colSum_i / nx_i)
      def chanSum(f: Int => Long): Long =
        h2.toLong * (0 until w2).map { i =>
          val s = (bx(i) until bx(i + 1)).map(f).sum
          s / (bx(i + 1) - bx(i))
        }.sum
      (id, w2, h2,
        chanSum(x => (x * 7 + dd) % 256),
        chanSum(x => (x * 11 + 2 * dd) % 256),
        chanSum(x => (x * 13 + 3 * dd) % 256))
    }.toSeq
    val got = Multimodal.resizePixels(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === expected)
  }

  test("JPEG decode stats match the closed form (lossy round trip exact)") {
    val docIds = graft.core.Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).filter(_ % 3 == 0).sorted
    val expected = docIds.map { id =>
      val (w, h, dd) = Multimodal.JpegSynth.params(id)
      val blocks = for (bj <- 0 until h / 8; bi <- 0 until w / 8)
        yield (bi * 17 + bj * 29 + dd) % 256
      (id, w, h, blocks.map(_.toLong * 64).sum, blocks.distinct.size.toLong)
    }.toSeq
    val got = Multimodal.jpegStats(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
  }

  test("undecodable bytes fail the aHash, dHash, resize and JPEG paths " +
    "with the decoder's message") {
    val junk = Array[Byte](1, 2, 3, 4, 5)
    val paths: Seq[(String, (Long, Array[Byte]) => Any)] = Seq(
      "ahash" -> Multimodal.ahashOne, "dhash" -> Multimodal.dhashOne,
      "resize" -> Multimodal.resizeOne, "jpeg" -> Multimodal.jpegOne)
    for ((name, path) <- paths) {
      val e = intercept[IllegalArgumentException](path(0L, junk))
      assert(e.getMessage.contains("undecodable image payload (5 bytes)"),
        s"$name: ${e.getMessage}")
    }
  }
}
