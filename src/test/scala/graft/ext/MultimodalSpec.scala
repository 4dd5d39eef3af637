package graft.ext

import graft.SparkSpec

/** Multimodal binary plumbing: partition-local frame sampling, container
  * demux and real image/audio decode over typed media rows. */
class MultimodalSpec extends SparkSpec {

  import Multimodal._

  test("frame sampling expands videos to every k-th frame with offsets") {
    import spark.implicits._
    // 10 "frames" of 4 bytes each
    val payload = (0 until 40).map(_.toByte).toArray
    val vids = Seq(MediaRow(7L, "video/mp4", payload),
                   MediaRow(8L, "video/mp4", Array[Byte](1, 2))).toDS()
    val frames = sampleFrames(vids, frameBytes = 4, everyNth = 3, numPartitions = 2)
      .collect().sortBy(f => (f.media_id, f.frame_idx))
    assert(frames.map(f => (f.media_id, f.frame_idx, f.offset)).toSeq ==
      Seq((7L, 0, 0L), (7L, 3, 12L), (7L, 6, 24L), (7L, 9, 36L)))
    assert(frames(1).frame.toSeq == Seq[Byte](12, 13, 14, 15))
    assert(!frames.exists(_.media_id == 8L))   // sub-frame payload → no frames
  }

  test("container payloads sample on REAL seek-table boundaries, not the stride stub") {
    import spark.implicits._
    val mp4 = Mp4.synthMp4(6L)
    val mkv = Mkv.synthMkv(7L)
    val adts = Adts.synthAdts(8L)
    val ogg = Ogg.synthOgg(11L)
    val text = "plain text payload with no container magic at all.".getBytes
    val rows = Seq(
      MediaRow(6L, "video/mp4", mp4), MediaRow(7L, "video/x-matroska", mkv),
      MediaRow(8L, "audio/aac", adts), MediaRow(9L, "text/plain", text),
      MediaRow(11L, "audio/ogg", ogg),
    ).toDS()
    val got = sampleFrames(rows, frameBytes = 16, everyNth = 2, numPartitions = 2)
      .collect().groupBy(_.media_id).map { case (k, v) => k -> v.sortBy(_.frame_idx) }
    // MP4: every 2nd entry of the true sample table, real sizes + offsets
    val mp4Tab = Mp4.parseSampleTable(6L, mp4).filter(_.sample_idx % 2 == 0)
    assert(got(6L).map(f => (f.frame_idx, f.offset)).toSeq ==
      mp4Tab.map(s => (s.sample_idx, s.offset)))
    assert(got(6L).map(_.frame.length).toSeq == mp4Tab.map(_.size))
    // MKV: every 2nd block of the true block index
    val mkvTab = Mkv.parseBlocks(7L, mkv).filter(_.block_idx % 2 == 0)
    assert(got(7L).map(f => (f.frame_idx, f.offset)).toSeq ==
      mkvTab.map(b => (b.block_idx, b.offset)))
    assert(got(7L).map(_.frame.length).toSeq == mkvTab.map(_.size))
    // ADTS: codec payload region (header excluded) of every 2nd frame
    val adtsTab = Adts.parseFrames(8L, adts).filter(_.frame_idx % 2 == 0)
    assert(got(8L).map(f => (f.frame_idx, f.offset)).toSeq ==
      adtsTab.map(a => (a.frame_idx, a.offset + a.hdr_len)))
    assert(got(8L).map(_.frame.length).toSeq ==
      adtsTab.map(a => a.frame_len - a.hdr_len))
    // Ogg: page bodies (header + lacing table excluded) of every 2nd page
    val oggTab = Ogg.parsePages(11L, ogg).filter(_.page_idx % 2 == 0)
    assert(got(11L).map(f => (f.frame_idx, f.offset)).toSeq ==
      oggTab.map(g => (g.page_idx, g.offset + g.hdr_len)))
    assert(got(11L).map(_.frame.length).toSeq == oggTab.map(_.body_len))
    // unstructured text: the fixed-stride fallback (16-byte frames)
    assert(got(9L).map(f => (f.frame_idx, f.offset, f.frame.length)).toSeq ==
      (0 until text.length / 16 by 2).map(i => (i, i.toLong * 16, 16)))
    // a recognized-but-corrupt container degrades to EMPTY — it must NOT
    // fall through to stride frames over garbage
    val corrupt = mp4.take(40).toArray // valid ftyp magic, truncated moov
    val none = sampleFrames(Seq(MediaRow(10L, "video/mp4", corrupt)).toDS(),
      frameBytes = 4, everyNth = 1, numPartitions = 1).collect()
    assert(none.isEmpty)
  }

  test("real PNG decode recovers exact synthetic pixels, raster order included") {
    import spark.implicits._
    val (w, h) = (7, 5)
    val rows = Seq(11L, 12L, 13L).map(id =>
      MediaRow(id, "image/png", synthPng(id, w, h))).toDS().repartition(2)
    val feats = rows.mapPartitions(decodeImages _).collect().sortBy(_.media_id)
    assert(feats.forall(f => f.decoded && f.width == w && f.height == h))
    // closed-form expectations from the synth formula
    for (f <- feats) {
      val px = (0 until w * h).map(i => Math.floorMod(f.media_id * 31 + i, 256L).toInt)
      assert(f.px_sum == px.map(_.toLong).sum)
      assert(f.px_min == px.min && f.px_max == px.max)
      assert(f.px_posw == px.zipWithIndex.map { case (v, i) => v.toLong * i }.sum,
        s"raster order wrong for ${f.media_id}")
    }
  }

  test("BMP and GIF decode through the same path; garbage falls back flagged") {
    import spark.implicits._
    // re-encode a synthetic gray image as BMP and GIF via the JDK writers
    def reencode(fmt: String): Array[Byte] = {
      val src = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(synthPng(21L, 6, 4)))
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(src, fmt, bos), s"no JDK writer for $fmt")
      bos.toByteArray
    }
    val gifBytes = reencode("gif")
    val rows = Seq(
      MediaRow(1L, "image/bmp", reencode("bmp")),
      MediaRow(2L, "image/gif", gifBytes),
      MediaRow(3L, "image/png", Array[Byte](1, 2, 3, 4))).toDS()
    val out = rows.mapPartitions(decodeImages _).collect().sortBy(_.media_id)
    // BMP gray is lossless: exact closed-form pixels
    val expect = (0 until 24).map(i => Math.floorMod(21L * 31 + i, 256L).toInt)
    assert(out(0).decoded && out(0).width == 6 && out(0).height == 4)
    assert(out(0).px_sum == expect.map(_.toLong).sum)
    assert(out(0).px_posw == expect.zipWithIndex.map { case (v, i) => v.toLong * i }.sum)
    // GIF decodes INDEXED — the JDK GIF *writer* is not pixel-faithful for
    // this shape, so ground truth is an independent palette-resolved read
    // of the same bytes: asserts our indexed branch resolves the palette
    // (raw raster samples — indices — would NOT match getRGB values here)
    val gim = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(gifBytes))
    assert(gim.getColorModel.isInstanceOf[java.awt.image.IndexColorModel])
    val gpx = for (y <- 0 until gim.getHeight; x <- 0 until gim.getWidth) yield {
      val rgb = gim.getRGB(x, y)
      (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
    }
    assert(out(1).decoded && out(1).width == gim.getWidth && out(1).height == gim.getHeight)
    assert(out(1).px_sum == gpx.map(_.toLong).sum)
    assert(out(1).px_posw == gpx.zipWithIndex.map { case (v, i) => v.toLong * i }.sum)
    assert(!out(2).decoded && out(2).px_sum == 1L + 2 + 3 + 4) // byte-moment fallback
  }

  test("real WAV decode recovers exact synthetic samples, order and sign included") {
    import spark.implicits._
    val n = 96
    val rows = Seq(5L, 6L, 7L).map(id =>
      MediaRow(id, "audio/wav", synthWav(id, n))).toDS().repartition(2)
    val feats = rows.mapPartitions(decodeAudio _).collect().sortBy(_.media_id)
    assert(feats.forall(f => f.decoded && f.sample_rate == 8000 && f.n_samples == n))
    for (f <- feats) {
      val sm = (0 until n).map(i =>
        Math.floorMod(f.media_id * 131 + i.toLong * 7919, 65536L).toInt - 32768)
      assert(f.s_sum == sm.map(_.toLong).sum)
      assert(f.s_min == sm.min && f.s_max == sm.max)
      assert(f.s_posw == sm.zipWithIndex.map { case (v, i) => v.toLong * i }.sum,
        s"sample order wrong for ${f.media_id}")
      assert(f.sq_sum == sm.map(v => v.toLong * v).sum)
      val zc = sm.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0))
      assert(f.zero_cross == zc && zc > 0, s"zero_cross wrong for ${f.media_id}")
    }
  }

  test("non-WAV payloads fall back flagged from the audio decoder") {
    import spark.implicits._
    val rows = Seq(
      MediaRow(1L, "audio/mp3", Array[Byte](1, 2, 3, 4)),     // not RIFF
      MediaRow(2L, "audio/wav", synthWav(2L, 8))).toDS()
    val out = rows.mapPartitions(decodeAudio _).collect().sortBy(_.media_id)
    assert(!out(0).decoded && out(0).s_sum == 1L + 2 + 3 + 4)  // byte-moment fallback
    assert(out(1).decoded && out(1).n_samples == 8)
  }

  test("SQL surface: registered native functions work via spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    val cos = spark.sql(
      "SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
      "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").collect()(0).getDouble(0)
    assert(cos == 1.0)
    val sig = spark.sql(
      "SELECT minhash_shingle_sig(array('a','b','c','d')) AS s")
      .collect()(0).getSeq[Long](0)
    assert(sig.length == 16 && sig.forall(_ >= 0))
  }
}
