package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Multimodal (binary) column plumbing (SURVEY.md §2 Tier C / builder
  * prompt): image/audio/video payloads ride as opaque `binary` columns with
  * typed metadata; decode / feature-extraction runs partition-local.
  *
  * IMAGES decode for real: `javax.imageio` ships in the JDK (PNG/BMP/GIF),
  * so [[decodeImages]] produces actual pixels, oracle-gated via
  * [[q194ImageDecode]]. AUDIO decodes for real too: `javax.sound.sampled`
  * reads RIFF/WAVE PCM, so [[decodeAudio]] produces actual samples,
  * oracle-gated via [[q195AudioDecode]]. Container DEMUX is real as well:
  * [[sampleFramesDispatch]] routes MP4 ([[Mp4]]), Matroska ([[Mkv]]) and
  * ADTS/AAC ([[Adts]]) payloads through pure-byte parsers onto their TRUE
  * sample boundaries (oracle-gated via [[q204ContainerSample]] and
  * q202/q203/q205/q206). Only codec-level pixel/PCM DECODE of
  * video/compressed-audio has no JDK implementation and the container
  * ships no codec, so [[sampleFramesStub]] (unstructured blobs only)
  * remains a clearly-marked deterministic fake — with its Spark-side
  * plumbing (schema, partition-local execution, frame output) real and
  * tested.
  * At 100 TB the pattern is: binary column in parquet (so column pruning
  * skips the bytes unless referenced), `repartition` to bound task input
  * size, `mapPartitions` so any native decoder initializes once per
  * partition rather than once per row.
  */
object Multimodal {

  /** Typed media row: payload + metadata, as it would land from ingestion. */
  case class MediaRow(media_id: Long, mime: String, payload: Array[Byte])

  /** One sampled video frame: payload slice + position metadata. */
  case class MediaFrame(media_id: Long, frame_idx: Int, offset: Long,
                        frame: Array[Byte])

  /** Fallback frame sampling for UNSTRUCTURED blobs only (no container
    * magic recognized): treats the payload as fixed-size frames. Real
    * containers never reach this — [[sampleFramesDispatch]] routes
    * MP4/MKV/ADTS payloads through their true seek tables. The Spark
    * shape is shared with the real paths — a generator (UDTF-style
    * flatMap) that expands one row into many, partition-local so a
    * demuxer initializes once per partition. */
  def sampleFramesStub(rows: Iterator[MediaRow], frameBytes: Int,
                       everyNth: Int): Iterator[MediaFrame] = {
    // demuxer init would happen here, once per partition
    rows.flatMap { r =>
      val n = r.payload.length / frameBytes
      (0 until n).by(everyNth).iterator.map { f =>
        val off = f.toLong * frameBytes
        MediaFrame(r.media_id, f, off,
          r.payload.slice(off.toInt, off.toInt + frameBytes))
      }
    }
  }

  // magic-byte container detection — the dispatch key for real seek tables
  private def isBmff(b: Array[Byte]): Boolean =
    b.length >= 12 && b(4) == 'f'.toByte && b(5) == 't'.toByte &&
      b(6) == 'y'.toByte && b(7) == 'p'.toByte
  private def isEbml(b: Array[Byte]): Boolean =
    b.length >= 4 && (b(0) & 0xff) == 0x1A && (b(1) & 0xff) == 0x45 &&
      (b(2) & 0xff) == 0xDF && (b(3) & 0xff) == 0xA3
  private def isAdts(b: Array[Byte]): Boolean =
    b.length >= 7 && (b(0) & 0xff) == 0xFF && (b(1) & 0xf6) == 0xF0
  private def isOgg(b: Array[Byte]): Boolean =
    b.length >= 27 && b(0) == 'O'.toByte && b(1) == 'g'.toByte &&
      b(2) == 'g'.toByte && b(3) == 'S'.toByte

  /** REAL frame sampling with magic-byte container dispatch: ISO-BMFF
    * payloads index through [[Mp4.parseSampleTable]], EBML through
    * [[Mkv.parseBlocks]], ADTS through [[Adts.parseFrames]], Ogg through
    * [[Ogg.parsePages]] (page-body grain — the packet boundaries inside a
    * page live in the lacing table the parser already walked) — every
    * emitted frame sits on a TRUE sample boundary with the container's
    * own size/offset; only unstructured blobs (no magic) fall back to the
    * fixed-stride [[sampleFramesStub]]. A recognized-but-malformed
    * container degrades to its parser's empty/partial index — it does NOT
    * fall through to the stride fake (stride frames over a corrupt MP4
    * would be silently wrong data, worse than no data). Frame slices are
    * clamped to the locally-present bytes, so a moov-only ranged read
    * (offsets pointing into an unfetched mdat) yields correct metadata
    * rows with empty payload slices rather than a throw. */
  def sampleFramesDispatch(rows: Iterator[MediaRow], frameBytes: Int,
                           everyNth: Int): Iterator[MediaFrame] = {
    rows.flatMap { r =>
      val p = r.payload
      if (isBmff(p) || isEbml(p) || isAdts(p) || isOgg(p)) {
        val table: Seq[(Int, Long, Int)] =
          if (isBmff(p))
            Mp4.parseSampleTable(r.media_id, p).map(s => (s.sample_idx, s.offset, s.size))
          else if (isEbml(p))
            Mkv.parseBlocks(r.media_id, p).map(b => (b.block_idx, b.offset, b.size))
          else if (isAdts(p)) // ADTS: the codec payload region, past the per-frame header
            Adts.parseFrames(r.media_id, p)
              .map(f => (f.frame_idx, f.offset + f.hdr_len, f.frame_len - f.hdr_len))
          else // Ogg: the page body, past the header + lacing table
            Ogg.parsePages(r.media_id, p)
              .map(g => (g.page_idx, g.offset + g.hdr_len, g.body_len))
        table.iterator.filter(_._1 % everyNth == 0).map { case (i, off, sz) =>
          val s = math.min(math.max(off, 0L), p.length.toLong).toInt
          val e = math.max(math.min(off + sz, p.length.toLong).toInt, s)
          MediaFrame(r.media_id, i, off, java.util.Arrays.copyOfRange(p, s, e))
        }
      } else sampleFramesStub(Iterator.single(r), frameBytes, everyNth)
    }
  }

  /** Frame-sample pipeline over a bounded-size repartition: numPartitions
    * bounds per-task payload volume (the knob that keeps task input ≈
    * constant as the corpus grows — at 100 TB this is a repartition on a
    * size-aware key, not a fixed count). Containers index through their
    * real seek tables via [[sampleFramesDispatch]]; `frameBytes` applies
    * only to the unstructured-blob fallback. */
  def sampleFrames(df: Dataset[MediaRow], frameBytes: Int, everyNth: Int,
                   numPartitions: Int): Dataset[MediaFrame] = {
    import df.sparkSession.implicits._
    df.repartition(numPartitions)
      .mapPartitions(rs => sampleFramesDispatch(rs, frameBytes, everyNth))
  }

  /** [[sampleFrames]] for inputs whose partitioning is ALREADY bounded
    * (e.g. payloads synthesized partition-locally from an id column that
    * was spread beforehand): same dispatch, no repartition — the heavy
    * payload bytes never cross an exchange (guide §8: shuffle the
    * lightweight proxy, move big rows zero times when they are born
    * where they are consumed). */
  def sampleFramesPartitioned(df: Dataset[MediaRow], frameBytes: Int,
                              everyNth: Int): Dataset[MediaFrame] = {
    import df.sparkSession.implicits._
    df.mapPartitions(rs => sampleFramesDispatch(rs, frameBytes, everyNth))
  }

  // ---------------------------------------------------------------- real image codec path
  /** Decoded-image statistics: dimensions plus exact integer pixel
    * aggregates. `px_posw` is the position-weighted sum Σ v(i)·i over the
    * raster order i = y·width + x — unlike a mean/histogram it is NOT
    * permutation-invariant, so it pins the decoder's raster layout, not
    * just its value distribution. `decoded=false` marks payloads no
    * installed reader accepts (the byte-moment fallback fills sizes). */
  case class ImageFeatures(media_id: Long, mime: String, width: Int, height: Int,
                           px_sum: Long, px_min: Int, px_max: Int,
                           px_posw: Long, decoded: Boolean)

  /** REAL image decode — `javax.imageio` ships in the JDK, so PNG, BMP and
    * GIF payloads decode to actual pixels with no external codec (the
    * STUBs above remain only for video/audio, whose demuxers the JDK does
    * not provide). Partition-local: `ImageIO.setUseCache(false)` once per
    * JVM (the default spills every decode through a temp FILE — a silent
    * disk round-trip per image at corpus scale), then rows stream through
    * one in-memory decode each. Multi-band images reduce to per-pixel
    * band means (integer-exact for the gray fixtures the gate uses). */
  def decodeImages(rows: Iterator[MediaRow]): Iterator[ImageFeatures] = {
    javax.imageio.ImageIO.setUseCache(false) // once per partition is idempotent
    rows.map { r =>
      // NonFatal, not just IOException: ImageIO readers throw runtime
      // exceptions (ArrayIndexOutOfBounds, NegativeArraySize, …) on
      // corrupt LZW data / bogus palettes — one bad blob in a 100 TB
      // corpus must take the flagged fallback, not kill the job
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload)))
        catch { case scala.util.control.NonFatal(_) => None }
      img match {
        case Some(im) =>
          val (w, h) = (im.getWidth, im.getHeight)
          val raster = im.getRaster
          val bands = raster.getNumBands
          // indexed formats (GIF, palette BMP/PNG) store palette INDICES
          // in the raster — resolve through the color model instead
          // (palette entries for gray images are (v,v,v), so the channel
          // mean recovers the exact gray value)
          val indexed = im.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]
          var sum = 0L; var posw = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v =
                if (indexed) {
                  val rgb = im.getRGB(x, y)
                  (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
                } else {
                  var b = 0; var acc = 0
                  while (b < bands) { acc += raster.getSample(x, y, b); b += 1 }
                  acc / bands
                }
              sum += v; posw += v.toLong * (y.toLong * w + x)
              if (v < mn) mn = v; if (v > mx) mx = v
              x += 1
            }
            y += 1
          }
          ImageFeatures(r.media_id, r.mime, w, h, sum,
            if (mn == Int.MaxValue) 0 else mn, if (mx == Int.MinValue) 0 else mx,
            posw, decoded = true)
        case None =>
          // undecodable → byte-moment fallback so the row is kept, flagged
          val bs = r.payload
          var s0 = 0L; var i = 0
          while (i < bs.length) { s0 += bs(i) & 0xff; i += 1 }
          ImageFeatures(r.media_id, r.mime, 0, 0, s0, 0, 0, 0L, decoded = false)
      }
    }
  }

  /** Deterministic grayscale PNG: pixel (x,y) = (seed·31 + y·w + x) mod
    * 256, through the JDK's REAL PNG encoder. Serves as the ingest
    * stand-in for an image binary column whose decoded pixels an oracle
    * can reproduce in closed form (PNG is lossless, TYPE_BYTE_GRAY has no
    * gamma/colorspace transform). */
  def synthPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = im.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        raster.setSample(x, y, 0,
          java.lang.Math.floorMod(seed * 31 + y.toLong * w + x, 256L).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream(w * h / 2 + 128)
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  // ---------------------------------------------------------------- real audio codec path
  /** Decoded-audio statistics: header fields plus exact integer sample
    * aggregates. `s_posw` is the position-weighted sum Σ v(i)·i over frame
    * order — like the image path's px_posw it pins the decoder's sample
    * ORDER, not just its value distribution. `zero_cross` (sign
    * transitions between consecutive samples) and `sq_sum` (energy) are
    * the two standard audio screening features, both exact integers here.
    * `decoded=false` marks payloads no installed reader accepts. */
  case class AudioFeatures(media_id: Long, sample_rate: Int, n_samples: Long,
                           s_sum: Long, s_min: Int, s_max: Int, s_posw: Long,
                           sq_sum: Long, zero_cross: Long, decoded: Boolean)

  /** REAL audio decode — `javax.sound.sampled` ships in the JDK and reads
    * RIFF/WAVE PCM with no external codec (compressed audio — mp3/aac —
    * would need the FFI decoder the video STUBs stand in for).
    * Partition-local like [[decodeImages]]: rows stream through one
    * in-memory header-parse + sample scan each; nothing wider than one
    * payload is held. 16-bit signed little-endian mono is the contract
    * (what [[synthWav]] writes and what WAV canonically stores); other
    * layouts fall back flagged rather than decode wrongly. */
  def decodeAudio(rows: Iterator[MediaRow]): Iterator[AudioFeatures] = {
    rows.map { r =>
      val parsed =
        try {
          // JVM-cached WAVE SPI: per-call AudioSystem provider discovery
          // serializes executor threads (see graft.util.WavSpi)
          val ais = graft.util.WavSpi.open(r.payload)
          val f = ais.getFormat
          if (f.getSampleSizeInBits == 16 && f.getChannels == 1 && !f.isBigEndian &&
              f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
            Some((f.getSampleRate.toInt, ais.readAllBytes()))
          else None
        } catch {
          // NonFatal for the same reason as decodeImages: a malformed RIFF
          // header can throw runtime exceptions from the parser internals
          case scala.util.control.NonFatal(_) => None
        }
      parsed match {
        case Some((rate, data)) =>
          val n = data.length / 2
          var sum = 0L; var posw = 0L; var sq = 0L; var zc = 0L
          var mn = Int.MaxValue; var mx = Int.MinValue
          var prevNonNeg = false
          var i = 0
          while (i < n) {
            // 16-bit little-endian signed: high byte sign-extends
            val v = (data(2 * i + 1) << 8) | (data(2 * i) & 0xff)
            sum += v; posw += v.toLong * i; sq += v.toLong * v
            if (v < mn) mn = v; if (v > mx) mx = v
            val nonNeg = v >= 0
            if (i > 0 && nonNeg != prevNonNeg) zc += 1
            prevNonNeg = nonNeg
            i += 1
          }
          AudioFeatures(r.media_id, rate, n, sum,
            if (mn == Int.MaxValue) 0 else mn, if (mx == Int.MinValue) 0 else mx,
            posw, sq, zc, decoded = true)
        case None =>
          // undecodable → byte-moment fallback so the row is kept, flagged
          val bs = r.payload
          var s0 = 0L; var i = 0
          while (i < bs.length) { s0 += bs(i) & 0xff; i += 1 }
          AudioFeatures(r.media_id, 0, 0L, s0, 0, 0, 0L, 0L, 0L, decoded = false)
      }
    }
  }

  /** Deterministic 16-bit PCM mono WAV: sample i = ((seed·131 + i·7919)
    * mod 65536) − 32768, through the JDK's REAL WAVE encoder — the audio
    * twin of [[synthPng]]. The 7919 stride wraps the 16-bit range every
    * ~8 samples, so the signal crosses zero constantly (a real workout for
    * zero_cross) while staying closed-form for an oracle. */
  def synthWav(seed: Long, n: Int, sampleRate: Int = 8000): Array[Byte] = {
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val v = java.lang.Math.floorMod(seed * 131 + i.toLong * 7919, 65536L).toInt - 32768
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    graft.util.WavSpi.encode(pcm,
      new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1, true, false),
      n.toLong)
  }

  // ---------------------------------------------------------------- queries entry
  /** Binary-column metadata projection over documents-as-blobs: the
    * metadata/pruning half of the multimodal story, fully SQL-expressible
    * (byte lengths via octet_length on both engines). */
  def q38BinaryMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("octet_length(text)").as("n_bytes"),
        length(col("text")).as("n_chars_m"),
        lit("text/plain").as("mime"),
        (expr("octet_length(text)").cast("long") * 2654435761L % 1000003L).as("fake_feature"))
      .orderBy(col("doc_id"))

  val q38Sql: String =
    """SELECT doc_id, octet_length(text::BLOB) AS n_bytes, length(text) AS n_chars_m,
      |  'text/plain' AS mime,
      |  (octet_length(text::BLOB) * 2654435761) % 1000003 AS fake_feature
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q168: frame inventory through the gate
  /** Frame-sample inventory over documents-as-blobs — puts the
    * UNSTRUCTURED-blob leg of [[sampleFrames]] (binary payload →
    * size-bounded repartition → partition-local fixed-stride generator →
    * per-media aggregate) through the DuckDB oracle gate; the container
    * legs of the same dispatch gate via [[q204ContainerSample]]. The
    * payload is the document's UTF-8 bytes (no container magic, so the
    * dispatch must take the stride path); 256-byte "frames", every
    * 4th sampled. The oracle can't run the generator, but every inventory
    * statistic it emits — sampled-frame count, last frame index/offset,
    * bytes materialized — is exact integer arithmetic on octet_length, so
    * the gate checks the generator's expansion logic (floor-division
    * frame count, stride sampling, offset layout) row-for-row.
    *
    * Scale: the aggregate is a map-side-combined count/max/sum keyed on
    * media_id, partitioning inherited from the repartition that bounded
    * per-task payload bytes; nothing in the plan holds more than one
    * frame at a time. */
  def q168FrameInventory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id").as("media_id"), lit("video/fake").as("mime"),
        col("text").cast("binary").as("payload"))
      .as[MediaRow]
    sampleFrames(media, frameBytes = 256, everyNth = 4, numPartitions = 32)
      .toDF()
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_sampled"),
        max(col("frame_idx")).as("last_idx"),
        max(col("offset")).as("last_off"),
        sum(expr("octet_length(frame)")).as("bytes_read"))
      .orderBy(col("media_id"))
  }

  val q168Sql: String =
    """WITH m AS (SELECT doc_id AS media_id,
      |             octet_length(text::BLOB) // 256 AS total_frames
      |           FROM documents),
      |f AS (SELECT media_id, total_frames,
      |             (total_frames - 1) // 4 AS last_step
      |      FROM m WHERE total_frames >= 1)
      |SELECT media_id,
      |  (last_step + 1)::BIGINT AS n_sampled,
      |  (last_step * 4)::INTEGER AS last_idx,
      |  (last_step * 4 * 256)::BIGINT AS last_off,
      |  ((last_step + 1) * 256)::BIGINT AS bytes_read
      |FROM f ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q204: real container sampling through the gate
  /** Frame sampling on TRUE container sample boundaries through the
    * DuckDB gate: a mixed corpus — even doc_ids synthesize MP4
    * ([[Mp4.synthMp4]]), odd ones Matroska ([[Mkv.synthMkv]]) — flows
    * through the SAME [[sampleFrames]] pipeline q168 uses, where the
    * magic-byte dispatch must route each payload to its real parser
    * (every 4th sample/block of the container's seek table) instead of
    * the fixed-stride fallback. The oracle reproduces both branches'
    * sampled indexes, offsets and sizes in closed form — a dispatch that
    * fell through to the stride stub, or a parser that mis-read either
    * format, hash-mismatches on every column (stride offsets share no
    * arithmetic with chunked/clustered container offsets). bytes_read
    * additionally pins that the emitted SLICES carry the container's real
    * per-frame byte lengths, not frameBytes-sized windows.
    *
    * Scale: identical shape to q168 — size-bounded repartition,
    * partition-local demux, map-side-combined per-media aggregate. */
  def q204ContainerSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // spread the 8-byte ids BEFORE synthesis: the payloads are born in the
    // partition that demuxes them, so the container bytes never shuffle
    // (previously the repartition sat between synth and demux and paid a
    // local sort + exchange of every synthesized byte)
    val media = graft.util.Spread.kernelSpread(
        Tables.documents(s, dir).select(col("doc_id")).as[Long])
      .map { id =>
        if (id % 2 == 0) MediaRow(id, "video/mp4", Mp4.synthMp4(id))
        else MediaRow(id, "video/x-matroska", Mkv.synthMkv(id))
      }
    sampleFramesPartitioned(media, frameBytes = 256, everyNth = 4)
      .toDF()
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_sampled"),
        max(col("frame_idx")).as("last_idx"),
        max(col("offset")).as("last_off"),
        sum(col("offset")).as("off_sum"),
        sum(expr("octet_length(frame)")).as("bytes_read"))
      .orderBy(col("media_id"))
  }

  val q204Sql: String =
    """WITH mp4 AS (SELECT doc_id AS media_id, 16 + doc_id % 17 AS n
      |            FROM documents WHERE doc_id % 2 = 0),
      |mp4s AS (SELECT media_id, g.i AS i,
      |                100 + (media_id * 17 + g.i * 13) % 64 AS sz
      |         FROM mp4, generate_series(0, 32) AS g(i) WHERE g.i < n),
      |mp4o AS (SELECT media_id, i, sz,
      |                32 + coalesce(sum(sz) OVER (PARTITION BY media_id ORDER BY i
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |         FROM mp4s),
      |mkv AS (SELECT doc_id AS media_id, (3 + doc_id % 4) * 5 AS nb
      |        FROM documents WHERE doc_id % 2 = 1),
      |mkvs AS (SELECT media_id, g.i AS i,
      |                60 + (media_id * 23 + (g.i // 5) * 31 + (g.i % 5) * 17) % 48 AS sz
      |         FROM mkv, generate_series(0, 29) AS g(i) WHERE g.i < nb),
      |mkvo AS (SELECT media_id, i, sz,
      |                68 + 10 * (i // 5) + 7 * i + coalesce(sum(sz) OVER (
      |                  PARTITION BY media_id ORDER BY i
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |         FROM mkvs),
      |allf AS (SELECT * FROM mp4o UNION ALL SELECT * FROM mkvo),
      |sel AS (SELECT * FROM allf WHERE i % 4 = 0)
      |SELECT media_id, count(*)::BIGINT AS n_sampled,
      |  max(i)::INTEGER AS last_idx, max(off)::BIGINT AS last_off,
      |  sum(off)::BIGINT AS off_sum, sum(sz)::BIGINT AS bytes_read
      |FROM sel GROUP BY media_id ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q194: real decode through the gate
  /** REAL PNG encode→decode with decoded pixels through the DuckDB gate:
    * per document, synthesize the deterministic grayscale PNG
    * ([[synthPng]], seed = doc_id, 30×30 — 900 is deliberately NOT a
    * multiple of 256 so the stats vary per image), decode it back with
    * the JDK's actual PNG reader ([[decodeImages]]), and emit exact
    * integer pixel aggregates. The oracle reproduces every statistic in
    * closed form from the pixel formula via `generate_series` — so a
    * decoder that returned wrong pixels, wrong dimensions, or the right
    * pixels in the wrong raster order (px_posw) hash-mismatches.
    *
    * Scale: map-only — encode, decode and the per-image aggregates all
    * happen inside one `mapPartitions` pass with nothing wider than a
    * single 900-px image held at a time; no shuffle before the final
    * order-for-display. This is the real multimodal contract: binary
    * payloads stay partition-local, codecs initialize per-partition, and
    * per-media features come out as narrow typed rows. */
  def q194ImageDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (w, h) = (30, 30)
    graft.util.Spread.kernelSpread(
        Tables.documents(s, dir).select(col("doc_id")).as[Long])
      .mapPartitions { ids =>
        decodeImages(ids.map(id => MediaRow(id, "image/png", synthPng(id, w, h))))
      }
      .toDF()
      .select(col("media_id"), col("width"), col("height"),
        col("px_sum"), col("px_min"), col("px_max"), col("px_posw"))
      .orderBy(col("media_id"))
  }

  val q194Sql: String =
    """WITH px AS (
      |  SELECT d.doc_id AS media_id, s.i AS i,
      |         ((d.doc_id * 31 + s.i) % 256 + 256) % 256 AS v
      |  FROM documents d, generate_series(0, 899) AS s(i)
      |)
      |SELECT media_id, 30 AS width, 30 AS height,
      |  sum(v)::BIGINT AS px_sum, min(v)::INTEGER AS px_min,
      |  max(v)::INTEGER AS px_max, sum(v * i)::BIGINT AS px_posw
      |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------- q195: real audio decode through the gate
  /** REAL WAV encode→decode with decoded samples through the DuckDB gate:
    * per document, synthesize the deterministic 16-bit PCM WAV
    * ([[synthWav]], seed = doc_id, 512 samples @ 8 kHz), decode it back
    * with the JDK's actual RIFF/WAVE reader ([[decodeAudio]]), and emit
    * exact integer sample aggregates. The oracle reproduces every
    * statistic in closed form from the sample formula — so a decoder that
    * mis-parsed the 44-byte header, flipped endianness (s_min/s_max swap
    * wildly), dropped samples (n_samples), or returned samples out of
    * order (s_posw) hash-mismatches. zero_cross additionally pins the
    * signed interpretation: an unsigned mis-read has ~no sign changes.
    *
    * Scale: map-only, like q194 — encode, decode and the per-clip
    * aggregates run inside one `mapPartitions` with a single 1 KiB clip
    * held at a time; no shuffle before the order-for-display. */
  def q195AudioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = 512
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        decodeAudio(ids.map(id => MediaRow(id, "audio/wav", synthWav(id, n))))
      }
      .toDF()
      .select(col("media_id"), col("sample_rate"), col("n_samples"),
        col("s_sum"), col("s_min"), col("s_max"), col("s_posw"),
        col("sq_sum"), col("zero_cross"))
      .orderBy(col("media_id"))
  }

  val q195Sql: String =
    """WITH sm AS (
      |  SELECT d.doc_id AS media_id, s.i AS i,
      |         ((d.doc_id * 131 + s.i * 7919) % 65536 + 65536) % 65536 - 32768 AS v
      |  FROM documents d, generate_series(0, 511) AS s(i)
      |),
      |z AS (
      |  SELECT media_id, i, v,
      |         CASE WHEN lag(v) OVER (PARTITION BY media_id ORDER BY i) IS NOT NULL
      |               AND ((lag(v) OVER (PARTITION BY media_id ORDER BY i) >= 0) <> (v >= 0))
      |              THEN 1 ELSE 0 END AS zc
      |  FROM sm
      |)
      |SELECT media_id, 8000 AS sample_rate, count(*)::BIGINT AS n_samples,
      |  sum(v)::BIGINT AS s_sum, min(v)::INTEGER AS s_min, max(v)::INTEGER AS s_max,
      |  sum(v * i)::BIGINT AS s_posw, sum(v * v)::BIGINT AS sq_sum,
      |  sum(zc)::BIGINT AS zero_cross
      |FROM z GROUP BY media_id ORDER BY media_id""".stripMargin

  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("q38_binary_meta",      q38BinaryMeta _,      Some(q38Sql)),
    ("q168_frame_inventory", q168FrameInventory _, Some(q168Sql)),
    ("q194_image_decode",    q194ImageDecode _,    Some(q194Sql)),
    ("q195_audio_decode",    q195AudioDecode _,    Some(q195Sql)),
    ("q204_container_sample", q204ContainerSample _, Some(q204Sql)),
  )
}
