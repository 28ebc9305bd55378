package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Multimodal column plumbing (SURVEY.md §2 C12).
  *
  * Media are opaque `binary` columns + a typed metadata struct; decode /
  * feature-extraction runs per-partition in batches. The IMAGE path is
  * real: payloads are actual PNGs decoded with the JDK's `javax.imageio`
  * (zero external deps), pixels → luminance histogram, resize →
  * decode/resample/re-encode. The AUDIO path is real too: payloads are
  * RIFF/PCM WAV files parsed with a dependency-free chunk walker
  * (`decodeAudio`) — 16-bit little-endian samples → amplitude histogram.
  * Only exotic codecs (mp3/ogg/video) would need external libs; those fall
  * back to the byte-histogram stub under the same batched contract.
  */
object Multimodal {

  case class MediaRow(doc_id: Long, kind: String, media: Array[Byte],
      width: Int, height: Int)

  case class MediaFeatures(doc_id: Long, kind: String, n_bytes: Long,
      features: Array[Float])

  /** Derive a deterministic media corpus from the documents table: image
    * rows carry a REAL PNG (gray gradient keyed on doc_id — decodable by
    * any codec), audio rows a REAL RIFF/PCM WAV (16-bit mono, doc_id-keyed
    * samples — playable by any decoder). In production this column arrives
    * from the upstream store; every downstream op only sees
    * (binary, metadata).
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] =
    mediaTable(spark, dir, onlyKind = null)

  /** `onlyKind` pushes a single-modality consumer's kind filter BELOW the
    * synthesis (the select computing `kind` is narrow, so the filter rides
    * the scan): [[audioDedup]] previously filtered AFTER the opaque
    * mapPartitions and therefore ENCODED every image row's PNG just to
    * drop it (~1 s of wasted single-task codec CPU per bench run at
    * sf0.1; the mirror waste for [[imageDedup]] was the WAV synth).
    * Filtering the same deterministic `kind` column before or after the
    * synthesis selects identical rows, so outputs are unchanged.
    */
  /** The (n_chars → width, height) synthesis dims, ONE definition shared
    * by [[mediaTable]]'s column form and in-JVM callers that need the
    * shapes without the table (a hand re-derivation would silently
    * measure the wrong shapes if the formulas drifted — r19 advice).
    * Column overload mirrors the Int one exactly.
    */
  private[graft] def mediaDims(nChars: Int): (Int, Int) =
    (nChars % 64 + 16, nChars % 48 + 9)
  private def mediaDimCols(nChars: Column): (Column, Column) =
    ((nChars % 64 + 16).cast("int"), (nChars % 48 + 9).cast("int"))

  private[graft] def mediaTable(spark: SparkSession, dir: String,
      onlyKind: String): Dataset[MediaRow] = {
    import spark.implicits._
    val (wCol, hCol) = mediaDimCols(col("n_chars"))
    val keyed = Tables.documentsMedia(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("image")).otherwise(lit("audio")).as("kind"),
        col("text").cast("binary").as("media"),
        wCol.as("width"),
        hCol.as("height"))
    val gated = if (onlyKind == null) keyed else keyed.where(col("kind") === onlyKind)
    gated
      .as[(Long, String, Array[Byte], Int, Int)]
      .mapPartitions { it =>
        it.map { case (d, kind, text, w, h) =>
          val media =
            if (kind == "image") pngBytes(d, w, h)
            else wavBytes(d, nSamples = w * h)
          MediaRow(d, kind, media, w, h)
        }
      }
  }

  /** A real w×h PNG: 8-bit gray gradient, pixel(x,y) = (d·31+x·7+y·13) mod
    * 256 — deterministic across runs and engines.
    */
  private[graft] def pngBytes(d: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    // Write straight into the backing int raster: BufferedImage.setRGB goes
    // through ColorModel.getDataElements, which allocates a transfer array
    // PER PIXEL — on the video path that was ~40M allocations per bench
    // run. TYPE_INT_RGB's raster is one int per pixel, scanline stride = w,
    // so the direct fill stores bit-identical pixel data (setRGB masks the
    // ignored alpha byte exactly like the packed write below) and
    // ImageIO.write emits byte-identical PNGs (q_multimodal_features'
    // n_bytes depends on that).
    val px = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    var y = 0
    var o = 0
    while (y < h) {
      // the row base (d·31 + y·13) mod 256 once per row; x advances by 7
      var v = (((d * 31 + y * 13) % 256 + 256) % 256).toInt
      var x = 0
      while (x < w) {
        px(o) = (v << 16) | (v << 8) | v
        v += 7; if (v >= 256) v -= 256
        o += 1
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Per-pixel integer Rec.601 luminance of a decoded image, row-major —
    * the shared hot kernel of [[decodeImage]] and [[dhash64]]. Reads the
    * raster directly for the two layouts ImageIO actually produces for
    * truecolor PNGs (TYPE_3BYTE_BGR) and for in-memory sources
    * (TYPE_INT_RGB/ARGB): BufferedImage.getRGB allocates a ColorModel
    * transfer array per CALL, which dominated the media family's decode
    * cost. Any other layout falls back to ONE bulk getRGB (same values by
    * definition — the packed sRGB int is what the per-pixel path read).
    */
  private[graft] def luminances(img: java.awt.image.BufferedImage): Array[Int] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Int](w * h)
    val raster = img.getRaster
    img.getType match {
      case java.awt.image.BufferedImage.TYPE_3BYTE_BGR =>
        val sm = raster.getSampleModel
          .asInstanceOf[java.awt.image.ComponentSampleModel]
        val data = raster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData
        val ss = sm.getScanlineStride
        val ps = sm.getPixelStride
        val offs = sm.getBandOffsets // bands are R,G,B; offsets {2,1,0}
        val (ro, go, bo) = (offs(0), offs(1), offs(2))
        // getOffset(x, y) already includes bandOffsets(0) — subtract it so
        // `base` addresses the pixel START and the per-band offsets below
        // are not double-counted
        val base = raster.getDataBuffer.getOffset +
          sm.getOffset(-raster.getSampleModelTranslateX,
            -raster.getSampleModelTranslateY) - ro
        var y = 0
        var oi = 0
        while (y < h) {
          var p = base + y * ss
          var x = 0
          while (x < w) {
            out(oi) = ((data(p + ro) & 0xff) * 299 + (data(p + go) & 0xff) * 587 +
              (data(p + bo) & 0xff) * 114) / 1000
            p += ps
            oi += 1
            x += 1
          }
          y += 1
        }
      case java.awt.image.BufferedImage.TYPE_INT_RGB |
           java.awt.image.BufferedImage.TYPE_INT_ARGB =>
        val sm = raster.getSampleModel
          .asInstanceOf[java.awt.image.SinglePixelPackedSampleModel]
        val data = raster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferInt].getData
        val base = raster.getDataBuffer.getOffset +
          sm.getOffset(-raster.getSampleModelTranslateX,
            -raster.getSampleModelTranslateY)
        val ss = sm.getScanlineStride
        var y = 0
        var oi = 0
        while (y < h) {
          var p = base + y * ss
          var x = 0
          while (x < w) {
            val rgb = data(p)
            out(oi) = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            p += 1
            oi += 1
            x += 1
          }
          y += 1
        }
      case _ =>
        val rgbs = img.getRGB(0, 0, w, h, null, 0, w)
        var i = 0
        while (i < rgbs.length) {
          val rgb = rgbs(i)
          out(i) = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          i += 1
        }
    }
    out
  }

  /** REAL image decode: PNG/BMP/GIF bytes → pixels (JDK ImageIO) → 16-bin
    * luminance histogram (integer Rec.601 weights), L1-normalized by pixel
    * count. Returns null histogram only for undecodable payloads (caller
    * falls back to the byte stub so one bad file can't kill a 100 TB job).
    */
  private[graft] def decodeImage(bytes: Array[Byte]): Option[Array[Float]] = {
    // ImageIO.read returns null only for UNRECOGNIZED formats; a recognized
    // but corrupt payload throws — either way the caller gets the stub.
    val img = try ImageIO.read(new ByteArrayInputStream(bytes))
    catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) None
    else {
      val hist = new Array[Float](16)
      val lums = luminances(img)
      var i = 0
      while (i < lums.length) {
        hist(lums(i) >> 4) += 1f
        i += 1
      }
      val n = math.max(1, lums.length).toFloat
      Some(hist.map(_ / n))
    }
  }

  /** A real RIFF/PCM WAV: 44-byte canonical header + n 16-bit little-endian
    * mono samples at 8 kHz, sample(i) = ((d·31 + i·7) mod 65536) − 32768 —
    * deterministic across runs and engines.
    */
  private[graft] def wavBytes(d: Long, nSamples: Int): Array[Byte] =
    pcm16ToWav(Array.tabulate(nSamples)(i =>
      (((((d * 31 + i * 7L) % 65536) + 65536) % 65536).toInt - 32768).toShort))

  /** Canonical 44-byte RIFF/WAVE header (PCM, mono, 8 kHz, 16-bit) + the
    * samples little-endian.
    */
  private[graft] def pcm16ToWav(samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def ascii(off: Int, s: String): Unit = {
      var i = 0
      while (i < s.length) { out(off + i) = s.charAt(i).toByte; i += 1 }
    }
    def le32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    def le16(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
    }
    ascii(0, "RIFF"); le32(4, 36 + dataLen); ascii(8, "WAVE")
    ascii(12, "fmt "); le32(16, 16); le16(20, 1) // PCM
    le16(22, 1); le32(24, 8000) // mono, 8 kHz
    le32(28, 16000); le16(32, 2); le16(34, 16) // byte rate, block align, bits
    ascii(36, "data"); le32(40, dataLen)
    var i = 0
    while (i < samples.length) {
      le16(44 + i * 2, samples(i) & 0xffff)
      i += 1
    }
    out
  }

  /** RIFF chunk walk → 16-bit PCM samples; None for anything that isn't
    * plain PCM WAV.
    */
  private[graft] def parsePcm16(bytes: Array[Byte]): Option[Array[Short]] = {
    def ascii(off: Int, n: Int): String =
      if (off + n > bytes.length) "" else new String(bytes, off, n, "US-ASCII")
    def le32(off: Int): Int =
      (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
        ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
    def le16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    if (bytes.length < 44 || ascii(0, 4) != "RIFF" || ascii(8, 4) != "WAVE") None
    else {
      var off = 12
      var bits = -1
      var fmt = -1
      var dataOff = -1
      var dataLen = -1
      while (off + 8 <= bytes.length && (bits < 0 || dataOff < 0)) {
        val id = ascii(off, 4)
        val len = le32(off + 4)
        if (id == "fmt " && off + 8 + 16 <= bytes.length) {
          fmt = le16(off + 8)
          bits = le16(off + 8 + 14)
        } else if (id == "data") {
          dataOff = off + 8
          dataLen = math.min(len, bytes.length - dataOff)
        }
        off += 8 + len + (len & 1) // chunks are word-aligned
      }
      if (fmt != 1 || bits != 16 || dataOff < 0 || dataLen < 2) None
      else {
        val n = dataLen / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          out(i) = le16(dataOff + i * 2).toShort
          i += 1
        }
        Some(out)
      }
    }
  }

  /** REAL audio decode: RIFF/PCM parse ([[parsePcm16]] — no codec libs,
    * WAV is a header + raw samples) → 16-bin amplitude histogram,
    * L1-normalized by sample count. None for anything that isn't PCM WAV
    * (caller falls back to the byte stub so one bad file can't kill a
    * 100 TB job).
    */
  private[graft] def decodeAudio(bytes: Array[Byte]): Option[Array[Float]] =
    parsePcm16(bytes).map { samples =>
      val hist = new Array[Float](16)
      var i = 0
      while (i < samples.length) {
        hist((samples(i) + 32768) >> 12) += 1f
        i += 1
      }
      hist.map(_ / samples.length.toFloat)
    }

  /** STUB decode (exotic codecs / undecodable fallback): 16-bin byte
    * histogram, L1 normalized — deterministic, so specs can pin values.
    */
  private def stubDecode(bytes: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < bytes.length) { hist((bytes(i) & 0xff) >> 4) += 1f; i += 1 }
    val n = math.max(1, bytes.length).toFloat
    hist.map(_ / n)
  }

  /** Feature extraction: batched per partition — the iterator streams
    * through in fixed-size chunks (the mapInPandas batch shape, in Scala):
    * a codec initializes ONCE per batch (ImageIO disk-cache off here;
    * model handles / scratch buffers in production) and amortizes that
    * over `batchSize` records. Nothing is collected; partitions process
    * independently; memory is bounded by one batch of payloads.
    */
  def extractFeatures(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        ImageIO.setUseCache(false) // per-batch codec init point
        batch.iterator.map { m =>
          val feats = m.kind match {
            case "image" => decodeImage(m.media).getOrElse(stubDecode(m.media))
            case "audio" => decodeAudio(m.media).getOrElse(stubDecode(m.media))
            case _ => stubDecode(m.media)
          }
          MediaFeatures(m.doc_id, m.kind, m.media.length.toLong, feats)
        }
      }
    }
  }

  /** Registered driver query (q_multimodal_features, rows-only): the
    * per-media-kind corpus summary a multimodal ingest job reports —
    * media counts, payload bytes, and a decode-path checksum proving the
    * REAL codecs ran (PNG pixels → luminance histogram, WAV samples →
    * amplitude histogram, [[extractFeatures]]).
    *
    * No SQL oracle by design (C34 precedent): DuckDB has no PNG/WAV
    * decoder, so the driver records a rows-only check; MultimodalSpec pins
    * the decoded pixel/sample values and the cross-run determinism this
    * query relies on. Every output column is integral — the histogram
    * folds to micro-unit longs per document BEFORE the sum, so the
    * aggregate is associative and bit-stable under any partitioning (a
    * float sum would be accumulation-order-dependent).
    */
  def features(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(mediaTable(spark, dir))
      .map { f =>
        val chk = f.features.zipWithIndex
          .map { case (v, i) => math.round(v.toDouble * 1e6) * (i + 1) }.sum
        (f.kind, f.n_bytes, chk)
      }
      .toDF("kind", "n_bytes", "chk")
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("chk")).as("hist_checksum"))
      .orderBy(col("kind"))
  }

  /** Resize. Image rows are REALLY resized: decode → bilinear Graphics2D
    * resample to targetW×targetH → re-encode PNG; audio rows are REALLY
    * resampled in the sample domain: parse WAV → nearest-neighbor pick of
    * targetW·targetH samples → re-encode a valid WAV. Metadata updates in
    * lockstep; anything undecodable keeps the deterministic even-stride
    * byte downsample (the stub contract).
    */
  def resize(media: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.map { m =>
        val out =
          if (m.kind == "image") {
            val src = try ImageIO.read(new ByteArrayInputStream(m.media))
            catch { case scala.util.control.NonFatal(_) => null }
            if (src == null) Array.empty[Byte]
            else {
              val dst = new java.awt.image.BufferedImage(targetW, targetH,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = dst.createGraphics()
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(src, 0, 0, targetW, targetH, null)
              g.dispose()
              val bos = new ByteArrayOutputStream()
              ImageIO.write(dst, "png", bos)
              bos.toByteArray
            }
          } else if (m.kind == "audio" && parsePcm16(m.media).isDefined) {
            // sample-domain resample: nearest-neighbor pick, re-encoded as
            // a valid WAV (headers stay parseable downstream)
            val samples = parsePcm16(m.media).get
            val n = targetW * targetH
            val picked = Array.tabulate(n)(i =>
              samples(((i.toLong * samples.length) / n).toInt))
            pcm16ToWav(picked)
          } else {
            val n = targetW * targetH
            if (m.media.isEmpty) Array.empty[Byte]
            else Array.tabulate(n)(i => m.media(((i.toLong * m.media.length) / n).toInt))
          }
        m.copy(media = out, width = targetW, height = targetH)
      }
    }
  }

  /** 64-bit perceptual dHash of a decoded image (C50): grayscale the
    * pixels, area-average onto a 9×8 grid with EXACT integer arithmetic
    * (per-cell luminance sum / pixel count — no FP resampler, so the hash
    * is bit-stable across platforms, the C25 discipline; Graphics2D
    * bilinear is FP and rendering-hint-dependent), then bit(j·8+i) = 1
    * iff cell(i+1, j) > cell(i, j). Row-difference hashing is invariant
    * to uniform brightness/contrast shifts — the property that makes
    * dHash the standard crawl-pipeline near-dup stage (re-encoded,
    * slightly filtered copies keep their hash). None for undecodable
    * payloads or images smaller than the grid.
    */
  private[graft] def dhash64(bytes: Array[Byte]): Option[Long] = {
    val img = try ImageIO.read(new ByteArrayInputStream(bytes))
    catch { case scala.util.control.NonFatal(_) => null }
    if (img == null || img.getWidth < 9 || img.getHeight < 8) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      val lums = luminances(img)
      val sums = Array.ofDim[Long](8, 9)
      val cnts = Array.ofDim[Long](8, 9)
      var y = 0
      var i = 0
      while (y < h) {
        val gy = (y * 8) / h
        val srow = sums(gy)
        val crow = cnts(gy)
        var x = 0
        while (x < w) {
          val gx = (x * 9) / w
          srow(gx) += lums(i)
          crow(gx) += 1
          i += 1
          x += 1
        }
        y += 1
      }
      var hash = 0L
      var j = 0
      while (j < 8) {
        var i = 0
        while (i < 8) {
          val a = sums(j)(i) / cnts(j)(i)
          val b = sums(j)(i + 1) / cnts(j)(i + 1)
          if (b > a) hash |= 1L << (j * 8 + i)
          i += 1
        }
        j += 1
      }
      Some(hash)
    }
  }

  /** C50 — q_image_dedup: perceptual near-dup VERDICTS over the DECODED
    * image payloads — the modality-level stage the text/embedding dedup
    * family (C1–C5, C24) can't see (two crops/re-encodes of one image
    * share no bytes, no text, and need no embedding model). Output: one
    * row per image — (doc_id, dhash, keep), keep = no image with a
    * SMALLER doc_id within maxHamming bits (the C24 semDedup
    * smallest-id-representative rule). A verdict, not a pair list: on a
    * duplication-heavy corpus near-dup pairs are quadratic in cluster
    * size (sf1: 374k pairs from 25k images) while the keep column is the
    * thing a curation pipeline actually consumes, and it stays LINEAR in
    * the corpus at any duplication level.
    *
    * Scale shape — banded, never all-pairs (the C3 simhash device): the
    * 64-bit hash splits into maxHamming+1 disjoint bands; by pigeonhole,
    * any pair within the distance budget agrees EXACTLY on ≥1 band
    * (recall 1.0 — not probabilistic like MinHash banding), so a kill
    * verdict only needs in-bucket evidence. Hashing is one batched
    * narrow pass over the media ([[extractFeatures]]'s contract); buckets
    * shuffle (band, key, id, hash) rows only — payload bytes never cross
    * the wire; each bucket scans its id-sorted members with a
    * SHORT-CIRCUIT smaller-id probe (an identical-hash cluster of size n
    * costs O(n), not O(n²) — everything but the minimum dies on its
    * first comparison); per-bucket verdicts AND-fold per image.
    *
    * No SQL oracle by design (C12/C34 precedent: DuckDB cannot decode
    * PNGs) → rows-only + DeadCodeGuard waiver; MultimodalSpec pins the
    * verdict column set-equal to a driver brute-force reference and the
    * planted-near-dup/distinct-image behavior of the hash.
    */
  def imageDedup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    val hashes = mediaTable(spark, dir, onlyKind = "image")
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch =>
          ImageIO.setUseCache(false)
          batch.iterator.flatMap(m => dhash64(m.media).map(h => (m.doc_id, h)))
        }
      }
      .toDF("doc_id", "dhash")
    bandedVerdicts(hashes, "dhash", maxHamming)
  }

  /** The ONE banding + verdict kernel ALL perceptual dedup operators
    * share (C50 image, C50b audio, C53 video frames) — keeping it single
    * means a banding or threshold change can never drift between the
    * twins (r16b review): lossless (maxHamming+1)-band pigeonhole
    * blocking over a 64-bit hash, in-bucket id-sorted SHORT-CIRCUIT
    * smaller-id probe (an identical-hash cluster of n costs O(n), not
    * O(n²)), per-item AND-fold of bucket verdicts. Input: (doc_id,
    * <hashCol>) — MULTIPLE rows per doc_id are allowed (the video-frame
    * shape; same-id rows never compare against each other); output
    * (doc_id, <hashCol>, keep) per input row — keep = no STRICTLY-smaller
    * id within maxHamming bits of this row's hash.
    */
  private[graft] def bandedVerdicts(hashes: DataFrame, hashCol: String,
      maxHamming: Int): DataFrame = {
    import hashes.sparkSession.implicits._
    require(0 <= maxHamming && maxHamming <= 7,
      s"band scheme covers hamming 0..7 losslessly; got $maxHamming")
    val nBands = maxHamming + 1
    val width = 64 / nBands // ≥ 8 bits per band
    hashes.select(col("doc_id"), col(hashCol).as("h"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("bid"),
          shiftrightunsigned(col(hashCol), b * width)
            .bitwiseAND(lit((1L << width) - 1)).as("bkey"))
      }: _*)).as("b"))
      .select(col("b.bid"), col("b.bkey"), col("doc_id"), col("h"))
      .as[(Int, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_: (Int, Long), it: Iterator[(Int, Long, Long, Long)]) =>
        val ms = it.toArray.sortBy(_._3)
        ms.indices.iterator.map { j =>
          var killed = false
          var i = 0
          while (!killed && i < j) {
            if (ms(i)._3 != ms(j)._3 &&
              java.lang.Long.bitCount(ms(i)._4 ^ ms(j)._4) <= maxHamming)
              killed = true
            i += 1
          }
          (ms(j)._3, ms(j)._4, !killed)
        }
      }
      .toDF("doc_id", hashCol, "keepb")
      .groupBy(col("doc_id"), col(hashCol))
      .agg(min(when(col("keepb"), 1L).otherwise(0L)).as("k"))
      .select(col("doc_id"), col(hashCol), (col("k") === 1L).as("keep"))
  }

  /** 64-bit perceptual hash of a PCM audio payload (C50b): the audio twin
    * of [[dhash64]]. Samples split into 65 equal windows; per-window
    * energy = Σ|sample| (exact integer — no FFT, no floats); bit(i) = 1
    * iff energy(i+1)·n(i) > energy(i)·n(i+1) (cross-multiplied mean
    * comparison — exact, no division). Difference coding over the energy
    * ENVELOPE is loudness-scale-invariant (a re-encoded/volume-shifted
    * copy keeps its hash) — the property that makes envelope hashing the
    * standard audio near-dup stage. None for non-PCM payloads or clips
    * shorter than 65 samples.
    */
  private[graft] def audioHash64(bytes: Array[Byte]): Option[Long] =
    parsePcm16(bytes).filter(_.length >= 65).map { samples =>
      val n = samples.length
      val e = new Array[Long](65)
      val c = new Array[Long](65)
      var i = 0
      while (i < n) {
        val w = ((i.toLong * 65) / n).toInt
        e(w) += math.abs(samples(i).toLong)
        c(w) += 1
        i += 1
      }
      var hash = 0L
      var k = 0
      while (k < 64) {
        if (e(k + 1) * c(k) > e(k) * c(k + 1)) hash |= 1L << k
        k += 1
      }
      hash
    }

  /** C50b — q_audio_dedup: perceptual near-dup verdicts over the DECODED
    * audio payloads — [[imageDedup]]'s shape on the other real decoder:
    * one (doc_id, ahash, keep) row per audio clip, keep = no smaller-id
    * clip within maxHamming bits of the energy-envelope hash. Identical
    * scale mechanics (lossless pigeonhole banding, in-bucket short-circuit
    * smaller-id probe, AND-fold) — see [[imageDedup]]; same rows-only
    * ground (DuckDB has no WAV parser) and brute-force-equality spec.
    */
  def audioDedup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    import spark.implicits._
    val hashes = mediaTable(spark, dir, onlyKind = "audio")
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch =>
          batch.iterator.flatMap(m => audioHash64(m.media).map(h => (m.doc_id, h)))
        }
      }
      .toDF("doc_id", "ahash")
    bandedVerdicts(hashes, "ahash", maxHamming)
  }

  /** Frame sampling: emit n evenly-spaced "frames" (byte slices) per media
    * row — the video-frame-sample shape (explode with controlled fan-out).
    */
  def sampleFrames(media: Dataset[MediaRow], n: Int = 4): DataFrame = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val len = m.media.length
      if (len == 0) Iterator.empty
      else (0 until n).iterator.map { i =>
        val start = (len.toLong * i / n).toInt
        val end = (len.toLong * (i + 1) / n).toInt
        (m.doc_id, i, m.media.slice(start, end))
      }
    }.toDF("doc_id", "frame", "frame_bytes")
  }

  /** A real multi-frame clip container ("GVID": magic + frame count +
    * per-frame lengths, then concatenated REAL PNG payloads — the
    * motion-JPEG shape: no inter-frame codec, every frame independently
    * decodable, which is exactly what the sandbox can honestly build; a
    * production pipeline swaps [[parseVideo]] for its codec's frame
    * sampler and everything downstream is unchanged). Frame f's gradient
    * is keyed on (d, f) so consecutive frames of one clip are near-equal
    * (like real video) and clips with congruent keys plant cross-clip
    * near-dups at any corpus size.
    */
  private[graft] def videoBytes(d: Long, w: Int, h: Int, nFrames: Int): Array[Byte] = {
    val frames = (0 until nFrames).map(f => pngBytes(d * 7 + f, w, h))
    val bos = new ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeBytes("GVID")
    out.writeInt(nFrames)
    frames.foreach(f => out.writeInt(f.length))
    frames.foreach(out.write)
    bos.toByteArray
  }

  /** Parse a GVID container into its frame payloads; None for anything
    * that isn't one (wrong magic, truncated, implausible counts) — one
    * foreign byte blob can't kill a 100 TB job.
    */
  private[graft] def parseVideo(bytes: Array[Byte]): Option[Array[Array[Byte]]] = {
    if (bytes.length < 8 || bytes(0) != 'G' || bytes(1) != 'V' ||
      bytes(2) != 'I' || bytes(3) != 'D') return None
    val in = new java.io.DataInputStream(new ByteArrayInputStream(bytes))
    try {
      in.skipBytes(4)
      val n = in.readInt()
      if (n < 0 || n > 4096) return None
      val lens = Array.fill(n)(in.readInt())
      if (lens.exists(l => l < 0 || l > bytes.length)) return None
      Some(lens.map { l => val b = new Array[Byte](l); in.readFully(b); b })
    } catch { case _: java.io.IOException => None }
  }

  /** Derive a deterministic video corpus from the documents table — the
    * [[mediaTable]] convention for the third modality: every doc becomes
    * one clip of `nFrames` real PNG frames in a GVID container, with the
    * same n_chars-keyed dimensions the image rows use.
    */
  def videoTable(spark: SparkSession, dir: String, nFrames: Int = 4): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documentsMedia(spark, dir)
      .select(col("doc_id"), (col("n_chars") % 64 + 16).cast("int").as("w"),
        (col("n_chars") % 48 + 9).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .mapPartitions(_.map { case (d, w, h) =>
        MediaRow(d, "video", videoBytes(d, w, h, nFrames), w, h)
      })
  }

  /** Extract per-frame payloads from GVID clips: (doc_id, frame,
    * frame_bytes) — the container-parsing twin of [[sampleFrames]]'s
    * blind byte slicing; unparseable clips emit no rows.
    */
  def videoFrames(clips: Dataset[MediaRow]): DataFrame = {
    import clips.sparkSession.implicits._
    clips.flatMap { m =>
      parseVideo(m.media).iterator.flatMap(_.iterator.zipWithIndex.map {
        case (bytes, f) => (m.doc_id, f, bytes)
      })
    }.toDF("doc_id", "frame", "frame_bytes")
  }

  /** Clip-level perceptual near-dup verdicts from ANY frame table
    * (doc_id, …, frame_bytes) — composes with [[videoFrames]] (the GVID
    * path) or [[sampleFrames]] output alike. Per-frame dHash over the
    * DECODABLE frames, distinct (clip, hash) rows through the shared
    * [[bandedVerdicts]] kernel, then the clip verdict AND-folds its frame
    * rows — the ANY-FRAME kill rule: a clip dies iff ANY of its frame
    * hashes sits within `maxHamming` bits of ANY frame hash of a
    * smaller-id clip (the conservative-recall choice for a training
    * corpus — a clip sharing even one near-identical frame with an
    * earlier clip is re-used footage). `quorum` relaxes the rule for
    * deployments that want to KEEP partial re-edits: a clip dies only
    * when ≥ min(quorum, its distinct-hash count) of its frame hashes
    * each match some earlier clip's frame — the min term so a clip with
    * FEWER hashes than the quorum (short/static clips) still dies when
    * ALL of them match (r18 review: an absolute count would silently
    * exempt full re-posts of such clips from dedup); the default (1) is
    * exactly the any-frame rule.
    * Output: (doc_id, n_frame_hashes, keep); clips with zero
    * decodable frames emit no row (no evidence, no verdict — the C50
    * undecodable-payload convention).
    *
    * Scale shape is C50's exactly — hashing is one narrow batched pass,
    * buckets shuffle (band, key, id, hash) rows only (frame BYTES never
    * cross the wire), and the verdict output is clip-linear. The frame
    * fan-out multiplies band rows by frames/clip (bounded by the sampling
    * policy, 4 here), not by corpus duplication.
    */
  def frameDedup(frames: DataFrame, maxHamming: Int = 3,
      quorum: Int = 1): DataFrame = {
    import frames.sparkSession.implicits._
    require(quorum >= 1, s"frameDedup quorum must be ≥ 1, got $quorum")
    val hashes = frames.select(col("doc_id"), col("frame_bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch =>
          ImageIO.setUseCache(false)
          batch.iterator.flatMap { case (d, b) => dhash64(b).map(h => (d, h)) }
        }
      }
      .toDF("doc_id", "fhash").distinct()
    bandedVerdicts(hashes, "fhash", maxHamming)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frame_hashes"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("killed"))
      .select(col("doc_id"), col("n_frame_hashes"),
        (col("killed") < least(lit(quorum.toLong), col("n_frame_hashes"))).as("keep"))
  }

  /** C53 — q_video_dedup: perceptual near-dup verdicts over the video
    * corpus — [[imageDedup]]'s shape on the third modality, completing
    * the media trilogy: parse each clip's frames ([[videoFrames]]),
    * then [[frameDedup]]'s any-frame rule over the shared banded kernel.
    * Same rows-only ground as C50/C50b (DuckDB decodes neither PNG nor
    * GVID) and the same brute-force-equality spec.
    */
  def videoDedup(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame =
    frameDedup(videoFrames(videoTable(spark, dir)), maxHamming)
}
