package graft

import java.io.ByteArrayInputStream

import javax.imageio.ImageIO

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

class MultimodalSpec extends GraftSuite {

  test("media table carries binary payload + typed metadata; image rows are real PNGs") {
    val m = Multimodal.mediaTable(spark, sf)
    val s = m.schema
    assert(s("media").dataType.typeName == "binary")
    assert(s("width").dataType.typeName == "integer")
    assert(m.count() > 0)
    assert(m.where(col("kind").isin("image", "audio")).count() == m.count())
    // every image payload decodes with the JDK codec to its declared dims
    val imgs = m.where(col("kind") === "image").collect()
    assert(imgs.nonEmpty)
    imgs.foreach { r =>
      val img = ImageIO.read(new ByteArrayInputStream(r.media))
      assert(img != null, s"doc ${r.doc_id}: payload is not a decodable image")
      assert(img.getWidth == r.width && img.getHeight == r.height)
    }
    // the column-form dims stay locked to the shared Int mapping (a drift
    // here = in-JVM callers silently using wrong shapes)
    val dims = graft.io.Tables.documentsMedia(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> Multimodal.mediaDims(r.getLong(1).toInt)).toMap
    m.collect().foreach { r =>
      assert(dims(r.doc_id) == (r.width, r.height),
        s"doc ${r.doc_id}: mediaTable dims diverge from Multimodal.mediaDims")
    }
  }

  test("audio rows are real parseable WAVs; decodeAudio reads actual samples") {
    // known samples → known amplitude bins: -32768→bin0, 0→bin8, 32767→bin15
    val wav = Multimodal.pcm16ToWav(Array[Short](-32768, 0, 0, 32767))
    val got = Multimodal.decodeAudio(wav).get
    val want = Array.fill(16)(0f)
    want(0) = 0.25f; want(8) = 0.5f; want(15) = 0.25f
    assert(got.sameElements(want), got.mkString(","))
    // round-trip: parse returns the exact samples
    assert(Multimodal.parsePcm16(wav).get.sameElements(Array[Short](-32768, 0, 0, 32767)))
    // non-WAV bytes are rejected, not misread
    assert(Multimodal.decodeAudio("not a wav at all".getBytes).isEmpty)
    // every generated audio payload is a valid WAV with width*height samples
    val auds = Multimodal.mediaTable(spark, sf).where(col("kind") === "audio").collect()
    assert(auds.nonEmpty)
    auds.foreach { r =>
      val s = Multimodal.parsePcm16(r.media)
      assert(s.isDefined, s"doc ${r.doc_id}: payload is not a parseable WAV")
      assert(s.get.length == r.width * r.height)
    }
  }

  test("decodeImage reads actual pixel values (known 2x2 PNG)") {
    // gray levels 0x00, 0x10, 0x80, 0xFF → luminance bins 0, 1, 8, 15
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    def gray(v: Int) = (v << 16) | (v << 8) | v
    img.setRGB(0, 0, gray(0x00)); img.setRGB(1, 0, gray(0x10))
    img.setRGB(0, 1, gray(0x80)); img.setRGB(1, 1, gray(0xff))
    val bos = new java.io.ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    val got = Multimodal.decodeImage(bos.toByteArray).get
    val want = Array.fill(16)(0f)
    Seq(0, 1, 8, 15).foreach(b => want(b) = 0.25f)
    assert(got.sameElements(want), got.mkString(","))
  }

  test("corrupt-but-recognized PNG falls back to the stub, not an exception") {
    // valid PNG magic + truncated body: ImageIO RECOGNIZES the format and
    // then throws mid-decode — the contract is stub fallback, never failure
    val good = Multimodal.pngBytes(1L, 8, 8)
    val corrupt = good.take(24) ++ Array.fill[Byte](8)(0x42)
    assert(Multimodal.decodeImage(corrupt).isEmpty)
    import spark.implicits._
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, "image", corrupt, 8, 8)))
    val feats = Multimodal.extractFeatures(ds).collect()
    assert(feats.length == 1 && feats(0).features.length == 16)
    val resized = Multimodal.resize(ds, 4, 4).collect()
    assert(resized.length == 1) // empty payload, but the task survived
  }

  test("feature extraction is deterministic, batched, and L1-normalized") {
    val f1 = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sf))
    val rows = f1.collect()
    assert(rows.forall(_.features.length == 16))
    assert(rows.forall(r => math.abs(r.features.sum - 1.0f) < 1e-3))
    // image features come from DECODED PIXELS: the generated gradient hits
    // every luminance range, while the utf8-byte stub would concentrate in
    // the ASCII bins (4–7) — so pixel decode shows mass outside them
    val img = rows.filter(_.kind == "image")
    assert(img.nonEmpty)
    assert(img.forall(r => r.features.zipWithIndex
      .collect { case (v, i) if i < 4 || i > 7 => v }.sum > 0.1f))
    // determinism: run twice, same values
    val f2 = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sf)).collect()
    assert(rows.sortBy(_.doc_id).zip(f2.sortBy(_.doc_id))
      .forall { case (a, b) => a.features.sameElements(b.features) })
  }

  test("q_multimodal_features: per-kind summary is integral, complete, and bit-stable") {
    val q = SparkEntry.queries("q_multimodal_features")
    val r1 = q(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // both kinds present, ordered, and together covering every document
    assert(r1.map(_._1).toSeq == Seq("audio", "image"))
    val nDocs = graft.io.Tables.documents(spark, sf).count()
    assert(r1.map(_._2).sum == nDocs)
    assert(r1.forall(t => t._3 > 0 && t._4 != 0L))
    // the rows-only driver check leans on this: exact same longs on re-run
    // (per-doc micro-unit folding makes the sums partitioning-independent)
    val r2 = q(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(r1.toSet == r2.toSet)
  }

  test("resize really resamples images and audio, metadata in lockstep") {
    val r = Multimodal.resize(Multimodal.mediaTable(spark, sf), 8, 6).collect()
    assert(r.forall(m => m.width == 8 && m.height == 6))
    r.filter(_.kind == "image").foreach { m =>
      val img = ImageIO.read(new ByteArrayInputStream(m.media))
      assert(img != null && img.getWidth == 8 && img.getHeight == 6)
    }
    // audio resample re-encodes a VALID WAV with exactly 48 samples
    r.filter(_.kind == "audio").foreach { m =>
      val s = Multimodal.parsePcm16(m.media)
      assert(s.isDefined && s.get.length == 48)
    }
    // deterministic
    val r2 = Multimodal.resize(Multimodal.mediaTable(spark, sf), 8, 6).collect()
    assert(r.sortBy(_.doc_id).zip(r2.sortBy(_.doc_id))
      .forall { case (a, b) => a.media.sameElements(b.media) })
  }

  test("dhash64: deterministic, brightness-shift-invariant, distinct for distinct images") {
    val a = Multimodal.dhash64(Multimodal.pngBytes(7, 40, 30))
    assert(a.isDefined && a == Multimodal.dhash64(Multimodal.pngBytes(7, 40, 30)),
      "same image -> same hash")
    // +256 wraps the base gradient offset exactly: the pixel grid is
    // IDENTICAL, so the hash must be too (the planted exact near-dup)
    assert(a == Multimodal.dhash64(Multimodal.pngBytes(7 + 256, 40, 30)))
    // a genuinely different gradient phase should move some row-difference
    // bits (wrap boundaries shift)
    val b = Multimodal.dhash64(Multimodal.pngBytes(100, 40, 30))
    assert(a != b, "distinct images must not collide on the full hash")
    // too small for the 9x8 grid -> None, not garbage
    assert(Multimodal.dhash64(Multimodal.pngBytes(1, 8, 7)).isEmpty)
    assert(Multimodal.dhash64(Array[Byte](1, 2, 3)).isEmpty, "non-image -> None")
  }

  test("q_image_dedup: verdicts equal the brute-force smallest-id rule; banding is lossless") {
    val out = Multimodal.imageDedup(spark, sf, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // brute-force reference over ALL image hashes: keep(d) iff no image
    // with a smaller id sits within hamming 3 (pigeonhole losslessness of
    // the banding means the distributed verdict must agree exactly)
    val hashes = Multimodal.mediaTable(spark, sf)
      .filter(_.kind == "image").collect()
      .flatMap(m => Multimodal.dhash64(m.media).map(h => (m.doc_id, h)))
      .sortBy(_._1)
    val brute = hashes.zipWithIndex.map { case ((d, h), j) =>
      val killed = hashes.take(j).exists { case (_, h2) =>
        java.lang.Long.bitCount(h ^ h2) <= 3
      }
      (d, h, !killed)
    }.toSet
    assert(out.length == hashes.length, "one verdict per decodable image")
    assert(out.toSet == brute,
      s"verdicts diverge from brute force (got ${out.count(!_._3)} kills, brute ${brute.count(!_._3)})")
    assert(out.exists(!_._3), "non-vacuous: the gradient corpus plants near-dups")
    assert(out.exists(_._3), "non-vacuous: representatives survive")
  }

  test("audioHash64: deterministic, identical streams collide, non-PCM -> None") {
    val a = Multimodal.audioHash64(Multimodal.wavBytes(7, 800))
    assert(a.isDefined && a == Multimodal.audioHash64(Multimodal.wavBytes(7, 800)))
    // +65536 wraps the sample generator exactly: identical PCM stream
    assert(a == Multimodal.audioHash64(Multimodal.wavBytes(7 + 65536, 800)))
    assert(Multimodal.audioHash64(Array[Byte](1, 2, 3)).isEmpty, "non-WAV -> None")
    assert(Multimodal.audioHash64(Multimodal.wavBytes(1, 32)).isEmpty,
      "shorter than the 65-window grid -> None")
  }

  test("q_audio_dedup: verdicts equal the brute-force smallest-id rule") {
    val out = Multimodal.audioDedup(spark, sf, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val hashes = Multimodal.mediaTable(spark, sf)
      .filter(_.kind == "audio").collect()
      .flatMap(m => Multimodal.audioHash64(m.media).map(h => (m.doc_id, h)))
      .sortBy(_._1)
    val brute = hashes.zipWithIndex.map { case ((d, h), j) =>
      (d, h, !hashes.take(j).exists(p => java.lang.Long.bitCount(p._2 ^ h) <= 3))
    }.toSet
    assert(out.length == hashes.length, "one verdict per parseable clip")
    assert(out.toSet == brute, "verdicts diverge from brute force")
    assert(out.exists(!_._3) && out.exists(_._3),
      "non-vacuous: the sawtooth corpus clusters heavily but keeps representatives")
  }

  test("frame sampling fans out n slices covering the payload") {
    val frames = Multimodal.sampleFrames(Multimodal.mediaTable(spark, sf), n = 4)
    val perDoc = frames.groupBy("doc_id").count().where(col("count") =!= 4).count()
    assert(perDoc == 0)
    val doc = Multimodal.mediaTable(spark, sf).head()
    val reassembled = frames.where(col("doc_id") === doc.doc_id)
      .orderBy("frame").collect().flatMap(_.getAs[Array[Byte]]("frame_bytes"))
    assert(reassembled.sameElements(doc.media))
  }

  test("GVID container round-trips real decodable PNG frames; garbage parses to None") {
    val clip = Multimodal.videoBytes(42L, 20, 12, nFrames = 3)
    val frames = Multimodal.parseVideo(clip).get
    assert(frames.length == 3)
    frames.foreach { f =>
      assert(Multimodal.dhash64(f).isDefined, "every frame must decode as an image")
    }
    assert(frames(0).sameElements(Multimodal.pngBytes(42L * 7, 20, 12)))
    assert(Multimodal.parseVideo(Array[Byte](1, 2, 3)).isEmpty, "wrong magic")
    assert(Multimodal.parseVideo(clip.take(10)).isEmpty, "truncated header")
    assert(Multimodal.parseVideo(clip.dropRight(5)).isEmpty, "truncated payload")
    // the distributed extractor sees the same frames; a non-GVID payload
    // contributes no rows instead of failing the job
    import spark.implicits._
    val mixed = Seq(
      Multimodal.MediaRow(7L, "video", clip, 20, 12),
      Multimodal.MediaRow(8L, "video", Array[Byte](9, 9, 9), 1, 1)).toDS()
    val extracted = Multimodal.videoFrames(mixed).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]]("frame_bytes")))
    assert(extracted.map(t => (t._1, t._2)).toSet == Set((7L, 0), (7L, 1), (7L, 2)))
    assert(extracted.find(t => t._2 == 0).get._3.sameElements(frames(0)))
  }

  test("frameDedup: any-frame kill rule on a planted fixture (shared frame kills the later clip)") {
    import spark.implicits._
    // clip 1: frames A, B. clip 2: an exact COPY of frame A + a distinct
    // frame — must die on the shared frame regardless of its other
    // content. clip 3: frames far from everything — must survive.
    val a = Multimodal.pngBytes(1000L, 24, 16)
    val b = Multimodal.pngBytes(1000L + 64, 24, 16) // +64·31 shifts past the dhash tolerance
    val c = Multimodal.pngBytes(1000L + 128, 24, 16)
    // widen separation via distinct dimensions for clip 3 (different
    // aspect changes the 8x9 grid content, not just brightness)
    val d1 = Multimodal.pngBytes(5000L, 48, 9)
    val d2 = Multimodal.pngBytes(5000L + 64, 48, 9)
    val fixture = Seq((1L, 0, a), (1L, 1, b), (2L, 0, a), (2L, 1, c),
      (3L, 0, d1), (3L, 1, d2)).toDF("doc_id", "frame", "frame_bytes")
    val got = Multimodal.frameDedup(fixture, maxHamming = 3).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // brute-force reference from the any-frame DEFINITION
    val hashes = Seq((1L, a), (1L, b), (2L, a), (2L, c), (3L, d1), (3L, d2))
      .flatMap { case (id, bytes) => Multimodal.dhash64(bytes).map(id -> _) }
    val brute = hashes.map(_._1).distinct.map { id =>
      val mine = hashes.filter(_._1 == id).map(_._2)
      val earlier = hashes.filter(_._1 < id).map(_._2)
      id -> !mine.exists(h => earlier.exists(h2 =>
        java.lang.Long.bitCount(h ^ h2) <= 3))
    }.toMap
    assert(got == brute, s"got $got vs brute $brute")
    assert(got(1L), "first clip survives")
    assert(!got(2L), "clip sharing one frame with an earlier clip must die")
    assert(brute(3L) == got(3L))
  }

  test("frameDedup quorum: a partial re-edit keeps at q=2, a full re-post still dies") {
    import spark.implicits._
    // clip 1: frames A, B (the original). clip 2: the PARTIAL re-edit —
    // one frame copied from clip 1, one new. clip 3: the full re-post —
    // both frames copied. quorum=1 (default) is exactly the any-frame
    // rule (both die); quorum=2 keeps the partial re-edit and still
    // kills the re-post — the knob's advertised semantics, pinned both
    // ways against the definition.
    val a = Multimodal.pngBytes(1000L, 24, 16)
    val b = Multimodal.pngBytes(1000L + 64, 24, 16)
    val c = Multimodal.pngBytes(1000L + 128, 24, 16)
    // clip 4: a SINGLE-frame re-post (one distinct hash, a copy of A) —
    // with fewer hashes than the quorum it must still die when all of
    // them match (the min(quorum, n) term)
    val fixture = Seq((1L, 0, a), (1L, 1, b), (2L, 0, a), (2L, 1, c),
      (3L, 0, a), (3L, 1, b), (4L, 0, a)).toDF("doc_id", "frame", "frame_bytes")
    def verdicts(q: Int): Map[Long, Boolean] =
      Multimodal.frameDedup(fixture, maxHamming = 3, quorum = q).collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // reference from the DEFINITION: kill iff ≥ min(q, #hashes) of the
    // clip's distinct frame hashes each sit within tolerance of some
    // earlier clip's hash
    val hashes = Seq((1L, a), (1L, b), (2L, a), (2L, c), (3L, a), (3L, b), (4L, a))
      .flatMap { case (id, bytes) => Multimodal.dhash64(bytes).map(id -> _) }
      .distinct
    def brute(q: Int): Map[Long, Boolean] =
      hashes.map(_._1).distinct.map { id =>
        val mine = hashes.filter(_._1 == id).map(_._2)
        val earlier = hashes.filter(_._1 < id).map(_._2)
        val killed = mine.count(h => earlier.exists(h2 =>
          java.lang.Long.bitCount(h ^ h2) <= 3))
        id -> (killed < math.min(q, mine.size))
      }.toMap
    Seq(1, 2).foreach(q => assert(verdicts(q) == brute(q), s"q=$q"))
    assert(verdicts(1) == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false),
      "default quorum IS the any-frame rule")
    assert(verdicts(2) == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false),
      "q=2 keeps the partial re-edit, still kills full re-posts — long or single-frame")
  }

  test("q_video_dedup: verdicts equal the brute-force any-frame rule on the corpus clips") {
    val out = Multimodal.videoDedup(spark, sf, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getBoolean(2))).toMap
    val hashes = Multimodal.videoTable(spark, sf).collect().flatMap { m =>
      Multimodal.parseVideo(m.media).get
        .flatMap(Multimodal.dhash64).distinct.map(h => (m.doc_id, h))
    }
    val ids = hashes.map(_._1).distinct.sorted
    val brute = ids.map { id =>
      val mine = hashes.filter(_._1 == id).map(_._2)
      val earlier = hashes.filter(_._1 < id).map(_._2)
      id -> !mine.exists(h => earlier.exists(h2 =>
        java.lang.Long.bitCount(h ^ h2) <= 3))
    }.toMap
    assert(out == brute, s"${out.count(!_._2)} kills vs brute ${brute.count(!_._2)}")
    assert(out.exists(!_._2), "non-vacuous: the (d,f)-keyed gradients plant cross-clip near-dups")
    assert(out.exists(_._2), "non-vacuous: representatives survive")
  }
}
