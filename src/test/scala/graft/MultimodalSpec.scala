package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Multimodal

/** The multimodal plumbing gate: typed binary schema, batched
  * partition-local decode (no shuffle, partitioning preserved),
  * deterministic stub features, metadata transforms, frame sampling.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def media = Multimodal.syntheticMedia(
    spark, Tables.documents(spark, TestSpark.sf0001))

  test("schema: binary payload + typed metadata struct") {
    val sch = media.toDF().schema
    assert(sch("payload").dataType.typeName == "binary")
    assert(sch("meta").dataType.typeName == "struct")
    assert(media.count() == 500)
  }

  test("decode: deterministic features, fixed dim, partitioning preserved") {
    val m = media.repartition(4)
    val f1 = Multimodal.decodeFeatures(m)
    assert(f1.rdd.getNumPartitions == 4, "decode must not shuffle")
    val a = f1.collect().map(r => r.media_id -> r.feature.toSeq).toMap
    val b = Multimodal.decodeFeatures(m).collect().map(r => r.media_id -> r.feature.toSeq).toMap
    assert(a == b, "stub decode must be deterministic")
    assert(a.values.forall(_.length == Multimodal.FeatureDim))
    assert(a.values.flatten.forall(v => v >= -1.0f && v <= 1.0f))
    // different payloads -> different features (no constant stub):
    assert(a.values.toSeq.distinct.size > 400)
  }

  test("binaryFile ingestion: kind from extension, glob prunes the listing, decode runs end-to-end") {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(TestSpark.scratch("graft_media_"))
    val files = Seq("cat.png" -> Array[Byte](1, 2, 3), "dog.jpg" -> Array[Byte](4, 5),
      "song.wav" -> Array[Byte](6), "clip.mp4" -> Array[Byte](7, 8), "blob.xyz" -> Array[Byte](9))
    files.foreach { case (n, bytes) => Files.write(dir.resolve(n), bytes) }

    val all = Multimodal.binaryFiles(spark, dir.toString)
    val byKind = all.collect().groupBy(_.kind).view.mapValues(_.length).toMap
    assert(byKind == Map("image" -> 2, "audio" -> 1, "video" -> 1, "binary" -> 1), byKind.toString)

    val png = Multimodal.binaryFiles(spark, dir.toString, glob = "*.png").collect()
    assert(png.length == 1 && png.head.kind == "image" && png.head.payload.toSeq == Seq[Byte](1, 2, 3))

    // ingested records run the decode pipeline unchanged, ids are stable
    val feats = Multimodal.decodeFeatures(Multimodal.binaryFiles(spark, dir.toString))
    assert(feats.count() == 5)
    assert(feats.collect().forall(_.feature.length == Multimodal.FeatureDim))
    val ids1 = all.collect().map(_.media_id).sorted.toSeq
    val ids2 = Multimodal.binaryFiles(spark, dir.toString).collect().map(_.media_id).sorted.toSeq
    assert(ids1 == ids2 && ids1.distinct.size == 5)
  }

  // Hand-built container fixtures — byte-for-byte from the format specs,
  // NOT produced by any codec, so the parser is gated against the spec
  // itself.
  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def le32(v: Long): Array[Byte] = be32(v).reverse
  private def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def ascii(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private def pngBytes(w: Long, h: Long): Array[Byte] =
    Array(0x89.toByte) ++ ascii("PNG") ++ Array[Byte](0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ ascii("IHDR") ++ be32(w) ++ be32(h) ++
      Array[Byte](8, 6, 0, 0, 0) ++ be32(0) // depth/color/crc filler

  private def bmpBytes(w: Long, h: Long): Array[Byte] =
    ascii("BM") ++ le32(54) ++ le32(0) ++ le32(54) ++ le32(40) ++
      le32(w) ++ le32(h) ++ le16(1) ++ le16(24)

  private def wavBytes(rate: Long, blockAlign: Int, nFrames: Int): Array[Byte] = {
    val data = Array.fill[Byte](blockAlign * nFrames)(0x11)
    val fmt = le16(1) ++ le16(2) ++ le32(rate) ++ le32(rate * blockAlign) ++
      le16(blockAlign) ++ le16(16)
    val body = ascii("WAVE") ++ ascii("fmt ") ++ le32(fmt.length) ++ fmt ++
      ascii("data") ++ le32(data.length) ++ data
    ascii("RIFF") ++ le32(body.length) ++ body
  }

  test("header parse golden: PNG IHDR, BMP (incl. top-down), WAV fmt/data — pure byte-slicing") {
    assert(Multimodal.parseHeader(pngBytes(640, 360))
      .contains(Multimodal.MediaMeta(640, 360, 0, 1)))
    assert(Multimodal.parseHeader(bmpBytes(1024, 768))
      .contains(Multimodal.MediaMeta(1024, 768, 0, 1)))
    // negative BMP height = top-down row order; dims must come out positive
    assert(Multimodal.parseHeader(bmpBytes(320, (-240L) & 0xffffffffL))
      .contains(Multimodal.MediaMeta(320, 240, 0, 1)))
    assert(Multimodal.parseHeader(wavBytes(44100, 4, 1000))
      .contains(Multimodal.MediaMeta(0, 0, 44100, 1000)))
    // truncated / unrecognized payloads parse to None, never throw
    assert(Multimodal.parseHeader(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.parseHeader(pngBytes(640, 360).take(20)).isEmpty)
    assert(Multimodal.parseHeader(ascii("RIFF") ++ le32(4) ++ ascii("JUNK")).isEmpty)
    // Hostile u32 data-chunk claim (~4.29e9 bytes, block 1): the frame
    // count clamps to the bytes actually PRESENT — never a negative Int
    // from quotient overflow (ADVICE r14).
    val fmt1 = le16(1) ++ le16(1) ++ le32(8000) ++ le32(8000) ++ le16(1) ++ le16(8)
    val hostile = ascii("RIFF") ++ le32(100) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(fmt1.length) ++ fmt1 ++
      ascii("data") ++ le32(0xFFFFFFF0L) ++ Array.fill[Byte](16)(0)
    val meta = Multimodal.parseHeader(hostile)
    // EXACT clamp: only the 16 bytes after the data chunk's offset are
    // sample payload — header + fmt bytes must not count as frames
    // (clamping to whole-file length would report 60) (ADVICE r15).
    assert(meta.isDefined && meta.get.nFrames == 16,
      s"hostile dataLen must clamp to the data payload bytes present: $meta")
  }

  test("decodeMeta: binaryFile-ingested fixtures get REAL header dims; unrecognized keep zeroed meta") {
    import java.nio.file.Files
    val dir = java.nio.file.Paths.get(TestSpark.scratch("graft_hdr_"))
    Files.write(dir.resolve("cat.png"), pngBytes(640, 360))
    Files.write(dir.resolve("scan.bmp"), bmpBytes(1024, 768))
    Files.write(dir.resolve("song.wav"), wavBytes(16000, 2, 320))
    Files.write(dir.resolve("blob.xyz"), Array[Byte](9, 9, 9))
    val decoded = Multimodal.decodeMeta(Multimodal.binaryFiles(spark, dir.toString))
      .collect().map(r => {
        val ext = r.kind
        (ext, r.meta)
      }).toSet
    assert(decoded.contains(("image", Multimodal.MediaMeta(640, 360, 0, 1))))
    assert(decoded.contains(("image", Multimodal.MediaMeta(1024, 768, 0, 1))))
    assert(decoded.contains(("audio", Multimodal.MediaMeta(0, 0, 16000, 320))))
    assert(decoded.contains(("binary", Multimodal.MediaMeta(0, 0, 0, 0))))
  }

  /** Mono 16-bit PCM WAV with CONTROLLED sample values (wavBytes fills a
    * constant byte pattern; the real-decode gate needs known amplitudes).
    */
  private def wavPcm(rate: Long, samples: Array[Short]): Array[Byte] = {
    val data = samples.flatMap(s => le16(s & 0xffff))
    val fmt = le16(1) ++ le16(1) ++ le32(rate) ++ le32(rate * 2) ++
      le16(2) ++ le16(16)
    val body = ascii("WAVE") ++ ascii("fmt ") ++ le32(fmt.length) ++ fmt ++
      ascii("data") ++ le32(data.length) ++ data
    ascii("RIFF") ++ le32(body.length) ++ body
  }

  test("REAL decode: JDK ImageIO pixels and WAV PCM amplitudes — computed, not stubbed") {
    // 8x4 PNG, left half black / right half white, written by the JDK's
    // own encoder (lossless): FeatureDim=8 puts one image column per
    // feature slot, so the luminance grid must be exactly 0,0,0,0,1,1,1,1.
    val im = new java.awt.image.BufferedImage(8, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8)
      im.setRGB(x, y, if (x < 4) 0x000000 else 0xffffff)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", baos)
    val png = baos.toByteArray
    val f = Multimodal.decodeImage(png).get
    assert(f.length == Multimodal.FeatureDim)
    (0 until 4).foreach(i => assert(f(i) == 0f, s"slot $i: ${f(i)}"))
    (4 until 8).foreach(i => assert(math.abs(f(i) - 1f) < 1e-3, s"slot $i: ${f(i)}"))

    // 16 mono frames: 8 silent then 8 at amplitude 16384 (= 0.5 of full
    // scale) — energy envelope must be 0 in the first half, 0.5 in the
    // second, straight off the PCM bytes.
    val wav = wavPcm(16000, Array.fill(8)(0.toShort) ++ Array.fill(8)(16384.toShort))
    val g = Multimodal.decodeWavPcm(wav).get
    (0 until 4).foreach(i => assert(g(i) == 0f, s"bucket $i: ${g(i)}"))
    (4 until 8).foreach(i => assert(math.abs(g(i) - 0.5f) < 1e-3, s"bucket $i: ${g(i)}"))

    // end-to-end through the batched Dataset path: the REAL decodes (not
    // the stub) are what decodeFeatures serves for decodable payloads;
    // video — no JDK codec — stays the labeled deterministic stub.
    import spark.implicits._
    val zero = Multimodal.MediaMeta(0, 0, 0, 0)
    val vid = Array[Byte](1, 2, 3)
    val ds = spark.createDataset(Seq(
      Multimodal.MediaRecord(1L, "image", png, zero),
      Multimodal.MediaRecord(2L, "audio", wav, zero),
      Multimodal.MediaRecord(3L, "video", vid, zero)))
    val out = Multimodal.decodeFeatures(ds).collect()
      .map(r => r.media_id -> r.feature.toSeq).toMap
    assert(out(1L) == f.toSeq)
    assert(out(2L) == g.toSeq)
    assert(out(3L) == Multimodal.decodeStub(vid).toSeq)
  }

  test("adversarial payloads: oversized/negative chunk sizes and corrupt images degrade to the stub, never hang or throw") {
    // 1. A RIFF chunk claiming 0xFFFFFFF8 bytes: as an Int that is -8, so
    //    `off += 8 + sz + (sz & 1)` advanced by ZERO — an executor task
    //    spinning forever (ADVICE r13). The Long walk must terminate.
    val hugeChunk = ascii("RIFF") ++ le32(100) ++ ascii("WAVE") ++
      ascii("JUNK") ++ le32(0xFFFFFFF8L) ++ Array.fill[Byte](64)(0x22)
    assert(Multimodal.parseHeader(hugeChunk).isEmpty)
    assert(Multimodal.decodeWavPcm(hugeChunk).isEmpty)
    // 2. A large-positive size that would overflow Int offsets into a
    //    negative array index (uncaught AIOOBE before the fix).
    val overflowChunk = ascii("RIFF") ++ le32(100) ++ ascii("WAVE") ++
      ascii("JUNK") ++ le32(0x7FFFFFFFL) ++ Array.fill[Byte](64)(0x33)
    assert(Multimodal.parseHeader(overflowChunk).isEmpty)
    assert(Multimodal.decodeWavPcm(overflowChunk).isEmpty)
    // 3. A data chunk CLAIMING more frames than the payload carries:
    //    decode the present samples, don't index past the array.
    val truncated = {
      val full = wavPcm(16000, Array.tabulate[Short](64)(i => (i * 100).toShort))
      full.take(full.length - 32)
    }
    assert(Multimodal.decodeWavPcm(truncated).exists(_.length == Multimodal.FeatureDim))
    // 4. A PNG signature over garbage body: ImageIO plugins throw
    //    RuntimeExceptions on this class of input — decodeImage must
    //    return None (NonFatal catch), and decodeOne must serve the stub.
    val corruptPng = pngBytes(640, 360) ++ Array.fill[Byte](32)(0x7f)
    assert(Multimodal.decodeImage(corruptPng).isEmpty ||
      Multimodal.decodeImage(corruptPng).exists(_.length == Multimodal.FeatureDim))
    // 5. decodeOne NEVER fails regardless of kind/payload pairing — the
    //    per-record error-isolation contract, driven through the real
    //    batched executor path.
    import spark.implicits._
    val bad = Seq(
      Multimodal.MediaRecord(1L, "image", corruptPng, Multimodal.MediaMeta(0, 0, 0, 0)),
      Multimodal.MediaRecord(2L, "audio", hugeChunk, Multimodal.MediaMeta(0, 0, 0, 0)),
      Multimodal.MediaRecord(3L, "audio", overflowChunk, Multimodal.MediaMeta(0, 0, 0, 0)),
      Multimodal.MediaRecord(4L, "image", Array[Byte](0x42, 0x4d, 1), Multimodal.MediaMeta(0, 0, 0, 0))
    ).toDS()
    val feats = Multimodal.decodeFeatures(bad).collect()
    assert(feats.length == 4)
    assert(feats.forall(_.feature.length == Multimodal.FeatureDim))
  }

  test("resize clamps metadata, payload untouched") {
    val before = media.toDF()
    val after = Multimodal.resizeMeta(before, maxW = 128, maxH = 96)
    val dims = after.select(max(col("meta.width")), max(col("meta.height"))).head()
    assert(dims.getInt(0) <= 128 && dims.getInt(1) <= 96)
    assert(after.select(md5(col("payload"))).collect().toSeq ==
      before.select(md5(col("payload"))).collect().toSeq)
  }

  test("frame sampling: ceil(nFrames/step) rows per video") {
    val sampled = Multimodal.sampleFrames(media.toDF(), step = 10)
    val perVideo = sampled.groupBy(col("media_id"), col("n_frames"))
      .agg(count(lit(1)).as("n")).collect()
    assert(perVideo.nonEmpty)
    perVideo.foreach { r =>
      val expect = (r.getInt(1) + 9) / 10
      assert(r.getLong(2) == expect, s"media ${r.getLong(0)}: ${r.getLong(2)} vs $expect")
    }
    // only video rows sampled
    val kinds = media.toDF().filter(col("kind") === "video").count()
    assert(sampled.select(col("media_id")).distinct().count() == kinds)
  }
}
