package graft.multimodal

import graft.SparkSpec
import graft.multimodal.Media.MediaRow

/** Metadata scrub: planted PNG tEXt / JPEG COM+APP0 / WAV INFO fields
  * are removed at the byte level while the decoded pixels/samples —
  * and therefore every perceptual hash the dedup family relies on —
  * stay IDENTICAL (the no-re-encode contract). */
class MediaScrubSpec extends SparkSpec {
  import spark.implicits._

  private def ascii(b: Array[Byte]) = new String(b, "ISO-8859-1")

  test("PNG: tEXt dropped, pixels byte-identical, dHash unchanged") {
    val clean = MediaCodec.synthPng(7L, 64, 48)
    val tagged = MediaCodec.withPngText(clean, "Author", "gps 1.23,4.56 secret")
    assert(ascii(tagged).contains("secret"))
    val scrubbed = MediaCodec.stripMetadata(tagged)
    assert(!ascii(scrubbed).contains("secret"))
    assert(!ascii(scrubbed).contains("tEXt"))
    (MediaCodec.decode(scrubbed), MediaCodec.decode(tagged)) match {
      case (a: MediaCodec.ImageRaster, b: MediaCodec.ImageRaster) =>
        assert(a.width === b.width && a.height === b.height)
        assert(a.pixels.toSeq === b.pixels.toSeq)
      case other => fail(s"both must decode as images: $other")
    }
    assert(MediaCodec.dHash64(MediaCodec.decode(scrubbed))
      === MediaCodec.dHash64(MediaCodec.decode(clean)))
  }

  test("JPEG: COM and APPn dropped, still decodes to the same raster") {
    val avi = MediaCodec.synthAvi(3L, 64, 48, 2 * 40L)
    val jpeg = MediaCodec.decode(avi) match {
      case v: MediaCodec.VideoMjpeg => v.frames(0)
      case other => fail(s"expected MJPEG: $other")
    }
    val tagged = MediaCodec.withJpegComment(jpeg, "shot on SECRETCAM")
    assert(ascii(tagged).contains("SECRETCAM"))
    val scrubbed = MediaCodec.stripMetadata(tagged)
    assert(!ascii(scrubbed).contains("SECRETCAM"))
    // JFIF APP0 (written by ImageIO's encoder) is gone too
    assert(!ascii(scrubbed).contains("JFIF"))
    (MediaCodec.frameRaster(scrubbed), MediaCodec.frameRaster(jpeg)) match {
      case (Some(a), Some(b)) => assert(a.pixels.toSeq === b.pixels.toSeq)
      case other => fail(s"both must decode: $other")
    }
  }

  test("WAV: LIST INFO dropped, samples and fingerprint identical") {
    val clean = MediaCodec.synthWav(5L, 600L)
    val tagged = MediaCodec.withRiffInfo(clean, "Alex Example <alex@example.com>")
    assert(ascii(tagged).contains("alex@example.com"))
    // the planted container still decodes (INFO is transparent to decode)
    val scrubbed = MediaCodec.stripMetadata(tagged)
    assert(!ascii(scrubbed).contains("alex@example.com"))
    assert(!ascii(scrubbed).contains("INFO"))
    (MediaCodec.decode(scrubbed), MediaCodec.decode(clean)) match {
      case (a: MediaCodec.AudioPcm, b: MediaCodec.AudioPcm) =>
        assert(a.sampleRate === b.sampleRate)
        assert(a.samples.toSeq === b.samples.toSeq)
      case other => fail(s"both must decode as audio: $other")
    }
    assert(MediaCodec.audioFingerprint(MediaCodec.decode(scrubbed)).toSeq
      === MediaCodec.audioFingerprint(MediaCodec.decode(tagged)).toSeq)
  }

  test("AVI: top-level INFO dropped, frame rasters and hashes untouched") {
    val clean = MediaCodec.synthAvi(9L, 48, 32, 4 * 40L)
    val tagged = MediaCodec.withRiffInfo(clean, "editor trail")
    val scrubbed = MediaCodec.stripMetadata(tagged)
    assert(!ascii(scrubbed).contains("editor trail"))
    // frames may SHRINK (the per-frame scrub drops the encoder's JFIF
    // APP0 too) but the entropy-coded stream copies verbatim, so every
    // decoded raster — and therefore every perceptual hash — is identical
    (MediaCodec.decode(scrubbed), MediaCodec.decode(clean)) match {
      case (a: MediaCodec.VideoMjpeg, b: MediaCodec.VideoMjpeg) =>
        assert(a.microsPerFrame === b.microsPerFrame)
        assert(a.frames.length === b.frames.length)
        a.frames.zip(b.frames).foreach { case (x, y) =>
          assert(x.length <= y.length)
          (MediaCodec.frameRaster(x), MediaCodec.frameRaster(y)) match {
            case (Some(fa), Some(fb)) => assert(fa.pixels.toSeq === fb.pixels.toSeq)
            case other => fail(s"both frames must decode: $other")
          }
        }
      case other => fail(s"both must decode as video: $other")
    }
  }

  test("AVI: per-frame EXIF/COM inside movi is scrubbed and idx1 rebuilt") {
    val clean = MediaCodec.synthAvi(11L, 48, 32, 4 * 40L)
    val frames = MediaCodec.decode(clean) match {
      case v: MediaCodec.VideoMjpeg => v.frames
      case other => fail(s"expected MJPEG: $other")
    }
    // plant per-frame metadata the way a camera does: inside each movi
    // frame, invisible to any top-level-only scrub
    val tagged = MediaCodec.aviBytes(
      frames.map(f => MediaCodec.withJpegComment(f, "gps 51.5,-0.1 FRAMESECRET")),
      48, 32)
    assert(ascii(tagged).contains("FRAMESECRET"))
    val scrubbed = MediaCodec.stripMetadata(tagged)
    assert(!ascii(scrubbed).contains("FRAMESECRET"),
      "per-frame metadata inside movi must not survive the scrub")
    // rasters identical to the clean original's
    (MediaCodec.decode(scrubbed), MediaCodec.decode(clean)) match {
      case (a: MediaCodec.VideoMjpeg, b: MediaCodec.VideoMjpeg) =>
        assert(a.frames.length === b.frames.length)
        a.frames.zip(b.frames).foreach { case (x, y) =>
          (MediaCodec.frameRaster(x), MediaCodec.frameRaster(y)) match {
            case (Some(fa), Some(fb)) => assert(fa.pixels.toSeq === fb.pixels.toSeq)
            case other => fail(s"both frames must decode: $other")
          }
        }
      case other => fail(s"both must decode as video: $other")
    }
    // idx1 must be rebuilt for the shrunken frames: each entry's offset
    // (relative to the movi type fourcc) must land on a frame chunk whose
    // recorded size matches the entry's
    def le32(b: Array[Byte], p: Int): Long =
      (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) |
        ((b(p + 2) & 0xffL) << 16) | ((b(p + 3) & 0xffL) << 24)
    def findChunk(b: Array[Byte], id: String): Int = {
      var p = 12
      while (p + 8 <= b.length) {
        val cid = new String(b, p, 4, "ISO-8859-1")
        val sz = le32(b, p + 4).toInt
        val lt = if (cid == "LIST" && sz >= 4) new String(b, p + 8, 4, "ISO-8859-1") else ""
        if (cid == id || lt == id) return p
        p += 8 + sz + (sz % 2)
      }
      fail(s"chunk $id not found")
    }
    val moviAt = findChunk(scrubbed, "movi")
    val idxAt = findChunk(scrubbed, "idx1")
    val nIdx = (le32(scrubbed, idxAt + 4) / 16).toInt
    assert(nIdx === frames.length, "one rebuilt idx1 entry per frame")
    (0 until nIdx).foreach { i =>
      val e = idxAt + 8 + 16 * i
      val off = le32(scrubbed, e + 8).toInt
      val sz = le32(scrubbed, e + 12).toInt
      // offsets count from the movi list's TYPE fourcc (moviAt + 8), the
      // aviBytes/players convention; the chunk header sits at that + off
      val hdr = moviAt + 8 + off
      assert(new String(scrubbed, hdr, 4, "ISO-8859-1") === "00dc",
        s"idx1 entry $i offset must land on a frame chunk header")
      assert(le32(scrubbed, hdr + 4).toInt === sz,
        s"idx1 entry $i size must match the rewritten frame chunk")
    }
  }

  test("unrecognized and malformed payloads pass through unchanged") {
    val junk = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13)
    assert(MediaCodec.stripMetadata(junk).toSeq === junk.toSeq)
    // a truncated PNG (valid signature, garbage body) must come back as-is
    val badPng = MediaCodec.synthPng(1L, 16, 16).take(20)
    assert(MediaCodec.stripMetadata(badPng).toSeq === badPng.toSeq)
  }

  test("a truncated last RIFF chunk: decode tolerates it, scrub and inventory reject it") {
    val full = MediaCodec.synthAvi(3L, 16, 16, 200L)
    val cut = full.dropRight(50) // lands inside the trailing idx1
    val fullFrames = MediaCodec.decode(full) match {
      case v: MediaCodec.VideoMjpeg => v.frames.map(_.toSeq).toSeq
      case other => fail(s"expected MJPEG: $other")
    }
    MediaCodec.decode(cut) match {
      case v: MediaCodec.VideoMjpeg => assert(v.frames.map(_.toSeq).toSeq === fullFrames)
      case other => fail(s"a cut idx1 must not cost the frames before it: $other")
    }
    assert(MediaCodec.stripMetadata(cut).toSeq === cut.toSeq)
    intercept[IllegalArgumentException](MediaCodec.chunkInventory(cut))
  }

  test("scrubMetadata/scrubMetadataStats: per-row rewrite with audit trail") {
    val rows = Seq(
      MediaRow(1L, "image",
        MediaCodec.withPngText(MediaCodec.synthPng(1L, 32, 32), "GPS", "51.5,-0.1"),
        32, 32, 0L),
      MediaRow(2L, "audio",
        MediaCodec.withRiffInfo(MediaCodec.synthWav(2L, 400L), "author x"),
        0, 0, 400L),
      MediaRow(3L, "image", MediaCodec.synthPng(3L, 32, 32), 32, 32, 0L))
      .toDS()
    val stats = Media.scrubMetadataStats(rows).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(stats(1L)._3 > 0L, "planted PNG metadata must be counted as removed")
    assert(stats(2L)._3 > 0L, "planted WAV metadata must be counted as removed")
    assert(stats.forall { case (_, (before, after, removed)) =>
      before - after == removed && removed >= 0 })
    val scrubbed = Media.scrubMetadata(rows).collect()
    assert(scrubbed.forall(r => !ascii(r.payload).contains("GPS") &&
      !ascii(r.payload).contains("author x")))
    // the clean row loses nothing but encoder-ancillary chunks at most;
    // its pixels must still decode identically
    val clean3 = scrubbed.find(_.media_id == 3L).get.payload
    (MediaCodec.decode(clean3), MediaCodec.decode(rows.collect().last.payload)) match {
      case (a: MediaCodec.ImageRaster, b: MediaCodec.ImageRaster) =>
        assert(a.pixels.toSeq === b.pixels.toSeq)
      case other => fail(s"decode mismatch: $other")
    }
  }

  // ---- byte-vs-policy tie (the q218 oracle-tier core's ground truth):
  // the RELATIONAL policy (Media.scrubKeep, DuckDB-replayed by q218)
  // must agree chunk-for-chunk with what the byte walkers actually do.

  /** Kept (kind, size) sequence per the RELATIONAL policy, evaluated
    * through the real Column expression (not a re-implementation). */
  private def policyKept(rows: Seq[MediaCodec.ChunkRow]): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.col
    rows.toDF()
      .withColumn("keep", Media.scrubKeep(col("fmt"), col("kind"),
        col("marker"), col("listType")))
      .collect()
      .filter(_.getAs[Boolean]("keep"))
      .map(r => (r.getAs[String]("kind"), r.getAs[Long]("size"))).toSeq
  }

  test("scrubKeep policy == byte scrub, chunk-for-chunk (PNG/JPEG)") {
    val png = MediaCodec.withPngText(MediaCodec.synthPng(21L, 40, 24),
      "Author", "gps 9.9,8.8")
    val avi = MediaCodec.synthAvi(22L, 48, 32, 2 * 40L)
    val jpeg = MediaCodec.withJpegComment(MediaCodec.decode(avi) match {
      case v: MediaCodec.VideoMjpeg => v.frames(0)
      case other => fail(s"expected MJPEG: $other")
    }, "SECRET")
    for (p <- Seq(png, jpeg)) {
      val before = MediaCodec.chunkInventory(p)
      val after = MediaCodec.chunkInventory(MediaCodec.stripMetadata(p))
      // kinds AND total sizes survive exactly for kept chunks: the byte
      // scrub copies them verbatim (PNG chunks, pre-SOS JPEG segments,
      // and the SOS row's verbatim entropy tail)
      assert(after.map(r => (r.kind, r.size)) === policyKept(before),
        s"policy/byte disagreement on ${before.head.fmt}")
      assert(after.size < before.size, "fixtures plant droppable metadata")
    }
  }

  test("scrubKeep policy == byte scrub at RIFF top level; movi shrink visible") {
    val wav = MediaCodec.withRiffInfo(MediaCodec.synthWav(23L, 500L), "author z")
    val beforeW = MediaCodec.chunkInventory(wav)
    val afterW = MediaCodec.chunkInventory(MediaCodec.stripMetadata(wav))
    // WAV: no nesting changes sizes, so kinds AND sizes tie exactly
    assert(afterW.map(r => (r.kind, r.size)) === policyKept(beforeW))
    val avi = MediaCodec.withRiffInfo(
      MediaCodec.synthAvi(24L, 48, 32, 3 * 40L), "editor trail")
    val beforeA = MediaCodec.chunkInventory(avi)
    val afterA = MediaCodec.chunkInventory(MediaCodec.stripMetadata(avi))
    // AVI: kept LISTs can SHRINK in place (nested INFO drops, movi
    // frames lose APPn), so the top-level tie is on the kind sequence;
    // the policy decides identically (idx1 is REBUILT by the scrub,
    // not dropped, so it appears on both sides)
    assert(afterA.map(_.kind) === policyKept(beforeA).map(_._1),
      "AVI top-level kind sequence must match the policy")
    assert(beforeA.exists(r => r.kind == "LIST" && r.listType == "INFO") &&
      !afterA.exists(r => r.listType == "INFO"),
      "the planted INFO list must be the thing the policy dropped")
  }
}
