package graft.multimodal

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck properties for the pure (no-Spark) media container logic. */
object MediaProperties extends Properties("graft.multimodal") {

  private val frame: Gen[Array[Byte]] =
    Gen.nonEmptyListOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)

  property("AVI write->parse round-trips arbitrary frame payloads byte-exactly") =
    Prop.forAll(Gen.nonEmptyListOf(frame), Gen.chooseNum(1, 128),
      Gen.chooseNum(1, 128), Gen.chooseNum(1000L, 100000L)) { (frames, w, h, mpf) =>
      MediaCodec.decode(MediaCodec.aviBytes(frames, w, h, mpf)) match {
        case MediaCodec.VideoMjpeg(m, fs) =>
          m == mpf && fs.length == frames.length &&
            fs.zip(frames).forall { case (a, b) => java.util.Arrays.equals(a, b) }
        case _ => false
      }
    }

  property("frameOf indexes by time and clamps to the last frame") =
    Prop.forAll(Gen.nonEmptyListOf(frame), Gen.chooseNum(0L, 10000L)) { (frames, offMs) =>
      val mpf = 40000L
      val avi = MediaCodec.aviBytes(frames, 8, 8, mpf)
      val want = frames(((offMs * 1000 / mpf) min (frames.length - 1L)).toInt)
      java.util.Arrays.equals(MediaCodec.frameAt(avi, offMs), want)
    }

  property("decode never throws on arbitrary byte soup (quarantines instead)") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bytes =>
      MediaCodec.decode(bytes.toArray) match {
        case _: MediaCodec.Decoded => true
      }
    }

  property("deeply nested LIST chains quarantine instead of overflowing the stack") =
    Prop.forAll(Gen.chooseNum(100, 20000)) { levels =>
      // a crafted RIFF('AVI ') of back-to-back LIST headers, one nesting
      // level per 12 bytes — random soup never generates this shape, and
      // without a depth bound it recursed once per level
      val out = new java.io.ByteArrayOutputStream()
      def word(s: String): Unit = out.write(s.getBytes("US-ASCII"))
      def le32(v: Int): Unit =
        out.write(Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte))
      val total = 12 + 12 * levels
      word("RIFF"); le32(total - 8); word("AVI ")
      (0 until levels).foreach { i =>
        word("LIST"); le32(total - 12 * (i + 1) - 8); word("lst ")
      }
      MediaCodec.decode(out.toByteArray) match {
        case _: MediaCodec.VideoMjpeg => false // no frames in there
        case _ => true                         // quarantined, no throw
      }
    }

  property("stripMetadata never throws and never grows a payload") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { bytes =>
      val out = MediaCodec.stripMetadata(bytes.toArray)
      out.length <= math.max(bytes.length, 12) // RIFF header floor
    }

  private val printable: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString).map(_.take(64))

  property("PNG: planted tEXt of arbitrary content strips; pixels identical") =
    Prop.forAll(Gen.chooseNum(1L, 5000L), Gen.chooseNum(8, 64),
      Gen.chooseNum(8, 64), printable, printable) { (seed, w, h, key, value) =>
      val clean = MediaCodec.synthPng(seed, w, h)
      val scrubbed = MediaCodec.stripMetadata(
        MediaCodec.withPngText(clean, key, value))
      (MediaCodec.decode(scrubbed), MediaCodec.decode(clean)) match {
        case (a: MediaCodec.ImageRaster, b: MediaCodec.ImageRaster) =>
          !new String(scrubbed, "ISO-8859-1").contains("tEXt") &&
            java.util.Arrays.equals(a.pixels, b.pixels)
        case _ => false
      }
    }

  property("WAV: planted INFO of arbitrary content strips; samples identical") =
    Prop.forAll(Gen.chooseNum(1L, 5000L), Gen.chooseNum(200L, 1500L),
      printable) { (seed, ms, artist) =>
      val clean = MediaCodec.synthWav(seed, ms)
      val scrubbed = MediaCodec.stripMetadata(
        MediaCodec.withRiffInfo(clean, artist))
      (MediaCodec.decode(scrubbed), MediaCodec.decode(clean)) match {
        case (a: MediaCodec.AudioPcm, b: MediaCodec.AudioPcm) =>
          java.util.Arrays.equals(a.samples.map(_.toInt), b.samples.map(_.toInt))
        case _ => false
      }
    }

  // ---- adversarial container shapes for the metadata scrub ------------
  // The scrub's contract is passthrough-or-clean-strip, NEVER corruption:
  // these generate the container pathologies a crawl actually serves
  // (multi-APP1 JPEG, metadata nested inside kept lists, chunk lengths
  // past EOF) and hold the decode-identity invariant on every payload.

  private def w32(v: Int): Array[Byte] =
    Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")
  private def riffChunk(id: String, data: Array[Byte]): Array[Byte] =
    cc(id) ++ w32(data.length) ++ data ++
      (if (data.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
  private def riffList(tpe: String, body: Array[Byte]): Array[Byte] =
    riffChunk("LIST", cc(tpe) ++ body)

  private def jpegOf(seed: Long): Array[Byte] =
    MediaCodec.decode(MediaCodec.synthAvi(seed, 32, 24, 80L)) match {
      case MediaCodec.VideoMjpeg(_, fs) => fs(0)
      case other => sys.error(s"expected MJPEG: $other")
    }

  property("JPEG: every one of N planted APP1/EXIF segments strips; raster identical") =
    Prop.forAll(Gen.chooseNum(1L, 500L), Gen.chooseNum(1, 5),
      printable) { (seed, n, content) =>
      val jpeg = jpegOf(seed)
      val app1 = {
        val data = cc("Exif") ++ Array[Byte](0, 0) ++ cc("GPSSECRET:") ++ content.getBytes("ISO-8859-1")
        val len = data.length + 2
        Array(0xFF.toByte, 0xE1.toByte, ((len >> 8) & 0xff).toByte,
          (len & 0xff).toByte) ++ data
      }
      val tagged = jpeg.slice(0, 2) ++
        Array.fill(n)(app1).flatten ++ jpeg.slice(2, jpeg.length)
      val scrubbed = MediaCodec.stripMetadata(tagged)
      (!new String(scrubbed, "ISO-8859-1").contains("GPSSECRET")) && {
        (MediaCodec.frameRaster(scrubbed), MediaCodec.frameRaster(jpeg)) match {
          case (Some(a), Some(b)) => java.util.Arrays.equals(a.pixels, b.pixels)
          case _ => false
        }
      }
    }

  property("RIFF: INFO nested inside a kept LIST strips; samples identical") =
    Prop.forAll(Gen.chooseNum(1L, 5000L), Gen.chooseNum(200L, 800L),
      printable) { (seed, ms, artist) =>
      val wav = MediaCodec.synthWav(seed, ms)
      val nested = riffList("misc",
        riffList("INFO", riffChunk("IART", cc("NESTEDSECRET:" + artist))) ++
          riffChunk("JUNK", Array.fill[Byte](6)(0x7f)))
      val tagged = wav.slice(0, 4) ++ w32(wav.length - 8 + nested.length) ++
        wav.slice(8, wav.length) ++ nested
      val scrubbed = MediaCodec.stripMetadata(tagged)
      (!new String(scrubbed, "ISO-8859-1").contains("NESTEDSECRET")) && {
        (MediaCodec.decode(scrubbed), MediaCodec.decode(wav)) match {
          case (a: MediaCodec.AudioPcm, b: MediaCodec.AudioPcm) =>
            java.util.Arrays.equals(a.samples.map(_.toInt), b.samples.map(_.toInt))
          case _ => false
        }
      }
    }

  property("chunk lengths past EOF pass through byte-identically (PNG/RIFF/JPEG)") =
    Prop.forAll(Gen.chooseNum(1L, 5000L), Gen.chooseNum(0, 2)) { (seed, kind) =>
      val malformed = kind match {
        case 0 => // PNG: append a tEXt header claiming 2^24 bytes of data
          MediaCodec.synthPng(seed, 16, 16) ++
            Array[Byte](1, 0, 0, 0) ++ cc("tEXt") ++ cc("boom")
        case 1 => // RIFF: append a chunk whose size runs past EOF
          val wav = MediaCodec.synthWav(seed, 200L)
          val tail = cc("id3 ") ++ w32(1 << 24) ++ cc("xx")
          wav.slice(0, 4) ++ w32(wav.length - 8 + tail.length) ++
            wav.slice(8, wav.length) ++ tail
        case _ => // JPEG: truncate mid-segment (before any SOS copy)
          jpegOf(seed).slice(0, 5)
      }
      val out = MediaCodec.stripMetadata(malformed)
      java.util.Arrays.equals(out, malformed)
    }

  // ---- hostile mutations of REAL containers ----------------------------
  // Byte soup almost never carries a valid signature, so the walkers
  // behind the signatures only meet malformed input here: a real PNG,
  // JPEG, WAV, AVI or metadata-planted AVI, truncated at a random offset
  // or with one declared length overwritten by an extreme or random value
  // (lengths near 2^31 are the ones that overflow an Int bounds check).

  private def plantedAvi(seed: Long): Array[Byte] =
    MediaCodec.decode(MediaCodec.synthAvi(seed, 24, 16, 120L)) match {
      case MediaCodec.VideoMjpeg(mpf, fs) => MediaCodec.withRiffInfo(
        MediaCodec.aviBytes(fs.toSeq.map(MediaCodec.withJpegComment(_, s"cam-$seed")),
          24, 16, mpf), s"artist-$seed")
      case other => sys.error(s"expected MJPEG: $other")
    }

  /** (offset, width, littleEndian) of every length field the container
    * declares: PNG and JPEG from the inventory's top-level rows, RIFF at
    * the form header and after every known chunk id at any depth. */
  private def lengthFields(p: Array[Byte]): Seq[(Int, Int, Boolean)] = {
    val rows = MediaCodec.chunkInventory(p)
    val starts = rows.scanLeft(0L)(_ + _.size).init.map(_.toInt)
    rows.head.fmt match {
      case "png" => starts.map(s => (8 + s, 4, false))
      case "jpeg" => rows.zip(starts).filter(_._1.size > 2).map(r => (2 + r._2 + 2, 2, false))
      case _ =>
        val ids = Set("LIST", "avih", "strh", "strf", "00dc", "idx1", "fmt ", "data", "IART")
        (4, 4, true) +: (12 until p.length - 8 by 2)
          .filter(i => ids(new String(p, i, 4, "ISO-8859-1"))).map(i => (i + 4, 4, true))
    }
  }

  private val extremeLength: Gen[Long] = Gen.frequency(
    3 -> Gen.oneOf(0x7FFFFFF0L, 0x7FFFFFF8L, 0x7FFFFFFFL, 0x80000000L, 0xFFFFFFFFL,
      0xFFFFL, 0L, 1L, 3L),
    1 -> Gen.chooseNum(0L, 0xFFFFFFFFL))

  private val hostileContainer: Gen[Array[Byte]] = for {
    seed <- Gen.chooseNum(1L, 5000L)
    base <- Gen.oneOf[Long => Array[Byte]](
      s => MediaCodec.synthPng(s, 16, 12), jpegOf(_), s => MediaCodec.synthWav(s, 200L),
      s => MediaCodec.synthAvi(s, 24, 16, 120L), plantedAvi(_))
    truncate <- Gen.oneOf(true, false)
    at <- Gen.chooseNum(0, Int.MaxValue)
    value <- extremeLength
  } yield {
    val clean = base(seed)
    if (truncate) clean.take(at % clean.length)
    else {
      val fields = lengthFields(clean)
      val (off, width, le) = fields(at % fields.length)
      val out = clean.clone()
      (0 until width).foreach { k =>
        val shift = 8 * (if (le) k else width - 1 - k)
        out(off + k) = (value >>> shift).toByte
      }
      out
    }
  }

  property("mutated real containers: decode/strip never throw, inventory rejects cleanly") =
    Prop.forAll(hostileContainer) { payload =>
      val decoded = MediaCodec.decode(payload)
      val stripped = MediaCodec.stripMetadata(payload)
      val inventory =
        try { MediaCodec.chunkInventory(payload); true }
        catch { case _: IllegalArgumentException => true }
      decoded.isInstanceOf[MediaCodec.Decoded] && stripped.length <= payload.length && inventory
    }

  property("decode-identity invariant holds on every scrubbed payload shape") =
    Prop.forAll(Gen.chooseNum(1L, 5000L), Gen.chooseNum(0, 3)) { (seed, shape) =>
      val payload = shape match {
        case 0 => MediaCodec.withPngText(MediaCodec.synthPng(seed, 24, 24),
          "Author", s"gps-$seed")
        case 1 => MediaCodec.withRiffInfo(MediaCodec.synthWav(seed, 300L),
          s"artist-$seed")
        case 2 => MediaCodec.synthAviCut(seed, seed + 5000L, 32, 24, 4, 2)
        case _ => MediaCodec.synthAvi(seed, 32, 24, 120L)
      }
      val scrubbed = MediaCodec.stripMetadata(payload)
      (MediaCodec.decode(payload), MediaCodec.decode(scrubbed)) match {
        case (a: MediaCodec.ImageRaster, b: MediaCodec.ImageRaster) =>
          java.util.Arrays.equals(a.pixels, b.pixels)
        case (a: MediaCodec.AudioPcm, b: MediaCodec.AudioPcm) =>
          java.util.Arrays.equals(a.samples.map(_.toInt), b.samples.map(_.toInt))
        case (a: MediaCodec.VideoMjpeg, b: MediaCodec.VideoMjpeg) =>
          a.frames.length == b.frames.length &&
            a.frames.zip(b.frames).forall { case (x, y) =>
              (MediaCodec.frameRaster(x), MediaCodec.frameRaster(y)) match {
                case (Some(fa), Some(fb)) =>
                  java.util.Arrays.equals(fa.pixels, fb.pixels)
                case _ => false
              }
            }
        case _ => false
      }
    }

  property("resamplePcm: identity at equal rates; length = ceil(n*dst/src)") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(Short.MinValue, Short.MaxValue)),
      Gen.chooseNum(2000, 48000), Gen.chooseNum(2000, 48000)) { (xs, src, dst) =>
      val s = xs.map(_.toShort).toArray
      val out = MediaCodec.resamplePcm(s, src.toFloat, dst.toFloat)
      val wantLen = math.ceil(s.length.toDouble * dst / src).toInt
      (src != dst || (out eq s)) && (src == dst || out.length == wantLen)
    }

  property("pcmToWav -> decode round-trips samples byte-exactly") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.chooseNum(Short.MinValue, Short.MaxValue)),
      Gen.oneOf(8000f, 16000f, 44100f)) { (xs, rate) =>
      val s = xs.map(_.toShort).toArray
      MediaCodec.decode(MediaCodec.pcmToWav(s, rate)) match {
        case MediaCodec.AudioPcm(r, got) =>
          r == rate && java.util.Arrays.equals(got.map(_.toInt), s.map(_.toInt))
        case _ => false
      }
    }
}
