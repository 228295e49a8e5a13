package graft.multimodal

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Dataset}

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, processed per-partition in batches.
  *
  * ALL THREE modality paths are REAL, JDK-only:
  *  - images are genuine PNGs — `javax.imageio.ImageIO` decode,
  *    `BufferedImage` bilinear resize, mean-pooled-pixel-grid embed;
  *  - audio is genuine WAV/PCM — `javax.sound.sampled.AudioSystem`
  *    decode to 16-bit samples, per-window zero-crossing-rate embed
  *    (frequency-sensitive, unlike RMS), real PCM time-seek for frame
  *    sampling;
  *  - video is genuine MJPEG-in-AVI — a RIFF/AVI container parser
  *    (`avih` µs-per-frame, `movi` `00dc` chunks) whose frames are
  *    JPEGs that `ImageIO` decodes, time-indexed frame extraction at
  *    frame = offset / µs-per-frame, mean-of-frame-embeds features.
  *    (MJPEG is the one video codec expressible over the JDK's own
  *    image decoder; an H.264 path would swap the same seam for a
  *    library decoder and nothing else changes.)
  */
object Media {

  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                      width: Int, height: Int, duration_ms: Long)

  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           checksum: Long, feature: Array[Float])

  case class FrameSample(media_id: Long, frame_idx: Int, offset_ms: Long,
                         frame_bytes: Array[Byte])

  /** Deterministic synthetic media corpus derived from the documents
    * table. Image rows carry a REAL PNG (seeded sinusoid-grating texture
    * at the row's declared width×height); audio rows a REAL WAV (seeded
    * sine tone, duration clamped to ≤2 s regardless of the metadata
    * duration — [[MediaCodec.frameAt]] clamps seeks past payload end);
    * video rows a REAL MJPEG AVI (25 fps, 2–8 seeded grating frames
    * whose phase advances per frame; frame count clamps like audio
    * duration so payloads stay small). */
  def synthesize(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      (pmod(col("doc_id"), lit(640)) + 32).cast("int").as("width"),
      (pmod(col("doc_id"), lit(480)) + 32).cast("int").as("height"),
      (col("n_chars") * 40).as("duration_ms")).as[MediaRow]
      .map { r =>
        r.kind match {
          case "image" => r.copy(payload = MediaCodec.synthPng(r.media_id, r.width, r.height))
          case "audio" => r.copy(payload = MediaCodec.synthWav(r.media_id, r.duration_ms))
          case _ => r.copy(payload =
            MediaCodec.synthAvi(r.media_id, r.width, r.height, r.duration_ms))
        }
      }
  }

  /** Per-partition batched decode + feature extraction. The iterator shape
    * (one pass, constant memory per batch) is what a Pandas-UDF/Arrow
    * pipeline would see; image, audio, AND video rows all run real JDK
    * decoders through the codec seam. */
  def decodeFeatures(media: Dataset[MediaRow], dim: Int = 8): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val decoded = MediaCodec.decode(r.payload)
        MediaFeatures(r.media_id, r.kind, r.payload.length.toLong,
          MediaCodec.checksum(r.payload), MediaCodec.embed(decoded, dim))
      }
    }
  }

  /** Decode → resize → re-encode, keeping the typed-metadata invariant
    * (width/height updated alongside the payload). Image payloads come
    * back as a real re-encoded PNG at the new dimensions. Batched per
    * partition like [[decodeFeatures]]. */
  def resized(media: Dataset[MediaRow], w: Int, h: Int): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.kind == "image")
          r.copy(payload = MediaCodec.resize(MediaCodec.decode(r.payload), w, h),
            width = w, height = h)
        else r
      }
    }
  }

  /** Multimodal × similarity composition: embed every payload via the
    * codec seam, then brute-force cosine top-k against one query media id
    * — the same broadcast + TakeOrdered shape as
    * [[graft.similarity.Similarity.knnBrute]], over decoded features
    * instead of pre-computed embeddings. */
  def nearestMedia(media: Dataset[MediaRow], queryId: Long, k: Int,
                   dim: Int = 8): DataFrame = {
    // filter BEFORE decode on both sides: the broadcast (query) branch
    // would otherwise re-run the whole-corpus codec pass to extract one row
    def feats(rows: Dataset[MediaRow]) = decodeFeatures(rows, dim)
      .select(col("media_id"), col("feature").cast("array<double>").as("feature"))
    nearestMediaFrom(feats(media.filter(col("media_id") =!= queryId)),
      feats(media.filter(col("media_id") === queryId)), k)
  }

  /** [[nearestMedia]] over an ALREADY-DECODED feature frame — the
    * production shape for repeated queries: decode the corpus once
    * ([[decodeFeatures]]), persist the `(media_id, feature)` frame, and
    * run every lookup against it without re-running the codec pass
    * (each `nearestMedia` call pays one full corpus scan + decode;
    * amortizing it is the whole point of a feature store). `queryFeats`
    * must be a 1-row frame with the same `feature` column. */
  def nearestMediaFrom(corpusFeats: DataFrame, queryFeats: DataFrame,
                       k: Int): DataFrame =
    graft.similarity.Similarity.knnBrute(
      corpusFeats, col("media_id"), col("feature"), queryFeats, col("feature"), k)

  /** (media_id, phash) for every image row — one map-side codec pass
    * (decode + 9×8 thumbnail + 64 gradient bits per image; nothing
    * shuffles). The 8-byte perceptual key is what an image-dedup pipeline
    * persists next to its index: all later passes join on it and never
    * re-decode the corpus. */
  def withPerceptualHash(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "image")
      .mapPartitions { rows =>
        rows.flatMap(r => MediaCodec.dHash64(MediaCodec.decode(r.payload))
          .map(h => (r.media_id, h)))
      }.toDF("media_id", "phash")
  }

  /** Perceptual near-dup image pairs within hamming `radius` of each
    * other's dHash — the same exact pigeonhole banding as the simhash
    * text pipeline ([[graft.dedup.Dedup.simhashNearDup]]): split the 64
    * bits into radius+1 bands, a within-radius pair must collide on at
    * least one band, so one equi-join on (band, value) replaces the
    * all-pairs comparison; popcount verifies candidates exactly.
    * `maxPostings` frequency-caps each band bucket
    * ([[graft.dedup.Dedup.capBands]] — a corpus-common value like the
    * solid-color thumbnail's dHash would otherwise make one bucket
    * quadratic in its membership); [[phashBandAuditFromHashes]]
    * reports the capped buckets. The hash frame (the expensive codec pass) is
    * persisted through `scope` — the cap count and both join sides
    * read it. */
  def phashNearDupPairs(media: Dataset[MediaRow], radius: Int = 3,
                        maxPostings: Long = 1000L,
                        scope: graft.operators.CacheScope =
                          graft.operators.CacheScope.unmanaged): DataFrame =
    phashNearDupPairsFromHashes(scope.persist(withPerceptualHash(media)),
      radius, maxPostings)

  /** [[phashNearDupPairs]] over an ALREADY-COMPUTED `(media_id, phash)`
    * frame — the production shape: the perceptual hashes are persisted
    * next to the media index and re-banded per radius without
    * re-decoding the corpus. */
  def phashNearDupPairsFromHashes(p: DataFrame, radius: Int = 3,
                                  maxPostings: Long = 1000L): DataFrame =
    graft.dedup.Dedup.hammingPairs(p, "media_id", "phash", 64, radius, maxPostings,
      ("m1", "m2"))

  /** Capped-bucket audit for [[phashNearDupPairs]] over an
    * ALREADY-COMPUTED `(media_id, phash)` frame: one row per band
    * bucket with ≥2 postings, `capped` marking the buckets the
    * frequency cap excluded — ships next to the pair output so capped
    * mass is reported, not silently vanished. Persist
    * [[withPerceptualHash]] once and feed it to both
    * [[phashNearDupPairsFromHashes]] and this audit, so the corpus
    * decodes once per run, not once per artifact. */
  def phashBandAuditFromHashes(p: DataFrame, radius: Int = 3,
                               maxPostings: Long = 1000L): DataFrame =
    graft.dedup.Dedup.bandPostingAudit(
      graft.dedup.Dedup.hammingBands(p, "media_id", "phash", 64, radius),
      Seq("band_idx", "band_val"), maxPostings)

  /** Per-row audio fingerprint: window codes + the 60-bit doc signature
    * ([[MediaCodec.audioFingerprint]]/[[MediaCodec.audioSimhash60]]).
    * Decode + DSP run in the codec mapPartitions seam like every other
    * media op; payloads too short for one window drop (nothing to
    * fingerprint — the caller sees absence, not a fake signature). */
  def withAudioFingerprint(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "audio")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val codes = MediaCodec.audioFingerprint(MediaCodec.decode(r.payload))
          if (codes.isEmpty) None
          else Some((r.media_id, codes, MediaCodec.audioSimhash60(codes)))
        }
      }.toDF("media_id", "fp_codes", "ahash")
  }

  /** Audio near-dup pairs within hamming `radius` of each other's 60-bit
    * fingerprint SimHash — same exact pigeonhole banding as
    * [[phashNearDupPairs]] (radius+1 bands over 60 bits; a
    * within-radius pair must collide on ≥1 band). Amplitude-invariant
    * by construction of the window codes. Scope: the doc-level signature
    * targets re-encoded / re-leveled COPIES; a trimmed excerpt shifts
    * the code-multiset proportions and can drift past the radius — trim
    * detection joins on the `fp_codes` posting lists instead (a prefix
    * trim's window codes are literally a subset of the original's;
    * `AudioFingerprintSpec` pins that containment). `maxPostings`
    * frequency-caps each band bucket (a corpus-common signature — the
    * silent clip — would otherwise make one bucket quadratic);
    * [[audioBandAuditFromHashes]] reports capped buckets. The fingerprint frame
    * is persisted through `scope` (cap count + both join sides). */
  def audioNearDupPairs(media: Dataset[MediaRow], radius: Int = 5,
                        maxPostings: Long = 1000L,
                        scope: graft.operators.CacheScope =
                          graft.operators.CacheScope.unmanaged): DataFrame =
    audioNearDupPairsFromHashes(
      scope.persist(withAudioFingerprint(media).select("media_id", "ahash")),
      radius, maxPostings)

  /** [[audioNearDupPairs]] over an ALREADY-COMPUTED `(media_id, ahash)`
    * frame — fingerprints persisted once, re-banded per radius. */
  def audioNearDupPairsFromHashes(p: DataFrame, radius: Int = 5,
                                  maxPostings: Long = 1000L): DataFrame =
    graft.dedup.Dedup.hammingPairs(p, "media_id", "ahash", 60, radius, maxPostings,
      ("m1", "m2"))

  /** Capped-bucket audit for [[audioNearDupPairs]] over an
    * ALREADY-COMPUTED `(media_id, ahash)` frame (see
    * [[phashBandAuditFromHashes]] — one fingerprint pass per run). */
  def audioBandAuditFromHashes(p: DataFrame, radius: Int = 5,
                               maxPostings: Long = 1000L): DataFrame =
    graft.dedup.Dedup.bandPostingAudit(
      graft.dedup.Dedup.hammingBands(p, "media_id", "ahash", 60, radius),
      Seq("band_idx", "band_val"), maxPostings)

  /** `(media_id, frame_idx, fhash)` for every video row: `nFrames`
    * evenly time-sampled frames, each decoded to its raster and
    * perceptually hashed (the same 64-bit dHash as images). One
    * map-side codec pass like [[withPerceptualHash]] — the per-video
    * frame-hash vector is what a video-dedup pipeline persists; later
    * passes join on it and never re-decode. Frames that fail to decode
    * are absent (the caller sees fewer positions, not fake hashes). */
  def withFrameHashes(media: Dataset[MediaRow], nFrames: Int = 4): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    require(nFrames >= 1, s"nFrames must be >= 1, got $nFrames")
    media.filter(col("kind") === "video")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val decoded = MediaCodec.decode(r.payload) // once per row
          (0 until nFrames).flatMap { i =>
            val off = if (nFrames == 1) 0L else r.duration_ms * i / (nFrames - 1)
            MediaCodec.frameRaster(MediaCodec.frameOf(decoded, r.payload, off))
              .flatMap(MediaCodec.dHash64)
              .map(h => (r.media_id, i, h))
          }
        }
      }.toDF("media_id", "frame_idx", "fhash")
  }

  /** Video near-dup pairs: two videos are near-dups when at least
    * `minShared` of their `nFrames` time-aligned sample positions carry
    * the IDENTICAL perceptual frame hash — re-encodes, container
    * rewrites, and resolution changes agree frame-for-frame (dHash is
    * perceptual), while different content disagrees everywhere.
    * Pigeonhole on positions: a qualifying pair must collide on at
    * least one `(frame_idx, fhash)` key, so ONE equi-join on that key
    * replaces the all-pairs comparison — the [[phashNearDupPairs]]
    * banding argument with positions as the bands; the agreement count
    * then verifies candidates exactly. Corpus-wide identical frames
    * (black intros, title cards) would fatten one join bucket into a
    * quadratic blowup, so each `(frame_idx, fhash)` posting list is
    * frequency-capped at `maxPostings`
    * ([[graft.dedup.Dedup.capBands]] — the same discipline as the text
    * shingle posting lists; a corpus-wide frame is boilerplate, not a
    * duplicate signal). Pairs agreeing ONLY on capped positions still
    * need `minShared` uncapped agreements to qualify — by design.
    * [[videoFrameBandAuditFromHashes]] reports the capped buckets. The frame-hash
    * frame (the codec pass) is persisted through `scope`. */
  def videoNearDupPairs(media: Dataset[MediaRow], nFrames: Int = 4,
                        minShared: Int = 3,
                        maxPostings: Long = 1000L,
                        scope: graft.operators.CacheScope =
                          graft.operators.CacheScope.unmanaged): DataFrame = {
    require(minShared >= 1 && minShared <= nFrames,
      s"need 1 <= minShared <= nFrames, got $minShared/$nFrames")
    videoNearDupPairsFromHashes(scope.persist(withFrameHashes(media, nFrames)),
      minShared, maxPostings)
  }

  /** [[videoNearDupPairs]] over an ALREADY-COMPUTED
    * `(media_id, frame_idx, fhash)` frame ([[withFrameHashes]] output,
    * persisted by a real pipeline) — re-thresholded without
    * re-decoding. */
  def videoNearDupPairsFromHashes(f: DataFrame, minShared: Int = 3,
                                  maxPostings: Long = 1000L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val pruned = graft.dedup.Dedup.capBands(f, Seq("frame_idx", "fhash"),
      maxPostings)
    val a = pruned.select(col("media_id").as("m1"), col("frame_idx"), col("fhash"))
    val b = pruned.select(col("media_id").as("m2"), col("frame_idx"), col("fhash"))
    a.join(b, Seq("frame_idx", "fhash"))
      .filter(col("m1") < col("m2"))
      .groupBy("m1", "m2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Capped-bucket audit for [[videoNearDupPairs]] over an
    * ALREADY-COMPUTED `(media_id, frame_idx, fhash)` frame: one row per
    * `(frame_idx, fhash)` bucket with ≥2 postings, `capped` marking the
    * buckets the frequency cap excluded (see
    * [[phashBandAuditFromHashes]] — one codec pass per run). */
  def videoFrameBandAuditFromHashes(f: DataFrame,
                                    maxPostings: Long = 1000L): DataFrame =
    graft.dedup.Dedup.bandPostingAudit(f,
      Seq("frame_idx", "fhash"), maxPostings)

  /** Evenly spaced frame-sample offsets for video/audio payloads. Audio
    * frames are REAL PCM seeks (the samples at `offset_ms`); video
    * frames are the REAL MJPEG frame at `offset_ms` (raw JPEG bytes,
    * time-indexed by the container clock). */
  def frameSample(media: Dataset[MediaRow], nFrames: Int = 4): Dataset[FrameSample] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind").isin("video", "audio")).flatMap { r =>
      val decoded = MediaCodec.decode(r.payload) // once per row, not per frame
      (0 until nFrames).map { i =>
        val off = if (nFrames == 1) 0L else r.duration_ms * i / (nFrames - 1)
        FrameSample(r.media_id, i, off, MediaCodec.frameOf(decoded, r.payload, off))
      }
    }
  }

  // -------------------------------------------------- temporal structure

  /** `(media_id, frame_idx, t_ms, fhash)` for EVERY container frame —
    * unlike [[withFrameHashes]]' evenly time-sampled `nFrames`, this is
    * the dense per-frame hash track that temporal analysis (scene cuts,
    * keyframe selection) needs: a cut between two adjacent frames is
    * invisible to a sparse sampler. One map-side codec pass per row
    * (decode once, hash each frame), zero shuffle; frames that fail to
    * decode are absent, and temporal ops compare against the previous
    * DECODED frame. This is the frame a video pipeline persists once;
    * [[sceneCutsFromHashes]] re-thresholds it without re-decoding. */
  def withEveryFrameHash(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          MediaCodec.decode(r.payload) match {
            case v: MediaCodec.VideoMjpeg =>
              v.frames.iterator.zipWithIndex.flatMap { case (jpeg, i) =>
                MediaCodec.frameRaster(jpeg).flatMap(MediaCodec.dHash64)
                  .map(h => (r.media_id, i, i * v.microsPerFrame / 1000, h))
              }
            case _ => Iterator.empty
          }
        }
      }.toDF("media_id", "frame_idx", "t_ms", "fhash")
  }

  /** Scene-cut detection over an ALREADY-COMPUTED per-frame hash track
    * ([[withEveryFrameHash]] output): a cut is an adjacent-frame dHash
    * hamming distance ≥ `threshold` (smooth motion moves a handful of
    * gradient bits per frame; a content change rewrites the whole
    * gradient field — `MediaTemporalSpec` pins both sides on planted
    * payloads; on the adversarially busy synthetic grating family the
    * measured separation is smooth ≤ 24 bits / cut ≥ 25 bits, so even
    * globally periodic full-field motion stays under a cut-sized jump).
    * Emits every frame row with `dist_prev` (hamming to the
    * previous decoded frame; null on the first) and `is_cut` (the first
    * frame is a scene start by definition). Scale shape: one narrow
    * exchange on media_id for the per-video lag window — hashes and
    * ids move, never pixels — and re-thresholding a persisted track
    * costs no codec work. */
  def sceneCutsFromHashes(f: DataFrame, threshold: Int = 16): DataFrame = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_idx")
    f.withColumn("_prev", lag(col("fhash"), 1).over(w))
      .withColumn("dist_prev",
        bit_count(col("fhash").bitwiseXOR(col("_prev"))).cast("long"))
      .withColumn("is_cut",
        col("_prev").isNull || col("dist_prev") >= threshold)
      .drop("_prev")
  }

  /** [[sceneCutsFromHashes]] from raw payloads — the hash track is
    * computed (one codec pass) and persisted through `scope` so a
    * caller composing cuts + keyframe export decodes once. */
  def sceneCuts(media: Dataset[MediaRow], threshold: Int = 16,
                scope: graft.operators.CacheScope =
                  graft.operators.CacheScope.unmanaged): DataFrame =
    sceneCutsFromHashes(scope.persist(withEveryFrameHash(media)), threshold)

  /** Scene-start frames (the keyframe selection a vision-LM sampler
    * actually wants: one frame per scene, not one per fixed interval)
    * in ONE decode pass with ZERO shuffle: scene detection is
    * per-video-sequential, so it runs inside the codec pass and only
    * the selected JPEG frames leave the task. Emits the first frame
    * plus every frame whose dHash hamming to the previous decoded
    * frame ≥ `threshold` — the same chain [[sceneCutsFromHashes]]
    * computes (parity spec-pinned), so a pipeline can re-threshold on
    * the persisted track and only re-decode when exporting frames. */
  def keyFrames(media: Dataset[MediaRow], threshold: Int = 16): Dataset[FrameSample] = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video").mapPartitions { rows =>
      rows.flatMap { r =>
        MediaCodec.decode(r.payload) match {
          case v: MediaCodec.VideoMjpeg =>
            var prev = 0L
            var havePrev = false
            v.frames.iterator.zipWithIndex.flatMap { case (jpeg, i) =>
              MediaCodec.frameRaster(jpeg).flatMap(MediaCodec.dHash64) match {
                case Some(h) =>
                  val cut = !havePrev || java.lang.Long.bitCount(h ^ prev) >= threshold
                  prev = h; havePrev = true
                  if (cut)
                    Some(FrameSample(r.media_id, i, i * v.microsPerFrame / 1000, jpeg))
                  else None
                case None => None // undecodable frame: no cut judgment
              }
            }
          case _ => Iterator.empty
        }
      }
    }
  }

  /** `(media_id, win_idx, start_ms, end_ms, rms)` per fixed-size energy
    * window over the PCM — the persistable track behind voice/sound
    * activity detection. RMS is over 16-bit samples (0..32767 scale);
    * a digital-silence window reads 0 exactly. One map-side decode
    * pass, zero shuffle; the tail partial window is emitted (its
    * `end_ms` clamps to the clip length) so trailing activity is never
    * silently dropped. Non-audio and undecodable rows are absent. */
  def withAudioEnergy(media: Dataset[MediaRow], windowMs: Int = 50): DataFrame = {
    require(windowMs >= 1, s"windowMs must be >= 1, got $windowMs")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "audio")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          MediaCodec.decode(r.payload) match {
            case MediaCodec.AudioPcm(rate, samples) if samples.length > 0 =>
              val win = math.max(1, (rate * windowMs / 1000.0).toInt)
              val nWin = (samples.length + win - 1) / win
              (0 until nWin).iterator.map { i =>
                val from = i * win
                val until = math.min(from + win, samples.length)
                var sumSq = 0.0
                var j = from
                while (j < until) {
                  val s = samples(j).toDouble
                  sumSq += s * s
                  j += 1
                }
                val rms = math.sqrt(sumSq / (until - from))
                (r.media_id, i,
                  math.round(from * 1000.0 / rate),
                  math.round(until * 1000.0 / rate),
                  rms)
              }
            case _ => Iterator.empty
          }
        }
      }.toDF("media_id", "win_idx", "start_ms", "end_ms", "rms")
  }

  /** Activity segments from an ALREADY-COMPUTED energy track
    * ([[withAudioEnergy]] output): windows with `rms ≥ minRms` are
    * active; maximal runs of consecutive active windows merge into one
    * segment (classic gaps-and-islands — `win_idx − row_number` is
    * constant exactly on a run). Emits `(media_id, seg_idx, start_ms,
    * end_ms, n_windows, mean_rms)` ordered per clip. Scale shape: the
    * filter drops silence BEFORE the window exchange, so the shuffle
    * carries active windows only — a mostly-silent corpus (the common
    * case for raw field audio) shrinks, not grows, on the wire. */
  def audioActivityFromEnergy(e: DataFrame, minRms: Double = 1000.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("win_idx")
    e.filter(col("rms") >= minRms)
      .withColumn("_island", col("win_idx") - row_number().over(w))
      .groupBy(col("media_id"), col("_island"))
      .agg(min("start_ms").as("start_ms"), max("end_ms").as("end_ms"),
        count(lit(1)).as("n_windows"), round(avg("rms"), 3).as("mean_rms"))
      .withColumn("seg_idx", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("media_id").orderBy("start_ms")).cast("long"))
      .select("media_id", "seg_idx", "start_ms", "end_ms", "n_windows", "mean_rms")
  }

  /** [[audioActivityFromEnergy]] from raw payloads — the energy track
    * is computed (one decode pass) and persisted through `scope` so
    * re-thresholding or pairing segments with per-clip stats shares
    * the decode. */
  def audioActivity(media: Dataset[MediaRow], windowMs: Int = 50,
                    minRms: Double = 1000.0,
                    scope: graft.operators.CacheScope =
                      graft.operators.CacheScope.unmanaged): DataFrame =
    audioActivityFromEnergy(scope.persist(withAudioEnergy(media, windowMs)), minRms)

  // ----------------------------------------------------- metadata scrub

  /** Privacy scrub for media payloads: every row's payload rewritten by
    * [[MediaCodec.stripMetadata]] — PNG ancillary chunks (tEXt/eXIf/…),
    * JPEG APPn/COM segments (EXIF GPS lives in APP1), RIFF INFO/JUNK
    * chunks at every nesting level (WAV author/copyright fields), AND
    * the APPn/COM segments of every MJPEG frame inside an AVI's movi
    * list (real camera MJPEG carries per-frame EXIF/GPS — a top-level
    * scrub would silently ship it) are DROPPED at the byte level while
    * the compressed pixel/sample payload is untouched byte-for-byte
    * (no decode→re-encode round-trip: re-encoding would silently
    * change compression, checksums, and perceptual hashes —
    * `MediaScrubSpec` pins dHash/fingerprint invariance; AVI frames
    * shrink when segments are dropped, so idx1 is rebuilt, but the
    * entropy-coded stream — and therefore every decoded raster and
    * persisted hash — is copied verbatim). Unrecognized containers
    * pass through. Zero shuffle — a pure per-row rewrite. */
  def scrubMetadata(media: Dataset[MediaRow]): Dataset[MediaRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map(r => r.copy(payload = MediaCodec.stripMetadata(r.payload)))
  }

  /** [[scrubMetadata]] with the release audit trail: `(media_id, kind,
    * bytes_before, bytes_after, bytes_removed)` — what a data-card's
    * "metadata removed" line aggregates. Same single pass (the scrub
    * runs once per row; stats are a projection of it). */
  def scrubMetadataStats(media: Dataset[MediaRow]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.map { r =>
      val clean = MediaCodec.stripMetadata(r.payload)
      (r.media_id, r.kind, r.payload.length.toLong, clean.length.toLong,
        (r.payload.length - clean.length).toLong)
    }.toDF("media_id", "kind", "bytes_before", "bytes_after", "bytes_removed")
  }

  /** Temporal-media DATA CARD: the release-facing summary of the
    * corpus's persisted temporal tracks — what a multimodal dataset
    * card's "video/audio characteristics" section reports
    * ([[graft.operators.Release.dataCard]] covers the text corpus;
    * this covers the clips). Inputs are the PERSISTED track operators'
    * outputs ([[sceneCutsFromHashes]] rows and
    * [[audioActivityFromEnergy]] segments — both re-readable without a
    * codec pass, the FromSigs discipline), so the card costs two
    * track-sized aggregations and one 1-row cross join; the corpus
    * payloads are never touched.
    *
    * One row: (n_video_clips, n_frames, n_cuts, cut_rate_ppm — cuts
    * per frame in ppm; every clip's first frame counts as a cut, the
    * scene-start convention [[sceneCutsFromHashes]] emits —
    * mean_scene_frames_micro, n_audio_clips, n_segments, speech_ms,
    * mean_seg_ms_micro). Exact integers and staged micro-ratios
    * throughout; NULL ratios on empty inputs rather than fake zeros. */
  def temporalCard(cuts: DataFrame, segments: DataFrame): DataFrame = {
    import graft.operators.Sampling.microRatioSql
    val v = cuts.agg(
        countDistinct("media_id").as("n_video_clips"),
        count(lit(1)).as("n_frames"),
        // coalesce like speech_ms: COUNTS are 0 on empty inputs, only
        // the ratio columns go NULL (the documented contract)
        coalesce(sum(when(col("is_cut"), 1L).otherwise(0L)), lit(0L))
          .as("n_cuts"))
      .withColumn("cut_rate_ppm",
        when(col("n_frames") > 0L,
          expr(microRatioSql("n_cuts", "n_frames", "div"))))
      .withColumn("mean_scene_frames_micro",
        when(col("n_cuts") > 0L,
          expr(microRatioSql("n_frames", "n_cuts", "div"))))
    val a = segments.agg(
        countDistinct("media_id").as("n_audio_clips"),
        count(lit(1)).as("n_segments"),
        coalesce(sum(col("end_ms") - col("start_ms")), lit(0L)).as("speech_ms"))
      .withColumn("mean_seg_ms_micro",
        when(col("n_segments") > 0L,
          expr(microRatioSql("speech_ms", "n_segments", "div"))))
    v.crossJoin(a) // both sides are 1 row
  }

  /** Oracle-tier DECISION CORE of the metadata scrub (the q213/q214
    * two-tier discipline: the byte walkers stay spec-tier, the
    * keep/strip POLICY gets a DuckDB twin): over a container-inventory
    * row `(fmt, kind, marker, list_type)`, the boolean
    * [[MediaCodec.stripMetadata]] applies to that chunk/segment —
    *   - `png`: keep CRITICAL chunks (bit 5 of the first type byte
    *     clear, i.e. uppercase first letter) plus `tRNS`;
    *   - `jpeg`: keep everything except APPn (markers 0xE0–0xEF) and
    *     COM (0xFE);
    *   - `riff`: keep everything except `JUNK`, `id3 `, and
    *     `LIST INFO`;
    *   - any other fmt: keep (unrecognized containers pass through).
    * The SAME rules stripPng/stripJpeg/stripRiff hard-code over bytes,
    * expressed relationally so an external engine can audit a scrub
    * manifest; `MediaScrubSpec` pins byte-vs-policy agreement
    * chunk-for-chunk on real payloads via [[MediaCodec.chunkInventory]],
    * and q218 hash-matches the policy + audit arithmetic tri-scale. */
  def scrubKeep(fmt: Column, kind: Column, marker: Column,
                listType: Column): Column =
    when(fmt === "png",
      (ascii(substring(kind, 1, 1)).bitwiseAND(lit(32)) === 0) ||
        kind === "tRNS")
      .when(fmt === "jpeg", !(marker.between(224, 239) || marker === 254))
      .when(fmt === "riff", !(kind.isin("JUNK", "id3 ") ||
        (kind === "LIST" && listType === "INFO")))
      .otherwise(lit(true))

  /** The scrub-manifest audit over an inventory frame: per (doc, fmt),
    * chunk and byte movement under [[scrubKeep]] — what a release data
    * card's "metadata removed" line reports WITHOUT re-reading payloads
    * (the inventory is a byte-free projection a single codec pass
    * emits). Pure groupBy — one map-side-combinable aggregation. */
  def scrubPolicyAudit(inv: DataFrame, docCol: Column, fmtCol: Column,
                       kindCol: Column, markerCol: Column,
                       listTypeCol: Column, sizeCol: Column): DataFrame =
    inv.select(docCol.as("doc"), fmtCol.as("fmt"),
        sizeCol.cast("long").as("_sz"),
        scrubKeep(fmtCol, kindCol, markerCol, listTypeCol).as("_keep"))
      .groupBy("doc", "fmt")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("_keep"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("_keep"), col("_sz")).otherwise(0L)).as("bytes_kept"),
        sum(when(!col("_keep"), col("_sz")).otherwise(0L)).as("bytes_dropped"))

  // ------------------------------------------------------- normalization

  /** Audio sample-rate normalization (the audio twin of [[resized]]):
    * every audio payload re-rendered at `targetRate` Hz — an audio
    * encoder consumes fixed-rate batches, and raw corpora mix rates.
    * Linear interpolation over the decoded PCM (the JDK conversion
    * path's quality class; a production pipeline swaps the interpolator
    * at this seam and nothing else changes), rewritten as a standard
    * WAV. Non-audio rows and undecodable payloads pass through
    * unchanged. Zero shuffle — per-row local, like the whole codec
    * family. */
  def resampledAudio(media: Dataset[MediaRow], targetRate: Float): Dataset[MediaRow] = {
    require(targetRate >= 1000f && targetRate <= 192000f,
      s"targetRate out of range: $targetRate")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.kind != "audio") r
        else MediaCodec.decode(r.payload) match {
          case MediaCodec.AudioPcm(rate, samples) if samples.length > 0 =>
            r.copy(payload = MediaCodec.pcmToWav(
              MediaCodec.resamplePcm(samples, rate, targetRate), targetRate))
          case _ => r
        }
      }
    }
  }

  /** Video frame-rate normalization (the temporal twin of [[resized]]):
    * every video re-timed to `targetFps` by sampling the source frame
    * covering each target tick (nearest-frame pull — frames duplicate
    * when slowing down, drop when speeding up; no re-encode of the
    * pulled JPEGs). Duration is preserved to the tick. Non-video and
    * undecodable rows pass through. Zero shuffle. */
  def retimedVideo(media: Dataset[MediaRow], targetFps: Int): Dataset[MediaRow] = {
    require(targetFps >= 1 && targetFps <= 240, s"targetFps out of range: $targetFps")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.kind != "video") r
        else MediaCodec.decode(r.payload) match {
          case v: MediaCodec.VideoMjpeg if v.frames.nonEmpty =>
            val durationUs = v.microsPerFrame * v.frames.length
            val targetUsPerFrame = 1000000L / targetFps
            val n = math.max(1L, durationUs / targetUsPerFrame).toInt
            val pulled = (0 until n).map { i =>
              val srcIdx = ((i.toLong * targetUsPerFrame) / v.microsPerFrame).toInt
              v.frames(math.min(srcIdx, v.frames.length - 1))
            }
            r.copy(payload = MediaCodec.aviBytes(pulled, r.width, r.height,
              targetUsPerFrame))
          case _ => r
        }
      }
    }
  }
}

/** The codec seam. All three modalities are REAL, JDK-only:
  * `ImageIO` for PNG/JPEG/BMP/GIF, `javax.sound.sampled` for WAV/PCM,
  * and a RIFF/AVI parser for MJPEG video whose frames `ImageIO`
  * decodes (see module doc). Decode sniffs the payload container;
  * anything unrecognized passes through as opaque bytes (quarantine,
  * not a crash — the histogram-embed fallback). */
object MediaCodec {
  import java.awt.image.{BufferedImage, DataBufferByte}
  import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
  import javax.imageio.ImageIO
  import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

  // executors shouldn't churn temp-dir files per decoded image
  ImageIO.setUseCache(false)

  /** Decoded payload, by sniffed container. */
  sealed trait Decoded
  /** Grayscale pixels, row-major, one byte per pixel. */
  final case class ImageRaster(width: Int, height: Int, pixels: Array[Byte]) extends Decoded
  /** 16-bit mono PCM samples. */
  final case class AudioPcm(sampleRate: Float, samples: Array[Short]) extends Decoded
  /** MJPEG video: the raw JPEG bytes of each frame, in display order,
    * plus the container's µs-per-frame clock (frame i covers
    * [i·µspf, (i+1)·µspf)). Frames decode lazily via ImageIO — the
    * parser itself never inflates pixels it isn't asked for. */
  final case class VideoMjpeg(microsPerFrame: Long, frames: Array[Array[Byte]]) extends Decoded
  /** Unrecognized container: opaque bytes (quarantine passthrough). */
  final case class Opaque(bytes: Array[Byte]) extends Decoded

  private val PngSig = Array(0x89, 'P', 'N', 'G').map(_.toByte)

  private def looksLikeImage(payload: Array[Byte]): Boolean =
    payload.length >= 4 && (
      payload.startsWith(PngSig) ||                                   // PNG
      (payload(0) == 0xff.toByte && payload(1) == 0xd8.toByte) ||     // JPEG
      (payload(0) == 'B' && payload(1) == 'M') ||                     // BMP
      (payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F'))  // GIF

  private def isRiff(payload: Array[Byte], form: String): Boolean =
    payload.length >= 12 &&
      payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' && payload(3) == 'F' &&
      payload(8) == form(0) && payload(9) == form(1) &&
      payload(10) == form(2) && payload(11) == form(3)

  private def looksLikeWav(payload: Array[Byte]): Boolean = isRiff(payload, "WAVE")

  private def looksLikeAvi(payload: Array[Byte]): Boolean = isRiff(payload, "AVI ")

  private def toGray(img: BufferedImage): BufferedImage =
    if (img.getType == BufferedImage.TYPE_BYTE_GRAY) img
    else {
      val g = new BufferedImage(img.getWidth, img.getHeight, BufferedImage.TYPE_BYTE_GRAY)
      val g2 = g.createGraphics()
      g2.drawImage(img, 0, 0, null)
      g2.dispose()
      g
    }

  private def grayImage(r: ImageRaster): BufferedImage = {
    val img = new BufferedImage(r.width, r.height, BufferedImage.TYPE_BYTE_GRAY)
    System.arraycopy(r.pixels, 0,
      img.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData, 0, r.pixels.length)
    img
  }

  private def encodePng(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic seeded grayscale PNG. The texture is LOW-FREQUENCY
    * (seeded sinusoid gratings), not hash noise, on purpose: mean-pooled
    * embeddings of white noise all collapse to ≈0.5 per cell, which would
    * make every synthetic image trivially "similar" — gratings give each
    * seed a distinct pooled signature. */
  def synthPng(seed: Long, w: Int, h: Int): Array[Byte] =
    encodePng(grating(seed, w, h, 0.0))

  /** The shared seeded-grating renderer behind [[synthPng]] and
    * [[synthAvi]] frames; `phaseShift` advances the texture per video
    * frame (motion, deterministically). */
  private def grating(seed: Long, w: Int, h: Int, phaseShift: Double): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val px = img.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
    val fx = 1 + math.floorMod(seed, 5L).toInt
    val fy = 1 + math.floorMod(seed / 5, 5L).toInt
    val phase = math.floorMod(seed, 360L).toDouble.toRadians + phaseShift
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (math.sin(fx * math.Pi * x / w + phase) *
          math.cos(fy * math.Pi * y / h) * 0.5 + 0.5) * 255.0
        px(y * w + x) = v.round.toInt.max(0).min(255).toByte
        x += 1
      }
      y += 1
    }
    img
  }

  private val WavRate = 8000f

  /** Deterministic seeded WAV: an 8 kHz 16-bit mono tone with seeded
    * HARMONICS. Fundamental = 150 + (seed mod 211)·5 Hz (3rd harmonic
    * stays sub-Nyquist), 2nd/3rd harmonic weights stride (seed mod 13)
    * and (seed mod 31), amplitude (seed mod 89) — coprime moduli, so no
    * two docs in a few-hundred-doc corpus share a timbre. The harmonic
    * mix matters: a PURE tone's (ZCR, RMS) embedding is effectively
    * 2-dimensional and near-parallel for neighboring seeds (everything
    * cosine-rounds to 1.0); harmonics spread the embedding across all
    * windows' crossing statistics. Duration clamps to [200 ms, 2 s] so
    * synthetic payloads stay small. */
  def synthWav(seed: Long, durationMs: Long): Array[Byte] = {
    val f0 = 150.0 + math.floorMod(seed, 211L) * 5.0
    val h2 = math.floorMod(seed, 13L) / 20.0
    val h3 = math.floorMod(seed, 31L) / 40.0
    val amp = (0.25 + math.floorMod(seed, 89L) * 0.004) / (1.0 + h2 + h3)
    val ms = durationMs.max(200L).min(2000L)
    val n = (WavRate * ms / 1000).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val t = 2 * math.Pi * f0 * i / WavRate
      val v = math.sin(t) + h2 * math.sin(2 * t) + h3 * math.sin(3 * t)
      val s = (v * amp * 32767).toInt.toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(WavRate, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  // ---------------------------------------------------------------- video

  /** 25 fps: the MJPEG clock every synthetic payload declares. */
  private val AviMicrosPerFrame = 40000L

  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private def le32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def readLe32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val pad = body.length % 2 // RIFF chunks are word-aligned
    fourcc(id) ++ le32(body.length) ++ body ++ Array.fill[Byte](pad)(0)
  }

  private def list(listType: String, children: Array[Byte]): Array[Byte] =
    chunk("LIST", fourcc(listType) ++ children)

  private def encodeJpeg(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  /** Assemble an MJPEG AVI from already-encoded JPEG frames: RIFF('AVI ')
    * → LIST hdrl (avih + LIST strl(strh 'vids'/'MJPG' + strf
    * BITMAPINFOHEADER)) → LIST movi ('00dc' per frame) → idx1. The
    * standard container layout, so the payloads also open in any
    * external AVI player — nothing about the format is private to this
    * parser. */
  def aviBytes(jpegFrames: Seq[Array[Byte]], w: Int, h: Int,
               microsPerFrame: Long = AviMicrosPerFrame): Array[Byte] = {
    require(jpegFrames.nonEmpty, "an AVI needs at least one frame")
    require(microsPerFrame > 0,
      s"microsPerFrame must be positive, got $microsPerFrame")
    val n = jpegFrames.length
    val fps = 1000000L / microsPerFrame
    val avih = le32(microsPerFrame) ++ le32(0) ++ le32(0) ++ le32(0x10 /*HASINDEX*/) ++
      le32(n) ++ le32(0) ++ le32(1 /*streams*/) ++ le32(0) ++
      le32(w) ++ le32(h) ++ Array.fill[Byte](16)(0)
    val strh = fourcc("vids") ++ fourcc("MJPG") ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(1 /*scale*/) ++ le32(fps /*rate*/) ++ le32(0) ++ le32(n /*length*/) ++
      le32(0) ++ le32(-1 /*quality*/) ++ le32(0) ++
      Array.fill[Byte](8)(0) /*rcFrame*/
    val strf = le32(40) ++ le32(w) ++ le32(h) ++
      Array[Byte](1, 0, 24, 0) /*planes=1, bitCount=24*/ ++ fourcc("MJPG") ++
      le32(w.toLong * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val frameChunks = jpegFrames.map(j => chunk("00dc", j))
    val movi = list("movi", frameChunks.toArray.flatten)
    // idx1 offsets are relative to the movi list's type fourcc
    val idx = new ByteArrayOutputStream()
    var off = 4L
    jpegFrames.foreach { j =>
      idx.write(fourcc("00dc")); idx.write(le32(0x10 /*KEYFRAME*/))
      idx.write(le32(off)); idx.write(le32(j.length))
      off += 8 + j.length + (j.length % 2)
    }
    val body = fourcc("AVI ") ++ hdrl ++ movi ++ chunk("idx1", idx.toByteArray)
    fourcc("RIFF") ++ le32(body.length) ++ body
  }

  /** Deterministic seeded MJPEG AVI: 25 fps, frame count = duration
    * clamped to [2, 8] frames, each frame the seed's grating with phase
    * advanced π/8 per frame (deterministic motion — consecutive frames
    * are near-dups, distant frames differ, the shape real video has). */
  def synthAvi(seed: Long, w: Int, h: Int, durationMs: Long): Array[Byte] = {
    val n = (durationMs / (AviMicrosPerFrame / 1000)).max(2L).min(8L).toInt
    aviBytes((0 until n).map(i =>
      encodeJpeg(grating(seed, w, h, i * math.Pi / 8))), w, h)
  }

  /** [[synthAvi]] with a planted HARD CUT: frames before `cutAt` render
    * `seedA`'s grating (phase advancing per frame — smooth motion),
    * frames from `cutAt` on render scene B's (its phase walk restarts)
    * — two scenes in one container, the ground truth the scene-cut
    * specs and query assert against.
    *
    * The cut is guaranteed HARD by MEASUREMENT, not hope: scene B's
    * seed starts at `seedB` and walks (+7 per step, deterministic)
    * until the cut frame's dHash hamming distance to the last scene-A
    * frame is ≥ 32 — comfortably past the family's scene-cut decision
    * boundary (smooth motion ≤ 24, threshold 25). Without the check, a
    * caller's natural `seedB = seedA + 5000` can land on a grating
    * whose spatial frequencies and phase happen to produce a sub-
    * threshold jump (`grating` derives its frequencies from the seed
    * mod 25 and 5000 ≡ 0 mod 25 — only the phase changes, and even a
    * frequency change does not bound the gradient-sign flip count), so
    * the docstring's ground-truth claim would hold only for lucky
    * `(seedA, seedB, cutAt)`. Fixture-generation cost: one extra
    * candidate-frame encode+hash per rejected seed, typically zero. */
  def synthAviCut(seedA: Long, seedB: Long, w: Int, h: Int, nFrames: Int,
                  cutAt: Int): Array[Byte] = {
    require(nFrames >= 2 && cutAt >= 1 && cutAt < nFrames,
      s"need 1 <= cutAt < nFrames (>= 2), got $cutAt/$nFrames")
    def hashOf(seed: Long, phaseShift: Double): Long =
      frameRaster(encodeJpeg(grating(seed, w, h, phaseShift)))
        .flatMap(dHash64).getOrElse(
          throw new IllegalStateException("synthetic frame must decode"))
    val preCutHash = hashOf(seedA, (cutAt - 1) * math.Pi / 8)
    val sB = Iterator.iterate(seedB)(_ + 7).take(512)
      .find(s => java.lang.Long.bitCount(hashOf(s, 0.0) ^ preCutHash) >= 32)
      .getOrElse(throw new IllegalStateException(
        s"no strong-cut seed near $seedB for ${w}x$h"))
    aviBytes((0 until nFrames).map { i =>
      if (i < cutAt) encodeJpeg(grating(seedA, w, h, i * math.Pi / 8))
      else encodeJpeg(grating(sB, w, h, (i - cutAt) * math.Pi / 8))
    }, w, h)
  }

  /** [[synthWav]] with planted DIGITAL-SILENCE gaps: the seeded harmonic
    * tone plays for `toneMs`, then `gapMs` of exact zeros, repeating to
    * `durationMs` (clamped like [[synthWav]]) — the ground truth the
    * voice-activity specs and query assert against (active segments =
    * the tone runs, to window resolution). */
  def synthWavGapped(seed: Long, durationMs: Long, toneMs: Long,
                     gapMs: Long): Array[Byte] = {
    require(toneMs >= 1 && gapMs >= 1, s"need positive toneMs/gapMs, got $toneMs/$gapMs")
    val base = synthWav(seed, durationMs)
    val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(base))
    val fmt = ais.getFormat
    val bytes = ais.readAllBytes()
    val n = bytes.length / 2
    val period = toneMs + gapMs
    var i = 0
    while (i < n) {
      val ms = (i * 1000.0 / fmt.getSampleRate).toLong
      if (ms % period >= toneMs) { bytes(2 * i) = 0; bytes(2 * i + 1) = 0 }
      i += 1
    }
    val out = new ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(new ByteArrayInputStream(bytes),
      fmt, n.toLong), AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Parse an MJPEG AVI: walk the RIFF tree for `avih` (µs-per-frame)
    * and the `movi` list's `..dc`/`..db` frame chunks. Tolerant of
    * unknown chunks (skipped by size) and missing idx1 (the index is
    * redundant with a full scan); malformed containers return None and
    * the payload quarantines as Opaque. */
  private def parseAvi(payload: Array[Byte]): Option[VideoMjpeg] = {
    var microsPerFrame = AviMicrosPerFrame
    val frames = Vector.newBuilder[Array[Byte]]
    def isFrameId(id: String): Boolean =
      id.length == 4 && (id.endsWith("dc") || id.endsWith("db"))
    def walk(from: Int, until: Int, inMovi: Boolean, depth: Int): Unit = {
      // real AVI nests LISTs ~3 deep; a crafted payload of back-to-back
      // LIST headers would otherwise recurse once per level and throw
      // StackOverflowError — an Error the quarantine catch below does
      // NOT intercept. Bound the depth so malformed nesting stays an
      // Exception and the row quarantines as Opaque like any other
      // malformed container.
      if (depth > 32)
        throw new IllegalArgumentException("RIFF list nesting too deep")
      var p = from
      while (p + 8 <= until) {
        val id = new String(payload, p, 4, "US-ASCII")
        val size = readLe32(payload, p + 4).toInt
        // a size whose u32 wraps negative would walk p BACKWARD and spin
        // forever — malformed container, abort to the Opaque quarantine
        if (size < 0) throw new IllegalArgumentException(s"bad RIFF chunk size $size")
        val dataStart = p + 8
        val dataEnd = math.min(dataStart + size, until)
        if (id == "LIST" && size >= 4) {
          val listType = new String(payload, dataStart, 4, "US-ASCII")
          walk(dataStart + 4, dataEnd, inMovi || listType == "movi", depth + 1)
        } else if (id == "avih" && size >= 4) {
          microsPerFrame = readLe32(payload, dataStart)
        } else if (inMovi && isFrameId(id) && size > 0) {
          frames += java.util.Arrays.copyOfRange(payload, dataStart, dataEnd)
        }
        p = dataStart + size + (size % 2)
      }
    }
    try {
      walk(12, payload.length, inMovi = false, depth = 0)
      val fs = frames.result()
      if (fs.isEmpty || microsPerFrame <= 0) None
      else Some(VideoMjpeg(microsPerFrame, fs.toArray))
    } catch { case _: Exception => None }
  }

  /** Decode one MJPEG frame to the grayscale raster the image pipeline
    * uses — same ImageIO path as top-level images. */
  def frameRaster(jpeg: Array[Byte]): Option[ImageRaster] =
    try {
      val img = ImageIO.read(new ByteArrayInputStream(jpeg))
      if (img == null) None
      else {
        val g = toGray(img)
        Some(ImageRaster(g.getWidth, g.getHeight,
          g.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData))
      }
    } catch { case _: Exception => None }

  /** Real decode for recognized containers (ImageIO → grayscale raster,
    * AudioSystem → 16-bit PCM, RIFF/AVI walk → MJPEG frame list);
    * opaque passthrough otherwise. */
  def decode(payload: Array[Byte]): Decoded =
    if (looksLikeImage(payload)) {
      // guard like the WAV branch: payloads can match an image magic by
      // accident (text starting with "BM"/"GIF" — the stub-video rows
      // carry raw text), and ImageIO then throws on the garbage body;
      // a malformed image must quarantine as Opaque, not kill the task
      try {
        val img = ImageIO.read(new ByteArrayInputStream(payload))
        if (img == null) Opaque(payload)
        else {
          val g = toGray(img)
          val px = g.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
          ImageRaster(g.getWidth, g.getHeight, px)
        }
      } catch { case _: Exception => Opaque(payload) }
    } else if (looksLikeWav(payload)) {
      try {
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
        val fmt = ais.getFormat
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) Opaque(payload)
        else {
          val bytes = ais.readAllBytes()
          val n = bytes.length / 2
          val samples = new Array[Short](n)
          var i = 0
          while (i < n) {
            // WAV PCM is little-endian
            samples(i) = (((bytes(2 * i + 1) & 0xff) << 8) | (bytes(2 * i) & 0xff)).toShort
            i += 1
          }
          AudioPcm(fmt.getSampleRate, samples)
        }
      } catch { case _: Exception => Opaque(payload) }
    } else if (looksLikeAvi(payload)) {
      parseAvi(payload).getOrElse(Opaque(payload))
    } else Opaque(payload)

  def checksum(payload: Array[Byte]): Long =
    payload.foldLeft(1469598103934665603L)((h, b) => (h ^ (b & 0xff)) * 1099511628211L)

  // -------------------------------------------------------- PCM helpers

  /** Linear-interpolation PCM resample. Sample i of the output reads
    * source position i·(srcRate/dstRate); fractional positions blend
    * the two neighbors. Output length = ceil(n · dstRate / srcRate),
    * so duration is preserved to the sample. */
  def resamplePcm(samples: Array[Short], srcRate: Float, dstRate: Float): Array[Short] = {
    require(srcRate > 0 && dstRate > 0, s"rates must be positive: $srcRate -> $dstRate")
    if (srcRate == dstRate) samples
    else {
      val n = math.ceil(samples.length.toDouble * dstRate / srcRate).toInt
      val out = new Array[Short](n)
      val step = srcRate.toDouble / dstRate
      var i = 0
      while (i < n) {
        val pos = i * step
        val lo = pos.toInt
        val hi = math.min(lo + 1, samples.length - 1)
        val frac = pos - lo
        out(i) = (samples(math.min(lo, samples.length - 1)) * (1 - frac) +
          samples(hi) * frac).toShort
        i += 1
      }
      out
    }
  }

  /** Render 16-bit mono PCM as a standard little-endian WAV. */
  def pcmToWav(samples: Array[Short], rate: Float): Array[Byte] = {
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xff).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(bytes), fmt,
      samples.length.toLong)
    val out = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  // ------------------------------------------------------ metadata strip

  /** Byte-surgical metadata removal (see [[Media.scrubMetadata]]):
    * container chunks/segments that carry METADATA are dropped; the
    * compressed image/sample data is copied verbatim. Malformed
    * structures return the payload unchanged (scrubbing must never
    * corrupt — the quarantine stance of [[decode]]). */
  def stripMetadata(payload: Array[Byte]): Array[Byte] =
    try {
      if (startsWith(payload, PngSig)) stripPng(payload)
      else if (payload.length >= 3 && (payload(0) & 0xff) == 0xFF &&
        (payload(1) & 0xff) == 0xD8) stripJpeg(payload)
      else if (payload.length >= 12 &&
        new String(payload, 0, 4, "US-ASCII") == "RIFF") stripRiff(payload)
      else payload
    } catch { case _: Exception => payload }

  private def startsWith(payload: Array[Byte], sig: Array[Byte]): Boolean =
    payload.length >= sig.length && sig.indices.forall(i => payload(i) == sig(i))

  /** PNG: keep CRITICAL chunks (uppercase first type letter — IHDR,
    * PLTE, IDAT, IEND) plus `tRNS` (ancillary but render-affecting);
    * drop every other ancillary chunk — tEXt/iTXt/zTXt (author,
    * copyright), eXIf (GPS), tIME, pHYs, iCCP, … Per-chunk CRCs copy
    * with their chunks, so the output is a valid PNG. */
  private def stripPng(payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(payload, 0, 8)
    var p = 8
    while (p + 12 <= payload.length) {
      val len = ((payload(p) & 0xff) << 24) | ((payload(p + 1) & 0xff) << 16) |
        ((payload(p + 2) & 0xff) << 8) | (payload(p + 3) & 0xff)
      if (len < 0 || p + 12 + len > payload.length)
        throw new IllegalArgumentException("bad PNG chunk")
      val tpe = new String(payload, p + 4, 4, "US-ASCII")
      val critical = (payload(p + 4) & 0x20) == 0
      if (critical || tpe == "tRNS") out.write(payload, p, 12 + len)
      p += 12 + len
    }
    out.toByteArray
  }

  /** JPEG: drop APPn (0xE0–0xEF — EXIF lives in APP1, thumbnails and
    * editor fingerprints in the others) and COM (0xFE) segments; from
    * SOS on, the entropy-coded stream copies verbatim. JFIF's APP0 is
    * dropped too — decoders don't need it (spec-pinned through the
    * real ImageIO decode). */
  private def stripJpeg(payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(0xFF); out.write(0xD8)
    var p = 2
    var done = false
    while (!done && p + 2 <= payload.length) {
      if ((payload(p) & 0xff) != 0xFF)
        throw new IllegalArgumentException("bad JPEG segment")
      val marker = payload(p + 1) & 0xff
      if (marker == 0xDA) { // SOS: copy the rest verbatim
        out.write(payload, p, payload.length - p)
        done = true
      } else if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) {
        out.write(payload, p, 2); p += 2 // standalone markers
      } else {
        if (p + 4 > payload.length)
          throw new IllegalArgumentException("truncated JPEG segment")
        val len = ((payload(p + 2) & 0xff) << 8) | (payload(p + 3) & 0xff)
        if (len < 2 || p + 2 + len > payload.length)
          throw new IllegalArgumentException("bad JPEG segment length")
        val drop = (marker >= 0xE0 && marker <= 0xEF) || marker == 0xFE
        if (!drop) out.write(payload, p, 2 + len)
        p += 2 + len
      }
    }
    if (!done) throw new IllegalArgumentException("JPEG without SOS")
    out.toByteArray
  }

  /** RIFF (WAV, AVI): drop `LIST INFO` (author/copyright/software
    * fields), `JUNK`, and `id3 ` chunks at EVERY nesting level, and —
    * the part a top-level-only scrub silently misses — recurse into the
    * `movi` list and run [[stripJpeg]] on each `..dc`/`..db` MJPEG
    * frame, because real camera MJPEG AVIs carry per-frame EXIF/GPS in
    * APPn segments. Frame pixels are untouched (APPn never affects the
    * entropy-coded stream), so every persisted perceptual hash stays
    * valid; a frame that is not a parseable JPEG (some other codec)
    * copies verbatim — scrubbing must never corrupt.
    *
    * Because stripped frames SHRINK, the original `idx1` offsets and
    * sizes go stale; the scrub rebuilds `idx1` from the rewritten
    * `movi` (offsets relative to the list's type fourcc, the standard
    * convention), pairing per-entry flags with the original index in
    * chunk order — the scrub never drops a movi child, so order pairing
    * is exact. An AVI without `idx1` stays without one. The RIFF size
    * and every kept LIST size are re-patched. If the original index's
    * entry count does not match the movi children (a broken index), the
    * index is DROPPED rather than guessed — players and [[parseAvi]]
    * recover by scanning movi — which also keeps the never-grow
    * invariant ([[MediaProperties]]) unconditional. */
  private def stripRiff(payload: Array[Byte]): Array[Byte] = {
    val isAvi = payload.length >= 12 &&
      new String(payload, 8, 4, "US-ASCII") == "AVI "
    // (id, flags) per original idx1 entry, in order — flags re-attach to
    // the rebuilt index; None when the container has no idx1.
    var origIdx: Option[Vector[(Array[Byte], Array[Byte])]] = None
    // (id, offset-from-movi-fourcc, size) per direct child of the NEW movi
    val newEntries = Vector.newBuilder[(Array[Byte], Long, Int)]
    var sawMovi = false

    def isFrameId(id: String): Boolean =
      id.length == 4 && (id.endsWith("dc") || id.endsWith("db"))
    def looksJpeg(from: Int, size: Int): Boolean =
      size >= 3 && (payload(from) & 0xff) == 0xFF && (payload(from + 1) & 0xff) == 0xD8

    /** Rewrite the children in [from, until); returns the new body. */
    def stripChildren(from: Int, until: Int, inMovi: Boolean,
                      topLevel: Boolean, depth: Int): Array[Byte] = {
      if (depth > 32)
        throw new IllegalArgumentException("RIFF list nesting too deep")
      val body = new ByteArrayOutputStream()
      var p = from
      while (p + 8 <= until) {
        val id = new String(payload, p, 4, "US-ASCII")
        val size = readLe32(payload, p + 4).toInt
        if (size < 0) throw new IllegalArgumentException("bad RIFF chunk size")
        if (p + 8 + size > until)
          throw new IllegalArgumentException("truncated RIFF chunk")
        val total = 8 + size + (size % 2)
        val listType =
          if (id == "LIST" && size >= 4) new String(payload, p + 8, 4, "US-ASCII")
          else ""
        val drop = id == "JUNK" || id == "id3 " || listType == "INFO"
        if (!drop) {
          if (topLevel && isAvi && id == "idx1") {
            // capture (id, flags) per 16-byte entry; rebuilt at the end
            val entries = Vector.newBuilder[(Array[Byte], Array[Byte])]
            var q = p + 8
            while (q + 16 <= p + 8 + size) {
              entries += ((payload.slice(q, q + 4), payload.slice(q + 4, q + 8)))
              q += 16
            }
            origIdx = Some(entries.result())
          } else if (id == "LIST") {
            val thisIsMovi = isAvi && listType == "movi"
            if (thisIsMovi) sawMovi = true
            val inner = stripChildren(p + 12, p + 8 + size, thisIsMovi,
              topLevel = false, depth + 1)
            body.write(fourcc("LIST")); body.write(le32(inner.length + 4L))
            body.write(payload, p + 8, 4) // list type fourcc
            body.write(inner)
            if ((inner.length + 4) % 2 == 1) body.write(0)
          } else {
            val data =
              if (inMovi && isFrameId(id) && looksJpeg(p + 8, size))
                try stripJpeg(payload.slice(p + 8, p + 8 + size))
                catch { case _: Exception => payload.slice(p + 8, p + 8 + size) }
              else payload.slice(p + 8, p + 8 + size)
            if (inMovi)
              // offset counts from the movi type fourcc: 4 (the fourcc
              // itself) + bytes of children already written
              newEntries += ((fourcc(id), 4L + body.size(), data.length))
            body.write(payload, p, 4) // chunk id
            body.write(le32(data.length.toLong))
            body.write(data)
            if (data.length % 2 == 1) body.write(0)
          }
        }
        p += total
      }
      body.toByteArray
    }

    val bodyBytes =
      stripChildren(12, payload.length, inMovi = false, topLevel = true, 0)
    val out = new ByteArrayOutputStream()
    val entries = newEntries.result()
    val idx1 = origIdx match {
      case Some(orig) if sawMovi && orig.length == entries.length =>
        // same chunk sequence as the original movi (the scrub never drops
        // a movi child), so order pairing of the original flags is exact
        val b = new ByteArrayOutputStream()
        entries.zipWithIndex.foreach { case ((id, off, sz), i) =>
          b.write(id); b.write(orig(i)._2)
          b.write(le32(off)); b.write(le32(sz.toLong))
        }
        val ib = b.toByteArray
        fourcc("idx1") ++ le32(ib.length.toLong) ++ ib
      case _ => Array.emptyByteArray
    }
    out.write(fourcc("RIFF"))
    out.write(le32(bodyBytes.length + 4L + idx1.length))
    out.write(payload, 8, 4) // form type (WAVE / AVI )
    out.write(bodyBytes)
    out.write(idx1)
    out.toByteArray
  }

  // ------------------------------------------------ container inventory

  /** One structural chunk/segment of a media container, as the
    * byte-free projection [[chunkInventory]] emits: `fmt` ∈
    * {png, jpeg, riff}, `kind` the chunk type / marker mnemonic /
    * RIFF id, `marker` the JPEG marker byte (−1 elsewhere),
    * `listType` a RIFF LIST's type fourcc ("" elsewhere), `size` the
    * chunk's TOTAL container bytes (header + payload + CRC/padding —
    * so Σ size over dropped rows is exactly the byte shrink a
    * same-structure scrub produces). */
  final case class ChunkRow(fmt: String, pos: Int, kind: String,
                            marker: Int, listType: String, size: Long)

  /** Walk a container's TOP-LEVEL structure into [[ChunkRow]]s — the
    * inventory [[Media.scrubKeep]] decides over. PNG: every chunk
    * (size = 12 + len). JPEG: every marker segment up to and including
    * SOS (whose size extends to EOF — the entropy stream copies
    * verbatim through a scrub, so it belongs to the SOS row).
    * RIFF: every direct child of the form (LIST children are NOT
    * recursed — nested INFO drops and movi-frame JPEG stripping shrink
    * a kept LIST in place, which the top-level inventory sees only as
    * that LIST's size; `MediaScrubSpec`'s byte-tie therefore compares
    * kind sequences for RIFF and full rows for PNG/JPEG). Malformed
    * payloads throw — inventory is a diagnostic tool; the scrub's own
    * quarantine stance lives in [[stripMetadata]]. */
  def chunkInventory(payload: Array[Byte]): Seq[ChunkRow] = {
    val rows = Vector.newBuilder[ChunkRow]
    if (startsWith(payload, PngSig)) {
      var p = 8; var i = 0
      while (p + 12 <= payload.length) {
        val len = ((payload(p) & 0xff) << 24) | ((payload(p + 1) & 0xff) << 16) |
          ((payload(p + 2) & 0xff) << 8) | (payload(p + 3) & 0xff)
        if (len < 0 || p + 12 + len > payload.length)
          throw new IllegalArgumentException("bad PNG chunk")
        rows += ChunkRow("png", i, new String(payload, p + 4, 4, "US-ASCII"),
          -1, "", 12L + len)
        p += 12 + len; i += 1
      }
    } else if (payload.length >= 3 && (payload(0) & 0xff) == 0xFF &&
      (payload(1) & 0xff) == 0xD8) {
      var p = 2; var i = 0; var done = false
      while (!done && p + 2 <= payload.length) {
        if ((payload(p) & 0xff) != 0xFF)
          throw new IllegalArgumentException("bad JPEG segment")
        val marker = payload(p + 1) & 0xff
        if (marker == 0xDA) {
          rows += ChunkRow("jpeg", i, "SOS", marker, "",
            (payload.length - p).toLong)
          done = true
        } else if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) {
          rows += ChunkRow("jpeg", i, f"m$marker%02X", marker, "", 2L)
          p += 2; i += 1
        } else {
          if (p + 4 > payload.length)
            throw new IllegalArgumentException("truncated JPEG segment")
          val len = ((payload(p + 2) & 0xff) << 8) | (payload(p + 3) & 0xff)
          if (len < 2 || p + 2 + len > payload.length)
            throw new IllegalArgumentException("bad JPEG segment length")
          rows += ChunkRow("jpeg", i, f"m$marker%02X", marker, "", 2L + len)
          p += 2 + len; i += 1
        }
      }
      if (!done) throw new IllegalArgumentException("JPEG without SOS")
    } else if (payload.length >= 12 &&
      new String(payload, 0, 4, "US-ASCII") == "RIFF") {
      var p = 12; var i = 0
      while (p + 8 <= payload.length) {
        val id = new String(payload, p, 4, "US-ASCII")
        val size = readLe32(payload, p + 4).toInt
        if (size < 0 || p + 8 + size > payload.length)
          throw new IllegalArgumentException("bad RIFF chunk")
        val listType =
          if (id == "LIST" && size >= 4) new String(payload, p + 8, 4, "US-ASCII")
          else ""
        val total = 8L + size + (size % 2)
        rows += ChunkRow("riff", i, id, -1, listType, total)
        p += total.toInt; i += 1
      }
    } else throw new IllegalArgumentException("unrecognized container")
    rows.result()
  }

  // ---- deterministic metadata PLANTERS (spec/query fixtures) ----------

  /** Insert a PNG `tEXt` chunk (keyword\0text, correct CRC) right after
    * IHDR — the planted metadata the scrub specs/query remove. */
  def withPngText(png: Array[Byte], keyword: String, text: String): Array[Byte] = {
    val data = keyword.getBytes("ISO-8859-1") ++ Array[Byte](0) ++
      text.getBytes("ISO-8859-1")
    val crc = new java.util.zip.CRC32()
    crc.update("tEXt".getBytes("US-ASCII")); crc.update(data)
    val chunk = Array(
      ((data.length >> 24) & 0xff).toByte, ((data.length >> 16) & 0xff).toByte,
      ((data.length >> 8) & 0xff).toByte, (data.length & 0xff).toByte) ++
      "tEXt".getBytes("US-ASCII") ++ data ++ Array(
      ((crc.getValue >> 24) & 0xff).toByte, ((crc.getValue >> 16) & 0xff).toByte,
      ((crc.getValue >> 8) & 0xff).toByte, (crc.getValue & 0xff).toByte)
    // IHDR is always the first chunk: sig(8) + len(4)+type(4)+13+crc(4)
    val ihdrEnd = 8 + 12 + 13
    png.slice(0, ihdrEnd) ++ chunk ++ png.slice(ihdrEnd, png.length)
  }

  /** Insert a JPEG `COM` segment right after SOI. */
  def withJpegComment(jpeg: Array[Byte], comment: String): Array[Byte] = {
    val data = comment.getBytes("ISO-8859-1")
    val len = data.length + 2
    jpeg.slice(0, 2) ++
      Array(0xFF.toByte, 0xFE.toByte, ((len >> 8) & 0xff).toByte,
        (len & 0xff).toByte) ++ data ++ jpeg.slice(2, jpeg.length)
  }

  /** Insert a RIFF `LIST INFO` chunk (IART artist field) right after the
    * form type, patching the RIFF size. */
  def withRiffInfo(riff: Array[Byte], artist: String): Array[Byte] = {
    val info = list("INFO", chunk("IART", artist.getBytes("ISO-8859-1")))
    val out = new ByteArrayOutputStream()
    out.write(fourcc("RIFF"))
    out.write(le32(readLe32(riff, 4) + info.length))
    out.write(riff, 8, 4)
    out.write(info)
    out.write(riff, 12, riff.length - 12)
    out.toByteArray
  }

  // ------------------------------------------------------------- audio fp

  /** Fingerprint analysis window / hop (samples @ the payload's rate). */
  val FpWindow = 1024
  val FpHop = 512

  /** 13 log-spaced probe frequencies, 200–3200 Hz (sub-Nyquist at the
    * 8 kHz synth rate) → 12 adjacent-band comparisons per window. */
  val FpFreqs: Array[Double] =
    (0 until 13).map(i => 200.0 * math.pow(3200.0 / 200.0, i / 12.0)).toArray

  /** Goertzel single-bin energy — the right DSP tool when only a handful
    * of bins are probed (O(n) per bin, no FFT dependency, exact). */
  def goertzel(samples: Array[Short], start: Int, len: Int,
               rate: Float, freq: Double): Double = {
    val coeff = 2.0 * math.cos(2.0 * math.Pi * freq / rate)
    var s1 = 0.0; var s2 = 0.0
    var i = 0
    while (i < len) {
      val s0 = samples(start + i) + coeff * s1 - s2
      s2 = s1; s1 = s0; i += 1
    }
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  /** Chromaprint-style audio fingerprint: per window, a 12-bit code with
    * bit b = [energy(band b) > energy(band b+1)] — the SIGN of the
    * spectral slope between adjacent probe bands. Comparing energies
    * (never thresholding them) makes the code exactly amplitude-
    * invariant: scaling every sample by a scales every band energy by
    * a², and the comparisons cancel it. Returns one code per window
    * (hop [[FpHop]]); non-audio and too-short payloads fingerprint to
    * empty. */
  def audioFingerprint(decoded: Decoded): Array[Long] = decoded match {
    case AudioPcm(rate, samples) if samples.length >= FpWindow =>
      val out = Array.newBuilder[Long]
      var st = 0
      while (st + FpWindow <= samples.length) {
        val e = FpFreqs.map(f => goertzel(samples, st, FpWindow, rate, f))
        var code = 0L
        var b = 0
        while (b < FpFreqs.length - 1) {
          if (e(b) > e(b + 1)) code |= 1L << b
          b += 1
        }
        out += code
        st += FpHop
      }
      out.result()
    case _ => Array.empty
  }

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 60-bit SimHash over the window codes (each code mixed through
    * splitmix64 so adjacent codes decorrelate across bits): the doc-level
    * audio signature. 60 bits so the hamming banding radii divide evenly
    * (the [[graft.dedup.Dedup.simhashNearDup]] convention). */
  def audioSimhash60(codes: Array[Long]): Long = {
    val acc = new Array[Int](60)
    codes.foreach { c =>
      val h = splitmix64(c)
      var i = 0
      while (i < 60) {
        if (((h >>> i) & 1L) == 1L) acc(i) += 1 else acc(i) -= 1
        i += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 60) { if (acc(i) > 0) sig |= 1L << i; i += 1 }
    sig
  }

  /** Feature embedding by decoded kind. Images: mean-pooled pixel grid
    * (`dim` rectangular cells, ⌈√dim⌉ columns, mean luma 0..1 each).
    * Audio: zero-crossing rate + amplitude-level profile. Video: the
    * MEAN of the per-frame image embeds — motion-blind on purpose (the
    * dedup/similarity use is "same clip re-encoded / trimmed", where
    * the time-averaged appearance is the stable signature; frame-level
    * features come from [[frameOf]] + the image embed). Opaque:
    * byte-histogram fold (quarantined payloads still embed
    * deterministically). */
  def embed(decoded: Decoded, dim: Int): Array[Float] = {
    val acc = new Array[Float](dim)
    decoded match {
      case VideoMjpeg(_, frames) =>
        var n = 0
        frames.foreach { j =>
          frameRaster(j).foreach { r =>
            val fe = embed(r, dim)
            var d = 0
            while (d < dim) { acc(d) += fe(d); d += 1 }
            n += 1
          }
        }
        if (n > 0) { var d = 0; while (d < dim) { acc(d) /= n; d += 1 } }
      case ImageRaster(w, h, pixels) =>
        val cols = math.ceil(math.sqrt(dim.toDouble)).toInt
        val rows = math.ceil(dim.toDouble / cols).toInt
        var d = 0
        while (d < dim) {
          val cx = d % cols; val cy = d / cols
          val x0 = cx * w / cols; val x1 = math.max((cx + 1) * w / cols, x0 + 1).min(w)
          val y0 = cy * h / rows; val y1 = math.max((cy + 1) * h / rows, y0 + 1).min(h)
          if (x0 < w && y0 < h) {
            var sum = 0L; var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) { sum += pixels(y * w + x) & 0xff; x += 1 }
              y += 1
            }
            acc(d) = sum.toFloat / ((x1 - x0) * (y1 - y0)) / 255.0f
          }
          d += 1
        }
      case AudioPcm(_, samples) =>
        // feature 0: zero-crossing rate (pitch); features 1..dim-1: the
        // amplitude-level profile — fraction of samples above each of
        // dim−1 rising |level| thresholds, i.e. the waveform-shape CDF.
        // NOT per-window stats: a stationary signal has identical stats
        // in every window, which collapses any windowed embedding to one
        // direction per (pitch, loudness) pair — the level profile stays
        // genuinely multi-dimensional for steady signals.
        val n = samples.length
        if (n > 1) {
          var crossings = 0
          var i = 1
          while (i < n) {
            if ((samples(i) >= 0) != (samples(i - 1) >= 0)) crossings += 1
            i += 1
          }
          acc(0) = crossings.toFloat / (n - 1)
          var d = 1
          while (d < dim) {
            val th = (0.7 * d / dim) * 32767.0
            var above = 0; var j = 0
            while (j < n) {
              if (math.abs(samples(j).toDouble) > th) above += 1
              j += 1
            }
            acc(d) = above.toFloat / n
            d += 1
          }
        }
      case Opaque(bytes) =>
        var i = 0
        while (i < bytes.length) {
          acc(i % dim) += (bytes(i) & 0xff) / 255.0f
          i += 1
        }
    }
    acc
  }

  /** Resize. Images: bilinear `BufferedImage` rescale, re-encoded as
    * PNG. Video: every MJPEG frame bilinear-rescaled and the AVI
    * container rebuilt at the new dimensions (same clock, same frame
    * count). Audio/opaque keep the byte-stream resample stand-in
    * (output size tracks the requested dimensions like a real bitmap
    * would) — [[Media.resized]] only exercises the image path. */
  def resize(decoded: Decoded, w: Int, h: Int): Array[Byte] = decoded match {
    case r: ImageRaster =>
      val dst = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
      val g2 = dst.createGraphics()
      g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g2.drawImage(grayImage(r), 0, 0, w, h, null)
      g2.dispose()
      encodePng(dst)
    case VideoMjpeg(mpf, frames) =>
      aviBytes(frames.toSeq.map { j =>
        val src = frameRaster(j).getOrElse(ImageRaster(1, 1, Array[Byte](0)))
        val dst = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
        val g2 = dst.createGraphics()
        g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g2.drawImage(grayImage(src), 0, 0, w, h, null)
        g2.dispose()
        encodeJpeg(dst)
      }, w, h, mpf)
    case other =>
      val src = other match {
        case AudioPcm(_, samples) => samples.flatMap(s =>
          Array((s & 0xff).toByte, ((s >> 8) & 0xff).toByte))
        case Opaque(bytes) => bytes
        case _ => Array.empty[Byte]
      }
      val n = math.max(w * h, 1)
      val out = new Array[Byte](n)
      if (src.nonEmpty) {
        var i = 0
        while (i < n) {
          out(i) = src((i.toLong * src.length / n).toInt)
          i += 1
        }
      }
      out
  }

  /** 64-bit difference hash (dHash) of a decoded image: bilinear-resize
    * to a 9×8 grayscale thumbnail, set bit (y·8+x) when
    * px(y,x) > px(y,x+1). Gradient SIGNS survive uniform brightness /
    * contrast shifts, re-encoding, and resizing — the classic perceptual
    * near-dup key (visually-identical images land within a few bits,
    * where a byte checksum sees nothing). Non-image payloads yield None:
    * images dedup via dHash, audio/video via the embed path. */
  def dHash64(decoded: Decoded): Option[Long] = decoded match {
    case r: ImageRaster =>
      val dst = new BufferedImage(9, 8, BufferedImage.TYPE_BYTE_GRAY)
      val g2 = dst.createGraphics()
      g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g2.drawImage(grayImage(r), 0, 0, 9, 8, null)
      g2.dispose()
      val px = dst.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
      var bits = 0L
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if ((px(y * 9 + x) & 0xff) > (px(y * 9 + x + 1) & 0xff))
            bits |= 1L << (y * 8 + x)
          x += 1
        }
        y += 1
      }
      Some(bits)
    case _ => None
  }

  /** Frame/sample extraction at a time offset. WAV payloads get a REAL
    * PCM seek — the 4 samples (8 bytes) at `offsetMs`, clamped to the
    * payload's actual duration. MJPEG AVI payloads get the REAL frame:
    * index = offsetMs·1000 / µs-per-frame (clamped to the last frame),
    * returned as that frame's raw JPEG bytes. Unrecognized payloads
    * keep the deterministic byte-slice stand-in. Batch callers
    * extracting several frames from one payload should decode once and
    * use [[frameOf]] — this convenience form pays a full decode per
    * call. */
  def frameAt(payload: Array[Byte], offsetMs: Long): Array[Byte] =
    frameOf(decode(payload), payload, offsetMs)

  /** [[frameAt]] over an already-decoded payload (the n-frames-per-row
    * path decodes once, seeks n times). */
  def frameOf(decoded: Decoded, payload: Array[Byte], offsetMs: Long): Array[Byte] =
    decoded match {
      case VideoMjpeg(mpf, frames) if frames.nonEmpty =>
        val idx = (offsetMs * 1000 / mpf).min(frames.length - 1L).max(0L).toInt
        frames(idx)
      case AudioPcm(rate, samples) if samples.nonEmpty =>
        val idx = ((offsetMs * rate / 1000).toLong).min(samples.length - 1L).max(0L).toInt
        val out = new Array[Byte](math.min(8, (samples.length - idx) * 2))
        var i = 0
        while (i < out.length / 2) {
          val s = samples(idx + i)
          out(2 * i) = (s & 0xff).toByte
          out(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        out
      case _ =>
        val start = ((offsetMs % math.max(payload.length, 1)).toInt)
          .min(math.max(payload.length - 8, 0))
        payload.slice(start, math.min(start + 8, payload.length))
    }
}
