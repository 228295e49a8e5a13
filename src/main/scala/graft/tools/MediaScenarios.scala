package graft.tools

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.{CrossModal, Media, MediaCodec}
import graft.multimodal.Media.MediaRow
import graft.tools.Stress.Params

/** [[Stress]] scenarios of the multimodal families: image / video / audio
  * codecs, perceptual-hash banding under posting caps, and cross-modal
  * pair curation. */
object MediaScenarios {

  /** Two sections. A real codec pass: `images` synthesized PNGs (10
    * pixel-identical images per seed group, so exact dups exist) through
    * [[Media.withPerceptualHash]] — decode + 9×8 thumbnail + 64 gradient
    * bits, the map-side pass that prices image-dedup ingest — then banded
    * into near-dup pairs. Then banding from persisted hashes, the
    * production shape: `hashes` clustered hashes (64-member groups, ≤2
    * bits flipped per member) flood-free and uncapped as the cost
    * baseline, then with a planted 50k-row flood on one value (the
    * solid-black-thumbnail case: one bucket would emit 1.25G pairs) under
    * the default 1000-posting cap, which must bind and hold the join at
    * the baseline's cost. */
  def media(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    import spark.implicits._
    val nImg = p("images")
    val nHash = p("hashes")
    val flood = 50000L
    val images = spark.range(nImg).map { i =>
      val seed = i / 10
      val w = 32 + (seed % 5).toInt * 8
      Media.MediaRow(i, "image", MediaCodec.synthPng(seed, w, w), w, w, 0L)
    }
    val hashes = Media.withPerceptualHash(images).cache()
    rm.stage(s"withPerceptualHash ($nImg real PNG decodes)")(hashes.count())
    rm.stage("phash near-dup pairs over persisted hashes") {
      val pairs = Media.phashNearDupPairsFromHashes(hashes, radius = 3, maxPostings = 1000L)
      println(s"[media]   pairs = ${"%,d".format(pairs.count())} " +
        s"(expect >= ${"%,d".format(nImg / 10 * (10 * 9 / 2))} from planted groups)")
    }
    hashes.unpersist()

    // group g's base hash with ≤2 member-specific bit flips: members differ
    // by ≤4 bits, so banding generates candidates and popcount verifies
    def clustered(withFlood: Boolean) = {
      val j = pmod(col("id"), lit(64L))
      // functions.shiftleft takes only a literal shift; the SQL form
      // accepts a column shift amount
      def flip(t: Int) = when(j % 4 > t,
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64($t, id), 64) AS INT))"))
        .otherwise(lit(0L))
      val h = xxhash64(lit("p"), (col("id") / lit(64L)).cast("long"))
        .bitwiseXOR(flip(0)).bitwiseXOR(flip(1))
      spark.range(nHash).select(col("id").as("media_id"),
        (if (withFlood) when(col("id") < flood, lit(0L)).otherwise(h) else h).as("phash"))
        .cache()
    }
    val clean = clustered(withFlood = false)
    val flooded = clustered(withFlood = true)
    clean.count(); flooded.count()
    rm.stage(s"banding baseline: $nHash hashes, NO flood, cap 1000") {
      val pairs = Media.phashNearDupPairsFromHashes(clean, 3, 1000L)
      println(s"[media]   pairs = ${"%,d".format(pairs.count())}")
    }
    rm.stage(s"banding FLOODED: $flood-row hot value, cap 1000") {
      val pairs = Media.phashNearDupPairsFromHashes(flooded, 3, 1000L)
      println(s"[media]   pairs = ${"%,d".format(pairs.count())} " +
        "(flood bucket contributes ZERO -- capped, not 1.25G pairs)")
    }
    rm.stage("band audit: flood buckets named") {
      val a = Media.phashBandAuditFromHashes(flooded, 3, 1000L)
        .filter(col("capped"))
        .agg(count(lit(1)).as("buckets"), max("n_postings").as("maxPost")).head
      println(s"[media]   capped buckets = ${a.getLong(0)}, " +
        s"max postings = ${"%,d".format(a.getLong(1))} (expect $flood = the flood)")
    }
  }

  /** The media posting cap on a real corpus's dHash shape: flat images
    * have no gradient signs, so solid and near-dark thumbnails sit on (or
    * within a couple of bits of) dHash 0 — hot in EVERY band at once, the
    * worst shape for a banded self-join. A grounding pass dHashes actual
    * solid PNGs through the production decode; the synthetic frame
    * (`hot_pct`% of `hashes` inside that measured cluster) is built around
    * it. Reports pre/post-cap candidate mass by aggregation, the
    * [[Media.phashBandAuditFromHashes]] census and the capped pair
    * pipeline. */
  def mediaCap(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val n = p("hashes")
    val hotPct = p("hot_pct")
    // flat 8-bit gray PNGs at several levels, the last with a faint
    // one-step ripple across the top rows (the "almost dark" photo)
    val solidHashes = (0 until 8).map { level =>
      val img = new java.awt.image.BufferedImage(48, 32,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(level * 30, level * 30, level * 30))
      g.fillRect(0, 0, 48, 32)
      if (level == 7) {
        g.setColor(new java.awt.Color(level * 30 + 1, level * 30 + 1, level * 30 + 1))
        g.fillRect(0, 0, 48, 3)
      }
      g.dispose()
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      MediaCodec.dHash64(MediaCodec.decode(out.toByteArray)).getOrElse(
        sys.error("solid PNG must decode"))
    }
    println(s"[mediacap] real solid-thumbnail dHashes: " +
      solidHashes.map(h => f"0x$h%x").distinct.mkString(", ") +
      s" (max popcount ${solidHashes.map(java.lang.Long.bitCount).max} -- the cluster sits on 0)")

    // hot rows: dHash 0 with up to 2 hash-random bits; background random
    def bit(tag: String) = expr(s"shiftleft(1L, cast(pmod(xxhash64('$tag', id), 64L) as int))")
    val hashes = spark.range(n).select(col("id").as("media_id"),
      when(pmod(col("id"), lit(100L / hotPct)) === 0,
        when(pmod(col("id"), lit(3L)) === 0, lit(0L))
          .when(pmod(col("id"), lit(3L)) === 1, bit("b1"))
          .otherwise(bit("b1").bitwiseOR(bit("b2"))))
        .otherwise(xxhash64(lit("phash"), col("id"))).as("phash"))
      .persist()
    println(s"[mediacap] ${"%,d".format(n)} hashes, $hotPct% in the " +
      s"solid cluster (hamming <= 2 of 0x0) -- hot in ALL 4 bands at once")
    // the production banding at radius 3: 4 bands x 16 bits
    val bands = hashes.select(col("media_id"), posexplode(array((0 until 4).map(b =>
      shiftright(col("phash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
      .as(Seq("band_idx", "band_val")))
    DedupScenarios.candidateMass(rm, "mediacap", bands.groupBy("band_idx", "band_val")
      .agg(count(lit(1)).as("np")).persist())
    rm.stage("band_audit") {
      val a = Media.phashBandAuditFromHashes(hashes, radius = 3, maxPostings = 1000L)
        .agg(count(lit(1)), count_if(col("capped")), max("n_postings")).head
      println(f"[mediacap]   buckets>=2=${a.getLong(0)}%,d capped=${a.getLong(1)}%,d " +
        f"max_postings=${a.getLong(2)}%,d")
    }
    rm.stage("capped_pair_pipeline") {
      val pairs = Media.phashNearDupPairsFromHashes(hashes, radius = 3,
        maxPostings = 1000L).count()
      println(f"[mediacap]   surviving near-dup pairs=$pairs%,d")
    }
  }

  /** The temporal media family through the real codec path: `videos`
    * 6-frame MJPEG clips (every 5th with a planted hard cut) and `audios`
    * gapped-tone WAVs, then byte-surgical metadata scrub over tagged PNGs
    * and WAVs. The claim is shape: decode + detect is per-row local (zero
    * shuffle for [[Media.keyFrames]], one narrow hash exchange for
    * [[Media.sceneCutsFromHashes]]), so wall is decode-bound and
    * embarrassingly parallel; re-thresholding the persisted tracks must be
    * codec-free. Payloads are materialized first so the timed stages
    * measure the operators, not the synthesis. */
  def temporal(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    import spark.implicits._
    val nVideo = p("videos")
    val nAudio = p("audios")
    def say(s: String): Unit = println(s"[temporal]   $s")
    val videos = spark.range(nVideo).as[Long].map { id =>
      val payload =
        if (id % 5 == 0) MediaCodec.synthAviCut(id, id + 5000L, 48, 32, 6, 3)
        else MediaCodec.synthAvi(id, 48, 32, 240L)
      MediaRow(id, "video", payload, 48, 32, 240L)
    }.persist()
    println(s"[temporal] ${"%,d".format(nVideo)} videos x 6 frames, " +
      s"${"%,d".format(nAudio)} audios (<=2 s @ 8 kHz)")
    rm.stage("synth video payloads")(videos.count())
    val track = rm.stage("withEveryFrameHash (decode)") {
      val t = Media.withEveryFrameHash(videos).persist()
      say(s"frame rows: ${"%,d".format(t.count())}")
      t
    }
    def cuts(t: Int) = Media.sceneCutsFromHashes(track, t)
      .filter(col("is_cut") && col("frame_idx") > 0).count()
    rm.stage("sceneCutsFromHashes t=25")(
      say(s"cuts: ${"%,d".format(cuts(25))} (planted ${"%,d".format(nVideo / 5)})"))
    rm.stage("re-threshold t=40 (no codec)")(say(s"cuts@40: ${"%,d".format(cuts(40))}"))
    rm.stage("keyFrames (1 pass, 0 shuffle)")(
      say(s"keyframes: ${"%,d".format(Media.keyFrames(videos, 25).count())} " +
        s"(expected ~${"%,d".format(nVideo + nVideo / 5)})"))
    track.unpersist(); videos.unpersist()

    // gapped tone, 250 ms on / 150 ms off, seeded duration
    val audios = spark.range(nAudio).as[Long].map { id =>
      val dur = 400L + id % 1600L
      MediaRow(id, "audio", MediaCodec.synthWavGapped(id, dur, 250L, 150L), 0, 0, dur)
    }.persist()
    rm.stage("synth audio payloads")(audios.count())
    val energy = rm.stage("withAudioEnergy (decode)") {
      val e = Media.withAudioEnergy(audios, 50).persist()
      say(s"energy windows: ${"%,d".format(e.count())}")
      e
    }
    rm.stage("audioActivityFromEnergy") {
      val st = Media.audioActivityFromEnergy(energy, 100.0)
        .agg(count(lit(1)), sum(col("end_ms") - col("start_ms"))).head()
      say(s"segments: ${"%,d".format(st.getLong(0))}, " +
        s"active: ${"%,d".format(st.getLong(1) / 1000)} s of audio")
    }
    rm.stage("re-threshold rms>=3000 (no codec)")(say(s"segments@3000: " +
      "%,d".format(Media.audioActivityFromEnergy(energy, 3000.0).count())))
    energy.unpersist(); audios.unpersist()

    // half PNGs with a planted tEXt author/GPS field, half WAVs with a
    // planted INFO artist chunk
    val tagged = spark.range(nAudio).as[Long].map { id =>
      if (id % 2 == 0)
        MediaRow(id, "image", MediaCodec.withPngText(MediaCodec.synthPng(id, 48, 32),
          "Author", s"user-$id gps ${id % 90}.${id % 100}"), 48, 32, 0L)
      else
        MediaRow(id, "audio", MediaCodec.withRiffInfo(MediaCodec.synthWav(id, 300L),
          s"artist-$id <u$id@example.com>"), 0, 0, 300L)
    }.persist()
    rm.stage("synth tagged payloads")(tagged.count())
    rm.stage("scrubMetadataStats (byte surgery)") {
      val st = Media.scrubMetadataStats(tagged)
        .agg(count(lit(1)), sum("bytes_removed"), sum("bytes_before")).head()
      say(s"scrubbed ${"%,d".format(st.getLong(0))} payloads, " +
        s"removed ${"%,d".format(st.getLong(1))} of ${"%,d".format(st.getLong(2))} bytes")
    }
    tagged.unpersist()
  }

  /** Cross-modal pair curation on `pairs` (caption, image) pairs with
    * planted duplicate mass (every 20th pair re-captures its predecessor
    * with extra whitespace: canonical-identical caption, same image) and
    * reuse mass (captions from n/4 templates, images from n/2 slots),
    * 16-d embedding-seam vectors on both sides. The alignment gate is a
    * per-row projection (its shuffle delta must be ~zero); the
    * both-modality dedup and curatePairs must stay linear. */
  def crossModal(spark: SparkSession, rm: RunMetrics, p: Params): Unit = {
    val n = p("pairs")
    val recapture = col("id") % 20 === 19
    val pairs = spark.range(n).select(
      col("id").as("pair_id"),
      when(recapture, concat(lit("caption  t"), pmod(col("id") - 1, lit(n / 4)),
          lit("  body   text")))
        .otherwise(concat(lit("caption t"), pmod(col("id"), lit(n / 4)),
          lit(" body text"))).as("caption"),
      pmod(xxhash64(concat(lit("img:"),
        when(recapture, col("id") - 1).otherwise(col("id")).cast("string"))), lit(n / 2))
        .as("img_key"))
    // caption vec from the caption group, image vec from the image slot
    def vec(tag: String, key: Column) =
      transform(sequence(lit(0), lit(15)), d =>
        pmod(xxhash64(lit(tag), key, d), lit(2000001L)).cast("double") / 1e6 - 1.0)
    val seamed = pairs
      .withColumn("cap_vec", vec("cv", pmod(xxhash64(col("caption")), lit(n / 4))))
      .withColumn("img_vec", vec("iv", col("img_key")))
      .repartition(32).persist()
    println(f"[xmodal] ${seamed.count()}%,d pairs, ${n / 4}%,d caption templates, ${n / 2}%,d image slots")
    rm.stage("alignment_gate") {
      val r = CrossModal.alignmentGate(seamed, col("cap_vec"), col("img_vec"), 0L)
        .agg(count(lit(1)), count_if(col("aligned"))).head
      println(f"[xmodal]   pairs = ${r.getLong(0)}%,d  aligned = ${r.getLong(1)}%,d")
    }
    rm.stage("crossmodal_dedup") {
      val r = CrossModal.crossModalDedup(seamed, col("pair_id"), col("caption"), col("img_key"))
        .agg(count(lit(1)), count_if(col("is_dup")),
          count_if(col("caption_reuse")), count_if(col("image_reuse"))).head
      println(f"[xmodal]   rows = ${r.getLong(0)}%,d  dups = ${r.getLong(1)}%,d  " +
        f"cap_reuse = ${r.getLong(2)}%,d  img_reuse = ${r.getLong(3)}%,d")
    }
    rm.stage("curate_pairs_e2e") {
      val r = CrossModal.curatePairs(seamed, col("pair_id"), col("caption"),
          col("cap_vec"), col("img_vec"), col("img_key"), minMicro = 0L)
        .agg(count(lit(1)), count_if(!col("is_dup"))).head
      println(f"[xmodal]   aligned rows = ${r.getLong(0)}%,d  kept = ${r.getLong(1)}%,d")
    }
  }
}
