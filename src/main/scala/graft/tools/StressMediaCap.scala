package graft.tools

import org.apache.spark.sql.functions._

import graft.multimodal.{Media, MediaCodec}

/** Scale probe for the MEDIA posting cap (driver-side tooling): the
  * dHash distribution of a real image corpus is not uniform — solid and
  * near-dark thumbnails all land on (or within a couple of bits of)
  * dHash 0, because a flat image has no gradient signs. That puts the
  * hot mass in EVERY band simultaneously (unlike the text-simhash probe,
  * where only one band is planted hot), which is the worst shape a
  * banded self-join can face.
  *
  * Grounding pass (real codec): dHash a handful of actual solid /
  * near-solid PNGs through the production decode to confirm the
  * cluster's center and radius — the synthetic 1M hash frame is then
  * built around the MEASURED values, not an assumption.
  *
  * Reports, from one banding frame (4 bands x 16 bits, radius 3 — the
  * [[Media.phashNearDupPairsFromHashes]] production shape):
  * pre/post-cap candidate mass by aggregation (never materialized),
  * the [[Media.phashBandAuditFromHashes]] capped-bucket census, and
  * the wall time of the full capped pair pipeline.
  *
  * Knobs: SPARK_GRAFT_MEDIACAP_SCALE (default 1,000,000 rows),
  * SPARK_GRAFT_MEDIACAP_HOTPCT (default 10). */
object StressMediaCap {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_MEDIACAP_SCALE", "1000000").toLong
    val hotPct = sys.env.getOrElse("SPARK_GRAFT_MEDIACAP_HOTPCT", "10").toLong
    val spark = graft.EngineConf.localSession(None)
    val rm = new RunMetrics(spark, "mediacap")

    // ---- grounding: REAL dHashes of solid/near-solid thumbnails ------
    // a flat 8-bit gray PNG at several levels, plus one with a faint
    // 1-level gradient ripple (the "almost dark" photo)
    val solidHashes = (0 until 8).map { level =>
      val img = new java.awt.image.BufferedImage(48, 32,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(level * 30, level * 30, level * 30))
      g.fillRect(0, 0, 48, 32)
      if (level == 7) { // faint ripple: one gray step across the top rows
        g.setColor(new java.awt.Color(level * 30 + 1, level * 30 + 1, level * 30 + 1))
        g.fillRect(0, 0, 48, 3)
      }
      g.dispose()
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      MediaCodec.dHash64(MediaCodec.decode(out.toByteArray)).getOrElse(
        sys.error("solid PNG must decode"))
    }
    val maxSolidBits = solidHashes.map(java.lang.Long.bitCount).max
    println(s"[mediacap] real solid-thumbnail dHashes: " +
      solidHashes.map(h => f"0x$h%x").distinct.mkString(", ") +
      s" (max popcount $maxSolidBits — the cluster sits on 0)")

    // ---- synthetic 1M hash frame around the measured cluster ---------
    // hot rows: dHash 0 with up to 2 hash-random bits (inside the
    // measured solid cluster); background: hash-random 64-bit
    val raw = xxhash64(lit("phash"), col("id"))
    val noisyBit1 =
      expr("shiftleft(1L, cast(pmod(xxhash64('b1', id), 64L) as int))")
    val noisyBit2 =
      expr("shiftleft(1L, cast(pmod(xxhash64('b2', id), 64L) as int))")
    val hashes = spark.range(n).select(col("id").as("media_id"),
      when(pmod(col("id"), lit(100L / hotPct)) === 0,
        when(pmod(col("id"), lit(3L)) === 0, lit(0L))
          .when(pmod(col("id"), lit(3L)) === 1, noisyBit1)
          .otherwise(noisyBit1.bitwiseOR(noisyBit2)))
        .otherwise(raw).as("phash"))
      .persist()
    println(s"[mediacap] ${"%,d".format(n)} hashes, $hotPct%% in the " +
      s"solid cluster (hamming <= 2 of 0x0) — hot in ALL 4 bands at once")

    // the production banding (radius 3 -> 4 bands x 16 bits)
    val bandVals = (0 until 4).map(b =>
      shiftright(col("phash"), b * 16).bitwiseAND(lit(0xFFFFL)))
    val bands = hashes.select(col("media_id"),
      posexplode(array(bandVals: _*)).as(Seq("band_idx", "band_val")))
    val counts = bands.groupBy("band_idx", "band_val")
      .agg(count(lit(1)).as("np")).persist()

    rm.stage("candidate_mass") {
      val c2 = (col("np") * (col("np") - 1) / 2).cast("long")
      val m = counts.agg(
        sum(c2).cast("long").as("pre"),
        sum(when(col("np") <= 1000, c2).otherwise(0L)).cast("long").as("post")).head
      println(f"[mediacap]   pre-cap candidates=${m.getLong(0)}%,d  " +
        f"post-cap candidates=${m.getLong(1)}%,d  " +
        f"(${m.getLong(0).toDouble / math.max(m.getLong(1), 1)}%,.0fx reduction)")
    }
    rm.stage("band_audit") {
      val a = Media.phashBandAuditFromHashes(hashes, radius = 3,
          maxPostings = 1000L)
        .agg(count(lit(1)), count_if(col("capped")), max("n_postings")).head
      println(f"[mediacap]   buckets>=2=${a.getLong(0)}%,d capped=${a.getLong(1)}%,d " +
        f"max_postings=${a.getLong(2)}%,d")
    }
    rm.stage("capped_pair_pipeline") {
      val pairs = Media.phashNearDupPairsFromHashes(hashes, radius = 3,
        maxPostings = 1000L).count()
      println(f"[mediacap]   surviving near-dup pairs=$pairs%,d")
    }
    spark.stop()
  }
}
