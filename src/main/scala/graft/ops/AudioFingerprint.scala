package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Audio fingerprinting + near-dup pair generation over DECODED PCM —
  * the audio leg of the perceptual-dedup family ([[PerceptualHash]] is
  * the image leg; both feed [[Dedup.signaturePairs]]' banded Hamming
  * LSH, so the pair join never forms all pairs).
  *
  * The signature is a banded spectral-energy fingerprint in the
  * Haitsma–Kalker lineage (ISMIR'02, public knowledge): 9 windows of 64
  * samples spread evenly across the clip, an 8-bin integer DFT per
  * window (Q15 sine/cosine tables at the 64-sample angle grid), band
  * "energy" |re|+|im| (the L1 magnitude — no squaring, so every value
  * stays integer-exact inside a 64-bit long and a SQL oracle replays it
  * bit-for-bit), and one bit per (window-step, band): bit = energy rose
  * in that band between consecutive windows. 8 steps × 8 bands, trimmed
  * to 63 bits so the signature stays non-negative.
  *
  * Robustness shape: small time-domain perturbations move each band
  * magnitude a little, flipping only derivative bits that were already
  * near zero — near-identical clips land a few bits apart, unrelated
  * clips ~32. Scale shape: decode + DFT are per-payload `mapPartitions`
  * work, linear in bytes; pair generation is the chunk-pair LSH join
  * (pigeonhole-complete recall at the radius, capped buckets). At 100 TB
  * the plan is unchanged — decode scales with bytes/executors, the join
  * with near-dup density, not n².
  *
  * Reference scope: the reference CLI (BatchImportApp.scala:31-74) has
  * no audio surface; this extends the training-data-pipeline axis.
  */
object AudioFingerprint {

  /** Q15 tables at the 64-point angle grid: Cos64(j) =
    * round(cos(2πj/64)·32768), Sin64(j) = round(sin(2πj/64)·32768).
    * LITERALS shared with the SQL oracle (not computed at class-load). */
  val Cos64: Array[Int] = Array(
    32768, 32610, 32138, 31357, 30274, 28899, 27246, 25330,
    23170, 20788, 18205, 15447, 12540, 9512, 6393, 3212,
    0, -3212, -6393, -9512, -12540, -15447, -18205, -20788,
    -23170, -25330, -27246, -28899, -30274, -31357, -32138, -32610,
    -32768, -32610, -32138, -31357, -30274, -28899, -27246, -25330,
    -23170, -20788, -18205, -15447, -12540, -9512, -6393, -3212,
    0, 3212, 6393, 9512, 12540, 15447, 18205, 20788,
    23170, 25330, 27246, 28899, 30274, 31357, 32138, 32610)
  val Sin64: Array[Int] = Array(
    0, 3212, 6393, 9512, 12540, 15447, 18205, 20788,
    23170, 25330, 27246, 28899, 30274, 31357, 32138, 32610,
    32768, 32610, 32138, 31357, 30274, 28899, 27246, 25330,
    23170, 20788, 18205, 15447, 12540, 9512, 6393, 3212,
    0, -3212, -6393, -9512, -12540, -15447, -18205, -20788,
    -23170, -25330, -27246, -28899, -30274, -31357, -32138, -32610,
    -32768, -32610, -32138, -31357, -30274, -28899, -27246, -25330,
    -23170, -20788, -18205, -15447, -12540, -9512, -6393, -3212)

  /** 63-bit spectral fingerprint of a mono PCM clip (samples as signed
    * ints, any bit depth that fits). None below the 64-sample floor.
    * Window t (t = 0..8) starts at t·(n−64)/8 (integer division — the
    * last window ends exactly at the clip end); bit (t−1)·8+(k−1) is
    * set (t ≥ 1, k = 1..8, index ≤ 62) iff band k's L1 magnitude rose
    * from window t−1 to t. */
  def fingerprint64(samples: Array[Int]): Option[Long] = {
    val n = samples.length
    if (n < 64) return None
    val prev = new Array[Long](9)
    val cur = new Array[Long](9)
    var hash = 0L
    var t = 0
    while (t < 9) {
      val st = (t.toLong * (n - 64) / 8).toInt
      var k = 1
      while (k <= 8) {
        var re = 0L; var im = 0L
        var j = 0
        while (j < 64) {
          val s = samples(st + j).toLong
          val a = (k * j) % 64
          re += s * Cos64(a)
          im += s * Sin64(a)
          j += 1
        }
        cur(k) = math.abs(re) + math.abs(im)
        k += 1
      }
      if (t > 0) {
        k = 1
        while (k <= 8) {
          val idx = (t - 1) * 8 + (k - 1)
          if (idx <= 62 && cur(k) > prev(k)) hash |= 1L << idx
          k += 1
        }
      }
      System.arraycopy(cur, 0, prev, 0, 9)
      t += 1
    }
    Some(hash)
  }

  /** Decode a payload to mono PCM ints: 16-bit mono WAV via
    * `javax.sound` (the [[Multimodal.WavCodec]] contract), else the
    * from-scratch FLAC decoder ([[FlacCodec]], first channel). None for
    * anything else. */
  private[ops] def decodePcm(bytes: Array[Byte]): Option[Array[Int]] = {
    if (bytes == null || bytes.length == 0) return None
    decodeWav(bytes).orElse(
      FlacCodec.decode(bytes).map { pcm =>
        if (pcm.channels == 1) pcm.samples
        else Array.tabulate(pcm.samples.length / pcm.channels)(i =>
          pcm.samples(i * pcm.channels))
      })
  }

  private def decodeWav(bytes: Array[Byte]): Option[Array[Int]] = {
    // cached-SPI open — AudioSystem's per-call synchronized provider
    // lookup serializes parallel decode (see Multimodal.WavCodec)
    val ais =
      try Multimodal.WavCodec.openAudioStream(bytes)
      catch { case _: Exception => null }
    if (ais == null) return None
    try {
      val fmt = ais.getFormat
      if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) return None
      val pcm = ais.readAllBytes()
      val le = !fmt.isBigEndian
      val out = new Array[Int](pcm.length / 2)
      var i = 0
      while (2 * i + 1 < pcm.length) {
        val lo = pcm(2 * i) & 0xFF; val hi = pcm(2 * i + 1) & 0xFF
        out(i) = (if (le) (hi << 8) | lo else (lo << 8) | hi).toShort.toInt
        i += 1
      }
      Some(out)
    } finally ais.close()
  }

  /** Partition-wise decode → `afp` column (nullable LONG; null =
    * undecodable or under 64 samples). */
  def audioFingerprints(df: DataFrame, mediaCol: String = "media"): DataFrame = {
    val schema = df.schema.add(StructField("afp", LongType))
    val mediaIdx = df.schema.fieldIndex(mediaCol)
    val rdd = Spread.spread(df).rdd.mapPartitions { rows =>
      rows.map { r =>
        val fp = decodePcm(r.getAs[Array[Byte]](mediaIdx))
          .flatMap(fingerprint64)
        Row.fromSeq(r.toSeq :+ fp.map(Long.box).orNull)
      }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Audio near-dup pairs end-to-end: decode → fingerprint → banded
    * Hamming LSH ([[Dedup.signaturePairs]]) → exact-verified
    * `(doc_a, doc_b, hamming)`; undecodable clips (NULL fingerprint) pair
    * with nothing. `maxBucketSize` counts member rows per LSH bucket:
    * with no bucket over it the output is exactly the brute-force pair
    * set; buckets over it (e.g. runs of silent clips sharing one
    * fingerprint) are dropped and reported via the dedup cap report, and
    * the output is then a subset of the exact result. */
  def afpPairs(df: DataFrame, maxHamming: Int = 6,
               maxBucketSize: Int = 1000,
               idCol: String = "doc_id", mediaCol: String = "media",
               blockCols: Seq[String] = Nil): DataFrame =
    Dedup.signaturePairs(
      audioFingerprints(df, mediaCol),
      maxHamming, maxBucketSize, idCol, "afp", blockCols)

  /** Pairs → GROUPS: connected components over the audio pairs, one
    * row per dedup group — same output shape as the image-side
    * [[PerceptualHash.phashGroups]]. */
  def afpGroups(df: DataFrame, maxHamming: Int = 6,
                maxBucketSize: Int = 1000,
                idCol: String = "doc_id", mediaCol: String = "media",
                blockCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    Dedup.connectedComponents(
        afpPairs(df, maxHamming, maxBucketSize, idCol, mediaCol,
          blockCols).select("doc_a", "doc_b"))
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
      .select(col("component").as("group_id"), col("n_members"),
        col("max_member"))
  }

  /** Incremental audio near-dup: arriving batch vs standing corpus,
    * batch-band ⋈ corpus-band only ([[Dedup.signaturePairsIncremental]]).
    * Returns `(batch_id, corpus_id, hamming)`. */
  def afpIncremental(corpus: DataFrame, batch: DataFrame,
                     maxHamming: Int = 6, maxBucketSize: Int = 1000,
                     idCol: String = "doc_id", mediaCol: String = "media",
                     blockCols: Seq[String] = Nil): DataFrame =
    Dedup.signaturePairsIncremental(
      audioFingerprints(corpus, mediaCol), audioFingerprints(batch, mediaCol),
      maxHamming, maxBucketSize, idCol, "afp", blockCols)

  /** Deterministic NEAR-DUP audio fixture: clips sharing
    * `doc_id % Groups` render the same base CHIRP (quadratic-phase
    * sweep keyed on the group — broadband, so every DFT band carries
    * real energy and the derivative bits are signal, not noise), each
    * member perturbed by +64 on every 13th sample (phase doc_id % 13,
    * clamped to int16). Shared verbatim with the DuckDB oracle:
    * sample(i) = min(32767, ((g·131 + i·(3001+g·577) + i²·(g+7)) mod
    * 65536) − 32768 + (i mod 13 == doc_id mod 13 ? 64 : 0)), length
    * 200 + (g·37 mod 601) at 8 kHz. */
  object FixtureNearDupAudio {
    val Groups = 31L
    def gid(id: Long): Long = id % Groups
    def nSamples(id: Long): Int = (200 + (gid(id) * 37) % 601).toInt
    def sample(id: Long, i: Long): Short = {
      val g = gid(id)
      val base = ((g * 131 + i * (3001 + g * 577) + i * i * (g + 7)) % 65536
        - 32768).toInt
      val delta = if (i % 13 == id % 13) 64 else 0
      math.min(32767, base + delta).toShort
    }
    def wav(id: Long): Array[Byte] = {
      val n = nSamples(id)
      val s = new Array[Short](n)
      var i = 0
      while (i < n) { s(i) = sample(id, i); i += 1 }
      Multimodal.WavCodec.encodeWav(8000, s)
    }
  }

  /** One fixture near-dup WAV per row (see [[FixtureNearDupAudio]]). */
  def synthesizeNearDupWavs(df: DataFrame, idCol: String = "doc_id",
                            mediaCol: String = "media"): DataFrame = {
    val schema = df.schema.add(StructField(mediaCol, BinaryType))
    val idIdx = df.schema.fieldIndex(idCol)
    val rdd = Spread.spread(df).rdd.mapPartitions { rows =>
      rows.map(r =>
        Row.fromSeq(r.toSeq :+ FixtureNearDupAudio.wav(r.getLong(idIdx))))
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }
}
