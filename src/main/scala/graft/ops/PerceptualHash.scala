package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Perceptual image hashing + near-dup pair generation — the multimodal
  * leg of the dedup family: exact-byte dedup can't see a re-encoded or
  * lightly-edited image, and embedding near-dup needs externally-supplied
  * vectors; a perceptual hash closes the gap from the DECODED RASTER
  * itself.
  *
  * Two 64-bit signatures, both INTEGER-EXACT so a SQL oracle replays them
  * bit-for-bit (no float DCT whose last-ulp could flip a sign near the
  * median threshold):
  *
  *  - '''pHash''' (DCT hash, pHash.org lineage): gray raster → 8×8
  *    area-average grid (scaled ×4096, integer division) → 2-D DCT-II
  *    with a Q15 fixed-point cosine table (round(cos((2x+1)uπ/16)·2^15))
  *    → the 63 AC coefficients thresholded at their 32nd-smallest value
  *    (the discrete median) → one bit each. Low-frequency structure
  *    dominates, so re-encoding, mild noise, and small edits preserve
  *    most bits while distinct images land ~32 bits apart.
  *  - '''dHash''' (gradient hash): the same 8×8 grid compared with its
  *    horizontal neighbor (wraparound) — bit = cell(r,(c+1) mod 8) >
  *    cell(r,c). Cheaper, catches brightness-invariant edge structure;
  *    the classic 8×9 sliding variant is replaced by the wraparound so
  *    one shared grid feeds both hashes.
  *
  * Pair generation NEVER forms all pairs: signatures go through the same
  * chunk-pair Hamming LSH as text SimHash ([[Dedup.signaturePairs]]) —
  * pigeonhole-complete candidate recall at the configured radius, bucket
  * caps with drop observability, exact bit_count verification. Decode
  * runs partition-wise in `mapPartitions` (linear in payload bytes, the
  * same executor-side shape as every other codec here); the join is one
  * shuffle on ~C(h+2,2) exploded keys per image. At 100 TB the plan is
  * unchanged: decode scales with bytes/executors, the LSH join with
  * near-dup density, not n².
  *
  * Reference scope: the reference CLI (BatchImportApp.scala:31-74) has no
  * multimodal surface at all — this extends the library along the
  * training-data-pipeline axis (dedup × multimodal columns).
  */
object PerceptualHash {

  /** Q15 DCT-II basis: CosQ15(u*8+x) = round(cos((2x+1)·u·π/16)·32768).
    * LITERAL constants (not computed at class-load) so the Scala kernel
    * and the SQL oracle share identical integers by construction. */
  val CosQ15: Array[Int] = Array(
    32768, 32768, 32768, 32768, 32768, 32768, 32768, 32768,
    32138, 27246, 18205, 6393, -6393, -18205, -27246, -32138,
    30274, 12540, -12540, -30274, -30274, -12540, 12540, 30274,
    27246, -6393, -32138, -18205, 18205, 32138, 6393, -27246,
    23170, -23170, -23170, 23170, 23170, -23170, -23170, 23170,
    18205, -32138, 6393, 27246, -27246, -6393, 32138, -18205,
    12540, -30274, 30274, -12540, -12540, 30274, -30274, 12540,
    6393, -18205, 27246, -32138, 32138, -27246, 18205, -6393)

  /** 8×8 grid of area-averaged gray values, scaled ×4096 with integer
    * division (no float). Cell (gy,gx) covers rows [gy·h/8,(gy+1)·h/8) ×
    * cols [gx·w/8,(gx+1)·w/8) (floor boundaries — pixel x belongs to
    * cell (8x+7)/w, the identity the SQL oracle uses). Needs w,h ≥ 8 so
    * every box is non-empty. */
  private[ops] def grid8(w: Int, h: Int, gray: Array[Int]): Array[Long] = {
    val out = new Array[Long](64)
    var gy = 0
    while (gy < 8) {
      val y0 = gy * h / 8; val y1 = (gy + 1) * h / 8
      var gx = 0
      while (gx < 8) {
        val x0 = gx * w / 8; val x1 = (gx + 1) * w / 8
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += gray(y * w + x); x += 1 }
          y += 1
        }
        out(gy * 8 + gx) = s * 4096L / ((y1 - y0).toLong * (x1 - x0))
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** DCT + discrete-median thresholding of an 8×8 grid → 63-bit hash
    * (bit k-1 set iff F(u,v), k = u·8+v ≥ 1, strictly exceeds the
    * 32nd-smallest AC coefficient). */
  private[ops] def hashFromGrid(p: Array[Long]): Long = {
    val f = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0L
        var y = 0
        while (y < 8) {
          val cu = CosQ15(u * 8 + y).toLong
          var x = 0
          while (x < 8) { s += cu * CosQ15(v * 8 + x) * p(y * 8 + x); x += 1 }
          y += 1
        }
        f(u * 8 + v) = s
        v += 1
      }
      u += 1
    }
    val ac = java.util.Arrays.copyOfRange(f, 1, 64)
    java.util.Arrays.sort(ac)
    val median = ac(31) // 32nd smallest of 63 — the discrete median
    var hash = 0L
    var k = 1
    while (k < 64) {
      if (f(k) > median) hash |= 1L << (k - 1)
      k += 1
    }
    hash
  }

  /** DCT perceptual hash of a gray raster (values 0..765 = r+g+b).
    * Returns None below the 8×8 grid floor. */
  def phash64(w: Int, h: Int, gray: Array[Int]): Option[Long] = {
    if (w < 8 || h < 8) return None
    Some(hashFromGrid(grid8(w, h, gray)))
  }

  /** FRACTIONAL-AREA 8×8 resample (scale ×4096): cell boundaries sit at
    * exact rational positions and each pixel contributes its true
    * overlap area (per-axis overlaps in 1/8-pixel units — all integer).
    * Unlike [[grid8]]'s floor boundaries, this COMMUTES EXACTLY with
    * every mirror/rotation for ANY dimensions (area integration is
    * symmetric), which is what makes the canonical hash below
    * bit-identical across the dihedral group. Separable two-pass:
    * O(h·w) + O(8·w) per cell row. */
  private[ops] def fracGrid8(w: Int, h: Int, gray: Array[Int]): Array[Long] = {
    // pass 1: collapse rows — m(gy, x) = Σ_y gray(y,x)·oy
    val m = new Array[Long](8 * w)
    var y = 0
    while (y < h) {
      var gy = 0
      while (gy < 8) {
        val oy = math.max(0,
          math.min((gy + 1) * h, 8 * y + 8) - math.max(gy * h, 8 * y))
        if (oy > 0) {
          var x = 0
          while (x < w) { m(gy * w + x) += gray(y * w + x).toLong * oy; x += 1 }
        }
        gy += 1
      }
      y += 1
    }
    // pass 2: collapse columns; Σ weights per cell = h·w, so ×4096/(h·w)
    val p = new Array[Long](64)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        var s = 0L
        var x = 0
        while (x < w) {
          val ox = math.max(0,
            math.min((gx + 1) * w, 8 * x + 8) - math.max(gx * w, 8 * x))
          if (ox > 0) s += m(gy * w + x) * ox
          x += 1
        }
        p(gy * 8 + gx) = s * 4096L / (h.toLong * w)
        gx += 1
      }
      gy += 1
    }
    p
  }

  /** The 8 dihedral orientations of an 8×8 grid: bit 0 mirrors columns,
    * bit 1 mirrors rows, bit 2 transposes (applied last). */
  private[ops] def orient(p: Array[Long], o: Int): Array[Long] = {
    val out = new Array[Long](64)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        var rr = if ((o & 2) != 0) 7 - r else r
        var cc = if ((o & 1) != 0) 7 - c else c
        if ((o & 4) != 0) { val t = rr; rr = cc; cc = t }
        out(rr * 8 + cc) = p(r * 8 + c)
        c += 1
      }
      r += 1
    }
    out
  }

  /** ORIENTATION-CANONICAL perceptual hash: the minimum DCT hash over
    * all 8 dihedral orientations of the fractional-area grid — a
    * mirrored or 90/180/270-rotated copy of an image produces the
    * BIT-IDENTICAL hash (exact, any dimensions: [[fracGrid8]] commutes
    * with the transforms, so the orientation set of grids is identical
    * and its minimum is too). The dedup radius then catches flipped
    * re-posts plain pHash misses by ~half the bits. */
  def phashCanonical64(w: Int, h: Int, gray: Array[Int]): Option[Long] = {
    if (w < 8 || h < 8) return None
    val p = fracGrid8(w, h, gray)
    var best = Long.MaxValue
    var o = 0
    while (o < 8) {
      val hh = hashFromGrid(orient(p, o))
      if (hh < best) best = hh
      o += 1
    }
    Some(best)
  }

  /** Gradient (difference) hash over the same 8×8 grid: bit r·8+c is set
    * iff cell(r,(c+1) mod 8) > cell(r,c), for r·8+c ≤ 62 — 63 bits, like
    * pHash, so the signature stays in the non-negative Long range every
    * SQL engine shifts without overflow. */
  def dhash64(w: Int, h: Int, gray: Array[Int]): Option[Long] = {
    if (w < 8 || h < 8) return None
    Some(dhashFromGrid(grid8(w, h, gray)))
  }

  private[ops] def dhashFromGrid(p: Array[Long]): Long = {
    var hash = 0L
    var k = 0
    while (k < 63) {
      val r = k / 8; val c = k % 8
      if (p(r * 8 + (c + 1) % 8) > p(r * 8 + c)) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** Decode any ImageIO-readable payload to (w, h, gray) with
    * gray = r + g + b per pixel (0..765, integer — no luma weights whose
    * rounding an oracle would have to chase). */
  private[ops] def decodeGray(bytes: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    // cached-reader decode + bulk raster access (bit-identical to the
    // former ImageIO.read + per-pixel getRGB loop — see ImageIoCodec)
    val img = Multimodal.ImageIoCodec.decodeImage(bytes)
    if (img == null) None
    else Some((img.getWidth, img.getHeight,
      Multimodal.ImageIoCodec.channelArray(img, -1)))
  }

  /** Partition-wise decode → both perceptual hashes as columns (`phash`,
    * `dhash`, both nullable LONG; null = undecodable or below the 8×8
    * floor). The decode is the only non-Catalyst step — everything
    * downstream (banding, joins, verification) is relational. */
  def imageHashes(df: DataFrame, mediaCol: String = "media"): DataFrame = {
    val schema = df.schema
      .add(StructField("phash", LongType))
      .add(StructField("dhash", LongType))
      .add(StructField("phash_canon", LongType))
    val mediaIdx = df.schema.fieldIndex(mediaCol)
    val rdd = Spread.spread(df).rdd.mapPartitions { rows =>
      rows.map { r =>
        decodeGray(r.getAs[Array[Byte]](mediaIdx)) match {
          case Some((w, h, g)) if w >= 8 && h >= 8 =>
            // ONE area-average grid feeds both pHash and dHash (they
            // share grid8 by definition — recomputing it per hash was
            // pure waste); the canonical hash keeps its own fracGrid8
            val p = grid8(w, h, g)
            Row.fromSeq(r.toSeq ++ Seq(
              Long.box(hashFromGrid(p)),
              Long.box(dhashFromGrid(p)),
              phashCanonical64(w, h, g).map(Long.box).orNull))
          case _ => Row.fromSeq(r.toSeq ++ Seq(null, null, null))
        }
      }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Perceptual near-dup pairs end-to-end: decode → pHash → banded
    * Hamming LSH join ([[Dedup.signaturePairs]]) → exact-verified
    * `(doc_a, doc_b, hamming)` with hamming ≤ maxHamming; undecodable
    * payloads (NULL pHash) pair with nothing. `maxBucketSize` counts
    * member rows per LSH bucket: with no bucket over it the output is
    * exactly the brute-force pair set; buckets over it (e.g. monochrome
    * images all hashing to 0) are dropped and reported via the dedup cap
    * report, and the output is then a subset of the exact result. */
  def phashPairs(df: DataFrame, maxHamming: Int = 8,
                 maxBucketSize: Int = 1000,
                 idCol: String = "doc_id", mediaCol: String = "media",
                 blockCols: Seq[String] = Nil): DataFrame =
    Dedup.signaturePairs(
      imageHashes(df, mediaCol),
      maxHamming, maxBucketSize, idCol, "phash", blockCols)

  /** Pairs → GROUPS: connected components over the perceptual pairs,
    * one row per dedup group — the op a real pipeline needs after any
    * pairwise detector (a chain a~b~c must elect ONE canonical image).
    * Same output shape as the text-side `dedup_groups`. */
  def phashGroups(df: DataFrame, maxHamming: Int = 8,
                  maxBucketSize: Int = 1000,
                  idCol: String = "doc_id", mediaCol: String = "media",
                  blockCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    Dedup.connectedComponents(
        phashPairs(df, maxHamming, maxBucketSize, idCol, mediaCol,
          blockCols).select("doc_a", "doc_b"))
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
      .select(col("component").as("group_id"), col("n_members"),
        col("max_member"))
  }

  /** Incremental perceptual near-dup: an arriving image BATCH against
    * the standing CORPUS — batch-band ⋈ corpus-band only, per-batch
    * cost scales with the batch ([[Dedup.signaturePairsIncremental]]).
    * Returns `(batch_id, corpus_id, hamming)`. */
  def phashIncremental(corpus: DataFrame, batch: DataFrame,
                       maxHamming: Int = 8, maxBucketSize: Int = 1000,
                       idCol: String = "doc_id",
                       mediaCol: String = "media",
                       blockCols: Seq[String] = Nil): DataFrame =
    Dedup.signaturePairsIncremental(
      imageHashes(corpus, mediaCol), imageHashes(batch, mediaCol),
      maxHamming, maxBucketSize, idCol, "phash", blockCols)

  /** Per-FRAME perceptual hashes of MJPEG/AVI video payloads: the RIFF
    * walk hands every really-decoded frame raster
    * ([[AviCodec.mjpegFrameRasters]] → [[JpegCodec]]) to the same
    * integer-exact pHash — `(frame_idx, phash)` rows, null frame set
    * for non-video payloads. Grayscale samples count ×3 so a gray
    * frame hashes identically to its r=g=b color rendering. Frame-level
    * hashes are the unit video near-dup composes from (two clips pair
    * when their frame hashes pair — [[Dedup.signaturePairs]] over an
    * exploded frame relation, blocked by frame_idx when alignment is
    * known). */
  def videoFrameHashes(df: DataFrame, mediaCol: String = "media"): DataFrame = {
    val schema = df.schema
      .add(StructField("frame_idx", IntegerType))
      .add(StructField("phash", LongType))
    val mediaIdx = df.schema.fieldIndex(mediaCol)
    val rdd = Spread.spread(df).rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        AviCodec.mjpegFrameRasters(r.getAs[Array[Byte]](mediaIdx)) match {
          case Some(frames) =>
            frames.iterator.zipWithIndex.map { case (fr, i) =>
              val gray = new Array[Int](fr.width * fr.height)
              var p = 0
              while (p < gray.length) {
                gray(p) =
                  if (fr.channels == 1) 3 * (fr.data(p) & 0xFF)
                  else (fr.data(3 * p) & 0xFF) + (fr.data(3 * p + 1) & 0xFF) +
                    (fr.data(3 * p + 2) & 0xFF)
                p += 1
              }
              Row.fromSeq(r.toSeq ++ Seq[Any](i,
                phash64(fr.width, fr.height, gray).map(Long.box).orNull))
            }
          case None =>
            Iterator.single(Row.fromSeq(r.toSeq ++ Seq(null, null)))
        }
      }
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Deterministic NEAR-DUP image fixture: documents sharing
    * `doc_id % Groups` render the same base image (dims and pixel
    * formula keyed on the GROUP), each member perturbed on its own
    * sparse pixel set (+7 clamped on every 19th pixel, phase doc_id%19)
    * — close enough that group members hash within a few bits,
    * different groups ~half the bits apart. The formula is shared
    * verbatim with the DuckDB oracle: gray(i) = Σ_c min(255,
    * ((g·31 + i·7 + c·101) mod 256) + (i mod 19 == doc_id mod 19 ? 7 : 0)). */
  object FixtureNearDup {
    val Groups = 31L
    def gid(id: Long): Long = id % Groups
    def dims(id: Long): (Int, Int) =
      ((8 + gid(id) % 9).toInt, (8 + gid(id) % 7).toInt)
    def channel(id: Long, i: Long, c: Int): Int = {
      val base = ((gid(id) * 31 + i * 7 + c * 101) % 256).toInt
      val delta = if (i % 19 == id % 19) 7 else 0
      math.min(255, base + delta)
    }
    def png(id: Long): Array[Byte] = {
      val (w, h) = dims(id)
      Multimodal.ImageIoCodec.encodePng(w, h, (x, y) => {
        val i = y.toLong * w + x
        (channel(id, i, 0) << 16) | (channel(id, i, 1) << 8) | channel(id, i, 2)
      })
    }
  }

  /** One fixture near-dup PNG per row (see [[FixtureNearDup]]). */
  def synthesizeNearDupImages(df: DataFrame, idCol: String = "doc_id",
                              mediaCol: String = "media"): DataFrame = {
    val schema = df.schema.add(StructField(mediaCol, BinaryType))
    val idIdx = df.schema.fieldIndex(idCol)
    val rdd = Spread.spread(df).rdd.mapPartitions { rows =>
      rows.map(r => Row.fromSeq(r.toSeq :+ FixtureNearDup.png(r.getLong(idIdx))))
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }
}
