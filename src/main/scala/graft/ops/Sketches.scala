package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Probabilistic frequency/membership sketches for corpus-scale pipelines —
  * the structures a 100 TB token-frequency or decontamination pass keeps in
  * memory when the exact key space doesn't fit.
  *
  * Everything here is DETERMINISTIC (bucket positions come from Spark's
  * `xxhash64` over `key ++ "|" ++ i` variant strings, seed 42) so the
  * DuckDB oracle replays sketches bit-for-bit — including false positives
  * and over-estimates, which are properties of the hash layout, not RNG
  * (`tools/gen_cm_oracle.py` stages the same XXH64 arithmetic).
  *
  * Scale shapes:
  *  - building either sketch is one `groupBy` over cell ids with map-side
  *    partial aggregation: executors reduce every partition to ≤ depth×width
  *    (CM) or ≤ bits (Bloom) cells before the shuffle, so the shuffle
  *    volume is the SKETCH size, not the corpus size;
  *  - the finished sketch is a tiny relation (broadcast side of every
  *    probe join), never a driver-side structure — probes stay declarative.
  *
  * Width/bit counts must be powers of two (≤ 2³²): `pmod(hash, 2^k)`
  * depends only on the hash's low 32 bits, which keeps the staged oracle's
  * (hi, lo) arithmetic exact.
  */
object Sketches {

  private def requirePow2(n: Int, what: String): Unit =
    require(n > 0 && (n & (n - 1)) == 0, s"$what must be a power of two, got $n")

  /** The `depth` bucket positions of `key`: `pmod(xxhash64(key || "|i"),
    * width)` for i in 0 until depth, as (r, bucket) rows via posexplode.
    * Keys longer than 24 UTF-8 bytes are the caller's contract to exclude
    * (the staged oracle hashes strings < 32 bytes; variants add 2). */
  private def bucketed(df: DataFrame, keyCol: String, depth: Int,
                       width: Int): DataFrame =
    df.select(col("*"), posexplode(array((0 until depth).map(i =>
      pmod(xxhash64(concat(col(keyCol), lit("|" + i))), lit(width.toLong))): _*))
      .as(Seq("r", "bucket")))

  /** Count-min sketch (Cormode & Muthukrishnan 2005) over one row per key
    * OCCURRENCE: `depth × width` cells, cell (r, b) counting occurrences
    * of keys whose r-th hash lands in b. Returns (r, bucket, c) — only
    * populated cells; absent = 0. */
  def countMin(occurrences: DataFrame, keyCol: String = "token",
               depth: Int = 4, width: Int = 2048): DataFrame = {
    requirePow2(width, "width")
    require(depth > 0 && depth <= 9, "depth must be 1..9 (single-digit variants)")
    bucketed(occurrences.select(col(keyCol)), keyCol, depth, width)
      .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
  }

  /** Point-estimate each distinct key of `keys` against a [[countMin]]
    * sketch: `est = min over r of c(r, bucket_r(key))` — ≥ the true count
    * always, = for keys with a collision-free row. Extra columns of `keys`
    * pass through. The sketch side is tiny (≤ depth×width rows): Spark
    * broadcasts it, so probing is a map-side join at any corpus size. */
  def countMinEstimate(sketch: DataFrame, keys: DataFrame,
                       keyCol: String = "token",
                       depth: Int = 4, width: Int = 2048): DataFrame = {
    requirePow2(width, "width")
    val passThrough = keys.columns.toSeq
    bucketed(keys, keyCol, depth, width)
      .join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy(passThrough.head, passThrough.tail: _*)
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** Bloom filter (set-membership) over the DISTINCT keys of `keys`:
    * `numHashes` positions per key in a `bits`-wide bit array, returned as
    * the set-bit relation (pos). At 100 TB this is the decontamination
    * membership structure: the eval-set bloom is a few thousand rows
    * broadcast everywhere, instead of the full distinct n-gram relation. */
  def bloomBits(keys: DataFrame, keyCol: String = "token",
                numHashes: Int = 3, bits: Int = 4096): DataFrame = {
    requirePow2(bits, "bits")
    require(numHashes > 0 && numHashes <= 9, "numHashes must be 1..9")
    bucketed(keys.select(col(keyCol)).distinct(), keyCol, numHashes, bits)
      .select(col("bucket").as("pos")).distinct()
  }

  /** Membership probe: a key "might be in" the set iff ALL `numHashes`
    * positions are set — no false negatives; false positives are a
    * deterministic function of the layout (the oracle reproduces them).
    * Adds `might_contain` to `keys` (extra columns pass through). */
  def bloomMightContain(bloom: DataFrame, keys: DataFrame,
                        keyCol: String = "token",
                        numHashes: Int = 3, bits: Int = 4096): DataFrame = {
    requirePow2(bits, "bits")
    val passThrough = keys.columns.toSeq
    // per-hash bucket COLUMNS instead of exploded rows (r16 optimization):
    // each probe is a map-side broadcast hash join against the set-bit
    // relation, and the former explode(numHashes) + groupBy(passthrough)
    // re-aggregation EXCHANGE disappears — the probe side is never
    // shuffled at any corpus size. Bucket expressions and the all-hashes-
    // hit rule are unchanged, so false positives replay identically.
    val result = (0 until numHashes).foldLeft(keys) { (d, i) =>
      val bucket =
        pmod(xxhash64(concat(col(keyCol), lit("|" + i))), lit(bits.toLong))
      d.join(broadcast(bloom.select(col("pos").as(s"__p$i"))),
          bucket === col(s"__p$i"), "left")
    }
    val mc = (0 until numHashes)
      .map(i => col(s"__p$i").isNotNull).reduceLeft(_ && _)
    result.select(passThrough.map(col) :+ mc.as("might_contain"): _*)
  }
}
