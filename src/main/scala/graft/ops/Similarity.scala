package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * All arithmetic runs through the native codegen'd
  * [[graft.functions.CosineSimilarity]] expression — double accumulation,
  * deterministic left-to-right order, one fused loop per pair (the
  * higher-order `aggregate`/`zip_with` formulation is interpreted per
  * element and measured ~50x slower).
  *
  * Scale design (100 TB):
  *  - brute-force top-k broadcasts the (small) query set against a scan of
  *    the candidate corpus; per-query selection is a shuffle keyed by
  *    query id — candidates never pairwise-materialize beyond the
  *    broadcast-join product, and AQE handles skew;
  *  - the IVF variant is the real scale path: a coarse quantizer assigns
  *    every corpus vector to its nearest centroid ONCE (linear scan over
  *    centroids, broadcast), queries probe only `nprobe` nearest cells —
  *    the join is then (query, cell) ⋈ (cell, vectors), cutting the scanned
  *    fraction to ~nprobe/nlist.
  */
object Similarity {

  import graft.functions.VectorFunctions

  /** Elementwise-double dot product, deterministic left-to-right sum. */
  def dot(a: Column, b: Column): Column = VectorFunctions.dotF32(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity as dot/sqrt(na*nb) in one fused codegen loop — the
    * same formula and accumulation order DuckDB's list_cosine_similarity
    * uses, minimizing cross-engine FP divergence. */
  def cosine(a: Column, b: Column): Column = VectorFunctions.cosineSim(a, b)

  /** Brute-force exact top-k: for each query vector (filtered by
    * `queryPred`), the k nearest corpus vectors by cosine. Output
    * (query_id, rank, neighbor_id, sim) with a deterministic tie-break on
    * neighbor id. Self-matches excluded.
    *
    * The query set is broadcast, so it must fit in driver/executor memory:
    * more than `maxQueries` queries either throws (the default — the caller
    * should pick [[ivfTopK]] deliberately) or, with `autoRoute=true`,
    * silently falls through to [[ivfTopK]] (same output shape, approximate
    * recall). The corpus side streams — only the query count is guarded. */
  def bruteForceTopK(emb: DataFrame, k: Int = 5,
                     queryPred: Column, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     maxQueries: Long = 100000L,
                     autoRoute: Boolean = false): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    val nQ = emb.filter(queryPred).select(col(idCol)).count()
    if (nQ > maxQueries) {
      if (autoRoute)
        return ivfTopK(emb, k, queryPred = queryPred, idCol = idCol, vecCol = vecCol)
      throw new IllegalArgumentException(
        s"bruteForceTopK broadcasts the query set: $nQ queries > maxQueries=$maxQueries; " +
          "use ivfTopK (or pass autoRoute=true)")
    }
    val q = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Recall@k of one ANN family's result against exact ground truth —
    * the in-engine accuracy meter for the ANN zoo: an approximate index
    * (IVF / PQ / BQ / Matryoshka) is only usable at 100 TB if its
    * accuracy/cost tradeoff is MEASURED, not assumed. `truth` and
    * `result` both carry the [[bruteForceTopK]] output contract
    * (`query_id`, `neighbor_id`, any rank columns); output is ONE row:
    * `(family, n_queries, hits, k, recall_x1000)` — hits counts
    * truth pairs the family retrieved, recall_x1000 is the exact
    * integer `floor(1000 * hits / (n_queries * k))`. Both sides are
    * top-k result sets (queries × k rows — tiny next to the corpus),
    * so the hit join is a broadcast-scale hash join, never a corpus
    * scan. */
  def annRecall(truth: DataFrame, result: DataFrame, family: String,
                k: Int): DataFrame = {
    // distinct BOTH sides: a duplicate (query_id, neighbor_id) pair on
    // either side would multiply join rows and over-count hits (recall
    // above 1000) — recall counts distinct retrieved truth pairs
    val t = truth.select(col("query_id"), col("neighbor_id")).distinct()
    val r = result.select(col("query_id"), col("neighbor_id")).distinct()
      .withColumn("_hit", lit(1L))
    t.join(r, Seq("query_id", "neighbor_id"), "left")
      .agg(countDistinct(col("query_id")).as("n_queries"),
        coalesce(sum(col("_hit")), lit(0L)).as("hits"))
      .select(lit(family).as("family"), col("n_queries"), col("hits"),
        lit(k).as("k"),
        // empty truth set: 0 queries would divide by zero (an ANSI
        // error) -> recall reads 0
        when(col("n_queries") > 0,
          floor(col("hits") * 1000 / (col("n_queries") * lit(k))))
          .otherwise(lit(0L)).cast("long").as("recall_x1000"))
  }

  /** Contrastive HARD-NEGATIVE mining: per anchor, the `k` most-similar
    * candidates whose cosine stays BELOW `dupSim` — the standard
    * contrastive-training pitfall is sampling a near-duplicate as a
    * negative (it is a positive in disguise), so the near-dup band
    * `[dupSim, 1]` is excluded before ranking. Anchors broadcast like
    * [[bruteForceTopK]] (same maxAnchors guard; route through
    * [[ivfTopK]]'s cells at corpus scale); the rank window partitions
    * per anchor only. */
  def hardNegatives(emb: DataFrame, k: Int = 5, dupSim: Double = 0.95,
                    anchorPred: Column = lit(true),
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    maxAnchors: Long = 100000L): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    val nA = emb.filter(anchorPred).select(col(idCol)).count()
    require(nA <= maxAnchors,
      s"hardNegatives broadcasts the anchor set: $nA anchors > " +
        s"maxAnchors=$maxAnchors; mine per IVF cell instead")
    val a = emb.filter(anchorPred)
      .select(col(idCol).as("anchor_id"), col(vecCol).as("qv"))
    val c = emb.select(col(idCol).as("negative_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(a), col("anchor_id") =!= col("negative_id"))
      .select(col("anchor_id"), col("negative_id"),
        cosine(col("qv"), col("cv")).as("sim"))
      .filter(col("sim") < dupSim) // near-dups are not negatives
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("sim").desc, col("negative_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("anchor_id", "rank", "negative_id", "sim")
  }

  /** MATRYOSHKA two-stage ANN (Kusupati et al. 2022 — MRL-style
    * truncation): stage 1 shortlists `shortlist` candidates per query
    * by cosine over only the FIRST `dPrefix` dimensions (a
    * matryoshka-trained embedding's coarse head — at 100 TB this is
    * the cheap pass: 8–32 floats per candidate instead of the full
    * width), stage 2 reranks ONLY the shortlist with full-precision
    * cosine. Same output contract as [[bruteForceTopK]];
    * `shortlist >= k` is the recall/cost knob. The second window runs
    * over shortlist-sized groups, never the corpus. */
  def matryoshkaTopK(emb: DataFrame, k: Int = 5, dPrefix: Int = 8,
                     shortlist: Int = 30, queryPred: Column = lit(true),
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     maxQueries: Long = 100000L): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    require(dPrefix >= 1, "dPrefix must be >= 1")
    val nQ = emb.filter(queryPred).select(col(idCol)).count()
    require(nQ <= maxQueries,
      s"matryoshkaTopK broadcasts the query set: $nQ > maxQueries=$maxQueries")
    val q = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        slice(col(vecCol), 1, dPrefix).as("qp"))
    val c = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      slice(col(vecCol), 1, dPrefix).as("cp"))
    val stage1 = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("cv"),
        cosine(col("qp"), col("cp")).as("psim"))
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("psim").desc, col("neighbor_id").asc)
    val short = stage1.withColumn("prank", row_number().over(w1))
      .filter(col("prank") <= shortlist)
    val w2 = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    short
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Near-dup pairs: all (a < b) pairs with cosine >= threshold. Brute-force
    * within label blocks would miss cross-label dups, so this variant scans
    * all pairs via a broadcast of the smaller projection — use only when one
    * side fits in memory; at corpus scale use [[srpNearDupPairs]].
    *
    * O(n²) guard: a corpus above `maxExactRows` either throws (default) or,
    * with `autoRoute=true`, falls through to [[srpNearDupPairs]] (same
    * output shape; LSH recall instead of exact). */
  def cosinePairs(emb: DataFrame, threshold: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  maxExactRows: Long = 100000L,
                  autoRoute: Boolean = false): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    val n = emb.select(col(idCol)).count()
    if (n > maxExactRows) {
      if (autoRoute)
        return srpNearDupPairs(emb, threshold, idCol = idCol, vecCol = vecCol)
      throw new IllegalArgumentException(
        s"cosinePairs is O(n²): corpus has $n rows > maxExactRows=$maxExactRows; " +
          "use srpNearDupPairs (or pass autoRoute=true)")
    }
    // spread the STREAM side of the nested-loop join: a one-row-group
    // corpus otherwise runs the full n^2 cosine sweep on one core
    val a = Spread.spread(emb).select(col(idCol).as("vec_a"), col(vecCol).as("va"))
    val b = emb.select(col(idCol).as("vec_b"), col(vecCol).as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** LSH-bucketed near-dup pairs — the 100 TB path for [[cosinePairs]]:
    * signed-random-projection signatures banded into `bands` bands of
    * `bitsPerBand` bits; a pair at cosine θ agrees on a band with
    * P = (1−θ/π)^bitsPerBand, so high-cosine pairs collide in ≥1 band
    * w.h.p. while random pairs mostly don't; candidates verified with
    * exact cosine.
    *
    * Band width is THE scale knob: a band's bucket-key space is
    * 2^bitsPerBand and the bucket join is quadratic WITHIN a bucket, so
    * 4-bit bands (16 buckets/band) degenerate toward all-pairs as the
    * corpus grows — measured at 20k heavily-twinned vectors: ~200M
    * candidate pairs / 24s at 16×4 vs 16× fewer at 8-bit bands. The
    * default 16 bands × 8 bits (two 64-bit signature columns, seed-
    * shifted hyperplanes) keeps ≥0.95-cosine recall ≈ 99.99% (per band
    * p^8 ≈ 0.43) with 256× finer buckets. Wide-recall 4-bit bands remain
    * available for LOW thresholds on small corpora (the 0.5-threshold
    * query pins them explicitly). Hot buckets capped like the text LSH.
    *
    * Sizing rule: per-band work is Σ bucket², so pick
    * bitsPerBand ≈ log2(corpus / desired bucket size) — 8 bits carries
    * ~10⁵-10⁶ vectors; at 10⁸+ use 16-bit bands (4 signature columns;
    * ≥0.95 recall ≈ 96% at 16 bands) and cap stragglers with
    * `maxBucketSize`. */
  def srpNearDupPairs(emb: DataFrame, threshold: Double,
                      bands: Int = 16, bitsPerBand: Int = 8,
                      maxBucketSize: Int = 10000, seed: Long = 7L,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    require(64 % bitsPerBand == 0, "bitsPerBand must divide 64")
    val n = emb.sparkSession.sparkContext.defaultParallelism
    val mask = (1L << bitsPerBand) - 1
    val bandsPerSig = 64 / bitsPerBand
    val nSigs = (bands + bandsPerSig - 1) / bandsPerSig
    // one srp_sig column per 64 signature bits (seed-shifted hyperplanes)
    val sigCols = (0 until nSigs).map { i =>
      val bitsHere = math.min(bandsPerSig, bands - i * bandsPerSig) * bitsPerBand
      VectorFunctions.srpSig(col(vecCol), bitsHere, seed + i).as(s"sig$i")
    }
    // (id, band, bucket) materialized ONCE via lazy localCheckpoint: the
    // relation feeds three plan branches (bucket-size agg + both self-join
    // sides), and Spark physical-plans each branch as its own subtree — so
    // without the checkpoint the srp_sig kernel would run 3x over the
    // corpus. 24 B x bands per vector, spills to disk if large; on a real
    // cluster swap for `.checkpoint()` against a reliable store. (The r16
    // window-cap shape used for the 64-bit signature pairs was tried here
    // and measured SLOWER — srp bands are narrow but the band fan-out
    // makes the two windowed join sides pay more stages than the
    // persisted-relation semi-join.)
    val chunked = emb.repartition(n, col(idCol))
      .select(col(idCol) +: sigCols: _*)
      .select(col(idCol),
        posexplode(array((0 until bands).map { c =>
          shiftright(col(s"sig${c / bandsPerSig}"),
            (c % bandsPerSig) * bitsPerBand).bitwiseAND(mask)
        }: _*)).as(Seq("chunk", "ckey")))
      .localCheckpoint(false)
    val bucketSizes = chunked.groupBy("chunk", "ckey")
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") <= maxBucketSize)
    val capped = chunked.join(bucketSizes, Seq("chunk", "ckey"), "left_semi")
    val l = capped.select(col("chunk"), col("ckey"), col(idCol).as("vec_a"))
    val r = capped.select(col("chunk"), col("ckey"), col(idCol).as("vec_b"))
    // dedupe candidates on ids BEFORE rejoining the vectors — a pair
    // colliding in several bands is verified once, and distinct never
    // compares array payloads
    val candidates = l.join(r, Seq("chunk", "ckey"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    // exact-cosine verify joins read the raw (pruned) scan — vectors are
    // never persisted, only the fixed-width band keys above
    candidates
      .join(emb.select(col(idCol).as("vec_a"), col(vecCol).as("va")), "vec_a")
      .join(emb.select(col(idCol).as("vec_b"), col(vecCol).as("vb")), "vec_b")
      .select(col("vec_a"), col("vec_b"), cosine(col("va"), col("vb")).as("sim"))
      .filter(col("sim") >= threshold)
      .select("vec_a", "vec_b", "sim")
  }

  /** Project an int8-quantized copy of the embedding column — 4x smaller
    * than float32 (the production pattern stores this as a table column so
    * the shortlist scan never touches the float vectors). */
  def quantize(emb: DataFrame, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    emb.select(col(idCol), VectorFunctions.i8Quantize(col(vecCol)).as("qvec"))
  }

  /** Quantized top-k with exact rerank — the memory-scale path for
    * [[bruteForceTopK]]: score every candidate with integer-only
    * [[graft.functions.I8Cosine]] over int8 vectors (4x less data moved and
    * held than float32), keep a `shortlist` per query, then rerank ONLY the
    * shortlist with exact float cosine. With shortlist ≥ ~4k the top-k is
    * almost always identical to the exact scan (quantization perturbs
    * cosines by ~1/127 — only genuinely tied neighbors can swap), and the
    * float vectors are touched for shortlist·|Q| rows instead of n·|Q|. */
  def i8TopK(emb: DataFrame, k: Int = 5, queryPred: Column,
             shortlist: Int = 20, idCol: String = "vec_id",
             vecCol: String = "embedding",
             maxQueries: Long = 100000L): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    // same broadcast invariant as bruteForceTopK: the query set must fit
    val nQ = emb.filter(queryPred).select(col(idCol)).count()
    if (nQ > maxQueries) throw new IllegalArgumentException(
      s"i8TopK broadcasts the query set: $nQ queries > maxQueries=$maxQueries; " +
        "use ivfTopK for large query sets")
    val q = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        VectorFunctions.i8Quantize(col(vecCol)).as("qq"))
    val c8 = emb.select(col(idCol).as("neighbor_id"),
      VectorFunctions.i8Quantize(col(vecCol)).as("cq"))
    val w8 = Window.partitionBy("query_id")
      .orderBy(col("sim8").desc, col("neighbor_id").asc)
    val short = c8.join(broadcast(q.select(col("query_id"), col("qq"))),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.i8Cosine(col("qq"), col("cq")).as("sim8"))
      .withColumn("r8", row_number().over(w8)).filter(col("r8") <= shortlist)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    short
      .join(emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")), "neighbor_id")
      .join(broadcast(q.select(col("query_id"), col("qv"))), "query_id")
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** BINARY-quantized top-k with exact rerank — the 32×-compression ANN
    * path ([[graft.functions.BqPack]]): candidates are scanned as packed
    * SIGN BITS with XOR+popcount Hamming (a 768-dim float becomes 12
    * longs — the representation that keeps a billion-vector shortlist
    * scan in memory), a `shortlist` per query survives (ASC Hamming,
    * id tiebreak), and only the shortlist touches float vectors for the
    * exact cosine rerank. Same broadcast invariant as [[i8TopK]]: the
    * query side must fit. */
  def bqTopK(emb: DataFrame, k: Int = 5, queryPred: Column,
             shortlist: Int = 20, idCol: String = "vec_id",
             vecCol: String = "embedding",
             maxQueries: Long = 100000L): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    val nQ = emb.filter(queryPred).select(col(idCol)).count()
    if (nQ > maxQueries) throw new IllegalArgumentException(
      s"bqTopK broadcasts the query set: $nQ queries > maxQueries=$maxQueries; " +
        "use ivfTopK for large query sets")
    val q = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        VectorFunctions.bqPack(col(vecCol)).as("qb"))
    val cb = emb.select(col(idCol).as("neighbor_id"),
      VectorFunctions.bqPack(col(vecCol)).as("nb"))
    val wH = Window.partitionBy("query_id")
      .orderBy(col("ham").asc, col("neighbor_id").asc)
    val short = cb.join(broadcast(q.select(col("query_id"), col("qb"))),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.bqHamming(col("qb"), col("nb")).as("ham"))
      .withColumn("rh", row_number().over(wH)).filter(col("rh") <= shortlist)
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    short
      .join(emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")),
        "neighbor_id")
      .join(broadcast(q.select(col("query_id"), col("qv"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Deterministic pseudo-random centroid init: the `nlist` corpus vectors
    * smallest by hashed id — planned as TakeOrderedAndProject (top-k, no
    * global sort). Reproducible across runs, which the rows-only driver
    * check needs. */
  private def sampledCentroids(emb: DataFrame, nlist: Int,
                               idCol: String, vecCol: String): DataFrame =
    emb.orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(nlist)
      .select(col(idCol).as("cell_id"), col(vecCol).as("centroid"))

  /** Spherical k-means (Lloyd) for the IVF coarse quantizer: assign each
    * vector to its max-cosine centroid, recompute centroids as elementwise
    * means, repeat. Cosine assignment is scale-invariant so the means are
    * not renormalized.
    *
    * Scale design: each iteration is one broadcast cross-join + one
    * map-side-combined hash aggregate (`max_by`) + one (cell, dim)
    * aggregate; only `nlist x dim` floats ever reach the driver per
    * iteration (the new centroids), never data rows. Empty cells keep
    * their previous centroid. Deterministic given the data (sampled init,
    * fixed tie-breaks). */
  def trainCentroids(emb: DataFrame, nlist: Int = 16, iters: Int = 5,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    val spark = emb.sparkSession
    import spark.implicits._
    var cents: Seq[(Long, Seq[Float])] = sampledCentroids(emb, nlist, idCol, vecCol)
      .select(col("centroid")).as[Seq[Float]].collect().toSeq
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
    for (_ <- 1 to iters) {
      val cdf = broadcast(cents.toDF("cell_id", "centroid"))
      val assigned = emb.crossJoin(cdf)
        .select(col(idCol), col(vecCol).as("v"), col("cell_id"),
          cosine(col(vecCol), col("centroid")).as("csim"))
        .groupBy(col(idCol))
        .agg(max_by(struct(col("cell_id"), col("v")),
          struct(col("csim"), -col("cell_id"))).as("_a"))
        .select(col("_a.cell_id").as("cell_id"), col("_a.v").as("v"))
      val means = assigned
        .select(col("cell_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell_id", "pos").agg(avg("x").as("m"))
        .as[(Long, Int, Double)].collect()
      val updated = means.groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3.toFloat).toSeq).toMap
      cents = cents.map { case (id, c) => (id, updated.getOrElse(id, c)) }
    }
    cents.toDF("cell_id", "centroid")
  }

  /** Spherical k-means over INT8-QUANTIZED vectors with integer-sum
    * centroids — the engine-replayable trainer behind `ann_ivf_kmeans`.
    *
    * Why this variant exists: [[trainCentroids]]' float means are
    * order-dependent (Spark's partial-aggregation order is plan-dependent),
    * so no other engine can reproduce them bit-for-bit. Here every
    * per-iteration reduction is an INTEGER sum of int8 components — exact
    * and order-independent — and cosine is scale-invariant, so the centroid
    * never needs the division by cluster size at all: the sum vector IS the
    * centroid. Assignment compares `cosine_sim` (double accumulation in
    * index order) over exactly-representable integer-valued floats, which
    * DuckDB's `list_cosine_similarity` reproduces bit-for-bit
    * (`tools/gen_kmeans_oracle.py`), flipping the one remaining rows-only
    * correctness entry to a hash-match.
    *
    * Same scale shape as [[trainCentroids]]: per iteration one broadcast
    * cross-join + map-side-combined `max_by` + a (cell, dim) integer
    * aggregate; only `nlist x dim` longs reach the driver. Sum components
    * stay float-exact while cluster mass stays under 2^24/127 ≈ 132k
    * vectors; beyond that both engines round the same IEEE way, so
    * determinism (though not integer exactness) survives. Empty cells keep
    * their previous centroid. */
  def trainCentroidsI8(emb: DataFrame, nlist: Int = 16, iters: Int = 2,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    val spark = emb.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val floatArr = ArrayType(FloatType, containsNull = false)
    // quantized corpus feeds iters+1 plan branches — materialize once
    val q = emb.select(col(idCol), VectorFunctions.i8Quantize(col(vecCol)).as("q8"))
      .localCheckpoint(eager = false)
    var cents: Seq[(Long, Seq[Float])] = q
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(nlist)
      .select(col("q8")).as[Seq[Byte]].collect().toSeq
      .zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toFloat)) }
    for (_ <- 1 to iters) {
      val cdf = broadcast(cents.toDF("cell_id", "centroid"))
      val assigned = q.crossJoin(cdf)
        .select(col(idCol), col("q8"), col("cell_id"),
          cosine(col("q8").cast(floatArr), col("centroid")).as("csim"))
        .groupBy(col(idCol))
        .agg(max_by(struct(col("cell_id"), col("q8").as("v")),
          struct(col("csim"), -col("cell_id"))).as("_a"))
        .select(col("_a.cell_id").as("cell_id"), col("_a.v").as("v"))
      val sums = assigned
        .select(col("cell_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell_id", "pos").agg(sum(col("x").cast("long")).as("s"))
        .as[(Long, Int, Long)].collect()
      val updated = sums.groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3.toFloat).toSeq).toMap
      cents = cents.map { case (id, c) => (id, updated.getOrElse(id, c)) }
    }
    cents.toDF("cell_id", "centroid")
  }

  /** Nearest-cell assignment (broadcast centroid scan). max_by hash
    * aggregate, NOT a window: map-side partial combine reduces each
    * vector's nlist candidate rows inside the scan stage instead of
    * shuffling+sorting n x nlist rows into window tasks. */
  private def assignCells(emb: DataFrame, cents: DataFrame,
                          idCol: String, vecCol: String): DataFrame =
    emb.crossJoin(broadcast(cents))
      .select(col(idCol), col(vecCol),
        col("cell_id"), cosine(col(vecCol), col("centroid")).as("csim"))
      .groupBy(col(idCol))
      .agg(max_by(struct(col("cell_id"), col(vecCol).as("cv")),
        struct(col("csim"), -col("cell_id"))).as("_a"))
      .select(col(idCol).as("neighbor_id"), col("_a.cv").as("cv"),
        col("_a.cell_id").as("cell_id"))

  /** Per-query nprobe nearest cells. */
  private def probeCells(queries: DataFrame, cents: DataFrame,
                         nprobe: Int): DataFrame = {
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cell_id").asc)
    queries
      .crossJoin(broadcast(cents))
      .withColumn("csim", cosine(col("qv"), col("centroid")))
      .withColumn("_r", row_number().over(probeW)).filter(col("_r") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell_id"))
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** IVF-style approximate top-k. The coarse centroids default to a
    * deterministic corpus sample (reproducible, what the driver's rows-only
    * check pins); pass [[trainCentroids]]' output via `centroids` for
    * k-means recall. Corpus vectors are assigned to their nearest centroid
    * once; each query probes the `nprobe` nearest cells.
    *
    * Sizing rule: scanned fraction ≈ nprobe/nlist and per-probe work ≈
    * n/nlist, so keep nlist ≈ √n (the FAISS heuristic) — 16 cells suits
    * the sf fixtures; a 10⁸-vector corpus wants nlist ≈ 10⁴ with the
    * at-rest layout of [[writeIvfIndex]] pruning partitions. */
  def ivfTopK(emb: DataFrame, k: Int = 5, nlist: Int = 16, nprobe: Int = 4,
              queryPred: Column, idCol: String = "vec_id",
              vecCol: String = "embedding",
              centroids: Option[DataFrame] = None): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    val cents = centroids.getOrElse(sampledCentroids(emb, nlist, idCol, vecCol))
    val assigned = assignCells(emb, cents, idCol, vecCol)
    val probes = probeCells(
      emb.filter(queryPred).select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      cents, nprobe)
    rankTopK(
      assigned.join(probes, Seq("cell_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("qv"), col("cv")).as("sim")),
      k)
  }

  /** PRODUCT-QUANTIZATION ANN (Jégou et al. 2011, "Product quantization
    * for nearest neighbor search"): each D-dim vector splits into `m`
    * sub-vectors, each encoded as the id of its best codeword in a
    * per-sub-space codebook — the corpus compresses to m small codes
    * per vector (the memory story behind billion-scale ANN: m bytes
    * instead of 4·D). Queries answer via ASYMMETRIC DISTANCE
    * COMPUTATION: one m×ksub partial-dot lookup table per query, a
    * candidate's score = the FIXED-ORDER sum of its m table entries
    * (float addition is not associative — a shuffle-ordered SUM would
    * be nondeterministic), never touching original vectors at query
    * time. Codebooks are the deterministic xxh64 row sample (the IVF
    * coarse-quantizer convention — reproducible and oracle-replayable);
    * encoding and ADC both maximize the inner product, so encode and
    * search share the MIPS objective.
    *
    * Scale shape: codebooks are ksub driver rows (bounded), broadcast
    * everywhere; encoding is one explode(m) × broadcast join +
    * map-side-combined argmax (no window over n×ksub rows); the ADC
    * join is codes ⋈ (query, sub, code) table — exhaustive-PQ scans
    * every CODE per query (that is the algorithm; compose with
    * [[ivfTopK]]'s cell routing to bound candidates); the final top-k
    * windows per query_id only. */
  def pqTopK(emb: DataFrame, k: Int = 5, m: Int = 4, ksub: Int = 16,
             queryPred: Column = lit(true), idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    val spark = emb.sparkSession
    import spark.implicits._
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val d = dim / m
    // deterministic codebook rows: the ksub xxh64-smallest ids (order
    // preserved through limit+collect — the code id IS the sample rank)
    val sampled = emb.orderBy(xxhash64(col(idCol)), col(idCol)).limit(ksub)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0))
    val codebook = for {
      s <- 0 until m
      (v, j) <- sampled.zipWithIndex
    } yield (s, j.toLong, v.slice(s * d, (s + 1) * d))
    val cbDf = broadcast(codebook.toDF("sub", "code", "cw"))
    val subIdx = explode(sequence(lit(0), lit(m - 1))).as("sub")
    // ENCODE: per (vector, sub-space) the argmax-dot codeword — ONE
    // map-side kernel expression per vector (graft.functions.PqEncodeAll,
    // dot accumulation and smallest-code tie-break bit-identical to the
    // max_by(code, struct(dp, -code)) aggregate it replaces). The former
    // shape joined every vector with all ksub codewords and re-aggregated
    // through a Sort/Exchange/Sort — n·m·ksub rows shuffled for an
    // operation that needs no data movement at all.
    val cbFull = sampled.map(_.toArray)
    val codes = emb
      .select(col(idCol),
        posexplode(VectorFunctions.pqEncode(col(vecCol), m, cbFull))
          .as(Seq("sub", "code")))
    // ADC TABLE: per (query, sub, code) the partial dot — m·ksub rows per
    // query, the lookup table PQ ships to every node (exhaustive PQ scans
    // all codes per query, so the query set is bounded by construction):
    // BROADCAST it so the codes side is never shuffled by the (sub, code)
    // join — the former sort-merge join shuffled the whole corpus' codes
    // onto a 64-distinct-value key space (m·ksub), a skew wall at scale.
    val qt = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol), subIdx)
      .select(col("query_id"), col("sub"),
        slice(col(vecCol), col("sub") * d + 1, lit(d)).as("qs"))
      .join(cbDf, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        dot(col("qs"), col("cw")).as("p"))
    val perSub = (0 until m).map(s =>
      sum(when(col("sub") === s, col("p"))).as(s"__p$s"))
    val combined = (0 until m)
      .map(s => coalesce(col(s"__p$s"), lit(0.0))).reduceLeft(_ + _)
    val scored = codes.join(broadcast(qt), Seq("sub", "code"))
      .filter(col("query_id") =!= col(idCol))
      .groupBy(col("query_id"), col(idCol))
      .agg(perSub.head, perSub.tail: _*)
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        combined.as("sim"))
    rankTopK(scored, k)
  }

  /** IVF-PQ — the production billion-scale ANN composition (FAISS's
    * default shape): the IVF coarse quantizer routes each query to its
    * `nprobe` nearest cells (candidates shrink to ~nprobe/nlist of the
    * corpus) and the surviving candidates score by PQ ASYMMETRIC
    * DISTANCE over their m-byte codes — original vectors are touched by
    * neither stage at query time. Both quantizers use the deterministic
    * xxh64 row sample (reproducible, oracle-replayable); scoring sums
    * the m lookup-table entries in fixed sub-space order like
    * [[pqTopK]].
    *
    * Scale shape: coarse assignment + probing are broadcast-centroid
    * map-side aggregates; codes/ADC as in [[pqTopK]]; the candidate
    * join is (cell → members) ⋈ (query → cells) — the ADC work is
    * bounded by the probed fraction instead of the whole corpus. */
  def ivfPqTopK(emb: DataFrame, k: Int = 5, nlist: Int = 16, nprobe: Int = 4,
                m: Int = 4, ksub: Int = 16,
                queryPred: Column = lit(true), idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    val spark = emb.sparkSession
    import spark.implicits._
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val d = dim / m
    // coarse routing (the IVF half)
    val cents = sampledCentroids(emb, nlist, idCol, vecCol)
    val assigned = assignCells(emb, cents, idCol, vecCol)
      .select(col("neighbor_id"), col("cell_id"))
    val probes = probeCells(
      emb.filter(queryPred)
        .select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      cents, nprobe)
      .select(col("query_id"), col("cell_id"))
    val candidates = assigned.join(probes, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    // PQ codes + query tables (the ADC half) — same codebook convention
    // as pqTopK
    val sampled = emb.orderBy(xxhash64(col(idCol)), col(idCol)).limit(ksub)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0))
    val codebook = for {
      s <- 0 until m
      (v, j) <- sampled.zipWithIndex
    } yield (s, j.toLong, v.slice(s * d, (s + 1) * d))
    val cbDf = broadcast(codebook.toDF("sub", "code", "cw"))
    val subIdx = explode(sequence(lit(0), lit(m - 1))).as("sub")
    // map-side kernel encode — see pqTopK (bit-identical argmax)
    val codes = emb
      .select(col(idCol).as("neighbor_id"),
        posexplode(VectorFunctions.pqEncode(col(vecCol), m,
          sampled.map(_.toArray))).as(Seq("sub", "code")))
    val qt = emb.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol), subIdx)
      .select(col("query_id"), col("sub"),
        slice(col(vecCol), col("sub") * d + 1, lit(d)).as("qs"))
      .join(cbDf, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        dot(col("qs"), col("cw")).as("p"))
    val perSub = (0 until m).map(s =>
      sum(when(col("sub") === s, col("p"))).as(s"__p$s"))
    val combined = (0 until m)
      .map(s => coalesce(col(s"__p$s"), lit(0.0))).reduceLeft(_ + _)
    val scored = candidates
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(qt), Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(perSub.head, perSub.tail: _*)
      .select(col("query_id"), col("neighbor_id"), combined.as("sim"))
    rankTopK(scored, k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by clustering embeddings and comparing pairs only
    * WITHIN a cluster — the published answer to "embedding near-dup at
    * web scale" (the clustering replaces LSH banding as the candidate
    * generator; all-pairs never happens). A vector is a duplicate when
    * some lower-id member of its cluster has cosine similarity >=
    * `threshold` — deterministic, order-independent, and replayed
    * bit-exactly by the DuckDB oracle (`tools/gen_semdedup_oracle.py`)
    * because the centroids come from the engine-replayable
    * [[trainCentroidsI8]] integer-sum trainer.
    *
    * Scale shape: training + assignment are broadcast centroid scans with
    * map-side-combined argmax (no window, no shuffle of n x nlist rows);
    * the pair stage is a hash self-join on cell_id. Per-cluster cost is
    * O(|cell|^2) — `nlist` must scale with corpus size (SemDeDup uses
    * ~sqrt(n) clusters) and clusters larger than `maxClusterSize` are
    * excluded from pairing (members kept, recall dropped loudly via the
    * same warn policy as the LSH caps in [[graft.ops.Dedup]]).
    *
    * Returns one row per vector: (idCol, cell_id, is_dup). */
  /** Cluster-balanced DIVERSITY sampling — the selection move behind
    * cluster-stratified data curation: k-means the corpus (the same
    * engine-replayable integer-sum trainer as IVF/SemDeDup), assign
    * every vector to its nearest cell, keep exactly `perCluster`
    * deterministic picks per cell (smallest md5 of the id — an unbiased
    * fixed draw) — so every region of embedding space contributes
    * equally to the sample instead of the densest cluster dominating.
    *
    * Scale shape: assignment is the broadcast-centroid map-side
    * aggregate (no window); the per-cell election runs `perCluster`
    * sequential min_by rounds (map-side-combined hash aggregates +
    * broadcast anti-joins, never a per-cell sort task) — the same
    * round-loop posture as BPE learning, with perCluster small by
    * construction. */
  /** Bounded per-cell top-k election: the k smallest `(hash, id)` pairs
    * per group, kept in a SORTED buffer capped at k — map-side combined
    * like any hash aggregate, memory O(k) per cell regardless of cell
    * population (a `collect_list` would buffer whole cells; a window
    * rank would sort them). */
  private class TopKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, String), Seq[(String, String)], Seq[(String, String)]] {
    override def zero: Seq[(String, String)] = Vector.empty
    override def reduce(b: Seq[(String, String)],
                        x: (String, String)): Seq[(String, String)] =
      if (b.length >= k && implicitly[Ordering[(String, String)]]
          .gteq(x, b.last)) b
      else ((b :+ x).sorted.take(k))
    override def merge(a: Seq[(String, String)],
                       b: Seq[(String, String)]): Seq[(String, String)] =
      (a ++ b).sorted.take(k)
    override def finish(r: Seq[(String, String)]): Seq[(String, String)] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(String, String)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(String, String)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  def clusterBalancedSample(emb: DataFrame, perCluster: Int, nlist: Int = 16,
                            iters: Int = 2, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(perCluster >= 1, "perCluster must be >= 1")
    val spark = emb.sparkSession
    VectorFunctions.ensureRegistered(spark)
    val cents = trainCentroidsI8(emb, nlist, iters, idCol, vecCol)
    val assigned = assignCells(emb, cents, idCol, vecCol)
      .select(col("neighbor_id").as(idCol), col("cell_id"),
        md5(col("neighbor_id").cast("string")).as("__h"))
      .localCheckpoint(false)
    // ONE bounded aggregate elects every cell's k smallest (md5, id)
    // draws — the same deterministic pick the old perCluster sequential
    // min_by rounds produced, without O(perCluster) jobs; the tiny
    // winner list (cells × k) broadcast-joins back to restore the id's
    // original type
    val topk = org.apache.spark.sql.functions.udaf(new TopKAgg(perCluster),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING))
    val winners = assigned
      .groupBy(col("cell_id"))
      .agg(topk(col("__h"), col(idCol).cast("string")).as("_w"))
      .select(col("cell_id"), explode(col("_w")).as("w"))
      .select(col("cell_id"), col("w._1").as("__h"), col("w._2").as("__ids"))
    assigned
      .join(broadcast(winners),
        assigned("cell_id") === winners("cell_id") &&
          assigned("__h") === winners("__h") &&
          assigned(idCol).cast("string") === winners("__ids"), "left_semi")
      .select(col("cell_id"), col(idCol))
  }

  def semDedup(emb: DataFrame, threshold: Double, nlist: Int = 16,
               iters: Int = 2, idCol: String = "vec_id",
               vecCol: String = "embedding",
               maxClusterSize: Int = 100000): DataFrame = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    val cents = trainCentroidsI8(emb, nlist, iters, idCol, vecCol)
    val assigned = assignCells(emb, cents, idCol, vecCol)
      .select(col("neighbor_id").as(idCol), col("cv"), col("cell_id"))
      .localCheckpoint(eager = false) // feeds sizes + both self-join sides
    val sizes = assigned.groupBy("cell_id").agg(count(lit(1)).as("bsz"))
    // same observability policy as the LSH caps in Dedup: an eager warn
    // job measures what the cap EXCLUSION below drops
    val oversized = sizes.filter(col("bsz") > maxClusterSize)
      .agg(count(lit(1)), coalesce(sum(col("bsz")), lit(0L))).head()
    if (oversized.getLong(0) > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"graft.semdedup: ${oversized.getLong(0)} cluster(s) over " +
          s"maxClusterSize=$maxClusterSize excluded from pairing " +
          s"(${oversized.getLong(1)} vectors lose near-dup recall) — " +
          "raise nlist (SemDeDup wants ~sqrt(n) clusters) or the cap")
    val small = assigned.join(
      broadcast(sizes.filter(col("bsz") <= maxClusterSize).select("cell_id")),
      Seq("cell_id"))
    val dups = small.select(col("cell_id"), col(idCol).as("id_a"), col("cv").as("va"))
      .join(small.select(col("cell_id"), col(idCol).as("id_b"), col("cv").as("vb")),
        Seq("cell_id"))
      .filter(col("id_a") < col("id_b") &&
        cosine(col("va"), col("vb")) >= threshold)
      .select(col("id_b").as("_dup_id")).distinct()
    assigned.join(dups, col(idCol) === col("_dup_id"), "left")
      .select(col(idCol), col("cell_id"), col("_dup_id").isNotNull.as("is_dup"))
  }

  /** IVF index AT REST — the 100 TB layout: the corpus is written
    * partitioned by coarse cell (`path/data/cell_id=N/...`), centroids
    * beside it (`path/_centroids`), so probe queries scan only the
    * `nprobe` matching PARTITIONS (directory pruning — ~nprobe/nlist of
    * the bytes) instead of the whole corpus. */
  def writeIvfIndex(emb: DataFrame, path: String, nlist: Int = 16,
                    iters: Int = 2, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    VectorFunctions.ensureRegistered(emb.sparkSession)
    // trainCentroidsI8, not trainCentroids: integer-sum centroids are
    // plan-order-independent, so rebuilding over the same corpus yields a
    // byte-identical index — reproducibility is an at-rest invariant (two
    // engines, or a rebuild audit, must agree on cell assignment)
    val cents = trainCentroidsI8(emb, nlist, iters, idCol, vecCol)
    assignCells(emb, cents, idCol, vecCol)
      .select(col("neighbor_id").as(idCol), col("cv").as(vecCol), col("cell_id"))
      .write.partitionBy("cell_id")
      // a rebuild replaces every cell, whatever the session's default mode:
      // a dynamic overwrite would keep cells the new nlist no longer has
      .option("partitionOverwriteMode", "static")
      .mode("overwrite").parquet(s"$path/data")
    cents.write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** Incremental index maintenance: land a batch of new/updated vectors
    * into an existing at-rest index WITHOUT rewriting the corpus.
    *
    * New vectors are assigned to the EXISTING centroids (assignment is the
    * index's invariant — probes must find a vector in the cell its stored
    * centroid implies, so centroids are deliberately NOT retrained here;
    * retrain + full [[writeIvfIndex]] periodically, like any IVF system),
    * then only the touched `cell_id=N` partitions are rewritten: their
    * current rows are unioned with the batch (batch wins on `idCol` —
    * the lake layer's COW commit, which rewrites only the files it touches)
    * and written back under `partitionOverwriteMode=dynamic`, which
    * replaces exactly the partitions present in the output. A batch
    * touching b ≤ nlist cells costs ~b/nlist of the corpus in IO, not a
    * full rewrite. */
  def appendToIvfIndex(batch: DataFrame, path: String,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    VectorFunctions.ensureRegistered(spark)
    val cents = spark.read.parquet(s"$path/_centroids")
    val assigned = assignCells(batch, cents, idCol, vecCol)
      .select(col("neighbor_id").as(idCol), col("cv").as(vecCol), col("cell_id"))
      .localCheckpoint(false)
    // an UPDATED vector may move cells: its old row lives in a partition no
    // batch vector maps to, so that cell must be rewritten too. Locating
    // old rows reads only (id, cell_id) — column pruning keeps the vector
    // payload (the dominant bytes) out of this pass.
    val oldCells = spark.read.parquet(s"$path/data")
      .join(assigned.select(idCol), Seq(idCol), "left_semi")
      .select("cell_id").distinct()
    // bounded collect: ≤ nlist new cells + ≤ batch-distinct old cells
    val touched = assigned.select("cell_id").distinct().unionByName(oldCells)
      .distinct().collect().map(_.getLong(0)).toSeq
    if (touched.isEmpty) return
    val existing = spark.read.parquet(s"$path/data")
      .filter(col("cell_id").isin(touched: _*))
      .select(col(idCol), col(vecCol), col("cell_id"))
      // batch wins on id (vector update moves/replaces the stored row)
      .join(assigned.select(idCol), Seq(idCol), "left_anti")
    // eager: the write overwrites partitions this plan reads
    val merged = existing.unionByName(assigned).localCheckpoint(true)
    merged.write.partitionBy("cell_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$path/data")
    // dynamic overwrite only rewrites partitions PRESENT in the output: a
    // moved vector that empties its old cell leaves the old row stranded
    // there. Remove touched-but-now-empty partition directories explicitly.
    val remaining = merged.select("cell_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val emptied = touched.filterNot(remaining)
    if (emptied.nonEmpty) {
      val conf = spark.sparkContext.hadoopConfiguration
      emptied.foreach { c =>
        val p = new org.apache.hadoop.fs.Path(s"$path/data/cell_id=$c")
        p.getFileSystem(conf).delete(p, true)
      }
    }
  }

  /** Small-file compaction for the at-rest IVF index: every
    * [[appendToIvfIndex]] adds one file set to each touched cell, so daily
    * appends accumulate the classic small-file problem. Rewrites ONLY
    * cells holding at least `minFilesPerCell` data files — same dynamic
    * partition-overwrite pattern as append, so IO ∝ fragmented-cell bytes,
    * not corpus bytes. The file census is a driver-side directory listing,
    * bounded by nlist cell dirs (the same metadata a real table service
    * reads); one output file per compacted cell. */
  def compactIvfCells(spark: org.apache.spark.sql.SparkSession, path: String,
                      minFilesPerCell: Int = 2): Seq[Long] = {
    require(minFilesPerCell >= 2, "compacting singleton cells is a no-op")
    val dataPath = new org.apache.hadoop.fs.Path(s"$path/data")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dataPath)) return Nil
    val fragmented = fs.listStatus(dataPath).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell_id="))
      .flatMap { st =>
        val files = fs.listStatus(st.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        if (files >= minFilesPerCell)
          Some(st.getPath.getName.stripPrefix("cell_id=").toLong)
        else None
      }
    if (fragmented.isEmpty) return Nil
    // partition-pruned read of just the fragmented cells; one shuffle
    // partition per cell -> one output file per cell
    val merged = spark.read.parquet(s"$path/data")
      .filter(col("cell_id").isin(fragmented: _*))
      .repartition(fragmented.size, col("cell_id"))
      // eager: the write overwrites partitions this plan reads
      .localCheckpoint(true)
    merged.write.partitionBy("cell_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$path/data")
    fragmented
  }

  /** RECALL-DRIVEN maintenance for the at-rest IVF index:
    * [[appendToIvfIndex]] deliberately never retrains (assignment is
    * the index's invariant), so centroids go stale as the corpus
    * drifts and recall decays SILENTLY — the failure mode of every
    * IVF system without a measured trigger. This is the trigger:
    * measure recall@k of the stored index ([[ivfTopKIndexed]]) against
    * exact ground truth ([[bruteForceTopK]]) over a BOUNDED,
    * DETERMINISTIC query sample (smallest `xxhash64(id)` win — no RNG,
    * so a rebuild audit reproduces the measurement), and retrain +
    * rebuild ([[writeIvfIndex]], whose integer-sum k-means keeps the
    * rebuild reproducible for identical input) only when recall drops
    * below `minRecallX1000`.
    *
    * Cost: truth is one corpus scan against ≤ `sampleQueries`
    * broadcast queries (a maintenance probe, not a query-path cost);
    * the index side reads only the probed cells. Returns
    * `(measured recall_x1000, rebuilt?)`. */
  def maintainIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, k: Int = 5, nprobe: Int = 4,
                       sampleQueries: Int = 64,
                       minRecallX1000: Long = 900L,
                       rebuildNlist: Int = 16, rebuildIters: Int = 2,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): (Long, Boolean) = {
    VectorFunctions.ensureRegistered(spark)
    val corpus = spark.read.parquet(s"$path/data")
      .select(col(idCol), col(vecCol))
    // bounded collect: exactly min(sampleQueries, corpus) ids
    val sampleIds = corpus.select(col(idCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleQueries).collect().map(_.get(0)).toSeq
    if (sampleIds.isEmpty) return (1000L, false)
    val pred = col(idCol).isin(sampleIds: _*)
    val truth = bruteForceTopK(corpus, k, pred, idCol, vecCol,
      maxQueries = math.max(sampleQueries.toLong, 1L))
    val result = ivfTopKIndexed(corpus.filter(pred), path, k, nprobe,
      idCol, vecCol)
    val recall = annRecall(truth, result, "ivf-at-rest", k)
      .select(col("recall_x1000")).head().getLong(0)
    if (recall >= minRecallX1000) (recall, false)
    else {
      rebuildIvfIndexInPlace(spark, path, rebuildNlist, rebuildIters,
        idCol, vecCol)
      (recall, true)
    }
  }

  /** Retrain + rewrite an at-rest index over ITS OWN corpus, safely:
    * the rebuild's write overwrites the very partitions its plan reads,
    * so the corpus is EAGERLY materialized first (the
    * [[appendToIvfIndex]] pattern — a lazy plan would hit
    * FILE_NOT_EXIST mid-job under static partition overwrite), and
    * because dynamic partition overwrite only replaces cells PRESENT in
    * the new assignment, cell dirs the retrain no longer produces
    * (nlist shrank, or a cell went empty) are deleted explicitly —
    * leaving them would keep every stale row alive next to its
    * re-assigned copy. */
  private def rebuildIvfIndexInPlace(spark: org.apache.spark.sql.SparkSession,
                                     path: String, nlist: Int, iters: Int,
                                     idCol: String, vecCol: String): Unit = {
    VectorFunctions.ensureRegistered(spark)
    val dataPath = new org.apache.hadoop.fs.Path(s"$path/data")
    val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldCells: Set[String] =
      if (!fs.exists(dataPath)) Set.empty
      else fs.listStatus(dataPath).iterator
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("cell_id="))
        .map(_.getPath.getName).toSet
    val corpus = spark.read.parquet(s"$path/data")
      .select(col(idCol), col(vecCol))
    // deterministic retrain (the at-rest reproducibility contract) +
    // assignment, EAGERLY materialized: the write overwrites the very
    // partitions this plan reads
    val cents = trainCentroidsI8(corpus, nlist, iters, idCol, vecCol)
    val assigned = assignCells(corpus, cents, idCol, vecCol)
      .select(col("neighbor_id").as(idCol), col("cv").as(vecCol),
        col("cell_id"))
      .localCheckpoint(true)
    // the cells the retrain actually produced — bounded by nlist
    val produced = assigned.select("cell_id").distinct().collect()
      .map(r => s"cell_id=${r.getLong(0)}").toSet
    assigned.write.partitionBy("cell_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$path/data")
    cents.write.mode("overwrite").parquet(s"$path/_centroids")
    // dynamic partition overwrite only replaced cells PRESENT in the new
    // assignment: old dirs it skipped still hold pre-retrain rows —
    // every such vector would be alive twice, and probes would answer
    // from stale centroid geometry
    oldCells.diff(produced).foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(dataPath, d), true): Unit
    }
  }

  /** Top-k against a stored IVF index: per-query probes come from the
    * stored centroids, the probed cell set (≤ nlist ids, driver-side) turns
    * into a partition-pruning `isin` filter on the index scan, and only
    * those directories are read. Same output shape as [[ivfTopK]]. */
  def ivfTopKIndexed(queries: DataFrame, path: String, k: Int = 5,
                     nprobe: Int = 4, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    VectorFunctions.ensureRegistered(spark)
    val cents = spark.read.parquet(s"$path/_centroids")
    // materialized once: the probe set feeds both the driver-side cell
    // collect and the final join — without this the query×centroid cross
    // join and its window would run twice
    val probes = probeCells(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      cents, nprobe)
      .localCheckpoint(false)
    // bounded collect: at most nlist cell ids — this is what makes the
    // scan filter a PartitionFilter instead of a join
    val cells = probes.select("cell_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val corpus = spark.read.parquet(s"$path/data")
      .filter(col("cell_id").isin(cells: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("cell_id"))
    rankTopK(
      corpus.join(probes, Seq("cell_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosine(col("qv"), col("cv")).as("sim")),
      k)
  }
}
