package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** Deduplication operators for LLM training-data pipelines.
  *
  * Scale design (100 TB):
  *  - exact / fingerprint dedup is a single hash-aggregate on a digest —
  *    one shuffle keyed by the digest, map-side partial aggregation;
  *  - near-dup detection NEVER does an unblocked O(n²) self-join: candidate
  *    pairs come either from an LSH band bucket join (MinHash / SimHash) or
  *    an explicit blocking key (language × length bucket). Bucket skew is
  *    capped (`maxBucketSize`) so one hot bucket can't quadratic-blow a task;
  *  - the Hamming-LSH generators ([[simhashPairs]], [[signaturePairs]],
  *    [[signaturePairsIncremental]]) share one cap contract: the cap
  *    counts MEMBER ROWS per bucket; with nothing capped the output is
  *    exactly the brute-force pair set, with capped buckets a subset of
  *    it, and every capped call is reported ([[capReports]] + a warning);
  *  - everything is built-in/higher-order functions — whole-stage codegen,
  *    no UDF serialization on the hot path.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // --------------------------------------------- capped-bucket visibility

  /** What a bucket cap dropped in one operator call. */
  final case class CapReport(cappedBuckets: Long, droppedRows: Long, cap: Int)

  /** Last [[CapReport]] per operator key (driver-side), for tests and
    * monitoring harnesses; the same numbers are warn-logged the moment a
    * cap fires. LAST-WRITER-WINS across concurrent pipelines in one JVM:
    * attribution is per operator, not per call — when two jobs run the
    * same operator concurrently, the authoritative per-call record is
    * each call's own warn log line, not this map. */
  val capReports = new java.util.concurrent.ConcurrentHashMap[String, CapReport]()

  /** Measure what a bucket cap is about to drop: one bounded aggregate
    * over the (tiny, already-grouped) bucket-size relation `bsz` (member
    * rows per bucket), warn-logged immediately — silently-dropped near-dup
    * recall is the one production failure mode the declarative plan
    * can't surface. Runs as a small eager job at operator-construction
    * time; since the underlying key relation is lazily checkpointed, this
    * also materializes it once for the main query to reuse. (A zero-job
    * `observe` variant was tried first: these pipelines branch the capped
    * relation into BOTH self-join sides, and Spark silently drops metrics
    * from duplicated CollectMetrics nodes.) */
  private def reportCaps(bucketSizes: DataFrame, op: String, cap: Int): Unit = {
    val r = bucketSizes.filter(col("bsz") > cap)
      .agg(count(lit(1)), coalesce(sum(col("bsz")), lit(0L))).head()
    val report = CapReport(r.getLong(0), r.getLong(1), cap)
    capReports.put(op, report)
    if (report.cappedBuckets > 0) log.warn(
      s"graft.dedup.$op: ${report.cappedBuckets} LSH bucket(s) over " +
        s"maxBucketSize=$cap were dropped (${report.droppedRows} member rows " +
        "lose near-dup candidate recall) — raise the cap or pre-block the " +
        "corpus if this mass matters")
  }

  // ------------------------------------------------------------ exact

  /** Exact dedup on a content digest: one row per distinct md5(text), the
    * keeper being the lowest id. Returns (digest, keeper id, dup count). */
  def exactGroups(df: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    df.select(md5(col(textCol)).as("digest"), col(idCol))
      .groupBy("digest")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Content-set dedup: same, keyed on the canonical token-set fingerprint
    * (word order / duplication insensitive). The digest is projected BEFORE
    * the groupBy — grouping directly on the expensive expression makes
    * Spark evaluate it again in the final aggregate. */
  def fingerprintGroups(df: DataFrame, textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame =
    df.select(TextOps.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------------------ jaccard

  /** Exact n-gram (word-shingle) Jaccard near-dup pairs within blocks of
    * (`lang`, n_chars/64). Integer-only comparison `10*|∩| >= t*|∪|` keeps
    * the result bit-exact across engines. Output: (doc_a, doc_b, i, u).
    *
    * The self-join is all-pairs WITHIN a block, so one hot block (a common
    * language × common length at corpus scale) would be a quadratic single
    * task. Blocks larger than `maxBlockSize` are therefore excluded from
    * the all-pairs join — same skew cap as [[minhashPairs]] — and, with
    * `routeOversized=true`, their documents are sent through
    * [[minhashPairs]] instead (candidate count ∝ true near-dups, not
    * block²; candidates still verified with exact Jaccard, so routed pairs
    * satisfy the same threshold — only candidate RECALL becomes
    * probabilistic). With `routeOversized=false` (the oracle-exact default)
    * oversized blocks are dropped entirely. */
  def jaccardPairs(df: DataFrame, thresholdTenths: Int = 8,
                   maxBlockSize: Int = 1000,
                   routeOversized: Boolean = false,
                   idCol: String = "doc_id", textCol: String = "text",
                   langCol: String = "lang", lenCol: String = "n_chars"): DataFrame = {
    graft.functions.TextFunctions.ensureRegistered(df.sparkSession)
    // repartition with EXPLICIT partition count: a small parquet file
    // arrives as one scan partition, and AQE would coalesce a by-column
    // repartition right back down (bytes-based sizing is blind to the
    // CPU-heavy pair stage); an explicit numPartitions is exempt from
    // AQE coalescing
    val n = df.sparkSession.sparkContext.defaultParallelism
    // hashed shingle sets: the pairwise intersect (re-evaluated several
    // times per pair once Catalyst folds i/u into the join condition) is a
    // register-width merge scan over sorted longs, not string compares;
    // i/u counts are identical to the string sets barring 2^-64 collisions
    // materialized ONCE (lazy localCheckpoint): the shingle relation feeds
    // the block-size aggregate and BOTH self-join sides, each of which
    // Spark plans as its own subtree — without this the shingle kernel
    // would re-tokenize the corpus 3x. Hashed shingles are longs, so the
    // persisted relation is compact; swap for `.checkpoint()` on a cluster.
    val sh = df
      .filter(size(split(col(textCol), " ")) >= 3)
      .repartition(n, col(idCol))
      .select(col(idCol), col(langCol),
        (col(lenCol).cast("long") / 64).cast("long").as("len_bkt"),
        graft.functions.TextFunctions.shingleHashes(col(textCol), 3).as("sh"))
      .localCheckpoint(false)
    // skew guard: cap block population (mirrors the minhash bucket cap);
    // dropped-block mass is measured + warn-logged (routed blocks aren't
    // lost, so only the non-routed form reports)
    // cap via size-agg + left-semi, NOT a count window: the shingle
    // arrays are wide, and WindowExec buffers + copies every row of a
    // partition group through its row buffer — measured 65% slower than
    // letting the semi join stream them (a window cap suits only narrow
    // key relations, not payload-carrying rows)
    val blockSizes = sh.groupBy(langCol, "len_bkt").agg(count(lit(1)).as("bsz"))
    if (!routeOversized) reportCaps(blockSizes, "jaccard_blocks", maxBlockSize)
    val smallBlocks = blockSizes.filter(col("bsz") <= maxBlockSize)
    val capped = sh.join(smallBlocks, Seq(langCol, "len_bkt"), "left_semi")
    val a = capped.select(col(idCol).as("doc_a"), col(langCol), col("len_bkt"), col("sh").as("sh_a"))
    val b = capped.select(col(idCol).as("doc_b"), col(langCol), col("len_bkt"), col("sh").as("sh_b"))
    val inter = graft.functions.TextFunctions.sortedIntersectSizeLong(col("sh_a"), col("sh_b"))
    val exact = a.join(b, Seq(langCol, "len_bkt"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        inter.as("i"),
        (size(col("sh_a")) + size(col("sh_b")) - inter).as("u"))
      .filter(col("i") * 10 >= col("u") * thresholdTenths && col("u") > 0)
    if (!routeOversized) exact
    else {
      // oversized blocks: LSH candidates instead of block²; note pairs are
      // generated within the routed sub-corpus only (same blocking contract)
      val bigBlocks = blockSizes.filter(col("bsz") > maxBlockSize)
      val routedDocs = df.join(
        sh.join(bigBlocks, Seq(langCol, "len_bkt"), "left_semi").select(col(idCol)),
        Seq(idCol), "left_semi")
      exact.unionByName(
        minhashPairs(routedDocs, thresholdTenths, idCol = idCol, textCol = textCol))
    }
  }

  // ------------------------------------------------------------ minhash

  /** MinHash+LSH near-dup pairs:
    * shingle → (32 seeded min-hashes → 8 bands of 4, one native-kernel pass,
    * [[graft.functions.MinHashBands]]) → band-bucket join for candidates →
    * exact shingle-Jaccard verification `10*i >= t*u`.
    * The band join is the scale path: candidates ∝ true near-dups, not n².
    * Hot buckets (> maxBucketSize, e.g. boilerplate docs) are dropped with
    * the cap logged in the plan rather than silently exploding a task. */
  def minhashPairs(df: DataFrame, thresholdTenths: Int = 8,
                   bands: Int = 8, rowsPerBand: Int = 4,
                   maxBucketSize: Int = 1000,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.functions.TextFunctions.ensureRegistered(df.sparkSession)
    val nPart = df.sparkSession.sparkContext.defaultParallelism
    // one materialization feeds banding, both candidate-join sides and the
    // two verify rejoins — 5 plan branches that would otherwise each
    // re-run shingling over the corpus (see jaccardPairs note)
    val docs = df
      .filter(size(split(col(textCol), " ")) >= 3)
      .repartition(nPart, col(idCol))
      .select(col(idCol), graft.functions.TextFunctions.shingleHashes(col(textCol), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(false)
    val banded = docs.select(col(idCol),
      posexplode(graft.functions.TextFunctions.minhashBandsH(col("sh"), bands, rowsPerBand))
        .as(Seq("band", "bucket")))
    // skew guard: cap bucket population (drops measured + warn-logged);
    // the cap rides a count window so ONE exchange both applies it and
    // pre-partitions/pre-sorts the banded relation for the candidate
    // self-join (the old size-agg + left-semi shape shuffled it 3x)
    reportCaps(banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz")), "minhash", maxBucketSize)
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    val capped = banded.withColumn("__bsz", count(lit(1)).over(wb))
      .filter(col("__bsz") <= maxBucketSize)
    val l = capped.select(col("band"), col("bucket"), col(idCol).as("doc_a"))
    val r = capped.select(col("band"), col("bucket"), col(idCol).as("doc_b"))
    // dedupe candidate pairs on ids BEFORE rejoining the heavy shingle
    // arrays — a pair colliding in several bands is verified once
    val candidates = l.join(r, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val inter = graft.functions.TextFunctions.sortedIntersectSizeLong(col("sh_a"), col("sh_b"))
    candidates
      .join(docs.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        inter.as("i"),
        (size(col("sh_a")) + size(col("sh_b")) - inter).as("u"))
      .filter(col("i") * 10 >= col("u") * thresholdTenths && col("u") > 0)
      .select("doc_a", "doc_b", "i", "u")
  }

  /** Incremental NEAR-dup: a new batch checked against the existing corpus
    * by MinHash LSH — the daily-ingest shape at 100 TB, where exact
    * incremental dedup ([[graft.ops.Curation.incrementalDedup]]) misses
    * lightly-edited resubmissions. Same signatures/banding as
    * [[minhashPairs]], but candidates come ONLY from batch-band ⋈
    * corpus-band — no corpus×corpus pair ever forms, so the cost scales
    * with the BATCH (times bucket fan-out), not the corpus². The bucket
    * cap is computed on the CORPUS side (that is the side whose hot
    * buckets would blow the join up); dropped buckets are report-logged
    * like every other cap here.
    *
    * Output: (batch_id, corpus_id, i, u) for pairs with Jaccard
    * ≥ thresholdTenths/10 — i/u integer shingle-set sizes, engine-exact. */
  def incrementalMinhashPairs(batch: DataFrame, corpus: DataFrame,
                              thresholdTenths: Int = 8,
                              bands: Int = 8, rowsPerBand: Int = 4,
                              maxBucketSize: Int = 1000,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    graft.functions.TextFunctions.ensureRegistered(corpus.sparkSession)
    val nPart = corpus.sparkSession.sparkContext.defaultParallelism
    def prep(df: DataFrame): DataFrame = df
      .filter(size(split(col(textCol), " ")) >= 3)
      .repartition(nPart, col(idCol))
      .select(col(idCol), graft.functions.TextFunctions.shingleHashes(col(textCol), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(false)
    def banded(d: DataFrame): DataFrame = d.select(col(idCol),
      posexplode(graft.functions.TextFunctions.minhashBandsH(col("sh"), bands, rowsPerBand))
        .as(Seq("band", "bucket")))
    val c = prep(corpus)
    val b = prep(batch)
    val corpusBanded = banded(c)
    val corpusSizes = corpusBanded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz"))
    reportCaps(corpusSizes, "minhash_incremental", maxBucketSize)
    // corpus-side cap via a count window (one exchange, pre-partitioned
    // for the batch join — see minhashPairs)
    val corpusCapped = corpusBanded
      .withColumn("__bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .filter(col("__bsz") <= maxBucketSize)
    val candidates = banded(b)
      .select(col("band"), col("bucket"), col(idCol).as("batch_id"))
      .join(corpusCapped.select(col("band"), col("bucket"), col(idCol).as("corpus_id")),
        Seq("band", "bucket"))
      .select("batch_id", "corpus_id").distinct()
    val inter = graft.functions.TextFunctions.sortedIntersectSizeLong(col("sh_a"), col("sh_b"))
    candidates
      .join(b.select(col(idCol).as("batch_id"), col("sh").as("sh_a")), "batch_id")
      .join(c.select(col(idCol).as("corpus_id"), col("sh").as("sh_b")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        inter.as("i"),
        (size(col("sh_a")) + size(col("sh_b")) - inter).as("u"))
      .filter(col("i") * 10 >= col("u") * thresholdTenths && col("u") > 0)
      .select("batch_id", "corpus_id", "i", "u")
  }

  // ------------------------------------------- connected components

  /** Connected components over an undirected edge list — the step that turns
    * pairwise near-dup PAIRS into dedup GROUPS (a doc chain a~b~c must yield
    * ONE keeper, which no per-pair view can decide).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the published
    * shuffle-parallel CC algorithm; rounds converge in O(log² n) (in practice
    * a handful for near-dup graphs, whose components are shallow). Per round:
    *
    *  - large-star: for every node u over the UNDIRECTED neighborhood,
    *    connect each strictly-larger neighbor to m = min(N(u) ∪ u);
    *  - small-star: on the now larger→smaller directed edges, connect each
    *    neighbor and u itself to the minimum neighbor.
    *
    * Physical plan: each star is ONE exchange by node, rows sorted by
    * (node, neighbor) within a partition, then one streaming pass over each
    * node's run of rows — the first neighbor is the minimum, duplicates are
    * adjacent and skipped as they pass, so no aggregate, join or `distinct`
    * is needed. A round is two shuffles; the small-star of round k and the
    * large-star of round k+1 run in one job from the checkpointed
    * large-star output.
    *
    * Fixpoint: the large-star pass also counts nodes with more than one
    * distinct smaller neighbor, or with both a smaller and a larger one.
    * None means the graph is a star forest rooted at component minima — the
    * algorithm's fixpoint — and then that pass's output, (leaf, root) edges
    * plus a (root, root) pair it emits for every node without a smaller
    * neighbor, IS the (node, component) answer. The count is an accumulator
    * updated in the result stage of the checkpoint job, so a retried task
    * cannot flip it between zero and non-zero; `onRound` gets the same
    * pass's edge count (at the fixpoint, the number of non-root nodes).
    *
    * 100 TB notes: no step materializes a neighborhood list; a hot node's
    * rows stream through one sorted task in O(1) memory (the sort spills),
    * where a collect_list would have to hold them; the edge set shrinks
    * toward one edge per non-root node; lineage is cut every round with an
    * eager localCheckpoint of the large-star output (on a real cluster, set
    * a checkpoint dir and swap to `.checkpoint()`).
    *
    * Returns (node, component) for every node appearing in `edges`;
    * component = minimum node id of the component. Singleton docs (no edges)
    * don't appear — union them in as (id, id) if required. Self-loops and
    * edges with a null end carry no connectivity and are dropped. */
  def connectedComponents(edges: DataFrame, srcCol: String = "doc_a",
                          dstCol: String = "doc_b",
                          maxIter: Int = 25,
                          onRound: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    val sk = edges.sparkSession
    import sk.implicits._
    @scala.annotation.tailrec
    def round(it: Int, und: Dataset[(Long, Long)]): DataFrame = {
      val edgeCount = sk.sparkContext.longAccumulator("cc.edges")
      val nonStar = sk.sparkContext.longAccumulator("cc.nonStar")
      val ls = byNode(und).mapPartitions(largeStar(_, edgeCount, nonStar))
        .localCheckpoint(true)
      onRound(it, edgeCount.sum) // convergence observability (ScaleProbe)
      if (nonStar.sum == 0) ls.toDF("node", "component")
      else if (it >= maxIter) throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds " +
          "(raise maxIter; alternating star converges in O(log² n))")
      else round(it + 1, byNode(ls).mapPartitions(smallStar))
    }
    round(1, edges.select(col(srcCol).cast("long"), col(dstCol).cast("long"))
      .na.drop().as[(Long, Long)]
      .flatMap { case (a, b) => if (a == b) Nil else Seq((a, b), (b, a)) })
  }

  /** Edges exchanged by their first node and sorted by (node, neighbor):
    * each node's neighbors arrive as one ascending run. */
  private def byNode(e: Dataset[(Long, Long)]): Dataset[(Long, Long)] =
    e.repartition(col("_1")).sortWithinPartitions("_1", "_2")

  /** A [[byNode]] partition without duplicate edges, each edge flagged when
    * it opens its node's run (its neighbor is then the node's minimum). */
  private def runs(rows: Iterator[(Long, Long)]): Iterator[(Long, Long, Boolean)] = {
    var started = false
    var node, prev = 0L
    rows.flatMap { case (a, b) =>
      val fresh = !started || a != node
      if (!fresh && b == prev) None
      else { started = true; node = a; prev = b; Some((a, b, fresh)) }
    }
  }

  /** Large-star over a [[byNode]] partition of undirected edges: (v, m) for
    * every neighbor v > u, (u, u) for a node with no smaller neighbor. Adds
    * the emitted non-self edges to `edges` and the nodes that break the
    * star-forest shape to `nonStar`. */
  private def largeStar(rows: Iterator[(Long, Long)], edges: LongAccumulator,
                        nonStar: LongAccumulator): Iterator[(Long, Long)] = {
    var m, smaller, out, bad = 0L
    var larger = false
    def close(): Unit = if (smaller > 1 || smaller == 1 && larger) bad += 1
    runs(rows).flatMap { case (u, v, fresh) =>
      if (fresh) { close(); m = math.min(u, v); smaller = 0; larger = false }
      if (v < u) { smaller += 1; Nil }
      else {
        larger = true; out += 1
        if (fresh) Seq((u, u), (v, u)) else Seq((v, m))
      }
    } ++ { // evaluated once the partition is exhausted
      close(); edges.add(out); nonStar.add(bad); Nil
    }
  }

  /** Small-star over a [[byNode]] partition of large-star output, whose
    * edges point larger → smaller: x and each neighbor connect to x's
    * minimum neighbor m, emitted in both directions for the next
    * large-star. A root's (x, x) pair emits nothing. */
  private def smallStar(rows: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var m = 0L
    runs(rows).flatMap { case (x, y, fresh) =>
      if (fresh) m = y
      if (y == x) Nil else if (fresh) Seq((x, m), (m, x)) else Seq((y, m), (m, y))
    }
  }

  /** Star-shaped duplicate edges from an exact content fingerprint: one edge
    * (doc, group-min) per duplicate doc. Connectivity-equivalent to the
    * all-pairs-within-group formulation but LINEAR in group size — a
    * million-copy boilerplate cluster yields 10⁶ edges, not 10¹².
    *
    * The group minimum is elected with a map-side-combined hash aggregate
    * + join back (the [[Curation.dedupParagraphs]] pattern), NOT a
    * `min over Window.partitionBy(fp)`: a window puts every row of a key
    * through ONE task's sort buffer, so a viral page duplicated 10⁸ times
    * serializes — the aggregate sends one candidate per map partition and
    * the join back is AQE-skew-splittable. */
  def fingerprintEdges(df: DataFrame, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    val fp = df.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
    val mins = fp.groupBy(col("fp")).agg(min(col(idCol)).as("__mn"))
      .select(col("fp").as("__fp"), col("__mn"))
    fp.join(mins, col("fp") === col("__fp"))
      .select(col(idCol).as("doc_a"), col("__mn").as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
  }

  // ------------------------------------------------------------ simhash

  /** 64-bit SimHash over the distinct token set: bit i of the fingerprint is
    * the sign of Σ_tokens (bit i of xxh64(token) ? +1 : -1). Native kernel
    * ([[graft.functions.SimHash64]]), one pass per row. */
  def simhash(textCol: String): Column =
    graft.functions.TextFunctions.simhash64(col(textCol))

  /** Bit layout of the `maxHamming + 2`-chunk signature split — ONE
    * place, so the key builder ([[withChunkPairKeys]]) and the first-clean
    * single-emission filter ([[firstCleanEmission]]) can never drift:
    * 64 bits distributed as evenly as possible across the chunks. */
  private def chunkLayout(maxHamming: Int): (Array[Int], Array[Int]) = {
    val nChunks = maxHamming + 2
    require(nChunks <= 64, s"maxHamming=$maxHamming needs $nChunks chunks of a 64-bit signature")
    val widths = Array.tabulate(nChunks)(i => 64 / nChunks + (if (i < 64 % nChunks) 1 else 0))
    (widths, widths.scanLeft(0)(_ + _).init)
  }

  /** TRUE exactly when the candidate row's own chunk-pair is the
    * LEX-FIRST clean one for its signature pair — the single-emission
    * predicate. A pair colliding in bucket (a, b) has chunks a and b
    * clean (equal) by construction, so of its C(h+2,2)-way duplicated
    * join rows exactly the one whose (a, b) are the two SMALLEST clean
    * chunks passes — no distinct() exchange needed downstream. Two
    * identical signatures are clean everywhere, so they pass only in
    * their chunk-pair-0 bucket. Kept FLAT for codegen: a clean-chunk
    * bitmask (one n-term sum over the XOR) and a single mask compare,
    * with the row's own (a, b) looked up from literal arrays by the
    * posexplode index. (A 45-branch nested CaseWhen formulation of the
    * same predicate fell out of whole-stage codegen and measured 10x
    * SLOWER than a distinct() over the candidate stream.) */
  private def firstCleanEmission(xorCol: Column, chunkCol: Column,
                                 maxHamming: Int): Column = {
    val (widths, offsets) = chunkLayout(maxHamming)
    val nChunks = widths.length
    // LONG masks throughout: chunk indices go up to nChunks-1 = 63 and
    // JVM Int shifts mask the count to 5 bits, so Int literals would
    // silently alias chunk bits for nChunks >= 33 (maxHamming >= 31)
    // bit i set  ⟺  chunk i of the XOR is all-zero (signatures agree)
    val cleanMask = (0 until nChunks).map { i =>
      when(xorCol.bitwiseAND(
        lit(((1L << widths(i)) - 1) << offsets(i))) === lit(0L),
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val pairs = for { a <- 0 until nChunks; b <- a + 1 until nChunks }
      yield (a, b)
    val aBit = element_at(array(pairs.map(p => lit(1L << p._1)): _*),
      chunkCol + 1)
    val belowB = element_at(array(pairs.map(p => lit((1L << p._2) - 1)): _*),
      chunkCol + 1)
    // (a, b) is the lex-first clean pair  ⟺  clean bits below b == {a}
    cleanMask.bitwiseAND(belowB) === aBit
  }

  /** NARROW signature proxy `(id, blockCols…, sig)` materialized once
    * (lazy localCheckpoint): every pair generator references it 2-3 times
    * (signature grouping, the member-expansion joins), and exchange reuse
    * across those plan branches is not guaranteed — without this the
    * expensive upstream (image/audio DECODE, signature kernels) runs per
    * branch. ~16-24 B/doc persisted. Rows with a NULL id or a NULL
    * signature (undecodable payloads) are dropped here: they can pair
    * with nothing. */
  private def sigProxy(df: DataFrame, sig: Column, idCol: String,
                       blockCols: Seq[String]): DataFrame =
    df.select(col(idCol) +: blockCols.map(col) :+ sig.as("sig"): _*)
      .filter(col(idCol).isNotNull && col("sig").isNotNull)
      .localCheckpoint(false)

  /** Explode a relation carrying a `sig` column into its chunk-pair LSH
    * keys — one row per (input row, chunk-pair); other columns carry
    * through. */
  private def withChunkPairKeys(rel: DataFrame,
                                maxHamming: Int): DataFrame = {
    val (widths, offsets) = chunkLayout(maxHamming)
    val nChunks = widths.length
    def chunk(i: Int): Column =
      shiftright(col("sig"), offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    val pairKeys = for { a <- 0 until nChunks; b <- a + 1 until nChunks }
      yield chunk(a) * lit(1L << widths(b)) + chunk(b)
    rel.select(rel.columns.map(col).toSeq :+
      posexplode(array(pairKeys: _*)).as(Seq("chunk", "ckey")): _*)
  }

  /** The LSH key relation over DISTINCT signatures: one row per (block,
    * signature, chunk-pair key), carrying the signature's member count
    * `__n`. Banding and joining run over signature values, never member
    * rows (the compressed-index idea: real corpora are heavily twinned —
    * re-uploads, re-encodes hitting one perceptual hash — and the sf0.1
    * media fixtures collapse 5000 docs to 263 pHash / 34 audio
    * signatures); members come back only in the output expansion. */
  private def keyedSigs(proxy: DataFrame, maxHamming: Int,
                        blockCols: Seq[String]): DataFrame =
    withChunkPairKeys(proxy.groupBy(blockCols.map(col) :+ col("sig"): _*)
      .agg(count(lit(1)).as("__n")), maxHamming)

  /** Bucket population in MEMBER ROWS: Σ`__n` over the distinct
    * signatures of a (block, chunk, ckey) bucket. */
  private def bucketSizes(keyed: DataFrame, blockCols: Seq[String]): DataFrame = {
    val keyCols = blockCols :+ "chunk" :+ "ckey"
    keyed.groupBy(keyCols.map(col): _*).agg(sum(col("__n")).as("bsz"))
  }

  /** THE Hamming-LSH bucket cap, shared by the batch and incremental
    * generators: buckets holding more than `maxBucketSize` member rows
    * are reported ([[reportCaps]]) and removed by a broadcast ANTI-join
    * against the (normally EMPTY) hot-bucket set. The trailing
    * repartition on the bucket key sits below every per-side alias
    * projection, so both sides of a self-join see identical exchange
    * children and ReusedExchange fires. */
  private def capBuckets(keyed: DataFrame, op: String, maxBucketSize: Int,
                         blockCols: Seq[String]): DataFrame = {
    val keyCols = blockCols :+ "chunk" :+ "ckey"
    val sizes = bucketSizes(keyed, blockCols)
    reportCaps(sizes, op, maxBucketSize)
    val hot = sizes.filter(col("bsz") > maxBucketSize)
      .select(keyCols.map(col): _*)
    keyed.join(broadcast(hot), keyCols, "left_anti")
      .repartition(keyCols.map(col): _*)
  }

  /** Density diagnostic for the chunk-pair LSH: per-bucket populations
    * (member rows, the unit [[simhashPairs]] caps on) with an `oversized`
    * flag, so a scale probe can assert "no mass dropped" at a target
    * corpus size instead of trusting the 2^26-key-space math. */
  def simhashBucketStats(df: DataFrame, maxHamming: Int = 3,
                         maxBucketSize: Int = 1000,
                         idCol: String = "doc_id", textCol: String = "text",
                         blockCols: Seq[String] = Nil): DataFrame = {
    graft.functions.TextFunctions.ensureRegistered(df.sparkSession)
    val proxy = sigProxy(df, simhash(textCol), idCol, blockCols)
    bucketSizes(keyedSigs(proxy, maxHamming, blockCols), blockCols)
      .withColumn("oversized", col("bsz") > maxBucketSize)
  }

  /** SimHash near-dup pairs `(doc_a, doc_b, hamming)`, doc_a < doc_b,
    * hamming ≤ maxHamming: [[signaturePairs]] over the text's
    * [[simhash]].
    *
    * Candidates share at least one CHUNK-PAIR key — the 64-bit
    * fingerprint is split into `maxHamming + 2` chunks and every
    * unordered pair of chunks forms one key. Pigeonhole: ≤ maxHamming
    * differing bits touch ≤ maxHamming chunks, so ≥ 2 chunks agree, so
    * ≥ 1 pair key collides — candidate recall is 100% for qualifying
    * pairs. Candidates are verified by exact Hamming distance via
    * bit_count(xor).
    *
    * Density: a single-chunk key for h=3 is 16 bits → expected bucket size
    * n/2^16, which hits the `maxBucketSize` cap (and starts dropping mass)
    * around 10⁷ docs. A pair key is ~26 bits → expected bucket n/2^26, i.e.
    * the ceiling moves to ~10¹⁰ docs for ~2.5× more exploded rows
    * (C(h+2,2) vs h+1 keys per doc) — the right trade at corpus scale.
    * `blockCols` optionally pre-splits the corpus (e.g. by lang) so keys
    * only collide within a block, multiplying the ceiling by the block
    * count; near-dups spanning different block values are then missed.
    * The cap contract is [[signaturePairs]]'. */
  def simhashPairs(df: DataFrame, maxHamming: Int = 3,
                   maxBucketSize: Int = 1000,
                   idCol: String = "doc_id", textCol: String = "text",
                   blockCols: Seq[String] = Nil): DataFrame = {
    graft.functions.TextFunctions.ensureRegistered(df.sparkSession)
    hammingPairs(sigProxy(df, simhash(textCol), idCol, blockCols),
      "simhash", maxHamming, maxBucketSize, idCol, blockCols)
  }

  /** Banded Hamming near-dup pairs `(doc_a, doc_b, hamming)` over a
    * PRECOMPUTED 64-bit signature column — the chunk-pair LSH of
    * [[simhashPairs]] with the signature arriving in `sigCol` instead of
    * being derived from text. This is the pair generator for perceptual
    * hashes (image pHash / dHash, audio fingerprints): decode-side
    * operators compute the signature per payload, this joins them at
    * corpus scale without ever forming all pairs. Rows with a NULL id or
    * NULL signature are excluded; no row pairs with itself.
    *
    * Cap contract: `maxBucketSize` counts MEMBER ROWS per (block, chunk,
    * ckey) bucket; buckets over it are dropped and reported
    * ([[capReports]], one warning). With no bucket over the cap the
    * output is exactly the brute-force pair set. With capped buckets it
    * is a SUBSET of it: a pair survives when its lex-first clean bucket
    * survives, and a group of identical signatures larger than the cap
    * yields no pairs.
    *
    * Higher `maxHamming` means MORE, NARROWER chunks — pair keys shrink
    * to ~2·64/(h+2) bits, so the bucket-density ceiling drops as the
    * radius grows; block on a cheap exact column (dims, media type) to
    * buy it back. */
  def signaturePairs(df: DataFrame, maxHamming: Int = 8,
                     maxBucketSize: Int = 1000,
                     idCol: String = "doc_id", sigCol: String = "sig",
                     blockCols: Seq[String] = Nil): DataFrame =
    hammingPairs(sigProxy(df, col(sigCol).cast("long"), idCol, blockCols),
      "signature", maxHamming, maxBucketSize, idCol, blockCols)

  /** Incremental SimHash near-dup: an arriving text BATCH against the
    * standing CORPUS — the SimHash twin of [[incrementalMinhashPairs]],
    * [[signaturePairsIncremental]] over the text's [[simhash]]. Returns
    * `(batch_id, corpus_id, hamming)`, hamming ≤ maxHamming. */
  def simhashIncremental(corpus: DataFrame, batch: DataFrame,
                         maxHamming: Int = 3, maxBucketSize: Int = 1000,
                         idCol: String = "doc_id", textCol: String = "text",
                         blockCols: Seq[String] = Nil): DataFrame = {
    graft.functions.TextFunctions.ensureRegistered(corpus.sparkSession)
    def sig(d: DataFrame) = d.withColumn("__sig", simhash(textCol))
    signaturePairsIncremental(sig(corpus), sig(batch), maxHamming,
      maxBucketSize, idCol, "__sig", blockCols)
  }

  /** Incremental signature near-dup: an arriving BATCH checked against
    * the standing CORPUS — candidates come ONLY from batch-band ⋈
    * corpus-band over distinct signatures (no corpus×corpus pair ever
    * forms), so the per-batch cost scales with the batch, exactly like
    * [[incrementalMinhashPairs]] but over any precomputed 64-bit
    * signature (perceptual hashes). Returns `(batch_id, corpus_id,
    * hamming)`, hamming ≤ maxHamming.
    *
    * Cap contract as [[signaturePairs]], applied to the CORPUS side (the
    * side whose hot buckets would blow the join up): `maxBucketSize`
    * counts corpus member rows per bucket; with nothing capped the
    * output is exactly the brute-force batch×corpus set, with capped
    * buckets a subset of it. */
  def signaturePairsIncremental(corpus: DataFrame, batch: DataFrame,
                                maxHamming: Int = 8,
                                maxBucketSize: Int = 1000,
                                idCol: String = "doc_id",
                                sigCol: String = "sig",
                                blockCols: Seq[String] = Nil): DataFrame = {
    val keyCols = blockCols :+ "chunk" :+ "ckey"
    val blk = blockCols.map(col)
    def proxy(d: DataFrame) =
      sigProxy(d, col(sigCol).cast("long"), idCol, blockCols)
    val corpusProxy = proxy(corpus)
    val batchProxy = proxy(batch)
    val cappedC = capBuckets(keyedSigs(corpusProxy, maxHamming, blockCols),
      "signature-incremental", maxBucketSize, blockCols)
    // equal signatures across the sides are ordinary hamming-0 band
    // collisions here (no intra-side pairs exist by construction)
    val xor = col("__sigb").bitwiseXOR(col("__sigc"))
    val sigPairs = keyedSigs(batchProxy, maxHamming, blockCols)
      .select(keyCols.map(col) :+ col("sig").as("__sigb"): _*)
      .join(cappedC.select(keyCols.map(col) :+ col("sig").as("__sigc"): _*),
        keyCols)
      .filter(firstCleanEmission(xor, col("chunk"), maxHamming))
      .select(blk :+ col("__sigb") :+ col("__sigc") :+
        bit_count(xor).as("hamming"): _*)
      .filter(col("hamming") <= maxHamming)
    val mB = batchProxy.select(
      blk :+ col("sig").as("__sigb") :+ col(idCol).as("batch_id"): _*)
    val mC = corpusProxy.select(
      blk :+ col("sig").as("__sigc") :+ col(idCol).as("corpus_id"): _*)
    sigPairs
      .join(mB, blockCols :+ "__sigb")
      .join(mC, blockCols :+ "__sigc")
      .select(col("batch_id"), col("corpus_id"), col("hamming"))
  }

  /** The batch Hamming-LSH pair generator behind [[simhashPairs]] and
    * [[signaturePairs]]: band and self-join over the DISTINCT signature
    * values per block ([[keyedSigs]]), capped by member rows
    * ([[capBuckets]]), one emission per signature pair (first-clean
    * filter — no distinct() exchange over the banded candidate stream),
    * then expand each qualifying signature pair to its member id pairs.
    * The expansion joins are OUTPUT-size work (every emitted pair is a
    * result row), the unavoidable floor. Identical signatures are a
    * `__siga = __sigb` pair of the same join, emitted once through their
    * chunk-pair-0 bucket, and only when the group has ≥ 2 members. */
  private def hammingPairs(proxy: DataFrame, op: String,
                           maxHamming: Int, maxBucketSize: Int,
                           idCol: String,
                           blockCols: Seq[String]): DataFrame = {
    val keyCols = blockCols :+ "chunk" :+ "ckey"
    val blk = blockCols.map(col)
    val capped = capBuckets(keyedSigs(proxy, maxHamming, blockCols), op,
      maxBucketSize, blockCols)
    val l = capped.select(keyCols.map(col) :+ col("sig").as("__siga") :+
      col("__n").as("__na"): _*)
    val r = capped.select(keyCols.map(col) :+ col("sig").as("__sigb"): _*)
    val xor = col("__siga").bitwiseXOR(col("__sigb"))
    val sigPairs = l.join(r, keyCols)
      .filter(col("__siga") < col("__sigb") ||
        (col("__siga") === col("__sigb") && col("__na") > 1))
      .filter(firstCleanEmission(xor, col("chunk"), maxHamming))
      .select(blk :+ col("__siga") :+ col("__sigb") :+
        bit_count(xor).as("hamming"): _*)
      .filter(col("hamming") <= maxHamming)
    // expansion: every (member of sig_a, member of sig_b) combination,
    // ordered by id — one output row per qualifying pair, none with
    // doc_a == doc_b (a duplicated id never pairs with itself)
    val mA = proxy.select(
      blk :+ col("sig").as("__siga") :+ col(idCol).as("__ida"): _*)
    val mB = proxy.select(
      blk :+ col("sig").as("__sigb") :+ col(idCol).as("__idb"): _*)
    sigPairs
      .join(mA, blockCols :+ "__siga")
      .join(mB, blockCols :+ "__sigb")
      .filter(when(col("__siga") === col("__sigb"), col("__ida") < col("__idb"))
        .otherwise(col("__ida") =!= col("__idb")))
      .select(least(col("__ida"), col("__idb")).as("doc_a"),
        greatest(col("__ida"), col("__idb")).as("doc_b"), col("hamming"))
  }

  /** Winnowing fingerprint sketch (Schleimer, Wilkerson & Aiken, SIGMOD'03
    * — the MOSS algorithm): hash every `n`-gram, slide a `window` over
    * consecutive gram hashes, keep each window's MINIMUM — the classic
    * position-robust document sketch whose guarantee is that any shared
    * run of ≥ `window + n - 1` tokens contributes at least one shared
    * fingerprint. The hash order is md5-hex-lexicographic (identical on
    * every engine — no seeded integer hash to replay); the sketch is the
    * DISTINCT selected-hash set, so the classic rightmost-tie rule is
    * irrelevant (ties collapse in the set).
    *
    * Scale shape: gram explode is codegen'd; the window min is a per-DOC
    * ROWS frame (never a corpus-wide partition); the sketch rollup is a
    * per-doc collect_set bounded by document length. Docs shorter than
    * `n + window - 1` tokens are below sketch resolution and emit an
    * explicit 0-fingerprint row. */
  def winnowSketch(docs: DataFrame, n: Int = 4, window: Int = 4,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n > 0 && window > 0, "n and window must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos")).rowsBetween(0, window - 1)
    val grams = docs
      .select(col(idCol), split(lower(coalesce(col(textCol), lit(""))), " ").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col(idCol), (size(col("tk")) - (n - 1)).as("n_pos"), col("tk"),
        explode(sequence(lit(1), size(col("tk")) - (n - 1))).as("pos"))
      .select(col(idCol), col("n_pos"), col("pos"),
        md5(array_join(slice(col("tk"), col("pos"), lit(n)), " ")).as("h"))
    val sketch = grams
      .withColumn("wmin", min(col("h")).over(w))
      // classic winnowing selects over FULL windows only
      .filter(col("pos") <= col("n_pos") - (window - 1))
      .groupBy(col(idCol))
      .agg(countDistinct(col("wmin")).as("n_fp"),
        md5(array_join(array_sort(collect_set(col("wmin"))), " ")).as("sketch_md5"))
    docs.select(col(idCol)).join(sketch, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("sketch_md5"), md5(lit(""))).as("sketch_md5"))
  }

  // ------------------------------------------ exact substring (span) dedup

  /** Cross-document EXACT-SUBSTRING duplication: the word-position
    * intervals of every doc that repeat, verbatim and ≥ `k` words long,
    * from an earlier document — the span-level dedup of "Deduplicating
    * Training Data Makes Language Models Better" (Lee et al., 2021),
    * re-expressed relationally instead of via a suffix array:
    *
    *  1. explode each doc's word `k`-grams (codegen'd `transform` +
    *     `posexplode` — any maximal duplicated substring of length ≥ k
    *     is exactly a run of duplicated k-grams, so k-gram resolution
    *     loses nothing);
    *  2. ONE hash-aggregate per gram keeps `(min(doc), max(doc))` —
    *     `min ≠ max` marks grams shared across documents (no
    *     count-distinct, no window);
    *  3. each gram keeps its FIRST holder (`min(doc)`): occurrences in
    *     later docs become removal intervals `[pos, pos+k-1]`;
    *  4. overlapping intervals merge per doc (gaps-and-islands over a
    *     per-DOC window — never a corpus-wide partition).
    *
    * Returns one row per affected doc: `(idCol, dup_spans, dup_words)` —
    * merged duplicated-span count and total covered words.
    *
    * Scale shape: the gram relation is docs × (len−k+1) rows — the
    * dominant shuffle. `hashed=true` (default) shuffles 8-byte
    * `xxhash64` keys instead of k-word strings (~k× smaller; a 64-bit
    * collision conflates two grams corpus-wide with probability
    * ≈ grams²/2⁶⁴ — at 10¹² grams that's ~3 % chance of ONE conflated
    * pair, acceptable for curation and switchable off). Everything is
    * whole-stage codegen; driver state is zero. */
  def duplicatedSpans(docs: DataFrame, k: Int = 8, textCol: String = "text",
                      idCol: String = "doc_id",
                      hashed: Boolean = true): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val occ = spanOccurrences(docs, k, textCol, idCol, hashed)
    mergeIntervals(occ, idCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("dup_spans"),
        sum(col("__e") - col("__s") + 1).as("dup_words"))
  }

  /** The dedup TRANSFORM over [[duplicatedSpans]]' intervals: every
    * word of a duplicated-from-an-earlier-doc span is dropped from the
    * text (the gram's first holder keeps its copy untouched). Output is
    * the input frame with `textCol` rewritten; word order of survivors
    * is preserved. The per-doc interval list rides a bounded
    * `collect_list` (spans per doc ≤ words/k after merging) and the
    * rewrite is a codegen'd higher-order `filter` over the word array —
    * no UDF, no driver state. */
  def removeDuplicatedSpans(docs: DataFrame, k: Int = 8,
                            textCol: String = "text",
                            idCol: String = "doc_id",
                            hashed: Boolean = true): DataFrame = {
    require(k >= 2, "k must be >= 2")
    val occ = spanOccurrences(docs, k, textCol, idCol, hashed)
    val spans = mergeIntervals(occ, idCol)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("__s"), col("__e"))).as("__ivs"))
    Spread.spread(docs).join(spans, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__ivs").isNull, col(textCol)).otherwise(
          array_join(
            transform(
              filter(
                zip_with(
                  split(coalesce(col(textCol), lit("")), " "),
                  sequence(lit(1),
                    size(split(coalesce(col(textCol), lit("")), " "))),
                  (word, i) => struct(word.as("w"), i.as("i"))),
                p => !exists(col("__ivs"),
                  iv => p.getField("i").between(iv.getField("__s"),
                    iv.getField("__e")))),
              p => p.getField("w")),
            " ")))
      .drop("__ivs")
  }

  /** Shared k-gram occurrence → removal-interval relation. */
  private def spanOccurrences(docs: DataFrame, k: Int, textCol: String,
                              idCol: String, hashed: Boolean): DataFrame = {
    val words = split(coalesce(col(textCol), lit("")), " ")
    val gramStr = Spread.spread(docs)
      .select(col(idCol), words.as("__w"))
      .where(size(col("__w")) >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), size(col("__w")) - (k - 1)),
        i => concat_ws(" ", slice(col("__w"), i, lit(k))))))
      .toDF(idCol, "__p0", "__g")
    val grams =
      (if (hashed) gramStr.withColumn("__g", xxhash64(col("__g")))
       else gramStr)
        .select(col(idCol), (col("__p0") + 1).as("__s"),
          (col("__p0") + k).as("__e"), col("__g"))
    val firsts = grams.groupBy(col("__g"))
      .agg(min(col(idCol)).as("__first"), max(col(idCol)).as("__last"))
      .where(col("__first") =!= col("__last"))
      .select(col("__g"), col("__first"))
    grams.join(firsts, Seq("__g"))
      .where(col(idCol) > col("__first"))
      .select(col(idCol), col("__s"), col("__e"))
  }

  /** Merge overlapping/adjacent-by-overlap `[__s, __e]` intervals per
    * doc (gaps-and-islands; per-DOC window). */
  private def mergeIntervals(occ: DataFrame, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__s"), col("__e"))
    occ
      .withColumn("__pmax", max(col("__e"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1)
          .otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("__s")).as("__s"), max(col("__e")).as("__e"))
      .drop("__isl")
  }
}
