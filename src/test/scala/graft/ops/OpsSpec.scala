package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Dedup / similarity / text / multimodal operators on planted fixtures. */
class OpsSpec extends SparkSuite {

  import spark.implicits._

  // 40-token base so a one-word change stays above shingle-Jaccard 0.8;
  // n_chars equal so every en doc lands in the same length block
  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs away very fast through the deep green forest while many small birds " +
    "sing loudly in the bright morning sun near the old stone bridge by the river"
  private lazy val docs = Seq(
    (0L, base, "en", 200L),
    (1L, base, "en", 200L), // exact dup of 0
    (2L, base.replace("stone", "wooden"), "en", 200L), // near dup of 0
    (3L, "completely different content about spark query engines and lakes", "en", 200L),
    (4L, "der schnelle braune fuchs springt ueber den faulen hund hinweg ja", "de", 200L))
    .toDF("doc_id", "text", "lang", "n_chars")

  test("exactGroups collapses identical texts to the lowest id") {
    val g = Dedup.exactGroups(docs).orderBy("keep_id").collect()
    assert(g.length === 4)
    val dupGroup = g.find(_.getLong(1) == 0L).get
    assert(dupGroup.getLong(2) === 2L)
  }

  test("fingerprintGroups is word-order-insensitive") {
    val d = Seq((1L, "b a c"), (2L, "c b a"), (3L, "a b x")).toDF("doc_id", "text")
    val g = Dedup.fingerprintGroups(d).collect()
    assert(g.length === 2)
    assert(g.find(_.getLong(2) == 2L).get.getLong(1) === 1L)
  }

  test("jaccardPairs finds the planted near-dup and not the distinct doc") {
    val pairs = Dedup.jaccardPairs(docs, 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // exact dup
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // different lang block
  }

  test("jaccardPairs drops blocks over maxBlockSize (skew cap)") {
    // en/len_bkt block holds docs 0-3 (4 rows), de block holds doc 4 alone.
    // Cap 3: the hot en block is dropped entirely — bounded candidate count
    // instead of a quadratic task — while nothing else is affected.
    val capped = Dedup.jaccardPairs(docs, 8, maxBlockSize = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(capped.isEmpty)
    // cap above the block size: identical to the unguarded behavior
    val uncapped = Dedup.jaccardPairs(docs, 8, maxBlockSize = 1000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((0L, 1L)))
    // routing: the oversized block's docs go through the MinHash LSH path
    // instead of being dropped — the planted near-dup pair is recovered
    val routed = Dedup.jaccardPairs(docs, 8, maxBlockSize = 3, routeOversized = true)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(routed.contains((0L, 1L)))
  }

  test("minhashPairs agrees with jaccardPairs on high-similarity pairs") {
    val mh = Dedup.minhashPairs(docs, 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(mh.contains((0L, 1L)))
    assert(!mh.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhashPairs: identical docs at hamming 0") {
    val sh = Dedup.simhashPairs(docs, 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    assert(sh.exists(t => t._1 == 0L && t._2 == 1L && t._3 == 0))
  }

  test("simhashPairs chunk-pair LSH has full recall vs brute-force Hamming") {
    // 60 docs: 20 distinct bases, each with two light perturbations that
    // usually land within a few signature bits — the pigeonhole guarantee
    // says EVERY pair within maxHamming must surface as an LSH candidate,
    // so the pair set must EQUAL the brute-force cross-join's.
    val corpus = (0 until 20).flatMap { i =>
      val b = s"document number $i " + base
      Seq((i * 3L, b), (i * 3L + 1, b.replace("fox", s"fox$i")),
        (i * 3L + 2, b + s" trailing token $i"))
    }.toDF("doc_id", "text")
    for (h <- Seq(2, 3)) {
      val lsh = Dedup.simhashPairs(corpus, h, maxBucketSize = 10000)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val sig = corpus.select(col("doc_id"),
        graft.functions.TextFunctions.simhash64(col("text")).as("sig"))
      val brute = sig.as("a").crossJoin(sig.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id") &&
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= h)
        .select(col("a.doc_id"), col("b.doc_id")).as[(Long, Long)].collect().toSet
      assert(lsh === brute, s"maxHamming=$h")
    }
  }

  test("simhashIncremental: batch x corpus only, equals brute force") {
    val corpus = (0 until 20).flatMap { i =>
      val b = s"document number $i " + base
      Seq((i * 2L, b), (i * 2L + 1, b + s" trailing token $i"))
    }.toDF("doc_id", "text")
    val batch = (0 until 20 by 4).map { i =>
      (1000L + i, s"document number $i " + base + " arriving edit")
    }.toDF("doc_id", "text")
    val got = Dedup.simhashIncremental(corpus, batch, maxHamming = 3,
      maxBucketSize = 10000)
      .select("batch_id", "corpus_id").as[(Long, Long)].collect().toSet
    def sig(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id"),
      graft.functions.TextFunctions.simhash64(col("text")).as("sig"))
    val brute = sig(batch).as("b").crossJoin(sig(corpus).as("c"))
      .filter(bit_count(col("b.sig").bitwiseXOR(col("c.sig"))) <= 3)
      .select(col("b.doc_id"), col("c.doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty && got === brute)
    assert(got.forall(_._1 >= 1000L), "pairs are batch x corpus only")
  }

  test("simhashPairs blockCols pre-split confines pairs to a block") {
    // docs 0/1 are identical but get different block values: a lang
    // pre-split must suppress that pair while keeping within-block dups
    val d = Seq((0L, base, "en"), (1L, base, "de"), (2L, base, "en"))
      .toDF("doc_id", "text", "lang")
    val blocked = Dedup.simhashPairs(d, 3, blockCols = Seq("lang"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(blocked === Set((0L, 2L)))
    val unblocked = Dedup.simhashPairs(d, 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(unblocked === Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("bruteForceTopK ranks an identical vector first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
      (2L, Array(0.9f, 0.1f, 0.0f)),   // close
      (3L, Array(0.0f, 0.0f, 1.0f)))   // orthogonal
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, 2, col("vec_id") === 0)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(top.toSeq === Seq(1L, 2L))
  }

  test("ivfTopK returns ranked neighbors from probed cells only") {
    val emb = (0L until 40L).map { i =>
      val angle = i.toDouble / 40 * math.Pi
      (i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val res = Similarity.ivfTopK(emb, 3, 4, 2, col("vec_id") === 10)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(res.length === 3)
    // nearest angles to 10 are 9 and 11
    assert(res.map(_._2).toSet.intersect(Set(9L, 11L)).nonEmpty)
  }

  test("pqTopK: ADC ranking finds an identical vector; codes compress to m ids") {
    // 8-dim vectors, m=2 sub-spaces of 4: vec 30 duplicates vec 3, so ADC
    // over codes must rank 3 first for query 30 (identical codes → the
    // corpus-max table entries in every sub-space)
    val base = (0L until 30L).map { i =>
      val a = i.toDouble / 30 * math.Pi
      (i, Array(math.cos(a), math.sin(a), math.cos(2 * a), math.sin(2 * a),
        math.cos(3 * a), math.sin(3 * a), 1.0, 0.5).map(_.toFloat))
    }
    val emb = (base :+ ((30L, base(3)._2))).toDF("vec_id", "embedding")
    val res = Similarity.pqTopK(emb, k = 3, m = 2, ksub = 8,
        queryPred = col("vec_id") === 30)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(res.length === 3)
    assert(res.head._2 === 3L,
      "the duplicate vector must win ADC for its twin query")
    // deterministic: bit-identical across runs
    val again = Similarity.pqTopK(emb, k = 3, m = 2, ksub = 8,
        queryPred = col("vec_id") === 30)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(again.toSeq === res.toSeq)
  }

  test("ivfPqTopK routes via coarse cells then scores by ADC") {
    val base = (0L until 30L).map { i =>
      val a = i.toDouble / 30 * math.Pi
      (i, Array(math.cos(a), math.sin(a), math.cos(2 * a), math.sin(2 * a),
        math.cos(3 * a), math.sin(3 * a), 1.0, 0.5).map(_.toFloat))
    }
    val emb = (base :+ ((30L, base(3)._2))).toDF("vec_id", "embedding")
    val res = Similarity.ivfPqTopK(emb, k = 3, nlist = 4, nprobe = 2,
        m = 2, ksub = 8, queryPred = col("vec_id") === 30)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(res.nonEmpty && res.length <= 3)
    assert(res.head._2 === 3L,
      "the twin lives in the query's own cell and must win ADC")
  }

  test("scrubPii masks emails, IPs and phones; plain text untouched") {
    val d = Seq(
      (1L, "contact alice.b+x@sub.example.co.uk or call +44 20 7946 0958 now"),
      (2L, "server 192.168.001.1 and 10.0.0.7 responded"),
      (3L, "version 1.2 costs 12 dollars at 3 pm"), // no PII shapes
      (4L, "a@b.io 555-123-4567 8.8.8.8"),
      // digit runs that are NOT phones must survive (the round-4 PhoneRe
      // rewrote all of these): ISO dates, dashed dates, year ranges,
      // spaced thousands
      (5L, "released 2024-01-15 and updated 15-01-2024"),
      (6L, "the war of 1914 - 1918 cost 1 000 000 lives"),
      (7L, "call 555-0042 or +1-555-0042 today"),
      // separator-free phones (round-5 recall fix): bare 10-digit NANP and
      // +E.164 must scrub; 10-digit epoch seconds (1-lead) must survive
      (8L, "call 5551234567 or +15551234567 at ts 1700000000")).toDF("doc_id", "text")
    val got = TextOps.scrubPii(col("text"))
    val out = d.select(col("doc_id"), got.as("c")).as[(Long, String)].collect().toMap
    assert(out(1L) === "contact <EMAIL> or call <PHONE> now")
    assert(out(2L) === "server <IP> and <IP> responded")
    assert(out(3L) === "version 1.2 costs 12 dollars at 3 pm")
    assert(out(4L) === "<EMAIL> <PHONE> <IP>")
    assert(out(5L) === "released 2024-01-15 and updated 15-01-2024")
    assert(out(6L) === "the war of 1914 - 1918 cost 1 000 000 lives")
    assert(out(7L) === "call <PHONE> or <PHONE> today")
    assert(out(8L) === "call <PHONE> or <PHONE> at ts 1700000000")
  }

  test("langId picks the language with most marker hits") {
    val d = Seq(
      (1L, "the cat and the dog is a pet"),
      (2L, "der hund und die katze ist da")).toDF("doc_id", "text")
    val got = TextOps.langId(d).select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "en")
    assert(got(2L) === "de")
  }

  test("qualityModelScore: hashed-ngram linear scorer matches a plain replay") {
    val docs = Seq((1L, "The quick brown fox"), (2L, "  spaced   out  "),
      (3L, "")).toDF("doc_id", "text")
    val got = TextOps.qualityModelScore(docs, dim = 4096)
      .select("doc_id", "n_tokens", "score_num", "keep")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // independent plain-Scala replay of the hashing trick
    def weight(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      val hex = md.take(4).map("%02x".format(_)).mkString
      val idx = java.lang.Long.parseLong(hex, 16) % 4096L
      (idx * 2654435761L) % 2001L - 1000L
    }
    def expect(id: Long, text: String): Option[(Long, Long, Long, Boolean)] = {
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.isEmpty) None
      else {
        val s = toks.map(weight).sum
        Some((id, toks.size.toLong, s, s > 0))
      }
    }
    val want = Seq(expect(1L, "The quick brown fox"),
      expect(2L, "  spaced   out  "), expect(3L, "")).flatten
    assert(got === want)
    assert(got.size === 2, "a token-less doc yields no score row")
  }

  test("qualityProfile computes integer signals") {
    val p = TextOps.qualityProfile(Seq((1L, "The the of xyz")).toDF("doc_id", "text"))
      .select("n_tokens", "n_distinct_tokens", "n_stop_tokens", "n_word_runs", "max_token_len")
      .collect().head
    assert(p.getInt(0) === 4)
    assert(p.getInt(1) === 3)
    assert(p.getInt(2) === 3)
    assert(p.getInt(3) === 4)
    assert(p.getInt(4) === 3)
  }

  test("tfidfTopK surfaces rare terms over ubiquitous ones") {
    val d = Seq(
      (0L, "apple banana banana"),
      (1L, "apple cherry"),
      (2L, "apple durian")).toDF("doc_id", "text")
    val out = TextOps.tfidfTopK(d, k = 2).orderBy("doc_id", "rnk")
      .as[(Long, Int, String, Double)].collect().toSeq
    // N=3; df(apple)=3, others 1. score = tf*(N+1)/(df+1):
    // banana 2*4/2=4, cherry/durian 1*4/2=2, apple 1*4/4=1
    assert(out === Seq(
      (0L, 1, "banana", 4.0), (0L, 2, "apple", 1.0),
      (1L, 1, "cherry", 2.0), (1L, 2, "apple", 1.0),
      (2L, 1, "durian", 2.0), (2L, 2, "apple", 1.0)))
  }

  test("bm25TopK ranks term-dense short docs above diluted long ones") {
    val d = Seq(
      (0L, "spark spark spark"),          // dense: high tf, short
      (1L, "spark " + ("pad " * 40).trim), // diluted: tf 1, long doc
      (2L, "spark query"),                 // two query terms
      (3L, "nothing relevant here")).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(d, Seq("spark", "query"), k = 10)
      .as[(Long, Double)].collect().toSeq
    // doc 3 has no query term → absent; doc 2 (two terms, short) and
    // doc 0 (high tf, short) outrank the diluted doc 1
    assert(out.map(_._1) === Seq(2L, 0L, 1L))
    assert(out.forall(_._2 > 0))
    // idf is rational and query terms combine in fixed order: the same
    // call is bit-identical across runs
    val again = TextOps.bm25TopK(d, Seq("spark", "query"), k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(again === out)
  }

  test("leakageSafeSplit co-locates exact-duplicate groups in one split") {
    val base = (1L to 40L).map(i => (i, s"doc body number ${i % 10}"))
    val twins = base.map { case (i, t) => (i + 1000L, t) }
    val d = (base ++ twins).toDF("doc_id", "text")
    val out = TextOps.leakageSafeSplit(d)
      .select("doc_id", "fp", "split")
      .as[(Long, String, String)].collect().toSeq
    assert(out.size === 80)
    // every fingerprint group lives in exactly ONE split
    val splitsPerFp = out.groupBy(_._2).values.map(_.map(_._3).distinct.size)
    assert(splitsPerFp.forall(_ === 1),
      "a duplicate group straddling splits is train/test leakage")
    // twins land with their originals
    out.filter(_._1 <= 40L).foreach { case (id, _, split) =>
      assert(out.find(_._1 == id + 1000L).get._3 === split)
    }
    // null-text docs keep a split instead of silently dropping
    val withNull = d.unionByName(
      Seq((5000L, null.asInstanceOf[String]), (5001L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"))
    val nulls = TextOps.leakageSafeSplit(withNull)
      .where(col("doc_id") >= 5000L)
      .select("split").as[String].collect().toSeq
    assert(nulls.size === 2 && nulls.distinct.size === 1)
  }

  test("bigramLm scores corpus commonness; short docs keep a null-score row") {
    val d = Seq(
      (0L, "a b c"),
      (1L, "a b d"),
      (2L, "x")).toDF("doc_id", "text")
    val out = TextOps.bigramLm(d).orderBy("doc_id")
      .select(col("doc_id"), col("n_bigrams"), col("mean_bg_freq"), col("known_ratio"))
      .collect()
    // corpus: "a b"x2, "b c"x1, "b d"x1 -> both docs mean (2+1)/2, known 1/2
    assert(out(0).getLong(0) === 0L && out(0).getLong(1) === 2L &&
      out(0).getDouble(2) === 1.5 && out(0).getDouble(3) === 0.5)
    assert(out(1).getLong(1) === 2L && out(1).getDouble(2) === 1.5 &&
      out(1).getDouble(3) === 0.5)
    assert(out(2).getLong(1) === 0L && out(2).isNullAt(2) && out(2).isNullAt(3))
  }

  test("sourceOverlap counts shared distinct 4-grams per source pair") {
    val d = Seq(
      (0L, "srcA", "w1 w2 w3 w4 taila"),
      (1L, "srcB", "w1 w2 w3 w4 tailb"),
      (2L, "srcC", "unique only text here")).toDF("doc_id", "source", "text")
    val out = TextOps.sourceOverlap(d, n = 4)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    // A and B: 2 grams each, share "w1 w2 w3 w4" -> jaccard 1/(2+2-1)
    assert(out === Seq(("srcA", "srcB", 1L, 2L, 2L, 1.0 / 3.0)))
  }

  test("oovRate scores docs against the corpus top-V vocabulary") {
    val d = Seq(
      (0L, "a a b c"),
      (1L, "a b"),
      (2L, "")).toDF("doc_id", "text")
    val out = TextOps.oovRate(d, vocabSize = 2).orderBy("doc_id").collect()
    // counts a:3 b:2 c:1 -> vocab {a,b}; doc0 has one OOV token of four
    assert(out(0).getLong(1) === 4L && out(0).getLong(2) === 1L &&
      out(0).getDouble(3) === 0.25)
    assert(out(1).getLong(2) === 0L && out(1).getDouble(3) === 0.0)
    assert(out(2).getLong(1) === 0L && out(2).isNullAt(3),
      "zero-token doc keeps a row with null ratio")
  }

  test("decontaminateFuzzy flags high-Jaccard pairs, ignores one-gram hits") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over lazy dog"),  // near-dup of eval
      (2L, "completely different content with no overlap at all"),
      (3L, "the quick brown banana split dessert"))     // one shared gram
      .toDF("doc_id", "text")
    val evalSet = Seq((10L, "the quick brown fox jumps over lazy cat"))
      .toDF("doc_id", "text")
    val out = TextOps.decontaminateFuzzy(corpus, evalSet, n = 3, minJaccard = 0.5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc 1: 5 of 6 grams shared with the 6-gram eval doc -> j = 5/7;
    // doc 3: 1 shared gram -> j = 1/9 < 0.5 (the exact-decontaminate op
    // WOULD flag it — this one correctly doesn't); doc 2: no candidates
    assert(out === Seq((1L, 10L, 5L, 5.0 / 7.0)))
  }

  test("semDedup marks higher-id near-identical vectors within a cluster") {
    // three planted directions; 100/101 and 200/201 are identical pairs,
    // the rest are distinct corners of the simplex
    def v(dir: Int): Seq[Float] =
      Seq.tabulate(8)(i => if (i == dir) 1f else 0.01f * (dir + 1))
    val emb = Seq(
      100L -> v(0), 101L -> v(0), 110L -> v(1),
      200L -> v(2), 201L -> v(2), 210L -> v(3),
      300L -> v(4), 310L -> v(5), 320L -> v(6), 330L -> v(7))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, threshold = 0.95, nlist = 4, iters = 2)
      .select(col("vec_id"), col("is_dup")).as[(Long, Boolean)].collect().toMap
    assert(out(101L) && out(201L), "higher id of each identical pair is the dup")
    assert(!out(100L) && !out(200L), "lower id of each pair is the keeper")
    assert(Seq(110L, 210L, 300L, 310L, 320L, 330L).forall(!out(_)),
      "orthogonal vectors are not dups")
  }

  test("semDedup cap excludes oversized clusters from pairing, keeps members") {
    val emb = Seq.tabulate(10)(i =>
      (i.toLong, Seq.tabulate(4)(j => if (j == 0) 1f else 0f)))
      .toDF("vec_id", "embedding")
    // every vector identical -> one cluster of 10 > cap=5: pairing skipped
    val out = Similarity.semDedup(emb, threshold = 0.9, nlist = 2, iters = 1,
        maxClusterSize = 5)
      .select(col("vec_id"), col("is_dup")).as[(Long, Boolean)].collect()
    assert(out.length === 10 && out.forall(!_._2),
      "capped cluster keeps all members, marks none (recall dropped loudly)")
  }

  test("trainCentroids (spherical k-means) lifts IVF recall over sampled centroids") {
    // 6 planted clusters around distinct unit directions in 8 dims
    val emb = (0L until 180L).map { i =>
      val c = (i % 6).toInt
      val base = Array.tabulate(8)(d => if (d == c) 1.0f else 0.0f)
      val noisy = base.zipWithIndex.map { case (x, d) =>
        x + 0.15f * math.sin((i * 31 + d * 7).toDouble).toFloat }
      (i, noisy)
    }.toDF("vec_id", "embedding")
    val queryPred = col("vec_id") % 10 === 0
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, 5, queryPred))
    val sampled = pairs(Similarity.ivfTopK(emb, 5, 6, 2, queryPred))
    val trained = Similarity.trainCentroids(emb, nlist = 6, iters = 5)
    assert(trained.count() === 6L)
    val km = pairs(Similarity.ivfTopK(emb, 5, 6, 2, queryPred, centroids = Some(trained)))
    def recall(got: Set[(Long, Long)]): Double =
      got.intersect(truth).size.toDouble / truth.size
    assert(recall(km) >= recall(sampled),
      s"k-means recall ${recall(km)} < sampled ${recall(sampled)}")
    assert(recall(km) >= 0.8, s"k-means recall too low: ${recall(km)}")
  }

  test("trainCentroidsI8 (replayable int8 k-means) matches float-trainer recall") {
    // same planted-cluster corpus as the float-trainer test above
    val emb = (0L until 180L).map { i =>
      val c = (i % 6).toInt
      val base = Array.tabulate(8)(d => if (d == c) 1.0f else 0.0f)
      val noisy = base.zipWithIndex.map { case (x, d) =>
        x + 0.15f * math.sin((i * 31 + d * 7).toDouble).toFloat }
      (i, noisy)
    }.toDF("vec_id", "embedding")
    val queryPred = col("vec_id") % 10 === 0
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, 5, queryPred))
    val trained = Similarity.trainCentroidsI8(emb, nlist = 6, iters = 5)
    assert(trained.count() === 6L)
    // centroid components are integer sums of int8 components — exact floats
    val comps = trained.select(explode(col("centroid")))
      .as[Float].collect()
    assert(comps.forall(c => c == math.rint(c).toFloat), "non-integer centroid")
    val km = pairs(Similarity.ivfTopK(emb, 5, 6, 2, queryPred, centroids = Some(trained)))
    val recall = km.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"int8 k-means recall too low: $recall")
    // determinism: a second training run yields the identical centroids
    val again = Similarity.trainCentroidsI8(emb, nlist = 6, iters = 5)
    val a = trained.select("cell_id", "centroid").as[(Long, Seq[Float])].collect().toMap
    val b = again.select("cell_id", "centroid").as[(Long, Seq[Float])].collect().toMap
    assert(a === b)
  }

  test("srpNearDupPairs recalls planted high-cosine pairs, skips the rest") {
    val base = Array.tabulate(32)(i => math.sin(i * 0.7).toFloat)
    val nearDup = base.clone(); nearDup(0) = nearDup(0) + 0.01f
    val emb = (Seq((0L, base), (1L, nearDup)) ++
      (2L until 40L).map(i => (i, Array.tabulate(32)(d =>
        math.sin((i * 37 + d) * 1.3).toFloat))))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.srpNearDupPairs(emb, 0.95)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    // exact verification keeps false candidates out
    val brute = Similarity.cosinePairs(emb, 0.95)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs === brute)
  }

  test("cosinePairs O(n²) guard: throws over maxExactRows, autoRoute falls to LSH") {
    val emb = (0L until 10L).map(i => (i, Array.tabulate(8)(d =>
      math.sin((i * 31 + d) * 0.9).toFloat))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.cosinePairs(emb, 0.9, maxExactRows = 5).count())
    assert(e.getMessage.contains("srpNearDupPairs"))
    // autoRoute: same output shape via the LSH path, no throw
    val routed = Similarity.cosinePairs(emb, 0.9, maxExactRows = 5, autoRoute = true)
    assert(routed.columns.toSeq === Seq("vec_a", "vec_b", "sim"))
    routed.count() // executes the LSH plan
  }

  test("bruteForceTopK broadcast guard: throws over maxQueries, autoRoute to IVF") {
    val emb = (0L until 12L).map(i => (i, Array.tabulate(4)(d =>
      math.cos((i + d) * 0.7).toFloat))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.bruteForceTopK(emb, 2, col("vec_id") >= 0, maxQueries = 5).count())
    assert(e.getMessage.contains("ivfTopK"))
    val routed = Similarity.bruteForceTopK(emb, 2, col("vec_id") === 0,
      maxQueries = 0, autoRoute = true)
    assert(routed.columns.toSeq === Seq("query_id", "rank", "neighbor_id", "sim"))
    assert(routed.count() > 0)
  }

  test("multimodal plumbing: meta extraction and partition-wise decode") {
    val media = Multimodal.extractMeta(Multimodal.asMedia(
      Seq((1L, "hello"), (2L, "")).toDF("doc_id", "text"), "text"))
    val m1 = media.filter(col("doc_id") === 1).select("meta.n_bytes").as[Long].head()
    assert(m1 === 5L)
    val feats = Multimodal.decodeFeatures(media)
      .select("doc_id", "features").collect()
    val f1 = feats.find(_.getLong(0) == 1L).get.getSeq[Float](1)
    assert(f1.length === Multimodal.DecodeStub.FeatureDim)
    assert(f1.sum > 0f)
  }

  test("ImageIoCodec really decodes: PNG round-trip reproduces formula sums") {
    val id = 42L
    val (w, h) = Multimodal.FixtureImage.dims(id)
    val png = Multimodal.FixtureImage.png(id)
    // PNG magic: a real encoder ran
    assert((png(0) & 0xFF) === 0x89 && png(1) === 'P'.toByte)
    val stats = Multimodal.ImageIoCodec.decodeStats(png).get
    assert(stats.width === w && stats.height === h && stats.channels === 3)
    val n = w.toLong * h
    val expR = (0L until n).map(i => Multimodal.FixtureImage.channel(id, i, 0).toLong).sum
    val expG = (0L until n).map(i => Multimodal.FixtureImage.channel(id, i, 1).toLong).sum
    val expB = (0L until n).map(i => Multimodal.FixtureImage.channel(id, i, 2).toLong).sum
    assert((stats.sumR, stats.sumG, stats.sumB) === ((expR, expG, expB)))
    // real features on a real image; stub fallback on arbitrary bytes
    val f = Multimodal.ImageIoCodec.features(png)
    assert(f.length === Multimodal.DecodeStub.FeatureDim)
    assert(f(0) === w.toFloat && f(1) === h.toFloat && f(2) === 3f)
    val garbage = "not an image at all".getBytes
    assert(Multimodal.ImageIoCodec.decodeStats(garbage).isEmpty)
    assert(Multimodal.ImageIoCodec.features(garbage).toSeq
      === Multimodal.DecodeStub.features(garbage).toSeq)
  }

  test("convEnergies: Sobel/Laplacian energies match a reference convolution") {
    val id = 42L
    val (w, h) = Multimodal.FixtureImage.dims(id)
    val png = Multimodal.FixtureImage.png(id)
    def v(x: Int, y: Int) =
      Multimodal.FixtureImage.channel(id, y.toLong * w + x, 0)
    var gx = 0L; var gy = 0L; var lap = 0L
    for (y <- 1 until h - 1; x <- 1 until w - 1) {
      gx += math.abs((v(x + 1, y - 1) + 2 * v(x + 1, y) + v(x + 1, y + 1)) -
        (v(x - 1, y - 1) + 2 * v(x - 1, y) + v(x - 1, y + 1)))
      gy += math.abs((v(x - 1, y + 1) + 2 * v(x, y + 1) + v(x + 1, y + 1)) -
        (v(x - 1, y - 1) + 2 * v(x, y - 1) + v(x + 1, y - 1)))
      lap += math.abs(4 * v(x, y) - v(x - 1, y) - v(x + 1, y) -
        v(x, y - 1) - v(x, y + 1))
    }
    assert(Multimodal.ImageIoCodec.convEnergies(png) === Some((gx, gy, lap)),
      "conv energies must equal the direct convolution of the formula pixels")
    // the features vector's last two dims now carry REAL gradient signal
    val f = Multimodal.ImageIoCodec.features(png)
    val n = (w.toLong * h).toFloat
    assert(f(6) === gx / n && f(7) === gy / n)
    // non-images and sub-3x3 rasters: None, no fake numbers
    assert(Multimodal.ImageIoCodec.convEnergies("junk".getBytes).isEmpty)
    assert(Multimodal.ImageIoCodec.convEnergies(
      Multimodal.ImageIoCodec.encodePng(2, 2, (_, _) => 0)).isEmpty)
  }

  test("imageConvEmbed pipeline: partition-wise conv embedding, null for junk") {
    val df = Multimodal.imageConvEmbed(Multimodal.synthesizeImages(
      Seq(7L, 8L).toDF("doc_id")))
    val rows = df.select("doc_id", "grad_x_energy", "grad_y_energy", "lap_energy")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows.size === 2 && rows.forall(r => r._2 > 0 && r._3 > 0 && r._4 > 0))
    val junk = Multimodal.imageConvEmbed(
      Seq((1L, "nope".getBytes)).toDF("doc_id", "media"))
    assert(junk.where("grad_x_energy IS NULL").count() === 1L)
  }

  test("imageStats pipeline decodes synthesized PNGs partition-wise") {
    val df = Multimodal.imageStats(Multimodal.synthesizeImages(
      Seq(1L, 2L, 3L).toDF("doc_id")))
    val rows = df.select("doc_id", "width", "height", "channels")
      .as[(Long, Int, Int, Int)].collect().sortBy(_._1)
    assert(rows.map(r => (r._1, (r._2, r._3))).toSeq
      === Seq(1L, 2L, 3L).map(id => (id, Multimodal.FixtureImage.dims(id))))
    assert(rows.forall(_._4 === 3))
  }

  test("winnowSketch: shared long runs share fingerprints, short docs resolve to 0") {
    // guarantee: a shared run of >= window + n - 1 (= 7) tokens yields at
    // least one shared selected fingerprint regardless of position
    val run = "w1 w2 w3 w4 w5 w6 w7"
    val docs = Seq(
      (1L, s"$run alpha beta gamma delta"),
      (2L, s"epsilon zeta eta theta $run"),   // same run, shifted position
      (3L, "totally different words here entirely now friends"),
      (4L, "too short"))                      // below sketch resolution
      .toDF("doc_id", "text")
    val fp = Dedup.winnowSketch(docs, n = 4, window = 4)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(fp(4L)._2 === 0L) // short doc: explicit 0-fingerprint row
    assert(fp(1L)._2 > 0 && fp(2L)._2 > 0 && fp(3L)._2 > 0)
    // recompute the selected sets directly to check the sharing guarantee
    def sel(text: String): Set[String] = {
      val tk = text.toLowerCase.split(" ")
      val hs = tk.sliding(4).map(g => {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(g.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
      }).toVector
      hs.sliding(4).map(_.min).toSet
    }
    assert((sel(s"$run alpha beta gamma delta") intersect
      sel(s"epsilon zeta eta theta $run")).nonEmpty)
    assert((sel(s"$run alpha beta gamma delta") intersect
      sel("totally different words here entirely now friends")).isEmpty)
    // and the operator's sketches agree with the direct computation
    assert(fp(1L)._2 === sel(s"$run alpha beta gamma delta").size.toLong)
    assert(fp(3L)._2 === sel("totally different words here entirely now friends").size.toLong)
  }

  test("hardNegatives excludes the near-dup band and ranks the rest by cosine") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),          // anchor
      (1L, Seq(1.0f, 0.001f, 0.0f)),        // near-dup of the anchor: excluded
      (2L, Seq(0.9f, 0.4f, 0.0f)),          // hard negative (closest legit)
      (3L, Seq(0.0f, 1.0f, 0.0f)),          // easy negative
      (4L, Seq(-1.0f, 0.0f, 0.0f)))         // opposite
      .toDF("vec_id", "embedding")
    val negs = Similarity.hardNegatives(emb, k = 2, dupSim = 0.95,
        anchorPred = col("vec_id") === 0L)
      .select("anchor_id", "rank", "negative_id")
      .as[(Long, Int, Long)].collect().toSeq.sorted
    assert(negs === Seq((0L, 1, 2L), (0L, 2, 3L)),
      "the near-dup (id 1) must not appear; id 2 is the hardest negative")
  }

  test("duplicatedSpans: later doc's shared run is one merged interval, first holder exempt") {
    val d = Seq(
      (10L, "a b c d e f g h"),
      (20L, "x x a b c d e f y y"),          // shares the 6-word run a..f
      (30L, "unique words only in this one"),
      (40L, "p q r s t p q r s t"))          // repeats only WITHIN itself
      .toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(d, k = 4)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(spans.keySet === Set(20L))        // first holder 10 keeps its copy
    assert(spans(20L)._2 === 1L)             // one merged span
    assert(spans(20L)._3 === 6L)             // covering a..f = 6 words
  }

  test("removeDuplicatedSpans rewrites only later holders, hashed and unhashed agree") {
    val d = Seq(
      (10L, "a b c d e f g h"),
      (20L, "x x a b c d e f y y"),
      (30L, "unique words only in this one"),
      (40L, "p q r s t p q r s t"))
      .toDF("doc_id", "text")
    for (hashed <- Seq(true, false)) {
      val out = Dedup.removeDuplicatedSpans(d, k = 4, hashed = hashed)
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(out(10L) === "a b c d e f g h")        // first holder untouched
      assert(out(20L) === "x x y y")                // run removed, rest kept in order
      assert(out(30L) === "unique words only in this one")
      assert(out(40L) === "p q r s t p q r s t")    // intra-doc repeat is not a dup
    }
    // a doc that is ENTIRELY an earlier doc's text empties to ""
    val all = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(all, k = 4)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(out(1L) === "a b c d" && out(2L) === "")
  }

  test("GifCodec really decodes: animated-GIF round trip reproduces every frame") {
    val id = 17L
    val (w, h) = Multimodal.FixtureGif.dims(id)
    val nf = Multimodal.FixtureGif.nFrames(id)
    val gif = Multimodal.FixtureGif.gif(id)
    // GIF magic: a real container encoder ran
    assert(new String(gif.take(6), "US-ASCII").startsWith("GIF8"))
    val frames = Multimodal.GifCodec.decodeFrames(gif).get
    assert(frames.size === nf)
    frames.zipWithIndex.foreach { case (fr, f) =>
      assert(fr.frameIdx === f && fr.width === w && fr.height === h)
      val exp = (0L until w.toLong * h).map(i =>
        Multimodal.FixtureGif.pixel(id, f, i).toLong).sum
      assert(fr.graySum === exp, s"frame $f gray sum mismatch")
    }
    // non-GIF payloads refuse cleanly (incl. a valid PNG)
    assert(Multimodal.GifCodec.decodeFrames("not a gif".getBytes).isEmpty)
    assert(Multimodal.GifCodec.decodeFrames(Multimodal.FixtureImage.png(3L)).isEmpty)
  }

  test("gifFrameStats explodes one row per decoded frame, null row otherwise") {
    val good = Multimodal.gifFrameStats(Multimodal.synthesizeGifs(
      Seq(1L, 2L).toDF("doc_id")))
      .select("doc_id", "frame_idx").as[(Long, Int)].collect().toSeq.sorted
    val expect = Seq(1L, 2L).flatMap(id =>
      (0 until Multimodal.FixtureGif.nFrames(id)).map(f => (id, f)))
    assert(good === expect)
    val bad = Multimodal.gifFrameStats(
      Seq((9L, "junk".getBytes)).toDF("doc_id", "media"))
      .select("doc_id", "frame_idx").collect()
    assert(bad.length === 1 && bad.head.isNullAt(1))
  }

  test("GifCodec classifies corrupt-but-recognized GIFs apart from non-GIFs") {
    import Multimodal.GifCodec
    // a TRUNCATED valid GIF keeps its magic (recognized) but dies mid-read
    val gif = Multimodal.FixtureGif.gif(17L)
    val truncated = gif.take(gif.length / 3)
    GifCodec.decode(truncated) match {
      case GifCodec.DecodeError(_) => // expected: corrupt media
      case other => fail(s"truncated GIF classified as $other")
    }
    assert(GifCodec.decode("not a gif".getBytes) === GifCodec.NotAGif)
    assert(GifCodec.decode(Multimodal.FixtureImage.png(3L)) === GifCodec.NotAGif)
    assert(GifCodec.decode(null) === GifCodec.NotAGif)
    // and the verdict column surfaces the distinction downstream
    val v = Multimodal.gifFrameStats(
      Seq((1L, truncated), (2L, "junk".getBytes)).toDF("doc_id", "media"))
      .select("doc_id", "gif_verdict").as[(Long, String)].collect().toMap
    assert(v(1L).startsWith("decode_error"))
    assert(v(2L) === "not_a_gif")
  }

  test("WavCodec really decodes: RIFF/PCM round-trip reproduces formula stats") {
    val id = 42L
    val n = Multimodal.FixtureWav.nSamples(id)
    val wav = Multimodal.FixtureWav.wav(id)
    // RIFF magic: a real container encoder ran
    assert(new String(wav.take(4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
    val stats = Multimodal.WavCodec.decodeStats(wav).get
    assert(stats.sampleRate === Multimodal.FixtureWav.SampleRate)
    assert(stats.nSamples === n.toLong)
    val samples = (0 until n).map(i => Multimodal.FixtureWav.sample(id, i.toLong).toInt)
    assert(stats.sumAbs === samples.map(s => math.abs(s).toLong).sum)
    assert(stats.peak === samples.map(math.abs).max)
    val zc = samples.sliding(2).count { case Seq(a, b) => (a < 0) != (b < 0) }
    assert(stats.zeroCross === zc.toLong)
    // non-audio payloads refuse cleanly (no stub numbers leaking through)
    assert(Multimodal.WavCodec.decodeStats("not audio at all".getBytes).isEmpty)
  }

  test("bulk raster access is bit-identical to the getRGB loop per image type") {
    import java.awt.image.BufferedImage
    def fill(img: BufferedImage): BufferedImage = {
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
        img.setRGB(x, y, ((x * 31 + y * 57) % 256 << 16) |
          ((x * 7 + y * 3) % 256 << 8) | ((x + y * 11) % 256))
      img
    }
    def viaGetRgb(img: BufferedImage): (Long, Long, Long, Seq[Int], Seq[Int]) = {
      var sr = 0L; var sg = 0L; var sb = 0L
      val gray = Array.newBuilder[Int]; val red = Array.newBuilder[Int]
      for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
        val rgb = img.getRGB(x, y)
        val (r, g, b) = ((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
        sr += r; sg += g; sb += b; gray += (r + g + b); red += r
      }
      (sr, sg, sb, gray.result().toSeq, red.result().toSeq)
    }
    val types = Seq(BufferedImage.TYPE_3BYTE_BGR, BufferedImage.TYPE_INT_RGB,
      BufferedImage.TYPE_INT_ARGB, BufferedImage.TYPE_BYTE_INDEXED,
      BufferedImage.TYPE_BYTE_GRAY, BufferedImage.TYPE_USHORT_565_RGB)
    for (t <- types; (w, h) <- Seq((9, 7), (16, 16))) {
      val img = fill(new BufferedImage(w, h, t))
      val (sr, sg, sb, gray, red) = viaGetRgb(img)
      assert(Multimodal.ImageIoCodec.channelSums(img) === ((sr, sg, sb)),
        s"channelSums diverged for type=$t")
      assert(Multimodal.ImageIoCodec.channelArray(img, -1).toSeq === gray,
        s"gray channelArray diverged for type=$t")
      assert(Multimodal.ImageIoCodec.channelArray(img, 16).toSeq === red,
        s"red channelArray diverged for type=$t")
    }
    // decodeImage must agree with ImageIO.read for PNG and GIF payloads
    val png = Multimodal.FixtureImage.png(123L)
    val a = Multimodal.ImageIoCodec.decodeImage(png)
    val b = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(a.getWidth === b.getWidth && a.getHeight === b.getHeight)
    for (y <- 0 until a.getHeight; x <- 0 until a.getWidth)
      assert(a.getRGB(x, y) === b.getRGB(x, y))
    assert(Multimodal.ImageIoCodec.decodeImage("junk".getBytes) === null)
  }

  test("encodeWav direct RIFF writer is byte-identical to AudioSystem.write") {
    // the r16 optimization hand-rolls the 44-byte header; pin it against
    // the javax.sound encoder for several rates/lengths incl. 0 samples
    for ((rate, n) <- Seq((8000, 0), (8000, 1), (8000, 257), (44100, 1000))) {
      val samples = Array.tabulate[Short](n)(i =>
        ((i * 2654435761L % 65536) - 32768).toShort)
      val fast = Multimodal.WavCodec.encodeWav(rate, samples)
      val ref = Multimodal.WavCodec.encodeWavViaAudioSystem(rate, samples)
      assert(java.util.Arrays.equals(fast, ref),
        s"WAV bytes diverged at rate=$rate n=$n")
    }
  }

  test("audioStats pipeline decodes synthesized WAVs partition-wise") {
    val df = Multimodal.audioStats(Multimodal.synthesizeWavs(
      Seq(1L, 2L, 3L).toDF("doc_id")))
    val rows = df.select("doc_id", "sample_rate", "n_samples")
      .as[(Long, Int, Long)].collect().sortBy(_._1)
    assert(rows.toSeq === Seq(1L, 2L, 3L).map(id =>
      (id, Multimodal.FixtureWav.SampleRate, Multimodal.FixtureWav.nSamples(id).toLong)))
  }

  test("slidingChunks: overlapping windows cover every token, short tail kept") {
    val docs = Seq((0L, "t1 t2 t3 t4 t5 t6 t7 t8")).toDF("doc_id", "text")
    val out = TextOps.slidingChunks(docs, window = 4, stride = 3)
      .orderBy("chunk_id").as[(Long, Int, Int, String)].collect().toSeq
    assert(out === Seq(
      (0L, 0, 4, "t1 t2 t3 t4"),
      (0L, 1, 4, "t4 t5 t6 t7"), // 1-token overlap with both neighbors
      (0L, 2, 2, "t7 t8")))      // short tail chunk still emitted
    // docs at/below one window emit exactly chunk 0; empty text included
    val short = Seq((1L, "a b"), (2L, "")).toDF("doc_id", "text")
    val so = TextOps.slidingChunks(short, 4, 3)
      .as[(Long, Int, Int, String)].collect().toSet
    assert(so === Set((1L, 0, 2, "a b"), (2L, 0, 1, "")))
  }

  test("resizeMedia on a real image decodes, rescales and re-encodes PNG") {
    val png = Multimodal.FixtureImage.png(7L)
    val media = Seq((7L, png)).toDF("doc_id", "media")
    val out = Multimodal.resizeMedia(media, 5, 4)
      .select("media").as[Array[Byte]].head()
    val stats = Multimodal.ImageIoCodec.decodeStats(out).get
    assert(stats.width === 5 && stats.height === 4)
  }

  test("frameSample explodes evenly-spaced frames, pure expression plan") {
    val media = Multimodal.asMedia(
      Seq((1L, "abcdefghij"), (2L, "xy"), (3L, "")).toDF("doc_id", "text"), "text")
    val frames = Multimodal.frameSample(media, 4)
    val byDoc = frames.select("doc_id", "frame_idx", "frame")
      .as[(Long, Int, Array[Byte])].collect().groupBy(_._1)
    // 10 bytes / 4 frames -> width 2: four 2-byte frames
    assert(byDoc(1L).sortBy(_._2).map(r => new String(r._3)).toSeq
      === Seq("ab", "cd", "ef", "gh"))
    // 2-byte payload: width 1, frames past the end are dropped
    assert(byDoc(2L).sortBy(_._2).map(r => new String(r._3)).toSeq === Seq("x", "y"))
    assert(!byDoc.contains(3L)) // empty payload -> no frames
    // no RDD boundary: the plan stays in Catalyst (Generate/posexplode)
    assert(!frames.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"))
  }

  test("resizeMedia resamples payloads to the target size deterministically") {
    val media = Multimodal.asMedia(
      Seq((1L, "hello world"), (2L, "")).toDF("doc_id", "text"), "text")
    val resized = Multimodal.resizeMedia(media, 4, 2)
    val out = resized.select("doc_id", "media").as[(Long, Array[Byte])].collect().toMap
    assert(out(1L).length === 8)
    assert(out(2L).length === 0) // empty stays empty
    val again = Multimodal.resizeMedia(media, 4, 2)
      .select("doc_id", "media").as[(Long, Array[Byte])].collect().toMap
    assert(out(1L).toSeq === again(1L).toSeq)
    // meta re-extraction reflects the new payload
    val meta = Multimodal.extractMeta(resized)
      .filter(col("doc_id") === 1).select("meta.n_bytes").as[Long].head()
    assert(meta === 8L)
  }

  test("IVF index at rest: partition-pruned probes match in-memory ivfTopK") {
    val emb = (0L until 40L).map(i => (i, Array.tabulate(16)(d =>
      math.sin((i * 37 + d) * 1.3).toFloat))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.writeIvfIndex(emb, path, nlist = 8, iters = 1)
    // cell directories exist (the partition layout IS the index)
    val cellDirs = new java.io.File(s"$path/data").listFiles()
      .filter(_.getName.startsWith("cell_id=")).map(_.getName).toSet
    assert(cellDirs.nonEmpty)
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val cents = spark.read.parquet(s"$path/_centroids")
    val mem = Similarity.ivfTopK(emb, 3, 8, 2, col("vec_id") % 10 === 0,
        centroids = Some(cents))
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val idx = Similarity.ivfTopKIndexed(queries, path, 3, 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(idx === mem)
    // the scan is partition-pruned: the physical plan carries a cell_id
    // filter over the partition column
    val plan = Similarity.ivfTopKIndexed(queries, path, 3, 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell_id"))
  }

  test("IVF index rebuilt with a smaller nlist holds each vector once") {
    val emb = (0L until 40L).map(i => (i, Array.tabulate(16)(d =>
      math.sin((i * 37 + d) * 1.3).toFloat))).toDF("vec_id", "embedding")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val mode = spark.conf.get(key)
    // the rebuild must not depend on the session's overwrite mode
    for (sessionMode <- Seq("static", "dynamic")) {
      val path = java.nio.file.Files.createTempDirectory("graft-ivf-rebuild").toString
      spark.conf.set(key, sessionMode)
      try {
        Similarity.writeIvfIndex(emb, path, nlist = 16, iters = 1)
        Similarity.writeIvfIndex(emb, path, nlist = 4, iters = 1)
      } finally spark.conf.set(key, mode)
      val ids = spark.read.parquet(s"$path/data").select("vec_id").as[Long].collect()
      assert(ids.sorted.toSeq === (0L until 40L), s"session mode $sessionMode")
    }
  }

  test("IVF index rebuild is byte-identical: at-rest centroids are " +
      "plan-order-independent (trainCentroidsI8)") {
    val emb = (0L until 40L).map(i => (i, Array.tabulate(16)(d =>
      math.sin((i * 37 + d) * 1.3).toFloat))).toDF("vec_id", "embedding")
    def build(): (String, Array[Byte]) = {
      val path = java.nio.file.Files.createTempDirectory("graft-ivf-det").toString
      // different input partitioning per build — the old float-mean
      // training would produce different centroids here
      Similarity.writeIvfIndex(emb.repartition(scala.util.Random.nextInt(7) + 2),
        path, nlist = 8, iters = 2)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      new java.io.File(s"$path/_centroids").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName.split("-")(1))
        .foreach(f => md.update(java.nio.file.Files.readAllBytes(f.toPath)))
      (path, md.digest())
    }
    val (p1, d1) = build()
    val (p2, d2) = build()
    assert(d1.toSeq === d2.toSeq, "rebuilt _centroids differ byte-for-byte")
    // probe parity is unchanged by the deterministic trainer
    val queries = emb.filter(col("vec_id") % 10 === 0)
    val a = Similarity.ivfTopKIndexed(queries, p1, 3, 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val b = Similarity.ivfTopKIndexed(queries, p2, 3, 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(a === b)
  }

  test("IVF index append rewrites only touched cell partitions, keeps probe parity") {
    val emb = (0L until 40L).map(i => (i, Array.tabulate(16)(d =>
      math.sin((i * 37 + d) * 1.3).toFloat))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    Similarity.writeIvfIndex(emb, path, nlist = 8, iters = 1)
    def partFiles(): Map[String, Set[(String, Long)]] =
      new java.io.File(s"$path/data").listFiles()
        .filter(_.getName.startsWith("cell_id=")).map(d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.lastModified())).toSet).toMap
    val before = partFiles()
    // batch: 2 new vectors + 1 update of an existing id (vector moved)
    val batch = Seq(
      (100L, Array.tabulate(16)(d => math.sin((100 * 37 + d) * 1.3).toFloat)),
      (101L, Array.tabulate(16)(d => math.cos((101 * 7 + d) * 0.9).toFloat)),
      (5L, Array.tabulate(16)(d => math.cos((5 * 11 + d) * 0.7).toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(batch, path)
    val after = partFiles()
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    assert(changed.nonEmpty && changed.size < before.size,
      s"expected a strict subset of partitions rewritten, got $changed of ${before.keySet}")
    // the stored corpus now equals (old minus updated id) + batch
    val stored = spark.read.parquet(s"$path/data")
    assert(stored.count() === 42L) // 40 - 1 updated + 3
    assert(stored.filter(col("vec_id") === 5L).count() === 1L)
    // probe parity: the appended index answers like in-memory ivfTopK over
    // the same union corpus with the SAME stored centroids
    val cents = spark.read.parquet(s"$path/_centroids")
    val union = emb.filter(col("vec_id") =!= 5L).unionByName(batch)
    val queries = union.filter(col("vec_id") % 10 === 0)
    val mem = Similarity.ivfTopK(union, 3, 8, 2, col("vec_id") % 10 === 0,
        centroids = Some(cents))
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val idx = Similarity.ivfTopKIndexed(queries, path, 3, 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(idx === mem)
  }

  test("compactIvfCells rewrites fragmented cells to one file, keeps parity") {
    val emb = (0L until 40L).map(i => (i, Array.tabulate(16)(d =>
      math.sin((i * 37 + d) * 1.3).toFloat))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-compact").toString
    Similarity.writeIvfIndex(emb, path, nlist = 8, iters = 1)
    // two appends fragment their touched cells (one file set per append)
    def mkBatch(ids: Range) = ids.map(i => (i.toLong, Array.tabulate(16)(d =>
      math.sin((i * 37 + d) * 1.3).toFloat))).toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(mkBatch(100 until 110), path)
    Similarity.appendToIvfIndex(mkBatch(110 until 120), path)
    def filesPerCell(): Map[String, Int] =
      new java.io.File(s"$path/data").listFiles()
        .filter(_.getName.startsWith("cell_id=")).map(d =>
          d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val before = filesPerCell()
    assert(before.values.exists(_ >= 2), s"appends did not fragment: $before")
    // in-memory query set: a parquet-backed plan would pin the listing of
    // files the compaction is about to replace
    val queries = emb.unionByName(mkBatch(100 until 120))
      .filter(col("vec_id") % 10 === 0)
    val preAnswers = Similarity.ivfTopKIndexed(queries, path, 3, 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val compacted = Similarity.compactIvfCells(spark, path)
    assert(compacted.nonEmpty)
    val after = filesPerCell()
    // every fragmented cell is now a single file; untouched cells untouched
    compacted.foreach(c => assert(after(s"cell_id=$c") === 1,
      s"cell $c still fragmented: $after"))
    before.foreach { case (cell, n) =>
      if (n < 2) assert(after(cell) === n, s"singleton $cell was rewritten")
    }
    // same rows, same probe answers
    assert(spark.read.parquet(s"$path/data").count() === 60L) // 40 + 2x10
    val postAnswers = Similarity.ivfTopKIndexed(queries, path, 3, 2)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(postAnswers === preAnswers)
    // re-running with nothing fragmented is a no-op
    assert(Similarity.compactIvfCells(spark, path).isEmpty)
  }

  test("IVF append removes a cell partition its only vector moved out of") {
    // hand-built index: cell 0 ≈ (1,0), cell 1 ≈ (0,1); vec 3 is cell 1's
    // ONLY member. Updating vec 3 toward (1,0) must move it to cell 0 AND
    // clear the now-empty cell_id=1 directory — dynamic partition
    // overwrite alone would leave the stale row stranded there.
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-empty").toString
    Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("cell_id", "centroid")
      .write.parquet(s"$path/_centroids")
    Seq((1L, Array(0.9f, 0.1f), 0L), (2L, Array(0.8f, 0.2f), 0L),
        (3L, Array(0.1f, 0.9f), 1L)).toDF("vec_id", "embedding", "cell_id")
      .write.partitionBy("cell_id").parquet(s"$path/data")
    Similarity.appendToIvfIndex(
      Seq((3L, Array(0.95f, 0.05f))).toDF("vec_id", "embedding"), path)
    val stored = spark.read.parquet(s"$path/data")
    assert(stored.count() === 3L)
    val v3 = stored.filter(col("vec_id") === 3L)
      .select("cell_id").as[Long].collect().toSeq
    assert(v3 === Seq(0L), s"vec 3 rows/cells: $v3")
    val cell1 = new java.io.File(s"$path/data/cell_id=1")
    assert(!cell1.exists() ||
      cell1.listFiles().forall(!_.getName.endsWith(".parquet")),
      "emptied cell partition still holds data files")
  }

  test("i8 quantization: bounded error, scale invariance, exact-rerank top-k") {
    import graft.functions.VectorFunctions
    VectorFunctions.ensureRegistered(spark)
    // kernel-level: quantized cosine tracks float cosine within ~2/127
    val a = Array.tabulate(32)(i => math.sin(i * 0.7).toFloat)
    val b = Array.tabulate(32)(i => math.cos(i * 0.3).toFloat)
    val row = Seq((a, b)).toDF("a", "b")
      .select(
        VectorFunctions.cosineSim(col("a"), col("b")).as("exact"),
        VectorFunctions.i8Cosine(VectorFunctions.i8Quantize(col("a")),
          VectorFunctions.i8Quantize(col("b"))).as("approx"))
      .as[(Double, Double)].head()
    assert(math.abs(row._1 - row._2) < 0.02)
    // zero vector quantizes to zeros, i8 cosine defines it as 0
    val z = Seq((Array.fill(4)(0.0f), a)).toDF("a", "b")
      .select(VectorFunctions.i8Cosine(VectorFunctions.i8Quantize(col("a")),
        VectorFunctions.i8Quantize(col("b"))).as("c")).as[Double].head()
    assert(z === 0.0)
    // end-to-end: i8TopK with exact rerank matches brute force on a
    // well-separated corpus
    val emb = (0L until 40L).map(i => (i, Array.tabulate(16)(d =>
      math.sin((i * 37 + d) * 1.3).toFloat))).toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(emb, 3, col("vec_id") % 10 === 0)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val i8 = Similarity.i8TopK(emb, 3, col("vec_id") % 10 === 0, shortlist = 12)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(i8 === exact)
  }

  test("bq_pack/bq_hamming kernels and bqTopK end to end") {
    import graft.functions.VectorFunctions
    VectorFunctions.ensureRegistered(spark)
    // pack: 70 dims → 2 longs; hamming counts exactly the flipped signs
    val a = Array.tabulate(70)(i => if (i % 3 == 0) -1.0f else 1.0f)
    val b = a.clone(); b(0) = 1.0f; b(69) = -b(69) // flip 2 sign bits
    val (packedLen, ham) = Seq((a, b)).toDF("a", "b")
      .select(size(VectorFunctions.bqPack(col("a"))).as("n"),
        VectorFunctions.bqHamming(VectorFunctions.bqPack(col("a")),
          VectorFunctions.bqPack(col("b"))).as("h"))
      .as[(Int, Long)].head()
    assert(packedLen === 2, "70 sign bits must pack into 2 longs")
    assert(ham === 2L)
    // identical vectors: hamming 0
    val same = Seq((a, a)).toDF("a", "b")
      .select(VectorFunctions.bqHamming(VectorFunctions.bqPack(col("a")),
        VectorFunctions.bqPack(col("b")))).as[Long].head()
    assert(same === 0L)
    // end-to-end: bqTopK with exact rerank matches brute force on a
    // well-separated corpus (generous shortlist absorbs 1-bit noise)
    val emb = (0L until 40L).map(i => (i, Array.tabulate(16)(d =>
      math.sin((i * 37 + d) * 1.3).toFloat))).toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(emb, 3, col("vec_id") % 10 === 0)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val bq = Similarity.bqTopK(emb, 3, col("vec_id") % 10 === 0, shortlist = 20)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(bq === exact)
  }

  test("fuzzyNamePairs: dictionary-level edit-distance join, lossless buckets") {
    // "kitte" (len 5, bucket 1) vs "kitten" (len 6, bucket 2) crosses a
    // bucket boundary — caught only via the adjacent-bucket probe
    val d = Seq("kitten", "kitten", "sitten", "kitte", "dog")
      .toDF("name")
    val out = TextOps.fuzzyNamePairs(d, "name", 2)
      .select("name_a", "name_b", "dist", "n_a", "n_b")
      .as[(String, String, Int, Long, Long)].collect().toSet
    assert(out === Set(
      ("kitte", "kitten", 1, 1L, 2L),
      ("kitte", "sitten", 2, 1L, 1L),
      ("kitten", "sitten", 1, 2L, 1L)))
  }

  test("bucket caps surface drop metrics on a hot bucket") {
    // 30 identical docs: every LSH key lands in one 30-member bucket
    val docs = (0 until 30).map(i =>
      (i.toLong, "the same exact boilerplate text repeated here",
        "en", 43L)).toDF("doc_id", "text", "lang", "n_chars")
    val capped = Dedup.simhashPairs(docs, maxBucketSize = 10)
    val m = Dedup.capReports.get("simhash") // reported at construction
    assert(m.cappedBuckets > 0 && m.cap === 10)
    assert(m.droppedRows >= 30L)
    assert(capped.collect().isEmpty) // the cap dropped everything
    // uncapped control reports zero drops (and finds the pairs)
    val open = Dedup.simhashPairs(docs, maxBucketSize = 1000)
    assert(Dedup.capReports.get("simhash").cappedBuckets === 0L)
    assert(open.collect().length === 30 * 29 / 2)
    // jaccard's block cap reports through the same channel
    val jac = Dedup.jaccardPairs(docs, maxBlockSize = 10)
    val jm = Dedup.capReports.get("jaccard_blocks")
    assert(jm.cappedBuckets === 1L) // the single (lang, len_bkt) block
    assert(jm.droppedRows === 30L)
    assert(jac.collect().isEmpty)
    // minhash reports too
    Dedup.minhashPairs(docs, maxBucketSize = 10).collect()
    assert(Dedup.capReports.get("minhash").cappedBuckets > 0)
  }

  test("connectedComponents resolves transitive chains to one group") {
    // path 1-2-3-4-5 (diameter 4, needs >1 star round), separate pair 10-11,
    // duplicate + self-loop edges must not break anything
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L),
      (10L, 11L), (11L, 10L), (7L, 7L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(cc(_) == 1L))
    assert(cc(10L) === 10L && cc(11L) === 10L)
    assert(!cc.contains(7L)) // self-loop-only node carries no connectivity
  }

  test("connectedComponents on a star and on an empty edge set") {
    val star = Seq((100L, 3L), (100L, 7L), (100L, 9L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(star).as[(Long, Long)].collect().toMap
    assert(cc.values.toSet === Set(3L))
    assert(cc.keySet === Set(3L, 7L, 9L, 100L))
    val empty = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(empty.count() === 0L)
  }

  test("connectedComponents fails with a clear error past maxIter") {
    val path = (1L to 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(path, maxIter = 1)
    }
    assert(e.getMessage === "connectedComponents did not converge within 1 rounds " +
      "(raise maxIter; alternating star converges in O(log² n))")
  }

  /** Spark jobs started while `body` runs, and its result. */
  private def countingJobs[T](body: => T): (Int, T) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Thread.sleep(500) // let the listener bus drain
      (jobs.get(), out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("connectedComponents plan shape: jobs per graph, rounds and edge counts") {
    def run(edges: Seq[(Long, Long)]) = countingJobs {
      val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      val cc = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"),
        onRound = (r, n) => rounds += ((r, n)))
      (cc, rounds.toList)
    }
    // a star forest rooted at its minima is the fixpoint: one pass
    val forest = Seq((1L, 2L), (1L, 3L), (1L, 5L), (10L, 11L), (10L, 12L))
    val (forestJobs, (forestCc, forestRounds)) = run(forest)
    assert(forestJobs <= 2, s"a star forest took $forestJobs jobs")
    assert(forestRounds === List((1, 5L)))
    assert(forestCc.as[(Long, Long)].collect().toMap === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
    // a~b~c: one round to a star, one to see it is the fixpoint
    val (chainJobs, (chainCc, chainRounds)) = run(Seq((1L, 2L), (2L, 3L)))
    assert(chainJobs <= 5, s"the chain a~b~c took $chainJobs jobs")
    assert(chainRounds.map(_._1) === (1 to chainRounds.length).toList)
    assert(chainRounds.last._2 === 2L) // non-root nodes: b and c
    assert(chainCc.as[(Long, Long)].collect().toMap === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("fingerprintEdges emits linear star edges (group-min target)") {
    val d = Seq((5L, "b a c"), (2L, "c b a"), (9L, "a b c"), (3L, "a b x"))
      .toDF("doc_id", "text")
    val e = Dedup.fingerprintEdges(d).as[(Long, Long)].collect().toSet
    assert(e === Set((5L, 2L), (9L, 2L))) // 2 edges for a 3-dup group, not 3 pairs
  }

  test("decontaminate flags eval n-gram overlap, counts distinct hits once") {
    val evalSet = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "x alpha beta gamma delta y"),          // shares 4-grams
      (2L, "alpha beta gamma delta alpha beta gamma delta"), // dup grams count once
      (3L, "zeta eta theta iota kappa lambda mu")) // clean
      .toDF("doc_id", "text")
    val out = TextOps.decontaminate(corpus, evalSet, n = 4)
      .as[(Long, Long)].collect().toMap
    assert(out(1L) === 1L) // only "alpha beta gamma delta" is shared
    assert(out(2L) === 1L) // array_distinct: the repeated gram hits once
    assert(!out.contains(3L))
  }

  test("hashSplit is deterministic and group-stable") {
    val d = Seq((1L, "s1"), (2L, "s1"), (3L, "s2"), (4L, "s3")).toDF("id", "src")
    val bySrc = d.select(col("id"), TextOps.hashSplit(col("src")).as("split"))
      .as[(Long, String)].collect().toMap
    assert(bySrc(1L) === bySrc(2L)) // same group key → same split, no leakage
    assert(Set("train", "val", "test").contains(bySrc(3L)))
    val again = d.select(col("id"), TextOps.hashSplit(col("src")).as("split"))
      .as[(Long, String)].collect().toMap
    assert(bySrc === again)
  }

  test("incrementalMinhashPairs: batch hits its corpus twin, corpus pairs never form") {
    // corpus has an EXACT internal dup pair (0,1) — it must NOT appear in
    // the output, which is strictly batch × corpus
    val batch = Seq(
      (100L, base.replace("river", "stream")),   // near-dup of corpus 0/1
      (101L, "completely unrelated words about protocols and sockets here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.incrementalMinhashPairs(batch, docs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(pairs.nonEmpty, "batch near-dup not found")
    assert(pairs.forall(p => p._1 >= 100L && p._2 < 100L),
      s"non batch×corpus pair emitted: $pairs")
    assert(pairs.map(_._1).toSet === Set(100L), "unrelated batch doc matched")
    // doc 100 matches both exact twins 0 and 1 (and near-dup 2 via shared
    // shingles) with high Jaccard
    assert(pairs.map(_._2).toSet.subsetOf(Set(0L, 1L, 2L)))
    assert(pairs.forall(p => p._3 * 10 >= p._4 * 8))
  }

  test("pageRank: exact fixed-point values on a hand-computed cyclic graph") {
    // 1→2, 2→3, 3→1 cycle plus dangling 4 fed by 1. n=4, init=250000000.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (1L, 2L)) // dup edge dedups
      .toDF("src", "dst")
    val r2 = GraphOps.pageRank(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    // iter1: contrib = {1:250000000 (from 3), 2:125000000 (1 DIV outdeg 2),
    //                   3:250000000 (from 2), 4:125000000}
    //   r1 = {1:250000000, 2:143750000, 3:250000000, 4:143750000}
    // iter2: contrib = {1:250000000, 2:125000000, 3:143750000, 4:125000000}
    assert(r2 === Map(1L -> 250000000L, 2L -> 143750000L,
      3L -> 159687500L, 4L -> 143750000L))
    // determinism: same input partitioned differently → identical bits
    val again = GraphOps.pageRank(edges.repartition(7), iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(again === r2)
    // a node with no in-links settles at the teleport base
    val dag = Seq((10L, 20L)).toDF("src", "dst")
    val r = GraphOps.pageRank(dag, iters = 1).as[(Long, Long)].collect().toMap
    assert(r(10L) === (15L * 500000000L) / 100L)
  }

  test("gopherQuality: each rule rejects its planted violation") {
    val good = (1 to 20).map(i => s"word$i").mkString(" ") + " the a of" // stopwords, len ok
    val d = Seq(
      (1L, good),                                        // passes all
      (2L, "too short the a"),                           // < 20 words
      (3L, (1 to 20).map(_ => "w").mkString(" ") + " the a of"), // mean len < 3
      (4L, (1 to 20).map(_ => "wwwwwwwwwwww").mkString(" ") + " the a of"), // mean len > 10
      (5L, (1 to 30).map(_ => "123456").mkString(" ") + " the a of"), // alpha < 80%
      (6L, (1 to 25).map(i => s"word$i").mkString(" "))) // no stopwords
      .toDF("doc_id", "text")
    val out = TextOps.gopherQuality(d, minWords = 20)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out === Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false, 6L -> false))
    // signals stay available for threshold tuning
    val sig = TextOps.gopherQuality(d, minWords = 20)
      .where($"doc_id" === 1L).head()
    assert(sig.getLong(1) === 23L)      // n_words
    assert(sig.getLong(4) === 3L)       // the, a, of
  }

  test("extractHtmlText: tags, entities, whitespace — and the decode-order pin") {
    def ext(html: String): String = Seq(Tuple1(html)).toDF("h")
      .select(TextOps.extractHtmlText(col("h")).as("x")).as[String].head()
    // script/style CONTENT removed, comments removed, block tags break lines
    assert(ext("<html><style>p{}</style><script>if (1<2) alert('x')</script>" +
      "<h1>Title</h1><!-- hidden --><p>one</p><p>two</p></html>")
      === "Title\n\none\n\ntwo") // adjacent block tags = paragraph break
    // inline tags vanish without injecting spaces
    assert(ext("fo<b>o</b> <a href=\"/x\">bar</a>") === "foo bar")
    // entity decode happens exactly once: &amp;lt; is the LITERAL "&lt;"
    assert(ext("a &lt; b &amp; c &amp;lt; d&nbsp;e") === "a < b & c &lt; d e")
    // numeric refs pass through undecoded (documented non-goal)
    assert(ext("it&#8217;s") === "it&#8217;s")
    // whitespace: tabs/CRs squeeze, spaces around newlines drop, 3+ newlines
    // collapse to a paragraph break, edges \s-trimmed
    assert(ext("<div> <p>a\t\tb </p>\r\n<p></p><p></p><p>c</p> </div>")
      === "a b\n\nc")
  }

  test("scriptProfile: mixed-script counts and fixed-order dominant tiebreak") {
    val d = Seq(
      (1L, "hello мир 123"),             // latin 5, cyrillic 3, digit 3
      (2L, "привет"),                    // cyrillic only
      (3L, "你好世界"),                   // cjk only
      (4L, "abc абв"),                   // latin 3 == cyrillic 3 → latin wins
      (5L, ",.!?"),                      // punctuation only → none
      (6L, null.asInstanceOf[String]))   // null → zeros, none
      .toDF("doc_id", "text")
    val rows = TextOps.scriptProfile(d)
      .selectExpr("doc_id", "n_latin", "n_cyrillic", "n_cjk", "dominant")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(rows(0) === ((1L, 5L, 3L, 0L, "latin")))
    assert(rows(1) === ((2L, 0L, 6L, 0L, "cyrillic")))
    assert(rows(2) === ((3L, 0L, 0L, 4L, "cjk")))
    assert(rows(3) === ((4L, 3L, 3L, 0L, "latin")),
      "ties resolve to the first script in the fixed order")
    assert(rows(4)._5 === "none")
    assert(rows(5) === ((6L, 0L, 0L, 0L, "none")))
  }

  test("dsirScore: target-twin docs score positive, raw-twin negative, deterministic") {
    val docs = Seq(
      (1L, "the cat sat on the mat", true),   // target
      (2L, "the cat sat on the rug", true),   // target
      (3L, "stock market prices fell today", false),
      (4L, "stock market prices rose today", false),
      (5L, "the cat sat on the mat", false),  // raw doc, target-like text
      (6L, "stock market prices fell hard", false)) // raw-like text
      .toDF("doc_id", "text", "is_t")
    val scored = TextOps.dsirScore(docs, col("is_t"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(scored(5L) > 0,
      "a raw doc sharing the target slice's bigrams must lean target")
    assert(scored(6L) < 0, "a raw-like doc must lean raw")
    assert(scored(1L) > 0 && scored(3L) < 0)
    // deterministic: the ordered fold yields bit-identical scores
    val again = TextOps.dsirScore(docs, col("is_t"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(again === scored)
  }

  test("URL extraction stops at prose punctuation; domains normalize") {
    val d = Seq(
      (1L, "See https://www.News.Example.com/p/3?ref=1 and http://cdn-2.example.org/a.js. End."),
      (2L, "Bare host https://example.com. Another https://sub.example.com/ here"),
      (3L, "no links at all"))
      .toDF("doc_id", "text")
    val urls = d.select(col("doc_id"),
        TextOps.extractUrls(col("text")).as("u"))
      .as[(Long, Seq[String])].collect().toMap
    assert(urls(1L) === Seq("https://www.News.Example.com/p/3?ref=1",
      "http://cdn-2.example.org/a.js")) // trailing prose '.' not eaten
    assert(urls(2L) === Seq("https://example.com", "https://sub.example.com/"))
    assert(urls(3L) === Seq.empty)
    val census = TextOps.domainCensus(d).orderBy("domain")
      .as[(String, Long, Long)].collect().toSeq
    assert(census === Seq(("cdn-2.example.org", 1L, 1L),
      ("example.com", 1L, 1L), ("news.example.com", 1L, 1L),
      ("sub.example.com", 1L, 1L)))
  }

  test("annRecall: duplicate result pairs never inflate recall; empty truth is 0") {
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L))
      .toDF("query_id", "neighbor_id")
    // result retrieved 3 of the 4 truth pairs, one of them DUPLICATED,
    // plus a non-truth pair — recall is 3/4 -> 750, not inflated
    val result = Seq((1L, 10L), (1L, 10L), (1L, 11L), (2L, 12L), (2L, 99L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.annRecall(truth, result, "dup", 2).head()
    assert(r.getAs[Long]("n_queries") === 2L)
    assert(r.getAs[Long]("hits") === 3L)
    assert(r.getAs[Long]("recall_x1000") === 750L)
    // duplicate TRUTH pairs fold too
    val dupTruth = truth.union(truth)
    val r2 = Similarity.annRecall(dupTruth, result, "dupT", 2).head()
    assert(r2.getAs[Long]("recall_x1000") === 750L)
    // empty truth: no division-by-zero null — recall reads 0
    val empty = truth.filter(col("query_id") < 0)
    val r3 = Similarity.annRecall(empty, result, "empty", 2).head()
    assert(r3.getAs[Long]("n_queries") === 0L)
    assert(r3.getAs[Long]("recall_x1000") === 0L)
  }

  test("recall-driven IVF maintenance: drifted appends degrade recall, rebuild restores it") {
    // corpus: two tight clusters on axes e0/e1 — nlist=2 learns exactly them
    def axisVec(axis: Int, i: Long): Array[Float] =
      Array.tabulate(16)(d =>
        ((if (d == axis) 1.0 else 0.0) +
          (if (d >= 2) 0.05 * math.sin((i * 31 + d) * 1.7) else 0.0)).toFloat)
    val a = (0L until 20L).map(i => (i, axisVec(0, i))) ++
      (20L until 40L).map(i => (i, axisVec(1, i)))
    val emb = a.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-maint").toString
    Similarity.writeIvfIndex(emb, path, nlist = 2, iters = 2)
    val healthy = Similarity.maintainIvfIndex(spark, path, k = 5, nprobe = 1,
      sampleQueries = 64, minRecallX1000 = 900L, rebuildNlist = 3)
    assert(!healthy._2 && healthy._1 >= 900L,
      s"fresh index must be healthy, recall=${healthy._1}")

    // DRIFT: a new mode halfway between the axes. A tiny parity bias on
    // dims 0/1 decides the stale-centroid assignment (half to each old
    // cell) while mutual similarity is dominated by the dim>=2 jitter
    // (parity-independent) — so a drifted query's true neighbors are
    // split across cells its nprobe=1 probe cannot cover.
    def driftVec(i: Long): Array[Float] = {
      val bias0 = if (i % 2 == 0) 0.02 else 0.0
      val bias1 = if (i % 2 == 1) 0.02 else 0.0
      Array.tabulate(16)(d => (
        (if (d == 0) 0.707 + bias0
         else if (d == 1) 0.707 + bias1
         else 0.05 * math.sin((i * 31 + d) * 1.7))).toFloat)
    }
    val batch = (100L until 120L).map(i => (i, driftVec(i)))
      .toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(batch, path)
    val (degraded, rebuilt) = Similarity.maintainIvfIndex(spark, path,
      k = 5, nprobe = 1, sampleQueries = 64, minRecallX1000 = 900L,
      rebuildNlist = 3, rebuildIters = 2)
    assert(degraded < 900L,
      s"the drifted append should have degraded recall, got $degraded")
    assert(rebuilt, "maintenance must retrain below the threshold")
    // post-rebuild: the drift mode has its own cell(s); recall restored
    val after = Similarity.maintainIvfIndex(spark, path, k = 5, nprobe = 1,
      sampleQueries = 64, minRecallX1000 = 900L, rebuildNlist = 3)
    assert(!after._2 && after._1 >= 900L,
      s"rebuild must restore recall, got ${after._1}")
    // the rebuild obeys the at-rest determinism contract: rebuilding the
    // SAME corpus into a fresh path yields byte-identical centroids
    def digestCentroids(p: String): Seq[Byte] = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      new java.io.File(s"$p/_centroids").listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName.split("-")(1))
        .foreach(f => md.update(java.nio.file.Files.readAllBytes(f.toPath)))
      md.digest().toSeq
    }
    val corpus = spark.read.parquet(s"$path/data").select("vec_id", "embedding")
    val path2 = java.nio.file.Files.createTempDirectory("graft-ivf-maint2").toString
    Similarity.writeIvfIndex(corpus, path2, nlist = 3, iters = 2)
    assert(digestCentroids(path) === digestCentroids(path2),
      "maintenance rebuild lost the byte-identical determinism contract")
    // the in-place rebuild leaves NO stale cells: every vector lives
    // exactly once (dynamic partition overwrite skips cells the retrain
    // no longer produces — they must be deleted, or probes would answer
    // from pre-retrain geometry)
    val stored = spark.read.parquet(s"$path/data")
    assert(stored.count() === 60L, "stale cell dirs duplicated vectors")
    assert(stored.select("vec_id").distinct().count() === 60L)
    // SHRINKING nlist is the worst case: cells 2.. of the old layout are
    // never present in the new assignment's output
    val forced = Similarity.maintainIvfIndex(spark, path, k = 5,
      nprobe = 2, sampleQueries = 64, minRecallX1000 = 1001L, // always rebuild
      rebuildNlist = 2, rebuildIters = 2)
    assert(forced._2, "threshold 1001 must force a rebuild")
    val cellDirs = new java.io.File(s"$path/data").listFiles()
      .filter(_.getName.startsWith("cell_id=")).map(_.getName).toSet
    assert(cellDirs.size <= 2,
      s"shrunk rebuild left stale cell dirs: $cellDirs")
    val after2 = spark.read.parquet(s"$path/data")
    assert(after2.count() === 60L && 
      after2.select("vec_id").distinct().count() === 60L)
  }
}
