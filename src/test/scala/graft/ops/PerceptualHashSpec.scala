package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Perceptual image hashing: kernel exactness, near-dup separation on
  * the fixture corpus, LSH-vs-brute-force recall equality, null
  * behavior for undecodable payloads, and the bucket-cap guard. */
class PerceptualHashSpec extends SparkSuite {

  import spark.implicits._
  import PerceptualHash._

  private def grayOf(id: Long): (Int, Int, Array[Int]) = {
    val (w, h) = FixtureNearDup.dims(id)
    val g = Array.tabulate(w * h)(i =>
      FixtureNearDup.channel(id, i, 0) + FixtureNearDup.channel(id, i, 1) +
        FixtureNearDup.channel(id, i, 2))
    (w, h, g)
  }
  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("phash64: deterministic, 63-bit, decode == formula") {
    val (w, h, g) = grayOf(7L)
    val ph = phash64(w, h, g).get
    assert(ph >= 0L, "63-bit hash is always non-negative")
    assert(phash64(w, h, g).get === ph)
    // PNG decode path reproduces the formula raster exactly (lossless)
    val decoded = decodeGray(FixtureNearDup.png(7L)).get
    assert(decoded._1 === w && decoded._2 === h)
    assert(decoded._3.toSeq === g.toSeq)
    assert(phash64(decoded._1, decoded._2, decoded._3).get === ph)
  }

  test("near-identical images hash close; distinct images far (pHash AND dHash)") {
    // 0 and 31 share group 0 (perturbation phase differs); 0 and 1 are
    // different base images
    val (wa, ha, ga) = grayOf(0L)
    val (wb, hb, gb) = grayOf(31L)
    val (wc, hc, gc) = grayOf(1L)
    assert(ham(phash64(wa, ha, ga).get, phash64(wb, hb, gb).get) <= 8,
      "same-group fixture images must be within the pair radius")
    assert(ham(phash64(wa, ha, ga).get, phash64(wc, hc, gc).get) > 8,
      "different-group fixture images must be far apart")
    assert(ham(dhash64(wa, ha, ga).get, dhash64(wb, hb, gb).get) <= 12)
    assert(dhash64(wa, ha, ga).get >= 0L && dhash64(wc, hc, gc).get >= 0L)
  }

  test("hashes are perturbation-stable: +7 on a sparse pixel set flips few bits") {
    val (w, h, g) = grayOf(3L)
    val perturbed = g.clone()
    var i = 0
    while (i < perturbed.length) {
      if (i % 23 == 0) perturbed(i) = math.min(765, perturbed(i) + 7)
      i += 1
    }
    assert(ham(phash64(w, h, g).get, phash64(w, h, perturbed).get) <= 8)
  }

  test("phashCanonical64 is EXACTLY invariant under every mirror/rotation") {
    for (id <- Seq(3L, 8L, 14L)) {
      val (w, h, g) = grayOf(id)
      val c0 = phashCanonical64(w, h, g).get
      val mirror = Array.tabulate(w * h)(i =>
        g((i / w) * w + (w - 1 - i % w)))
      val vflip = Array.tabulate(w * h)(i =>
        g((h - 1 - i / w) * w + i % w))
      val transpose = Array.tabulate(h * w) { i =>
        val x = i % h; val y = i / h // transposed dims (h, w)
        g(x * w + y)
      }
      assert(phashCanonical64(w, h, mirror).get === c0, s"mirror id=$id")
      assert(phashCanonical64(w, h, vflip).get === c0, s"vflip id=$id")
      assert(phashCanonical64(h, w, transpose).get === c0, s"transpose id=$id")
      // plain pHash is NOT mirror-invariant — the canonical form is
      // genuinely adding power, not restating it
      assert(phash64(w, h, g).get !== phash64(w, h, mirror).get)
    }
    // end-to-end: a mirrored PNG decodes to the identical canonical hash
    val (w, h, g) = grayOf(5L)
    val mirrorPng = Multimodal.ImageIoCodec.encodePng(w, h, (x, y) => {
      val i = y.toLong * w + (w - 1 - x)
      (FixtureNearDup.channel(5L, i, 0) << 16) |
        (FixtureNearDup.channel(5L, i, 1) << 8) | FixtureNearDup.channel(5L, i, 2)
    })
    val hashed = imageHashes(Seq((1L, FixtureNearDup.png(5L)),
      (2L, mirrorPng)).toDF("doc_id", "media"))
      .select("doc_id", "phash_canon").collect().sortBy(_.getLong(0))
    assert(hashed(0).getLong(1) === hashed(1).getLong(1))
    assert(phashCanonical64(w, h, g).get === hashed(0).getLong(1))
  }

  test("undecodable payloads and sub-grid images hash to null") {
    val df = Seq(
      (1L, "not an image".getBytes("UTF-8")),
      (2L, FixtureNearDup.png(2L)),
      (3L, Array.empty[Byte])).toDF("doc_id", "media")
    val rows = imageHashes(df).select("doc_id", "phash", "dhash")
      .collect().sortBy(_.getLong(0))
    assert(rows(0).isNullAt(1) && rows(0).isNullAt(2))
    assert(!rows(1).isNullAt(1) && !rows(1).isNullAt(2))
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
    assert(phash64(7, 20, new Array[Int](140)).isEmpty,
      "below the 8x8 grid floor there is no hash")
  }

  test("phashPairs equals brute force: banded LSH recall is complete at the radius") {
    val docs = (0L until 120L).toDF("doc_id")
    val media = synthesizeNearDupImages(docs)
    val lsh = phashPairs(media, maxHamming = 8, maxBucketSize = 1000000)
      .select("doc_a", "doc_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over the collected hashes (test-only collect)
    val hashes = imageHashes(media).select("doc_id", "phash")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, ha2) <- hashes; (b, hb2) <- hashes
      if a < b && ham(ha2, hb2) <= 8
    } yield (a, b, ham(ha2, hb2))).toSet
    assert(brute.nonEmpty, "fixture must produce near-dup pairs")
    assert(lsh === brute)
    // and the pairs are exactly the intra-group ones on this fixture
    assert(brute.forall { case (a, b, _) => a % 31 == b % 31 })
  }

  test("phashGroups: one component per fixture group, canonical max member") {
    val docs = (0L until 93L).toDF("doc_id") // 3 full rounds of 31 groups
    val groups = phashGroups(synthesizeNearDupImages(docs),
      maxHamming = 8, maxBucketSize = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(groups.length === 31, s"31 fixture groups, got ${groups.length}")
    groups.foreach { case (gid, n, maxM) =>
      assert(n === 3L, s"group $gid should have 3 members, got $n")
      assert(gid < 31L && maxM === gid + 62L,
        s"group id = min member, canonical = max member ($gid, $maxM)")
    }
  }

  test("phashIncremental: batch x corpus only, equal to brute force") {
    val corpus = synthesizeNearDupImages((0L until 93L).toDF("doc_id"))
    val batchIds = (0L until 93L by 10L).map(_ + 1000000L)
    val batch = synthesizeNearDupImages(batchIds.toDF("doc_id"))
    val got = phashIncremental(corpus, batch,
      maxHamming = 8, maxBucketSize = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ch = imageHashes(corpus).select("doc_id", "phash")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val bh = imageHashes(batch).select("doc_id", "phash")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for { (b, hb2) <- bh; (c, hc2) <- ch if ham(hb2, hc2) <= 8 }
      yield (b, c, ham(hb2, hc2))).toSet
    assert(brute.nonEmpty && got === brute)
    // every batch member finds exactly its gid-mates in the corpus
    assert(got.forall { case (b, c, _) => b % 31 == c % 31 })
  }

  test("videoFrameHashes: every MJPEG frame hashes off its real decoded raster") {
    val docs = (0L until 24L).toDF("doc_id")
    val rows = videoFrameHashes(
        Multimodal.synthesizeMjpegs(docs))
      .select("doc_id", "frame_idx", "phash")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // frame counts follow the fixture formula
    val byDoc = rows.groupBy(_._1)
    (0L until 24L).foreach { id =>
      assert(byDoc(id).length === (2 + id % 3).toInt, s"doc $id frame count")
    }
    // replay one frame arithmetically: raster from the flat-block
    // formula, gray = 3 x sample, must hash identically
    val id = 7L
    val w = 8 * (1 + id % 4).toInt; val h = 8 * (1 + id % 3).toInt
    val gray = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val bi = (y / 8) * (w / 8) + (x / 8)
      3 * ((((id % 100003) * 31 + 1 * 11 + bi * 7) % 256).toInt)
    }
    val expected = phash64(w, h, gray).get
    assert(rows.find(r => r._1 == id && r._2 == 1).get._3 === expected)
    // a non-video payload reports a null frame set
    val junk = Seq((1L, "not a video".getBytes("UTF-8")))
      .toDF("doc_id", "media")
    val j = videoFrameHashes(junk).select("frame_idx", "phash").collect()
    assert(j.length === 1 && j(0).isNullAt(0) && j(0).isNullAt(1))
  }

  test("signaturePairs: oversized buckets drop with observability, never explode") {
    // 500 identical signatures: every chunk-pair bucket holds all docs —
    // the cap must suppress the n^2 join body entirely
    val df = (0L until 500L).map(i => (i, 0x0F0F0F0FL)).toDF("doc_id", "sig")
    val pairs = Dedup.signaturePairs(df, maxHamming = 4, maxBucketSize = 100)
    assert(pairs.count() === 0L, "capped buckets contribute no pairs")
    // null signatures are excluded, not joined
    val withNulls = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, java.lang.Long.valueOf(5L)),
        org.apache.spark.sql.Row(2L, null),
        org.apache.spark.sql.Row(3L, java.lang.Long.valueOf(5L)))),
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", org.apache.spark.sql.types.LongType)
        .add("sig", org.apache.spark.sql.types.LongType))
    val p2 = Dedup.signaturePairs(withNulls, maxHamming = 2,
      maxBucketSize = 10).collect()
    assert(p2.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 3L)))
    // NULL ids are excluded too, and no doc pairs with itself: id 1 is
    // duplicated, once with the same signature as its copy and once with
    // a signature 1 bit away
    val idSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("sig", org.apache.spark.sql.types.LongType)
    val dupIds = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(null, java.lang.Long.valueOf(5L)),
        org.apache.spark.sql.Row(1L, java.lang.Long.valueOf(5L)),
        org.apache.spark.sql.Row(1L, java.lang.Long.valueOf(5L)),
        org.apache.spark.sql.Row(1L, java.lang.Long.valueOf(7L)),
        org.apache.spark.sql.Row(3L, java.lang.Long.valueOf(5L)))), idSchema)
    for (cap <- Seq(10, 1000000)) {
      val p3 = Dedup.signaturePairs(dupIds, maxHamming = 2,
        maxBucketSize = cap).collect()
      assert(p3.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
        r.getLong(0) != r.getLong(1)), s"self or NULL pair at cap=$cap")
      assert(p3.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 3L)))
      val inc = Dedup.signaturePairsIncremental(dupIds, dupIds.filter(
        col("doc_id").isNull || col("sig") === 7L), maxHamming = 2,
        maxBucketSize = cap).collect()
      assert(inc.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
      assert(inc.map(r => (r.getLong(0), r.getLong(1))).toSet ===
        Set((1L, 1L), (1L, 3L)))
    }
    // the text route drops NULL ids and NULL texts the same way
    val text = "the same exact boilerplate text repeated here"
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(null, text),
        org.apache.spark.sql.Row(1L, text),
        org.apache.spark.sql.Row(2L, text),
        org.apache.spark.sql.Row(3L, null))),
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", org.apache.spark.sql.types.LongType)
        .add("text", org.apache.spark.sql.types.StringType))
    for (cap <- Seq(10, 1000000))
      assert(Dedup.simhashPairs(docs, 3, maxBucketSize = cap)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet ===
        Set((1L, 2L)), s"simhashPairs cap=$cap")
  }

  /** Twinned corpus: 40 bases, three perturbed copies each (bit flips at
    * deterministic positions) — pairs collide in MANY chunk-pair buckets,
    * so this exercises the multiplicity the first-clean filter must
    * collapse to one emission per pair. */
  private def twinned: Seq[(Long, Long)] = (0 until 40).flatMap { i =>
    val base = 0x9E3779B97F4A7C15L * (i + 1)
    Seq((i * 3L, base),
      (i * 3L + 1, base ^ (1L << (i % 64))),
      (i * 3L + 2, base ^ (1L << ((i * 7 + 3) % 64)) ^ (1L << ((i * 13 + 1) % 64))))
  }

  /** Every pair of `a` x `b` rows within `h` bits, by cross join. */
  private def brute(a: org.apache.spark.sql.DataFrame,
                    b: org.apache.spark.sql.DataFrame, h: Int,
                    selfJoin: Boolean): Set[(Long, Long, Int)] =
    a.as("a").crossJoin(b.as("b"))
      .filter((if (selfJoin) col("a.doc_id") < col("b.doc_id") else lit(true)) &&
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= h)
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("int"))
      .as[(Long, Long, Int)].collect().toSet

  test("batch + incremental Hamming pairs == brute force at cap 1000 and 10^6") {
    val df = twinned.toDF("doc_id", "sig")
    val batch = df.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"),
        col("sig").bitwiseXOR(lit(1L)).as("sig"))
    // h=40 → 42 chunks: chunk indices past 31 pin the LONG bitmask fix
    // (Int shift counts are masked to 5 bits, so Int masks would alias
    // chunk bits and silently emit wrong/duplicate pairs)
    for (h <- Seq(2, 6, 8, 40); cap <- Seq(1000, 1000000)) {
      val got = Dedup.signaturePairs(df, maxHamming = h, maxBucketSize = cap)
        .select("doc_a", "doc_b", "hamming")
        .as[(Long, Long, Int)].collect()
      // exactly one row per pair — the single-emission contract
      assert(got.length === got.map(t => (t._1, t._2)).distinct.length)
      assert(got.toSet === brute(df, df, h, selfJoin = true),
        s"batch maxHamming=$h cap=$cap")
      val inc = Dedup.signaturePairsIncremental(df, batch, maxHamming = h,
        maxBucketSize = cap)
        .select("batch_id", "corpus_id", "hamming")
        .as[(Long, Long, Int)].collect()
      assert(inc.length === inc.map(t => (t._1, t._2)).distinct.length)
      assert(inc.toSet === brute(batch, df, h, selfJoin = false),
        s"incremental maxHamming=$h cap=$cap")
    }
  }

  test("capped buckets: a subset of brute force, counted in member rows") {
    // a 30-member group of one signature beside the twinned corpus: every
    // bucket holding it has 30 member rows (but ONE distinct signature)
    val hotSig = 0x0123456789ABCDEFL
    val df = (twinned ++ (0 until 30).map(i => (5000L + i, hotSig)))
      .toDF("doc_id", "sig")
    val h = 6
    val nKeys = (h + 2) * (h + 1) / 2 // chunk-pair buckets per signature
    val got = Dedup.signaturePairs(df, maxHamming = h, maxBucketSize = 10)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val m = Dedup.capReports.get("signature")
    assert(m.cappedBuckets === nKeys.toLong && m.droppedRows === 30L * nKeys,
      s"the hot group's buckets are capped, counted in member rows: $m")
    val all = brute(df, df, h, selfJoin = true)
    assert(all.count(_._1 >= 5000L) === 30 * 29 / 2)
    assert(got.subsetOf(all))
    assert(!got.exists(_._2 >= 5000L), "a group over the cap yields no pairs")
    assert(got === all.filter(_._2 < 5000L), "uncapped buckets keep every pair")
    // incremental: the same cap on the corpus side
    val batch = Seq((9000L, hotSig), (9001L, twinned.head._2 ^ 1L))
      .toDF("doc_id", "sig")
    val inc = Dedup.signaturePairsIncremental(df, batch, maxHamming = h,
      maxBucketSize = 10)
      .select("batch_id", "corpus_id", "hamming").as[(Long, Long, Int)]
      .collect().toSet
    val mi = Dedup.capReports.get("signature-incremental")
    assert(mi.cappedBuckets === nKeys.toLong && mi.droppedRows === 30L * nKeys)
    val incAll = brute(batch, df, h, selfJoin = false)
    assert(incAll.count(_._2 >= 5000L) === 30)
    assert(inc.subsetOf(incAll))
    assert(!inc.exists(_._2 >= 5000L), "a group over the cap yields no pairs")
    assert(inc === incAll.filter(_._2 < 5000L) && inc.nonEmpty)
  }
}
