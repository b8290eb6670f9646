package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, Similarity}

/** Dev harness for scale-headroom validation: replicate the sf tables ×N
  * (ids shifted so replicas are near-dups of each other, which is the
  * WORST case for pair-generating operators — every original doc gains
  * N−1 exact twins) and time the heavy operators. A healthy operator
  * scales ~linearly in rows here; a quadratic one explodes immediately.
  *
  * Usage: runMain graft.ScaleProbe [xFactor] [sfDir] [densityDocs] [ccEdges] [only]
  * (densityDocs sizes the simhash key-space probe, default 1e6 — round-5
  * headroom runs use 1e7; ccEdges sizes the connected-components
  * convergence probe, default 1e6; `only` is a substring filter on probe
  * names, so one probe can run without the full multi-minute sweep.)
  */
object ScaleProbe {

  private def replicate(df: DataFrame, idCol: String, x: Int): DataFrame = {
    // Step derived from the actual id range: a fixed constant would let
    // replica ids collide with originals at larger SFs and silently merge
    // rows, skewing the probe. max() over an empty frame is null → step 1
    // (the union of empties is empty either way).
    val row = df.agg(max(col(idCol)).cast("long")).head()
    val step = (if (row.isNullAt(0)) 0L else row.getLong(0)) + 1L
    (0 until x).map(i =>
      df.withColumn(idCol, col(idCol) + lit(i * step)))
      .reduce(_.unionByName(_))
  }

  def main(args: Array[String]): Unit = {
    val x = if (args.length > 0) args(0).toInt else 10
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val densityDocs = if (args.length > 2) args(2).toDouble else 1e6
    val ccEdges = if (args.length > 3) args(3).toLong else 1000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = replicate(
      spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", x)
    val emb = replicate(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), "vec_id", x)
    System.err.println(s"[probe] x=$x docs=${docs.count()} emb=${emb.count()}")

    val only = if (args.length > 4) Some(args(4)) else None
    def time(name: String)(body: => Long): Unit = if (only.forall(name.contains)) {
      val t0 = System.nanoTime()
      val n = body
      System.err.println(
        f"[probe] $name%-22s rows=$n%-10d ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    time("dedup_exact")(Dedup.exactGroups(docs).count())
    time("dedup_minhash")(Dedup.minhashPairs(docs, 8, maxBucketSize = 1000).count())
    time("dedup_simhash")(Dedup.simhashPairs(docs, 3, maxBucketSize = 1000).count())
    time("dedup_jaccard_capped")(Dedup.jaccardPairs(docs, 8, maxBlockSize = 1000).count())
    time("dedup_groups") {
      val edges = Dedup.minhashPairs(docs, 8).select("doc_a", "doc_b")
        .unionByName(Dedup.fingerprintEdges(docs))
      Dedup.connectedComponents(edges).groupBy("component").count().count()
    }
    // Replication makes every base chunk appear in ≥x docs, so with
    // maxDocs < x the ENTIRE corpus is boilerplate — the worst case for
    // the hot-set anti-join (nothing is pruned early) and for reassembly
    // (every doc rebuilt to empty). Output must be exactly one row per doc.
    time("boilerplate_removal") {
      val out = Curation.removeBoilerplate(docs, chunkWords = 10,
        maxDocs = math.max(1, x - 1))
      val r = out.agg(count(lit(1)), coalesce(sum(col("n_dropped")), lit(0L))).head()
      System.err.println(s"[probe] boilerplate dropped spans=${r.getLong(1)}")
      r.getLong(0)
    }
    // Packing cumsums are range-partitioned per source — must stay linear
    // in docs even when the corpus is a SINGLE source (the old per-source
    // window would serialize it through one task).
    time("pack_sequences")(Curation.packSequences(docs, 4096).count())
    time("pack_single_source")(
      Curation.packSequences(docs.withColumn("source", lit("one")), 4096).count())
    // Every doc has x−1 exact twins, so EVERY gram is duplicated: the
    // dup-gram set is the whole gram table (nothing prunes) and every doc
    // collapses to one full-length span — worst case for the membership
    // join and the per-doc island windows. Must stay ~linear in docs.
    time("dup_spans")(Curation.duplicateSpans(docs, 8).count())
    // sourceOverlap's pair stage is quadratic in SOURCES (never docs):
    // give each replica family its own source suffix so the key space is
    // (20·x)² source pairs over a FIXED gram vocabulary — the worst case
    // for the gram-digest self-join.
    time("source_overlap") {
      val multi = docs.withColumn("source",
        concat_ws("_", col("source"), (col("doc_id") % x).cast("string")))
      graft.ops.TextOps.sourceOverlap(multi, 4).count()
    }
    // Hot-span SET size at densityDocs docs: a replicated crawl makes EVERY
    // base span hot, so the anti-join's build side reaches its ceiling —
    // O(distinct spans of the base corpus), not O(docs). Reports count +
    // string bytes so the broadcast-vs-shuffle flip threshold is a number
    // (PlanContractsSpec pins that the flip is a plan change, not an error).
    time(f"boilerplate_hotset_${densityDocs}%.0e") {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      val n = math.max(1L, base.count())
      val times = math.max(1L, math.ceil(densityDocs / n).toLong)
      val stepRow = base.agg(max(col("doc_id")).cast("long")).head()
      val step = (if (stepRow.isNullAt(0)) 0L else stepRow.getLong(0)) + 1L
      val corpus = base.crossJoin(spark.range(times).as("rep"))
        .select((col("doc_id") + col("id") * step).as("doc_id"), col("text"))
        // the broadcast cross join leaves ONE output partition (the base
        // parquet is a single scan split) — spread before the CPU-heavy
        // chunk explode or it runs single-threaded
        .repartition(spark.sparkContext.defaultParallelism * 4, col("doc_id"))
      val chunkWords = 10
      val chunks = corpus
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .select(col("doc_id"),
          explode(sequence(lit(0),
            ceil(size(col("tk")).cast("double") / chunkWords).cast("int") - 1)).as("idx"),
          col("tk"))
        .select(col("doc_id"),
          array_join(slice(col("tk"), col("idx") * chunkWords + 1, lit(chunkWords)), " ")
            .as("chunk"))
      val hot = chunks.groupBy("chunk")
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") > times - 1) // replication makes all base spans hot
      val r = hot.agg(count(lit(1)), coalesce(sum(length(col("chunk"))), lit(0L))).head()
      System.err.println(s"[probe] hot-span set at ${n * times} docs: " +
        s"${r.getLong(0)} spans, ~${r.getLong(1) / 1024} KiB of span text")
      r.getLong(0)
    }
    // Chunk-pair LSH density at 10⁶ docs, single language (the worst case
    // for a blocking key). The sf documents are template-generated and
    // near-dup-DENSE (an LSH bucket holding a true dup cluster is load, not
    // key-space exhaustion), so replicas get ~80 unique tokens mixed in to
    // emulate the spread signatures of a real web corpus; the probe then
    // contrasts the key-mass the old 4×16-bit single-chunk scheme would
    // drop at bucket-cap 1000 with what the 2^26 pair-key scheme drops
    // (must be 0).
    time(f"simhash_density_${densityDocs}%.0e") {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      val n = math.max(1L, base.count())
      val times = math.max(1L, math.ceil(densityDocs / n).toLong)
      // crossJoin-with-range replication (an N-way union plan would have
      // `times` scan branches)
      val stepRow = base.agg(max(col("doc_id")).cast("long")).head()
      val step = (if (stepRow.isNullAt(0)) 0L else stepRow.getLong(0)) + 1L
      val corpus = base.crossJoin(spark.range(times).as("rep"))
        .select((col("doc_id") + col("id") * step).as("doc_id"), col("text"))
        // spread the single broadcast-cross-join partition BEFORE the
        // per-doc simhash kernels (same flaw as the hotset probe: without
        // this the 10⁷ signatures compute in one task)
        .repartition(spark.sparkContext.defaultParallelism * 4, col("doc_id"))
        .select(col("doc_id"), concat_ws(" ", col("text"),
          array_join(transform(sequence(lit(0L), lit(79L)),
            x => concat(lit("rt"), col("doc_id") * 100 + x)), " ")).as("text"))
      val newDropped = Dedup.simhashBucketStats(corpus, 3, maxBucketSize = 1000)
        .filter(col("oversized"))
        .agg(coalesce(sum(col("bsz")), lit(0L))).head().getLong(0)
      graft.functions.TextFunctions.ensureRegistered(spark)
      val oldDropped = corpus
        .select(graft.functions.TextFunctions.simhash64(col("text")).as("sig"))
        .select(posexplode(array((0 until 4).map(c =>
          shiftright(col("sig"), c * 16).bitwiseAND(0xFFFFL)): _*)).as(Seq("chunk", "ckey")))
        .groupBy("chunk", "ckey").agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > 1000)
        .agg(coalesce(sum(col("bsz")), lit(0L))).head().getLong(0)
      System.err.println(s"[probe] simhash dropped key-mass at ${n * times} docs: " +
        s"old 4x16-bit scheme=$oldDropped, pair-key scheme=$newDropped")
      newDropped
    }
    // connectedComponents convergence at ccEdges synthetic edges: a mix of
    // long chains (round-count stress: alternating-star needs ~log² depth),
    // one giant star (degree stress: its center's neighbors stream through
    // one sorted task, never held as a list) and random 100-node clusters
    // (the common case).
    // Reports rounds, per-round surviving edges and total shuffle bytes.
    time(s"cc_${ccEdges}_edges") {
      import spark.implicits._
      val sc = spark.sparkContext
      val chainLen = 10000L
      val nChain = ccEdges / 4 / chainLen // edges in chains: ccEdges/4
      val chain = spark.range(nChain * chainLen)
        .filter(($"id" % chainLen) =!= (chainLen - 1))
        .select($"id".as("doc_a"), ($"id" + 1).as("doc_b"))
      val starBase = nChain * chainLen
      val starN = ccEdges / 4 // edges in the star
      val star = spark.range(starN)
        .select(lit(starBase).as("doc_a"), (lit(starBase) + $"id" + 1).as("doc_b"))
      val clustBase = starBase + starN + 1
      val clust = spark.range(ccEdges / 2) // random edges inside 100-id clusters
        .select(
          (lit(clustBase) + ($"id" % 100000L) * 100 + pmod(hash($"id"), lit(100))).as("doc_a"),
          (lit(clustBase) + ($"id" % 100000L) * 100 + pmod(hash($"id" * 31 + 7), lit(100))).as("doc_b"))
      // materialize: Catalyst's union constraint-rewrite chokes on the
      // constant-column star branch (key-not-found on the CC self-union),
      // and a real CC input arrives materialized anyway
      val edges = chain.unionByName(star).unionByName(clust).localCheckpoint(false)
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shuffleBytes.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      sc.addSparkListener(listener)
      try {
        var rounds = 0
        val cc = Dedup.connectedComponents(edges, maxIter = 40, onRound = (r, e) => {
          rounds = r
          System.err.println(s"[probe] cc round $r: $e edges survive")
        })
        val n = cc.count()
        Thread.sleep(500) // let the listener bus drain (dev probe precision)
        System.err.println(s"[probe] cc converged in $rounds rounds, " +
          s"total shuffle write ${shuffleBytes.get() / 1000000} MB")
        n
      } finally sc.removeSparkListener(listener)
    }
    time("srp_neardup")(Similarity.srpNearDupPairs(emb, 0.5).count())
    time("ann_ivf")(Similarity.ivfTopK(emb, 5, 16, 4, col("vec_id") % 20 === 0).count())
    time("repetition")(Curation.repetitionProfile(docs).count())
    time("group_percentiles")(graft.ops.Ranking.groupPercentiles(
      docs.select(col("lang"), col("n_chars"), col("doc_id")),
      Seq("lang"), col("n_chars"), Seq(col("doc_id")),
      Seq("p50" -> 0.5, "p99" -> 0.99)).count())
    // SemDeDup with replicated-twin embeddings is the WORST case for the
    // within-cluster pair stage: every cluster's population multiplies by
    // x and every twin pair crosses the threshold. nlist scales ~sqrt(n)
    // (the SemDeDup sizing rule) — the probe pins that per-cluster
    // quadratic cost stays bounded when clustering does its job.
    time("semdedup") {
      val n = emb.count()
      val nlist = math.max(16, math.sqrt(n.toDouble).toInt)
      Similarity.semDedup(emb, 0.4, nlist = nlist, iters = 2,
        maxClusterSize = 10000).filter(col("is_dup")).count()
    }
    time("tfidf_topk")(graft.ops.TextOps.tfidfTopK(docs, 3).count())
    time("bigram_lm")(graft.ops.TextOps.bigramLm(docs).count())
    // single-stratum worst case: the rank must spread over every task
    // (range-partitioned groupRunningSum), not serialize per stratum
    time("sample_single_stratum")(Curation.sampleStratified(
      docs.withColumn("lang", lit("en")), 1000).count())
    // epoch shuffle is ONE global permutation — the range-partitioned rank
    // must spread it over every task (a naive global window = one task for
    // the whole corpus). Output cardinality == input; linear or bust.
    time("epoch_shuffle")(Curation.epochShuffle(docs, seed = 1L, nShards = 1024).count())
    // replication worst case for keep-first paragraph dedup: every chunk
    // has x copies, so the election aggregate sees max key multiplicity
    // and the keep join drops (x-1)/x of all chunk mass. Linear in chunks.
    time("paragraph_dedup") {
      val out = Curation.dedupParagraphs(docs, chunkWords = 10)
      val r = out.agg(count(lit(1)), coalesce(sum(col("n_dropped")), lit(0L))).head()
      System.err.println(s"[probe] paragraph-dedup dropped chunks=${r.getLong(1)}")
      r.getLong(0)
    }
    // hot-fingerprint worst case: the ENTIRE corpus is one viral duplicate
    // (a single fingerprint at maximal multiplicity) — the shape that
    // serialized through one window-sort task before the round-8 election
    // rewrite. The map-side min election must stay linear and spread; the
    // join back on the hot key is AQE-skew-splittable.
    time("hot_fp_edges") {
      val hot = docs.withColumn("text", lit("the same viral page text"))
      Dedup.fingerprintEdges(hot).count()
    }
    time("hot_fp_incremental") {
      val hot = docs.withColumn("text", lit("the same viral page text"))
      Curation.incrementalDedup(hot,
        docs.limit(1000)).groupBy("verdict").count().count()
    }
    time("hot_fp_keepfirst") {
      // keep-first semi-join keys on (fp, id) — unique even when every fp
      // collides — so this must behave like a plain aggregate + join
      val hot = docs.withColumn("dg", md5(lit("the same viral page text")))
        .select(col("doc_id"), col("dg"))
      val firsts = hot.groupBy(col("dg")).agg(min(col("doc_id")).as("__keep"))
        .select(col("dg").as("__dg"), col("__keep"))
      hot.join(firsts, col("dg") === col("__dg") &&
        col("doc_id") === col("__keep"), "left_semi").count()
    }
    // winnowing sketch at corpus scale: per-DOC rows-frame windows only
    // (the gram explode dominates); worst case is uniform long docs
    time("winnow_sketch") {
      val out = Dedup.winnowSketch(docs, n = 4, window = 4)
      val r = out.agg(count(lit(1)), coalesce(sum(col("n_fp")), lit(0L))).head()
      System.err.println(s"[probe] winnow fingerprints total=${r.getLong(1)}")
      r.getLong(0)
    }
    // fixed-point PageRank over a skewed synthetic link graph: a chain
    // (every doc → next) plus 997 hot sink nodes absorbing ~150 in-edges
    // each — per-iteration cost must stay two shuffles, plans
    // iteration-deep (persist per round), no driver materialization
    time("pagerank") {
      val edges = docs.select(col("doc_id").as("src"),
          (col("doc_id") % 997).as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          (col("doc_id") + 1).as("dst")))
      graft.ops.GraphOps.pageRank(edges, iters = 3).count()
    }
    // sliding chunking is shuffle-free scan→generate — the probe pins the
    // constant-factor cost of the 64/48 window explode at corpus scale
    time("sliding_chunks")(graft.ops.TextOps.slidingChunks(docs, 64, 48).count())
    // snapshot diff of the corpus against a mutated copy of itself —
    // fingerprint-only shuffle; wall-clock must track the doc count, not
    // the text volume
    time("corpus_diff") {
      val v2 = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Curation.corpusDiff(docs, v2).groupBy("verdict").count().count()
    }
    // Lakehouse listing at production file counts: 2000 partition dirs ×
    // 50 base files = 100k files. Wall-time must be bounded by
    // partitions/parallelism (executor-parallel listing), not a serial
    // driver walk over every file.
    if (only.forall("hudi_listing".contains)) {
      val root = java.nio.file.Files.createTempDirectory("probe-hudi-listing")
      java.nio.file.Files.createDirectories(root.resolve(".hoodie"))
      (0 until 2000).foreach { p =>
        val dir = root.resolve(f"dt=p$p%04d")
        java.nio.file.Files.createDirectory(dir)
        (0 until 50).foreach { f =>
          java.nio.file.Files.createFile(
            dir.resolve(f"fg$f%02d_0-1-2_20240101090000000.parquet"))
        }
      }
      time("hudi_listing") {
        graft.sources.HudiRead
          .listAllFiles(spark, root.toString, maxFiles = 200000).size.toLong
      }
    }
    // Iceberg snapshot planning at production manifest counts: 64
    // manifests × 2000 entries = 128k files. Manifest parsing is
    // EXECUTOR-PARALLEL (one task per manifest) — wall-time must be
    // bounded by manifests/parallelism, not a serial driver loop.
    if (only.forall("iceberg_manifests_plan".contains)) {
      val root = java.nio.file.Files
        .createTempDirectory("probe-ice-manifests").toString
      (1 to 64).foreach { s =>
        graft.sink.IcebergWrite.commitEntries(spark, root,
          (0 until 2000).map(f => graft.sink.IcebergWrite.FileEntry(
            s"$root/data/s$s-f$f.parquet", 0, s.toLong)),
          schemaFields = Seq((1, "id", "long")), snapshotId = s.toLong)
      }
      time("iceberg_manifests_plan") {
        val list = graft.sources.IcebergRead
          .snapshotManifests(spark, root).last.manifestList
        val (data, _, _) = graft.sources.IcebergRead
          .snapshotFiles(spark, list, maxFiles = 200000)
        data.size.toLong
      }
    }
    // Lake-tail ADMISSION at backlog scale: a 500-version Delta log (two
    // adds per commit) drained through latestOffset with a 100-file
    // budget. The walk must read only each batch's ADMITTED commit JSONs
    // (metadata-only, no replay, no data I/O) — wall-time tracks the
    // backlog's commit count, and the drain lands exactly
    // ceil(1000/100) = 10 batches.
    if (only.forall("delta_tail_admission".contains)) {
      val root = java.nio.file.Files
        .createTempDirectory("probe-delta-admission").toString
      val meta =
        """{"metaData":{"id":"probe","format":{"provider":"parquet","options":{}},""" +
          """"schemaString":"{\"type\":\"struct\",\"fields\":[]}",""" +
          """"partitionColumns":[],"configuration":{}}}"""
      (0 until 500).foreach { v =>
        val adds = (0 until 2).map(f => graft.sink.DeltaWrite.addAction(
          s"part-$v-$f.parquet", Map.empty, 1L, 1L))
        graft.sink.DeltaWrite.writeVersion(spark, root, v.toLong,
          if (v == 0)
            Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
              meta) ++ adds
          else adds)
      }
      time("delta_tail_admission") {
        import org.apache.spark.sql.connector.read.streaming.ReadLimit
        val stream = new graft.streaming.DeltaMicroBatchStream(
          graft.streaming.DeltaStreamOptions(Map("path" -> root)))
        var cursor: org.apache.spark.sql.connector.read.streaming.Offset =
          graft.streaming.DeltaStreamOffset(-1L)
        var batches = 0L
        var done = false
        while (!done) {
          val next = stream.latestOffset(cursor, ReadLimit.maxFiles(100))
          if (next.asInstanceOf[graft.streaming.DeltaStreamOffset].version ==
              cursor.asInstanceOf[graft.streaming.DeltaStreamOffset].version)
            done = true
          else { batches += 1; cursor = next }
        }
        require(batches == 10, s"expected 10 capped batches, got $batches")
        batches
      }
    }
    // Iceberg CDC-target endurance: a 50-batch upsert chain (each batch
    // rewrites half its keys) leaves 50 data + 50 equality-delete files.
    // The read must stay ONE data scan + ONE eq-delete anti join
    // (delete files union into a single group scan, never a per-file
    // join) and resolve latest-per-key across the whole chain.
    if (only.forall("iceberg_upsert_chain".contains)) {
      val root = java.nio.file.Files
        .createTempDirectory("probe-ice-upsert").toString
      val fields = Seq((1, "id", "long"), (2, "v", "long"))
      (1 to 50).foreach { i =>
        // keys overlap the previous batch by half: constant churn
        val batch = spark.range(i * 100L, i * 100L + 200L)
          .selectExpr("id", s"id * $i AS v")
        graft.sink.IcebergWrite.upsert(batch, root, Seq("id"), fields,
          snapshotId = i.toLong, sequenceNumber = i.toLong)
      }
      time("iceberg_upsert_chain") {
        val snap = graft.sources.IcebergRead.snapshot(spark, root)
        val joins = snap.queryExecution.executedPlan.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }
        require(joins.size <= 2,
          s"eq-delete merge must stay a bounded join count, got ${joins.size}")
        snap.count()
      }
    }
    // Delta deletion vectors at row scale: DV-delete a third of a 5M-row
    // table, then read the snapshot. The read-side shape under test is
    // executor-parallel bitmap expansion + ONE anti join against the
    // single-scan relation — wall-time should track deleted-row count
    // linearly (bitmaps are tiny; the join is the cost).
    if (only.forall("delta_dv".contains)) {
      val root = java.nio.file.Files.createTempDirectory("probe-delta-dv")
        .resolve("t").toString
      graft.sink.DeltaWrite.create(
        spark.range(5000000L).selectExpr("id", "id % 97 AS bucket"), root, Nil)
      graft.sink.DeltaWrite.deleteWhere(spark, root, "id % 3 = 1")
      time("delta_dv_read") {
        graft.sources.DeltaRead.snapshot(spark, root).count()
      }
    }
    // Sampled BPE vocabulary learning at a production-shaped k: 64
    // sequential greedy rounds over a 10% sample. The per-rank seconds
    // printed here are the planning number for real vocabs (k=32,000
    // extrapolates linearly in k — sequential by nature of exact greedy
    // BPE; the sample bounds the per-round scan).
    time("bpe_learn64_sampled") {
      val t0 = System.nanoTime()
      val merges = graft.ops.TextOps.bpeLearnMerges(docs, 64,
        sampleFraction = Some(0.1)).count()
      System.err.println(f"[probe] bpe_learn64 s/rank=${
        (System.nanoTime() - t0) / 1e9 / math.max(1L, merges)}%.2f")
      merges
    }
    // Sampled BPE at a production-shaped k: 512 sequential greedy rounds
    // on a 10% sample. s/rank is the planning number for real vocabs —
    // exact greedy BPE is sequential in k, so k=32,000 extrapolates
    // linearly from this (learn sampled, encode full).
    time("bpe_learn512_sampled") {
      val t0 = System.nanoTime()
      val merges = graft.ops.TextOps.bpeLearnMerges(docs, 512,
        sampleFraction = Some(0.1)).count()
      System.err.println(f"[probe] bpe_learn512 s/rank=${
        (System.nanoTime() - t0) / 1e9 / math.max(1L, merges)}%.2f")
      merges
    }
    // Sample-vs-full merge AGREEMENT: how faithful is 10%-sampled
    // learning to the full-corpus vocabulary? Reported as exact
    // same-rank prefix matches and as merged-token set overlap — the
    // fidelity number behind the "learn sampled" guidance.
    time("bpe_sample_agreement") {
      val k = 128
      def merges(sample: Option[Double]) =
        graft.ops.TextOps.bpeLearnMerges(docs, k, sampleFraction = sample)
          .orderBy("merge_rank").select("merged").as[String](
            org.apache.spark.sql.Encoders.STRING).collect().toSeq
      val full = merges(None)
      val sampled = merges(Some(0.1))
      val sameRank = full.zip(sampled).count { case (a, b) => a == b }
      val overlap = (full.toSet & sampled.toSet).size
      System.err.println(
        s"[probe] bpe k=$k sample-vs-full: same-rank $sameRank/${full.size}, " +
          s"set overlap $overlap/${full.size}")
      overlap.toLong
    }
    // Cluster-balanced sampling at a production perCluster: the per-cell
    // top-k election is ONE bounded aggregate + a broadcast join-back —
    // wall-time must stay ~flat in k (the old shape ran k sequential
    // min_by rounds, each a full corpus scan).
    time("cluster_sample_topk") {
      var last = 0L
      Seq(4, 256).foreach { k =>
        val t0 = System.nanoTime()
        last = Similarity.clusterBalancedSample(emb, k, nlist = 16).count()
        System.err.println(f"[probe] cluster_sample k=$k%-4d rows=$last ${
          (System.nanoTime() - t0) / 1e9}%.1fs")
      }
      last
    }
    // MOR log-append mirror leg at many partitions: one deltacommit
    // whose Avro blocks write EXECUTOR-SIDE, one task per partition —
    // wall-time should track partitions/parallelism (a driver-side
    // writer would serialize all P blocks through one thread).
    time("hudi_mor_append") {
      import org.apache.spark.sql.functions.{concat, lit => L}
      var last = 0L
      Seq(16, 128).foreach { p =>
        val root = java.nio.file.Files
          .createTempDirectory(s"probe-mor-$p").toString
        val rows = spark.range(p * 200L)
          .select(col("id").cast("string").as("_hoodie_record_key"),
            L("20240101000000000").as("_hoodie_commit_time"),
            L(false).as("_hoodie_is_deleted"),
            col("id"),
            concat(L("part="), (col("id") % p).cast("string")).as("__part"))
        val t0 = System.nanoTime()
        graft.sink.HudiMorWrite.appendLogDistributed(rows, root, "__part",
          "20240101000000000"): Unit
        System.err.println(f"[probe] hudi_mor_append P=$p%-4d ${
          (System.nanoTime() - t0) / 1e9}%.1fs")
        last = graft.sources.HudiRead.snapshot(spark, root).count()
        org.apache.hadoop.fs.FileUtil
          .fullyDelete(new java.io.File(root)): Unit
      }
      last
    }
    // HudiCowWrite at many file groups: seed G groups, upsert one key in
    // EVERY group in one batch — the committer's contract is ONE shuffled
    // write job with O(G) driver renames, so wall-time must stay ~flat in
    // G (the old per-group loop was 2 Spark jobs × G). Reported per G.
    time("hudi_cow_groups") {
      import org.apache.spark.sql.functions.{concat_ws, lit => L}
      var last = 0L
      Seq(32, 128).foreach { g =>
        val root = java.nio.file.Files
          .createTempDirectory(s"probe-hudi-cow-$g").toString
        val t1 = "20240101000000000"
        (0 until g).foreach { i =>
          val rows = spark.range(i * 1000L, i * 1000L + 50L)
            .select(col("id"), concat_ws("-", L("v"), col("id")).as("item"))
            .withColumn("_hoodie_record_key", col("id").cast("string"))
            .withColumn("_hoodie_commit_time", L(t1))
          graft.sink.HudiMorWrite.writeBase(rows, root, "part=0", s"fg$i", t1)
        }
        val batch = spark.range(0, g.toLong)
          .select((col("id") * 1000L).as("id"),
            concat_ws("-", L("u"), col("id")).as("item"))
        val t0 = System.nanoTime()
        graft.sink.HudiCowWrite.upsert(batch, root, "id",
          "20240102000000000"): Unit
        System.err.println(f"[probe] hudi_cow_groups G=$g%-4d ${
          (System.nanoTime() - t0) / 1e9}%.1fs")
        last = graft.sources.HudiRead.snapshot(spark, root).count()
        org.apache.hadoop.fs.FileUtil
          .fullyDelete(new java.io.File(root)): Unit
      }
      last
    }
    // Distributed DV delete at many affected files: positions stay on
    // executors and each file's merged bitmap writes from the task
    // holding it, so wall-time must stay ~flat in affected-file count
    // (the old shape collected every (file, pos) pair and serialized all
    // vectors on the driver).
    time("delta_dv_delete_files") {
      var last = 0L
      Seq(64, 256).foreach { f =>
        val root = java.nio.file.Files
          .createTempDirectory(s"probe-dv-$f").resolve("t").toString
        val df = spark.range(0, f * 1000L)
          .select(col("id"), (col("id") % 97).as("v")).repartition(f)
        graft.sink.DeltaWrite.create(df, root, Nil)
        val t0 = System.nanoTime()
        graft.sink.DeltaWrite.deleteWhere(spark, root, "id % 10 = 3")
        System.err.println(f"[probe] delta_dv_delete F=$f%-4d ${
          (System.nanoTime() - t0) / 1e9}%.1fs")
        last = graft.sources.DeltaRead.snapshot(spark, root).count()
        org.apache.hadoop.fs.FileUtil
          .fullyDelete(new java.io.File(root)): Unit
      }
      last
    }
    // Hidden-partition pruning at many tuples: 128 days × 2 buckets =
    // 256 files; a plain ts-range predicate over the LAST eighth of the
    // days must open ≤ a quarter of the files at PLAN time (the prune
    // is driver metadata work over tuple count, no file opened).
    time("iceberg_hidden_prune") {
      val root = java.nio.file.Files
        .createTempDirectory("probe-hidden").toString
      val days = 128
      val rows = spark.range(0, days * 64L).select(col("id"),
        timestamp_millis(col("id") % days * 86400000L).as("ts"))
      graft.sink.IcebergWrite.writeHiddenPartitioned(rows, root,
        Seq(("ts_day", "day", "ts"), ("id_bucket", "bucket[2]", "id")),
        Seq((1, "id", "long"), (2, "ts", "timestamptz")), snapshotId = 1L)
      val snap = graft.sources.IcebergRead.snapshot(spark, root)
      val cutoff = new java.sql.Timestamp((days - days / 8).toLong * 86400000L)
      val recent = snap.where(col("ts") >= lit(cutoff))
      val scan = recent.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      val read = scan.selectedPartitions.totalNumberOfFiles
      System.err.println(s"[probe] hidden prune read=$read of ~${days * 2}")
      require(read * 4 <= days * 2,
        s"day-range predicate read $read of ${days * 2} files — prune lost")
      recent.count()
    }
    // Bucketed COUNT(*) at production file counts: the same table at
    // 256 and 10,496 files. The pushed count reads ONE manifest, so
    // wall-time must stay ~flat in file count (the round-11 shape
    // opened every footer serially on the driver — minutes at 10⁶
    // files); the legacy no-manifest fallback is an executor-parallel
    // sweep, timed alongside for contrast.
    if (only.forall("bucketed_count_files".contains)) {
      spark.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      val root = java.nio.file.Files
        .createTempDirectory("probe-bk-count").toString + "/t"
      graft.sources.BucketedLake.write(
        spark.range(0, 256L * 100L).select(col("id").as("k"), col("id").as("v")),
        root, "k", 256)
      def timeCount(label: String): Long = {
        val t0 = System.nanoTime()
        val n = spark.sql(s"SELECT count(*) AS n FROM graft_bk.`$root`")
          .head().getLong(0)
        System.err.println(
          f"[probe] bucketed_count $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
        n
      }
      time("bucketed_count_files") {
        timeCount("256 files (manifest)")
        // fan each bucket's file out 40x: 10,496 files, same layout
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        (0 until 256).foreach { b =>
          val dir = new org.apache.hadoop.fs.Path(s"$root/data/__bucket=$b")
          val src = fs.listStatus(dir).map(_.getPath)
            .find(_.getName.endsWith(".parquet")).get
          (0 until 40).foreach { i =>
            org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
              new org.apache.hadoop.fs.Path(dir, s"copy-$i-${src.getName}"),
              false, spark.sparkContext.hadoopConfiguration)
          }
        }
        // legacy path first (no manifest): executor-parallel sweep
        fs.listStatus(new org.apache.hadoop.fs.Path(root))
          .map(_.getPath).filter(_.getName.startsWith("_bucket_manifest"))
          .foreach(p => fs.delete(p, false))
        val t0 = System.nanoTime()
        val swept = graft.sources.BucketedLake.footerSweep(spark, root)
        System.err.println(f"[probe] bucketed_count legacy sweep 10496 files " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs")
        graft.sources.BucketedLake.writeManifest(spark, root, swept): Unit
        timeCount("10496 files (manifest)")
      }
    }
    // Metadata aggregates at production file counts: MIN/MAX/COUNT fold
    // the manifest's per-file stats on the driver (one read + one JSON
    // decode per entry) — wall-time must grow only with ENTRY COUNT,
    // never with data bytes, and stay interactive at 10k files.
    if (only.forall("metadata_agg_files".contains)) {
      spark.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      val root = java.nio.file.Files
        .createTempDirectory("probe-bk-agg").toString + "/t"
      graft.sources.BucketedLake.write(
        spark.range(0, 256L * 100L).select(col("id").as("k"), col("id").as("v")),
        root, "k", 256)
      def timeAgg(label: String): Long = {
        val t0 = System.nanoTime()
        val r = spark.sql(
          s"SELECT min(v) AS lo, max(v) AS hi, count(v) AS n " +
            s"FROM graft_bk.`$root`").head()
        System.err.println(
          f"[probe] metadata_agg $label%-24s ${(System.nanoTime() - t0) / 1e9}%.2fs " +
            s"lo=${r.getLong(0)} hi=${r.getLong(1)} n=${r.getLong(2)}")
        r.getLong(2)
      }
      time("metadata_agg_files") {
        timeAgg("256 files")
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        (0 until 256).foreach { b =>
          val dir = new org.apache.hadoop.fs.Path(s"$root/data/__bucket=$b")
          val src = fs.listStatus(dir).map(_.getPath)
            .find(_.getName.endsWith(".parquet")).get
          (0 until 40).foreach { i =>
            org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
              new org.apache.hadoop.fs.Path(dir, s"copy-$i-${src.getName}"),
              false, spark.sparkContext.hadoopConfiguration)
          }
        }
        fs.listStatus(new org.apache.hadoop.fs.Path(root))
          .map(_.getPath).filter(_.getName.startsWith("_bucket_manifest"))
          .foreach(p => fs.delete(p, false))
        graft.sources.BucketedLake.writeManifest(spark, root,
          graft.sources.BucketedLake.footerSweep(spark, root)): Unit
        // 41x the rows too (copies hold real data), so the verdicts
        // change — the timing, not the values, is the contract here
        timeAgg("10496 files")
      }
    }
    // Manifest DELTA commits at production entry counts: a 100k-entry
    // table's APPEND must write O(changed) manifest bytes (a delta
    // fragment, not a multi-MB full rewrite) and the read-side chain
    // resolution must stay ~flat across a full checkpoint interval of
    // delta commits. Entries are synthesized (manifest-layer probe —
    // no data files needed for the commit/resolve paths under test).
    if (only.forall("manifest_delta_scale".contains)) {
      import graft.sources.BucketedLake
      val root = java.nio.file.Files
        .createTempDirectory("probe-bk-delta").toString + "/t"
      val n0 = 100000
      val entries0 = (0 until n0).map(i => BucketedLake.ManifestEntry(
        i % 256, 100L, 1000L, f"data/__bucket=${i % 256}/f-$i%06d.parquet",
        None))
      // pin the TEXT checkpoint path: this probe contrasts delta bytes
      // against a text full rewrite; the parquet-body story has its own
      // probe (manifest_ckpt_scale) at 10x the entries
      spark.conf.set("spark.graft.bucketed.manifestParquetMinEntries",
        Int.MaxValue.toString)
      try time("manifest_delta_scale") {
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def fragBytes(v: Long) = fs.getFileStatus(
          new org.apache.hadoop.fs.Path(root,
            BucketedLake.versionedManifest(v))).getLen
        def resolveSec(v: Long): Double = {
          val t0 = System.nanoTime()
          val m = BucketedLake.readManifestFull(spark, root, Some(v)).get
          require(m.entries.size == n0 + (v - 1L) * 10,
            s"v$v resolved ${m.entries.size} entries")
          (System.nanoTime() - t0) / 1e9
        }
        BucketedLake.writeManifest(spark, root, entries0): Unit // v1 full
        val fullBytes = fragBytes(1L)
        val baseResolve = resolveSec(1L)
        var prior = BucketedLake.readManifestFull(spark, root, Some(1L)).get
        var maxDelta = 0L
        var maxResolve = baseResolve
        (1 to 16).foreach { i =>
          val adds = (0 until 10).map(j => BucketedLake.ManifestEntry(
            j, 100L, 1000L, f"data/__bucket=$j/g-$i%03d-$j%02d.parquet",
            None))
          BucketedLake.writeManifest(spark, root, prior.entries ++ adds,
            base = Some(i.toLong), op = "append", prior = Some(prior)): Unit
          maxDelta = math.max(maxDelta, fragBytes(i + 1L))
          val r = resolveSec(i + 1L)
          maxResolve = math.max(maxResolve, r)
          prior = BucketedLake.readManifestFull(spark, root,
            Some(i + 1L)).get
        }
        System.err.println(
          f"[probe] manifest_delta full=${fullBytes}B maxDelta=${maxDelta}B " +
            f"baseResolve=$baseResolve%.2fs maxChainResolve=$maxResolve%.2fs")
        require(maxDelta * 100 < fullBytes,
          s"append fragment ($maxDelta B) must be O(changed), " +
            s"not O(table) ($fullBytes B)")
        require(maxResolve < baseResolve * 3 + 0.5,
          f"chain resolution must stay ~flat: checkpoint $baseResolve%.2fs " +
            f"vs deepest chain $maxResolve%.2fs")
        n0.toLong + 160L
      } finally spark.conf.unset(
        "spark.graft.bucketed.manifestParquetMinEntries")
    }
    // Parquet CHECKPOINT bodies at the 10^6-file end state: the SAME
    // million-entry checkpoint written as text vs as a #pq parquet body
    // — bytes must shrink ~10x (columnar + dictionary + snappy) and
    // driver-side resolution must stay in the same band, or the format
    // buys nothing. Framing loudness is pinned by ParquetCheckpointSpec.
    if (only.forall("manifest_ckpt_scale".contains)) {
      import graft.sources.BucketedLake
      val n0 = 1000000
      val statsJson = """{"k":{"min":1,"max":999,"nulls":0}}"""
      val entries0 = (0 until n0).map(i => BucketedLake.ManifestEntry(
        i % 256, 100L, 1000L, f"data/__bucket=${i % 256}/f-$i%07d.parquet",
        Some(statsJson)))
      time("manifest_ckpt_scale") {
        def write(asParquet: Boolean): (String, Long, Double) = {
          val root = java.nio.file.Files
            .createTempDirectory("probe-bk-ckpt").toString + "/t"
          spark.conf.set("spark.graft.bucketed.manifestParquetMinEntries",
            if (asParquet) "65536" else Int.MaxValue.toString)
          try {
            BucketedLake.writeManifest(spark, root, entries0): Unit
            val fs = new org.apache.hadoop.fs.Path(root)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            def len(p: String) = fs.getFileStatus(
              new org.apache.hadoop.fs.Path(root, p)).getLen
            var bytes = len(BucketedLake.versionedManifest(1L))
            val ckptDir = new org.apache.hadoop.fs.Path(root, "_manifest")
            if (fs.exists(ckptDir))
              bytes += fs.listStatus(ckptDir).map(_.getLen).sum
            val t0 = System.nanoTime()
            val m = BucketedLake.readManifestFull(spark, root, Some(1L)).get
            val sec = (System.nanoTime() - t0) / 1e9
            require(m.entries.size == n0 &&
              m.entries.head.stats.contains(statsJson),
              s"resolution drift: ${m.entries.size} entries")
            (root, bytes, sec)
          } finally spark.conf.unset(
            "spark.graft.bucketed.manifestParquetMinEntries")
        }
        val (_, textBytes, textSec) = write(asParquet = false)
        val (_, pqBytes, pqSec) = write(asParquet = true)
        System.err.println(
          f"[probe] manifest_ckpt 10^6 entries: text=${textBytes}B " +
            f"resolve $textSec%.2fs | parquet=${pqBytes}B resolve $pqSec%.2fs " +
            f"(${textBytes.toDouble / pqBytes}%.1fx smaller)")
        require(pqBytes * 5 < textBytes,
          s"parquet checkpoint ($pqBytes B) must be far smaller than " +
            s"text ($textBytes B)")
        require(pqSec < textSec * 3 + 2.0,
          f"parquet resolution must stay in the text band: $pqSec%.2fs " +
            f"vs $textSec%.2fs")
        n0.toLong * 2
      }
    }
    // Vacuum at production doomed-file counts: the retention checks and
    // deletes fan out to executors, so wall-time must stay ~flat from
    // 256 to 10,240 doomed files — the driver-loop shape would
    // serialize ~10k remote getFileStatus+delete calls. The dry-run
    // report must agree exactly with the real pass.
    // Banded Hamming LSH at corpus scale: 10^6 64-bit signatures with
    // PLANTED near-dup groups of 5 (xxhash64 base per group, one
    // distinct low bit flipped per member — every within-group pair is
    // ≤ 2 bits apart). The pair join must recover EXACTLY the 2M
    // planted pairs (pigeonhole recall at the radius; cross-group
    // collisions are ~n²/2^64), wall-clock scaling ~linearly in docs +
    // output pairs — the shape perceptual dedup rides at 100 TB.
    if (only.forall("signature_pairs_scale".contains)) {
      time("signature_pairs_scale") {
        def run(n: Long): (Long, Double) = {
          val sigs = spark.range(0, n).select(
            col("id").as("doc_id"),
            // members 1..4 flip bits 1..4 of the group base; member 0 none
            expr("xxhash64(cast(id div 5 as bigint)) ^ " +
              "(shiftleft(cast(1 as bigint), cast(id % 5 as int)) & 30)")
              .as("sig"))
          val t0 = System.nanoTime()
          val pairs = graft.ops.Dedup.signaturePairs(sigs, maxHamming = 2,
            maxBucketSize = 1000)
          val cnt = pairs.count()
          (cnt, (System.nanoTime() - t0) / 1e9)
        }
        val (c5, s5) = run(500000L)
        val (c10, s10) = run(1000000L)
        System.err.println(
          f"[probe] signature_pairs 500k: $c5 pairs in $s5%.1fs | " +
            f"1M: $c10 pairs in $s10%.1fs")
        require(c5 == 10L * 100000L && c10 == 10L * 200000L,
          s"planted-pair recovery drifted: $c5 / $c10")
        require(s10 < s5 * 4 + 10.0,
          f"pair join must scale ~linearly: $s5%.1fs -> $s10%.1fs")
        c10
      }
    }
    if (only.forall("vacuum_files".contains)) {
      val root = java.nio.file.Files
        .createTempDirectory("probe-bk-vacuum").toString + "/t"
      graft.sources.BucketedLake.write(
        spark.range(0, 256L * 100L).select(col("id").as("k"), col("id").as("v")),
        root, "k", 256)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // unreferenced copies next to each bucket's live file = the doomed set
      def fanOut(copies: Int, tag: String): Unit = (0 until 256).foreach { b =>
        val dir = new org.apache.hadoop.fs.Path(s"$root/data/__bucket=$b")
        val src = fs.listStatus(dir).map(_.getPath)
          .find(p => p.getName.endsWith(".parquet") &&
            !p.getName.startsWith("doomed")).get
        (0 until copies).foreach { i =>
          org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
            new org.apache.hadoop.fs.Path(dir, s"doomed-$tag-$i-${src.getName}"),
            false, spark.sparkContext.hadoopConfiguration)
        }
      }
      def timeVacuum(label: String): Long = {
        val t0 = System.nanoTime()
        val dry = graft.sources.BucketedLake.vacuum(spark, root,
          minAgeMs = 0L, dryRun = true)
        val t1 = System.nanoTime()
        val real = graft.sources.BucketedLake.vacuum(spark, root, minAgeMs = 0L)
        val t2 = System.nanoTime()
        require(dry.files == real.files && dry.bytes == real.bytes,
          s"dry-run drifted from the real pass: $dry vs $real")
        System.err.println(f"[probe] vacuum $label%-16s dry " +
          f"${(t1 - t0) / 1e9}%.2fs real ${(t2 - t1) / 1e9}%.2fs " +
          f"files=${real.files}")
        real.files.toLong
      }
      time("vacuum_files") {
        fanOut(1, "s")
        val small = timeVacuum("256 doomed")
        fanOut(40, "l")
        val large = timeVacuum("10240 doomed")
        small + large
      }
    }
    // Storage-partitioned join headroom: 2M x 2M rows over 64 buckets —
    // the co-located plan must carry NO join exchange (plan-required),
    // and the probe prints it next to the shuffled baseline over the
    // same bytes. At 100 TB this delta is the fact-fact join's shuffle.
    time("spj_colocated_join") {
      spark.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.sorting.enabled", "true")
      val root = java.nio.file.Files.createTempDirectory("probe-spj").toString
      val n = 2000000L
      graft.sources.BucketedLake.write(
        spark.range(0, n).select(col("id").as("k"), (col("id") * 2).as("lv")),
        s"$root/l", "k", 64)
      graft.sources.BucketedLake.write(
        spark.range(0, n).select(col("id").as("k"), (col("id") % 1000).as("rv")),
        s"$root/r", "k", 64)
      val t0 = System.nanoTime()
      val co = spark.read.table(s"graft_bk.`$root/l`").hint("merge")
        .join(spark.read.table(s"graft_bk.`$root/r`"), Seq("k"))
        .agg(sum(col("lv")).as("s"), count(lit(1)).as("c"))
      val coRow = co.head()
      val coS = (System.nanoTime() - t0) / 1e9
      val plan = co.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        "co-located join planned a shuffle — SPJ lost")
      val t1 = System.nanoTime()
      val sh = spark.read.parquet(s"$root/l/data").hint("merge")
        .join(spark.read.parquet(s"$root/r/data").select("k", "rv"), Seq("k"))
        .agg(sum(col("lv")).as("s"), count(lit(1)).as("c")).head()
      val shS = (System.nanoTime() - t1) / 1e9
      require(coRow.getLong(1) == sh.getLong(1), "row-count mismatch")
      System.err.println(
        f"[probe] spj co-located=$coS%.1fs shuffled=$shS%.1fs rows=${coRow.getLong(1)}")
      coRow.getLong(1)
    }
    // Incremental-view refresh: folding a group-localized 10k-change
    // batch (10 groups -> <=10 of 64 buckets) into a 1M-group view must
    // cost a fraction of the initial 2M-row aggregation — refresh
    // scales with the batch and its touched buckets, not the source.
    time("ivm_refresh") {
      import graft.streaming.IncrementalAgg
      val path = java.nio.file.Files
        .createTempDirectory("probe-ivm").toString + "/v"
      val spec = IncrementalAgg.ViewSpec(Seq("g"), sumCols = Seq("v"),
        buckets = 64)
      val boom = () => throw new IllegalStateException("no min/max: no source read")
      val n = 2000000L
      val load = spark.range(0, n).select((col("id") % 1000000).as("g"),
        col("id").as("v"), lit("insert").as("change_type"))
      val t0 = System.nanoTime()
      IncrementalAgg.applyChanges(spark, load, path, spec, 0L, boom)
      val loadS = (System.nanoTime() - t0) / 1e9
      val batch = spark.range(0, 10000L).select((col("id") % 10).as("g"),
        (col("id") + n).as("v"), lit("insert").as("change_type"))
      val t1 = System.nanoTime()
      IncrementalAgg.applyChanges(spark, batch, path, spec, 1L, boom)
      val refreshS = (System.nanoTime() - t1) / 1e9
      System.err.println(
        f"[probe] ivm load=$loadS%.1fs refresh=$refreshS%.1fs " +
          "(10k changes over 10 groups)")
      IncrementalAgg.read(spark, path, spec).count()
    }
    // BPE replace-cascade cost at corpus scale (pure codegen string work,
    // shuffle-free): total tokens forces every doc through all 26 merges
    time("bpe_count") {
      val r = docs.select(graft.ops.TextOps
          .bpeTokenCount(col("text"), SparkEntry.BpeMerges).as("n"))
        .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
      System.err.println(s"[probe] total BPE tokens=$r")
      r
    }
    spark.stop()
  }
}
