package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (the driver's contract) on stdout.
  *
  * The host VM exhibits multi-second stall windows (CPU steal / IO freeze)
  * that sweep over whichever queries happen to be running — round-1's
  * driver bench read 25x slow on a consecutive stretch of queries this way.
  * Defense: run two full passes and report the per-query MINIMUM; a stall
  * window can cover a query in one pass but almost never the same query in
  * both. Pass 1 doubles as the JIT/codegen warmup. Pass 2 is skipped when
  * the remaining time budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 900 s
  * from JVM start) would not cover the predicted next pass — one completed
  * pass beats a timeout kill with no output at all (round 2 died rc=124).
  *
  * BUILD ONCE, MEASURE MANY: many lake/IVM queries spend their
  * construction phase WRITING a fixture table (Delta/Hudi/bucketed
  * commits, IVM epochs) — by round 14 that setup had grown to ~340 s of a
  * ~580 s pass, pricing pass 2 out of the budget and losing the
  * min-over-passes noise defense exactly when the matrix got big. A
  * DataFrame is a reusable analyzed plan over the fixture files the build
  * left on disk, so construction runs ONCE — in a small parallel pool,
  * since fixture builds are independent and dominated by fixed per-job
  * latency — and every measurement pass re-executes the CACHED plan:
  * evaluation is a fresh job each time (nothing is persisted), the read
  * path is re-measured end-to-end, and eval stays STRICTLY serial so the
  * measured number never shares the scheduler. Per-query values are
  * EVAL-ONLY minima (the number plan regressions show up on); setup
  * reports separately per query in `split` and in aggregate as
  * setup_sum_s.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // First statement: make a slow JVM/Spark startup visible + attributable
    // (round-2 pre-touch stall looked like a hang because nothing printed).
    val jvmUp = System.nanoTime()
    System.err.println(s"[bench] JVM main entered; heap=${Runtime.getRuntime.maxMemory() >> 20}MiB")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // 3 passes when the budget allows: the host's stall windows sweep
    // different queries each pass, so a per-query min over more passes is
    // a sharper estimate; the budget check below still cuts to fewer
    // passes when time is short.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "900").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Survive long GC / host-contention pauses without the heartbeat RPC
      // timing out and killing tasks (round-1 driver bench died this way).
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[bench] SparkSession up at t=${(System.nanoTime() - jvmUp) / 1e9}%.1fs")
    def elapsed: Double = (System.nanoTime() - jvmUp) / 1e9
    // SPARK_GRAFT_BENCH_ONLY: comma-separated query names — subset runs
    // for drift A/Bs (isolating suite-size effects: JIT/codegen-cache/GC
    // pressure scales with how many distinct plans one JVM compiles)
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val best = scala.collection.mutable.Map.empty[String, Double]
    // the split OF THE PASS THAT ACHIEVED the min (a consistent pair):
    // "setup" = query-closure construction, which for the lake/IVM/Arrow
    // entries is the in-query FIXTURE write (Delta/Hudi/bucket fixtures,
    // IVM epochs) — without the split those writes mask read-path plan
    // regressions in the slowest-10 ranking
    val bestSetup = scala.collection.mutable.Map.empty[String, Double]
    val bestQuery = scala.collection.mutable.Map.empty[String, Double]
    val errs = scala.collection.mutable.Map.empty[String, String]
    // pass-1 plans + their fixture-build seconds: later passes re-execute
    // the cached plan (fixtures are on disk) and inherit the setup cost
    val cachedDf =
      scala.collection.mutable.Map.empty[String, org.apache.spark.sql.DataFrame]
    val setupSec = scala.collection.mutable.Map.empty[String, Double]
    def fmtErr(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
    // PARALLEL BUILD (once): fixture writes are independent (unique dirs,
    // idempotent same-value conf/view/function registrations — audited)
    // and dominated by fixed per-job latency, so overlapping them across
    // a small pool collapses ~340 s of serial setup into the pool's
    // longest chain. Eval stays STRICTLY serial below — the measured
    // number never shares the scheduler. A parallel-build failure retries
    // serially once before it may bench as an error: a transient
    // concurrency artifact must not zero a query.
    locally {
      val b0 = System.nanoTime()
      val builders = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUILDERS", "8").toInt
        .max(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(builders)
      val futures = queries.map { case (name, fn) =>
        (name, fn, pool.submit(new java.util.concurrent.Callable[
            Either[String, (org.apache.spark.sql.DataFrame, Double)]] {
          def call(): Either[String, (org.apache.spark.sql.DataFrame, Double)] = {
            val t0 = System.nanoTime()
            try { val df = fn(spark, sfDir); Right((df, (System.nanoTime() - t0) / 1e9)) }
            catch { case e: Throwable => Left(fmtErr(e)) }
          }
        }))
      }
      pool.shutdown()
      futures.foreach { case (name, fn, fut) =>
        fut.get() match {
          case Right((df, sSec)) =>
            cachedDf(name) = df; setupSec(name) = sSec
          case Left(first) =>
            System.err.println(s"[bench] build $name parallel ERR ($first); retrying serially")
            val t0 = System.nanoTime()
            try {
              val df = fn(spark, sfDir)
              cachedDf(name) = df
              setupSec(name) = (System.nanoTime() - t0) / 1e9
            } catch { case e: Throwable => errs(name) = fmtErr(e) }
        }
      }
      System.err.println(f"[bench] build phase done in ${(System.nanoTime() - b0) / 1e9}%.1fs ($builders builders, ${errs.size} errors, elapsed $elapsed%.1fs)")
    }
    var pass = 0
    var lastPassEvalSec = 0.0 // eval-only: what the next pass would cost
    while (pass < passes &&
        (pass == 0 || elapsed + lastPassEvalSec * 1.2 + 15.0 < budgetSec)) {
      pass += 1
      val p0 = System.nanoTime()
      var passEval = 0.0
      for ((name, _) <- queries if cachedDf.contains(name)) {
        val df = cachedDf(name)
        val tSetup = setupSec.getOrElse(name, 0.0)
        val t0 = System.nanoTime()
        // Evaluate via a noop-format write, NOT count(): under a count
        // aggregate Catalyst prunes every unreferenced projection (md5/cast
        // pipelines collapse to a row count) and EliminateSorts drops
        // pre-agg orderBys, so count() under-measures projection-heavy
        // queries. The noop sink fully evaluates every output column and
        // discards the rows without IO.
        val err =
          try { df.write.mode("overwrite").format("noop").save(); None } catch {
            case e: Throwable => Some(fmtErr(e))
          }
        val raw = (System.nanoTime() - t0) / 1e9
        passEval += raw
        System.err.println(f"[bench] pass$pass $name query $raw%.2fs (setup $tSetup%.2fs)${err.fold("")(" ERR " + _)}")
        err match {
          case Some(m) => errs(name) = m // a throwing query must NOT bench as fast
          case None if raw < best.getOrElse(name, Double.MaxValue) =>
            // EVAL-ONLY per-query value: fixture setup is not the
            // operator (and under the parallel build its wall shares
            // the scheduler) — it reports separately in `split` and
            // the setup_sum_s/build_phase_s headline fields
            best(name) = raw
            bestSetup(name) = tSetup
            bestQuery(name) = raw
          case None => ()
        }
      }
      lastPassEvalSec = passEval
      val passSec = (System.nanoTime() - p0) / 1e9
      System.err.println(f"[bench] pass$pass done in $passSec%.1fs (eval-only $passEval%.1fs, elapsed $elapsed%.1fs / budget $budgetSec%.0fs)")
    }
    // PLAN CONTRACTS: shape assertions on flagship plans AT THE BENCH
    // SF, checked after eval so AQE has finalized — a lost broadcast, a
    // dropped pushdown, or a cartesian degeneration fails the bench
    // LOUDLY (the query goes into `errors`) instead of surfacing as a
    // quiet 2x slowdown someone has to spot in the timings. Markers
    // mirror PlanContractsSpec (which pins them at sf0.001); this
    // re-checks them against the full-size fixtures the bench builds.
    val planContracts: Seq[(String, String,
        org.apache.spark.sql.DataFrame => Boolean)] = Seq(
      ("q3_join", "broadcast_no_cartesian", df => {
        val p = df.queryExecution.executedPlan.toString
        p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct")
      }),
      ("q_filter_limit", "filter_pushdown", df =>
        df.queryExecution.executedPlan.toString
          .contains("PushedFilters: [IsNotNull(c_mktsegment)")),
      ("lake_bucketed_minmax", "manifest_only_agg", df =>
        df.queryExecution.executedPlan.collectLeaves()
          .exists(_.toString.contains("from manifest"))),
      ("lake_bucketed_agg", "no_exchange_groupby_key", df =>
        // KeyGroupedPartitioning satisfies the aggregate: a hash
        // exchange on the bucket key means the layout contract broke
        !df.queryExecution.executedPlan.toString
          .contains("hashpartitioning(o_custkey")),
      ("dedup_minhash", "lsh_hash_join", df => {
        val p = df.queryExecution.executedPlan.toString
        !p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct")
      }),
      ("text_decontaminate", "broadcast_eval_set", df =>
        df.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin")))
    val contractResults: Seq[(String, String, Boolean)] =
      planContracts.flatMap { case (q, label, check) =>
        cachedDf.get(q).map { df =>
          val ok = try check(df) catch { case _: Throwable => false }
          (q, label, ok)
        }
      }
    contractResults.filterNot(_._3).foreach { case (q, label, _) =>
      errs(q) = s"plan contract violated: $label"
      System.err.println(s"[bench] PLAN CONTRACT FAILED: $q ($label)")
    }
    // Queries whose plan is a pure LocalRelation materialized at
    // CONSTRUCTION (driver-side TVFs like graft_bucketed_fragments,
    // CALL results): their eval-only minima measure a local relation,
    // not a scan — flagged so the numbers aren't misread as scan
    // timings (advisory note, round 15).
    val constructionMaterialized = cachedDf.toSeq.collect {
      case (name, df) if {
        val leaves =
          try df.queryExecution.optimizedPlan.collectLeaves()
          catch { case _: Throwable => Nil }
        leaves.nonEmpty && leaves.forall(_.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      } => name
    }.sorted
    val materializedJson = constructionMaterialized
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val contractsJson = {
      val fails = contractResults.filterNot(_._3)
        .map { case (q, l, _) => "\"" + q + ":" + l + "\"" }
        .mkString("[", ",", "]")
      s"""{"checked":${contractResults.size},"failed":$fails}"""
    }
    def jstr(s: String): String =
      "\"" + s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    // 3-decimal timings: full double repr doubles the line length and the
    // driver's stdout scrape truncates long tails (round-6 "parsed: null").
    val qs = queries.map { case (k, _) =>
      "\"" + k + "\":" + best.get(k).map(d => f"$d%.3f").getOrElse("-1")
    }.mkString("{", ",", "}")
    // {setup_s, query_s} per entry, from the min-achieving pass — the
    // read-path number regressions hide behind is query_s
    val splitJson = queries.flatMap { case (k, _) =>
      bestSetup.get(k).map(s =>
        "\"" + k + "\":" + f"""{"setup_s":$s%.3f,"query_s":${bestQuery(k)}%.3f}""")
    }.mkString("{", ",", "}")
    val errJson = errs.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + jstr(v) }.mkString("{", ",", "}")
    // total = sum of per-query EVAL minima (fixture setup excluded —
    // r15 semantics change, documented in COVERAGE.md: setup is not the
    // operator under test and is now built once in a parallel phase);
    // setup_sum_s preserves the old total's other half for comparison
    val total = best.values.sum
    val setupSum = setupSec.values.sum
    val json =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"split":$splitJson,"errors":$errJson,"failed":${errs.size},"passes":$pass,"setup_sum_s":${f"$setupSum%.3f"},"plan_contracts":$contractsJson,"construction_materialized":$materializedJson,"sf":"$sfDir"}"""
    // Machine-readable artifact: the full per-query JSON always lands in a
    // file — no stdout scraping needed to recover timings.
    try {
      Files.writeString(Paths.get("target/bench.json"), json)
      Files.writeString(Paths.get("target/bench_results.json"), json)
    } catch { case _: Throwable => () }
    println(json)
    // The harness records only a ~2000-char stdout TAIL, and the 102-query
    // line above overflows it (round-7 artifact: line clipped mid-word,
    // parsed null). Emit a compact headline LAST — with the 10 slowest
    // queries inline — so a complete, parseable JSON line always survives
    // the tail window; full timings are in the line above + target/bench.json.
    val slowest = best.toSeq.sortBy(-_._2).take(10)
      .map { case (k, d) => "\"" + k + "\":" + f"$d%.2f" }.mkString("{", ",", "}")
    // reranked by QUERY time (fixture setup excluded): the list a plan
    // regression actually shows up on
    val slowestQ = bestQuery.toSeq.sortBy(-_._2).take(10)
      .map { case (k, d) => "\"" + k + "\":" + f"$d%.2f" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${best.size},"failed":${errs.size},"passes":$pass,"setup_sum_s":${f"$setupSum%.3f"},"plan_contracts":$contractsJson,"slowest":$slowest,"slowest_query_s":$slowestQ,"sf":"$sfDir","detail":"target/bench.json"}""")
    spark.stop()
  }
}
