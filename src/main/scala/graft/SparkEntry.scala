package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Flatten, SqlTransform}
import graft.ops.{AsofJoin, Curation, Dedup, GraphOps, Multimodal, Similarity, Sketches, TextOps}
import graft.sink.MergeWriter

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 plus the LLM-data-pipeline operators; each SQL-expressible
  * entry has a DuckDB oracle in [[oracleSql]] with IDENTICAL output column
  * names and deterministic ordering.
  *
  * Cross-engine exactness rules used throughout (see SURVEY.md §5):
  *  - money aggregates go through DECIMAL casts (exact, identical on both
  *    engines) — never raw double sums, whose value depends on add order;
  *  - averages are `CAST(exact-decimal-sum AS DOUBLE) / COUNT(*)` — both
  *    engines then perform the same two correctly-rounded operations;
  *  - similarity scores are emitted as `round(sim*1000)` integers;
  *  - `events.ts` parquet precision has varied across testdata generations
  *    (nanos → epoch-nano BIGINT under nanosAsLong; micros → TIMESTAMP_NTZ):
  *    raw ts values are never emitted — only millisecond-floor /
  *    `date_trunc` results, via dialect expressions chosen from the
  *    RESOLVED column type (see [[sparkEventTimeExprs]]);
  *  - every query ends in an explicit total ORDER BY on a unique key prefix.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Register the star schema + aux tables as temp views and run SQL —
    * the same text DuckDB gets, modulo dialect notes above. */
  private def sql(s: SparkSession, dir: String, names: Seq[String], q: String): DataFrame = {
    names.foreach(n => t(s, dir, n).createOrReplaceTempView(n))
    s.sql(q)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q3_join")(spark, "/root/testdata/sf0.001")

  // ====================================================================
  // Shared SQL texts (Spark + DuckDB dialects agree on all of these)
  // ====================================================================

  private val Q1 = """
    SELECT l_returnflag, l_linestatus,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""

  private def q3(str: String) = s"""
    SELECT l_orderkey,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
      CAST(o_orderdate AS $str) AS o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10"""

  private val Q5 = """
    SELECT n_name,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""

  private val QWindow = """
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
      FROM orders) t
    WHERE rnk <= 3
    ORDER BY o_custkey, rnk"""

  private val QSemiAnti = """
    SELECT c_custkey, c_name, 'no_urgent' AS tag FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT c_custkey, c_name, 'big_spender' AS tag FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    ORDER BY tag, c_custkey"""

  /** Correlated EXISTS / NOT EXISTS with per-branch predicates (the
    * conjunction form, vs QSemiAnti's union-of-tags form). */
  private val QExists = """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
                        AND o.o_totalprice < 1000)
    ORDER BY c_custkey"""

  /** LATERAL correlated subquery — top-1 order per customer without a
    * window (the planner turns it into a correlated join). */
  private val QLateral = """
    SELECT c.c_custkey, t.o_orderkey AS top_orderkey,
           CAST(t.o_totalprice AS DOUBLE) AS top_price
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
    ORDER BY c.c_custkey"""

  /** RANGE interval window frame (value-based, vs q_window_frame's
    * row-count frame): 30-day trailing spend per customer. */
  private val QRangeFrame = """
    SELECT o_custkey, o_orderkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate
        RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_30d,
      CAST(COUNT(*) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate
        RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS n_30d
    FROM orders ORDER BY o_custkey, o_orderkey"""

  private val QSetOps = """
    SELECT * FROM (
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       INTERSECT
       SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 450000) t
    ORDER BY c_custkey"""

  private val QRollup = """
    SELECT r_name, n_name, COUNT(*) AS n_cust,
      CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_bal
    FROM customer, nation, region
    WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name NULLS FIRST, n_name NULLS FIRST"""

  private val QTopK = """
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100"""

  private val QDistinctAgg = """
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  private val QCaseString = """
    SELECT p_brand, COUNT(*) AS n,
      CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN 1 ELSE 0 END) AS BIGINT) AS n_promo,
      CAST(SUM(CASE WHEN p_size >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
      MIN(UPPER(SUBSTRING(p_name, 1, 6))) AS first_name
    FROM part GROUP BY p_brand ORDER BY p_brand"""

  private val QCube = """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""

  private val QScalarSubquery = """
    SELECT c_custkey, c_name, n_orders FROM (
      SELECT c_custkey, c_name,
        (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 250000) AS n_orders
      FROM customer) t
    WHERE n_orders >= 3
    ORDER BY c_custkey"""

  /** events.ts has shipped as TIMESTAMP(NANOS) parquet (which Spark reads
    * only as an epoch-nano BIGINT under `spark.sql.legacy.parquet
    * .nanosAsLong`) in some testdata generations and as TIMESTAMP(MICROS)
    * (resolved by Spark 4 as TIMESTAMP_NTZ) in others, while DuckDB reads
    * both as a naive TIMESTAMP — so every events query is templated over
    * dialect expressions, and the Spark side picks its expression from the
    * RESOLVED column type at query-build time (a fixed template type-checks
    * only against one generation). All sessions run session.timeZone=UTC so
    * the NTZ→epoch cast agrees with DuckDB's naive-as-UTC epoch_ms.
    * Ordering by raw ts is identical on both engines either way. */
  private val DuckMs = "epoch_ms(ts)"
  private val DuckHour = "CAST(date_trunc('hour', ts) AS VARCHAR)"

  /** (msExpr, hourExpr) for the Spark dialect, chosen from events.ts's
    * resolved type: epoch-nano BIGINT (legacy nanosAsLong read) vs
    * TIMESTAMP/TIMESTAMP_NTZ (micros parquet). */
  private def sparkEventTimeExprs(s: SparkSession, dir: String): (String, String) = {
    val tsType = t(s, dir, "events").schema("ts").dataType
    if (tsType == org.apache.spark.sql.types.LongType)
      ("(ts DIV 1000000)",
       "CAST(date_trunc('hour', timestamp_micros(ts DIV 1000)) AS STRING)")
    else
      ("unix_millis(CAST(ts AS TIMESTAMP))",
       "CAST(date_trunc('hour', ts) AS STRING)")
  }

  private def qEventsHourly(hExpr: String) = s"""
    SELECT $hExpr AS h, event_type, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value,
      CAST(SUM(CAST(regexp_extract(props, '([0-9]+)', 1) AS INTEGER)) AS BIGINT) AS sum_k
    FROM events GROUP BY $hExpr, event_type
    ORDER BY h, event_type"""

  private def qSessionize(msExpr: String) = s"""
    SELECT user_id, COUNT(*) AS n_events, CAST(SUM(is_new) AS BIGINT) AS n_sessions FROM (
      SELECT user_id,
        CASE WHEN LAG($msExpr) OVER w IS NULL
               OR $msExpr - LAG($msExpr) OVER w > 1800000
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t
    GROUP BY user_id ORDER BY user_id"""

  private def qCdcLatest(msExpr: String) = s"""
    SELECT user_id, event_id, event_type, value, $msExpr AS ms FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1 ORDER BY user_id"""

  /** Time-series gap fill: a per-user hour spine from the user's first to
    * last active hour, left-joined against the hourly counts so silent
    * hours surface as explicit zeros (the shape a metrics/feature
    * pipeline needs before windowed models). The spine generator is the
    * dialect split: Spark `explode(sequence(...))`, DuckDB
    * `unnest(generate_series(...))` — integer epoch-hours on both. */
  private def qGapfill(hrExpr: String, series: String) = s"""
    WITH h AS (SELECT user_id, $hrExpr AS hr FROM events),
    b AS (SELECT user_id, MIN(hr) AS mn, MAX(hr) AS mx FROM h GROUP BY user_id),
    spine AS (SELECT user_id, $series AS hr FROM b),
    c AS (SELECT user_id, hr, COUNT(*) AS n FROM h GROUP BY user_id, hr)
    SELECT s.user_id, s.hr, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
    FROM spine s LEFT JOIN c ON s.user_id = c.user_id AND s.hr = c.hr
    ORDER BY s.user_id, s.hr"""

  /** Engine-exact second-moment statistics: every SUM is an exact DECIMAL
    * accumulation (placement-independent), cast to DOUBLE once, then
    * corr/stddev_pop derive through a FIXED tree of correctly-rounded
    * IEEE operations both engines execute identically — the same trick
    * the averages use, extended to second moments. The built-in
    * corr()/stddev() aggregates are NOT used: their float accumulation
    * order is engine- and partitioning-dependent. */
  // The exact-decimal second moments are cast to DOUBLE through a STRING:
  // both engines' native DECIMAL->DOUBLE casts double-round once the
  // unscaled value exceeds 2^53 (hugeint->double then /10^scale), and they
  // double-round DIFFERENTLY (sum(price^2) diverged by 1 ulp at sf0.001),
  // while decimal->string->double is two correctly-rounded conversions in
  // both engines (Java parseDouble / DuckDB strtod) — the only
  // engine-portable exact cast for >2^53 unscaled decimals.
  private val QStatsAgg = """
    WITH s AS (SELECT l_returnflag, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sx,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sy,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sxx,
      CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS syy,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
      (sxy / n - (sx / n) * (sy / n)) /
        (sqrt(sxx / n - (sx / n) * (sx / n)) * sqrt(syy / n - (sy / n) * (sy / n))) AS corr_qp,
      sqrt(sxx / n - (sx / n) * (sx / n)) AS sd_qty,
      sqrt(syy / n - (sy / n) * (sy / n)) AS sd_price
    FROM s ORDER BY l_returnflag"""

  /** BPE tokenizer merge table (rank-ordered, the shipped-vocabulary
    * model): ranks applied SEQUENTIALLY, each rank to its FIXPOINT via two
    * identical `replace()` calls (SQL replace is left-to-right
    * non-overlapping; one pass misses occurrences whose leading separator
    * space the previous match consumed, and those misses are always
    * isolated — see [[graft.ops.TextOps.bpeTokenCount]] for the proof),
    * which is real-BPE per-rank semantics on the space-separated symbol
    * string in BOTH engines. The entire encoder stays a nested-replace
    * expression tree: pure codegen'd string builtins, no UDF, no loop.
    * Multi-symbol merges (the/ing/...) consume earlier merge outputs, as
    * in a real bottom-up BPE vocab. `_` is the word separator symbol; no
    * merge contains it, so merges never cross word boundaries. */
  private[graft] val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "e" -> "r", "i" -> "n", "a" -> "n", "r" -> "e", "o" -> "n",
    "s" -> "t", "a" -> "t", "e" -> "n", "o" -> "r", "a" -> "r", "a" -> "l",
    "l" -> "e", "th" -> "e", "in" -> "g", "a" -> "g", "u" -> "e",
    "q" -> "u", "c" -> "o", "d" -> "e", "s" -> "c", "w" -> "in",
    "re" -> "a", "st" -> "re", "or" -> "d", "en" -> "t")

  /** Exact BPE token count + encoded-symbol fingerprint per document.
    * `charSpace` is the dialect split (regex replacement group syntax);
    * everything else — including the full merge cascade — is IDENTICAL
    * text on both engines. Counting symbols = spaces + arithmetic on
    * exact lengths, no split needed. */
  private def qBpe(charSpace: String) = {
    // each rank applied twice = per-rank fixpoint (adjacent repeated
    // pairs merge like a real BPE encoder — see TextOps.bpeTokenCount)
    val cascade = BpeMerges.foldLeft("s") { case (acc, (a, b)) =>
      s"replace(replace($acc, ' $a $b ', ' $a$b '), ' $a $b ', ' $a$b ')" }
    s"""
    WITH spaced AS (
      SELECT doc_id, concat(' ', $charSpace) AS s
      FROM documents),
    merged AS (SELECT doc_id, $cascade AS s FROM spaced)
    SELECT doc_id,
      CAST(length(trim(s)) - length(replace(trim(s), ' ', '')) + 1 AS BIGINT) AS n_bpe,
      md5(trim(s)) AS bpe_md5
    FROM merged ORDER BY doc_id"""
  }

  /** Deterministic MODE: the most frequent value with an explicit
    * smallest-value tie-break (the bare mode() aggregate is
    * tie-nondeterministic on both engines). */
  private val QMode = """
    WITH c AS (SELECT l_returnflag, l_quantity, COUNT(*) AS n
               FROM lineitem GROUP BY l_returnflag, l_quantity),
    m AS (SELECT l_returnflag, MAX(n) AS mx FROM c GROUP BY l_returnflag)
    SELECT c.l_returnflag, MIN(c.l_quantity) AS mode_qty, MAX(c.n) AS n_occ
    FROM c JOIN m ON c.l_returnflag = m.l_returnflag AND c.n = m.mx
    GROUP BY c.l_returnflag ORDER BY c.l_returnflag"""

  private val QScalarFnsSpark = """
    SELECT l_orderkey, l_linenumber,
      COALESCE(CAST(CAST(CASE WHEN l_linenumber = 1 THEN NULL ELSE l_shipdate END AS DATE) AS STRING), '1970-01-01') AS dt,
      CONCAT(l_returnflag, '-', l_linestatus) AS flag,
      CAST(FLOOR(l_quantity) AS INT) AS qty_i
    FROM lineitem ORDER BY l_orderkey, l_linenumber"""

  private val QScalarFnsDuck = """
    SELECT l_orderkey, l_linenumber,
      COALESCE(CAST(CAST(CASE WHEN l_linenumber = 1 THEN NULL ELSE l_shipdate END AS DATE) AS VARCHAR), '1970-01-01') AS dt,
      CONCAT(l_returnflag, '-', l_linestatus) AS flag,
      CAST(FLOOR(l_quantity) AS INTEGER) AS qty_i
    FROM lineitem ORDER BY l_orderkey, l_linenumber"""

  private val TransformSql = """
    SELECT l_returnflag, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
    FROM <SRC> GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---- round-2 additions: shared texts (both dialects) ----------------

  private val QGroupingSets = """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""

  private val QLagLead = """
    SELECT o_custkey, o_orderkey,
      COALESCE(LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), -1) AS prev_ok,
      COALESCE(LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), -1) AS next_ok,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS run_spend,
      CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn
    FROM orders ORDER BY o_custkey, rn"""

  /** Global-order analytics (NTILE / PERCENT_RANK / CUME_DIST). The single
    * global sort is inherent to the semantics; at 100 TB the same statistics
    * come from `approxQuantile` bucketing — this exercises the exact form.
    * percent_rank = (rank-1)/(n-1) and cume_dist = |rows<=x|/n are the same
    * two integer divisions on both engines, so the doubles are bit-equal. */
  private val QNtile = """
    SELECT o_orderkey,
      CAST(NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS quartile,
      percent_rank() OVER (ORDER BY o_totalprice, o_orderkey) AS pr,
      cume_dist() OVER (ORDER BY o_totalprice, o_orderkey) AS cd
    FROM orders ORDER BY o_orderkey"""

  private val QWindowFrame = """
    SELECT o_orderkey,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS mov_sum,
      CAST(COUNT(*)
        OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov_n
    FROM orders ORDER BY o_orderkey"""

  private val QRangeJoin = """
    SELECT t.tier, COUNT(*) AS n,
      CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
    FROM orders JOIN (VALUES ('T1', 0, 100000), ('T2', 100000, 200000), ('T3', 200000, 300000), ('T4', 300000, 600000)) AS t(tier, lo, hi)
      ON o_totalprice >= t.lo AND o_totalprice < t.hi
    GROUP BY t.tier ORDER BY t.tier"""

  private val QExceptAll = """
    SELECT o_custkey, COUNT(*) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t
    GROUP BY o_custkey ORDER BY o_custkey"""

  private val QIntersectAll = """
    SELECT o_custkey, COUNT(*) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t
    GROUP BY o_custkey ORDER BY o_custkey"""

  private val QHaving = """
    SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= (SELECT MAX(c) FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_custkey) m) - 5
    ORDER BY o_custkey"""

  // ---- round-2 additions: dialect-split texts -------------------------

  /** Exact quantiles. Safe cross-engine: l_quantity is integer-valued and
    * the interpolation fractions are powers of two, so Spark's
    * `(1-d)*lo + d*hi` and DuckDB's `lo + d*(hi-lo)` are both exact. */
  private val QPercentileSpark = """
    SELECT l_returnflag,
      percentile(l_quantity, 0.25) AS p25,
      percentile(l_quantity, 0.5) AS p50,
      percentile(l_quantity, 0.75) AS p75,
      CAST(MAX(l_quantity) AS DOUBLE) AS mx
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
  private val QPercentileDuck = """
    SELECT l_returnflag,
      quantile_cont(l_quantity, 0.25) AS p25,
      quantile_cont(l_quantity, 0.5) AS p50,
      quantile_cont(l_quantity, 0.75) AS p75,
      CAST(MAX(l_quantity) AS DOUBLE) AS mx
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  private val QStringAggSpark = """
    SELECT n_name, array_join(array_sort(collect_set(c_mktsegment)), ',') AS segs, COUNT(*) AS n_cust
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name"""
  private val QStringAggDuck = """
    SELECT n_name, array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',') AS segs, COUNT(*) AS n_cust
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name"""

  private val QRegexpSpark = """
    SELECT p_partkey,
      regexp_extract(p_type, '([A-Z]+)', 1) AS first_word,
      regexp_replace(p_name, '[aeiou]', '') AS devoweled,
      CAST(regexp_count(p_name, ' ') AS INTEGER) AS n_spaces
    FROM part ORDER BY p_partkey"""
  private val QRegexpDuck = """
    SELECT p_partkey,
      regexp_extract(p_type, '([A-Z]+)', 1) AS first_word,
      regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
      CAST(len(regexp_extract_all(p_name, ' ')) AS INTEGER) AS n_spaces
    FROM part ORDER BY p_partkey"""

  private def qJson(extract: String) = s"""
    SELECT event_type, COUNT(*) AS n,
      CAST(SUM($extract) AS BIGINT) AS sum_k,
      CAST(MIN($extract) AS INTEGER) AS min_k,
      CAST(MAX($extract) AS INTEGER) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type"""
  private val SparkJsonK = "CAST(get_json_object(props, '$.k') AS INT)"
  private val DuckJsonK = "CAST(json_extract_string(props, '$.k') AS INTEGER)"

  private val QDateArithSpark = """
    SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS STRING) AS month_s, COUNT(*) AS n,
      CAST(MIN(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')) AS INTEGER) AS min_dd,
      CAST(MAX(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01')) AS INTEGER) AS max_dd,
      MIN(CAST(date_add(CAST(o_orderdate AS DATE), 30) AS STRING)) AS first_due
    FROM orders GROUP BY CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS STRING) ORDER BY month_s"""
  private val QDateArithDuck = """
    SELECT CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_s, COUNT(*) AS n,
      CAST(MIN(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS INTEGER) AS min_dd,
      CAST(MAX(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))) AS INTEGER) AS max_dd,
      MIN(CAST((CAST(o_orderdate AS DATE) + 30) AS VARCHAR)) AS first_due
    FROM orders GROUP BY 1 ORDER BY month_s"""

  // ====================================================================
  // queries
  // ====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference surface (SURVEY §2.2) -----------------------------
    "q_identity" -> ((s, d) => t(s, d, "region").orderBy("r_regionkey")),

    "q_filter_limit" -> ((s, d) =>
      t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 1000)
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey").limit(10)),

    "q_scalar_fns" -> ((s, d) => sql(s, d, Seq("lineitem"), QScalarFnsSpark)),

    "q_sql_transform" -> ((s, d) =>
      SqlTransform.transform(s, t(s, d, "lineitem"), TransformSql)),

    "q_flatten" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      // aggregate lineitem ALONE (shuffle carries only line items), then
      // join the order attributes post-agg — not join-then-group, which
      // would shuffle every order column duplicated per line item
      val items = li.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").as("linenumber"),
          col("l_quantity").as("quantity")))).as("items"))
      val nested = orders.join(items, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("items"),
          struct(col("o_orderstatus").as("status"),
            col("o_totalprice").as("total")).as("info"))
      Flatten(nested).orderBy("o_orderkey", "items_linenumber")
    }),

    "q_merge_upsert" -> ((s, d) => {
      val base = t(s, d, "orders")
      def upd(tag: String, delta: Double) = base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          lit(tag).as("o_orderstatus"),
          (col("o_totalprice") + delta).as("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
      val batch = upd("U1", 1000.0).unionByName(upd("U2", 500.0))
      val deduped = MergeWriter.dedupByPrecombine(batch, Seq("o_orderkey"), "o_totalprice")
      MergeWriter.mergeBatch(base, deduped, Seq("o_orderkey")).orderBy("o_orderkey")
    }),

    // ---- relational surface via the T1 hook (SURVEY §2.2 note) -------
    "q1_agg" -> ((s, d) => sql(s, d, Seq("lineitem"), Q1)),
    "q3_join" -> ((s, d) => sql(s, d, Seq("customer", "orders", "lineitem"), q3("STRING"))),
    "q5_multijoin" -> ((s, d) =>
      sql(s, d, Seq("customer", "orders", "lineitem", "supplier", "nation", "region"), Q5)),
    "q_window" -> ((s, d) => sql(s, d, Seq("orders"), QWindow)),
    "q_semi_anti" -> ((s, d) => sql(s, d, Seq("customer", "orders"), QSemiAnti)),
    "q_exists" -> ((s, d) => sql(s, d, Seq("customer", "orders"), QExists)),
    "q_range_frame" -> ((s, d) => sql(s, d, Seq("orders"), QRangeFrame)),
    "q_lateral" -> ((s, d) => sql(s, d, Seq("customer", "orders"), QLateral)),
    "q_setops" -> ((s, d) => sql(s, d, Seq("customer", "orders"), QSetOps)),
    "q_rollup" -> ((s, d) => sql(s, d, Seq("customer", "nation", "region"), QRollup)),
    "q_topk" -> ((s, d) => sql(s, d, Seq("lineitem"), QTopK)),
    "q_distinct_agg" -> ((s, d) => sql(s, d, Seq("lineitem"), QDistinctAgg)),
    "q_case_string" -> ((s, d) => sql(s, d, Seq("part"), QCaseString)),
    "q_cube" -> ((s, d) => sql(s, d, Seq("orders"), QCube)),

    "q_pivot" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
        .orderBy("o_orderpriority")),

    // ---- round-2 relational widening ----------------------------------
    "q_grouping_sets" -> ((s, d) => sql(s, d, Seq("orders"), QGroupingSets)),
    "q_lag_lead" -> ((s, d) => sql(s, d, Seq("orders"), QLagLead)),
    "q_ntile" -> ((s, d) => sql(s, d, Seq("orders"), QNtile)),

    /** Same NTILE/percent_rank/cume_dist statistics as q_ntile, computed by
      * [[graft.ops.Ranking]]'s two-pass range ranking — NO single-partition
      * WindowExec anywhere in the plan (the q_ntile scale-killer). Bit-equal
      * to the window form because the ordering is unique. */
    "q_ntile_scalable" -> ((s, d) => {
      val (ranked, n) = graft.ops.Ranking.rankWithTotal(
        t(s, d, "orders").select("o_orderkey", "o_totalprice"),
        Seq(col("o_totalprice"), col("o_orderkey")))
      ranked.select(col("o_orderkey"),
        graft.ops.Ranking.ntileOf(col("global_rank"), n, 4).as("quartile"),
        graft.ops.Ranking.percentRankOf(col("global_rank"), n).as("pr"),
        graft.ops.Ranking.cumeDistOf(col("global_rank"), n).as("cd"))
        .orderBy("o_orderkey")
    }),
    /** Moving window frame (ROWS BETWEEN) partitioned by customer — the
      * scale-safe window shape (keyed partitions, no global sort). */
    "q_window_frame" -> ((s, d) => sql(s, d, Seq("orders"), QWindowFrame)),

    /** UNPIVOT (wide → long): Spark's native UNPIVOT operator; the oracle
      * uses DuckDB's own UNPIVOT syntax over the same tables. */
    "q_unpivot" -> ((s, d) => sql(s, d, Seq("lineitem"), """
      SELECT measure, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
      FROM (SELECT measure, v FROM lineitem
            UNPIVOT (v FOR measure IN (l_quantity, l_extendedprice, l_discount)))
      GROUP BY measure ORDER BY measure""")),

    "q_range_join" -> ((s, d) => sql(s, d, Seq("orders"), QRangeJoin)),
    "q_except_all" -> ((s, d) => sql(s, d, Seq("orders"), QExceptAll)),
    "q_intersect_all" -> ((s, d) => sql(s, d, Seq("orders"), QIntersectAll)),
    "q_having" -> ((s, d) => sql(s, d, Seq("orders"), QHaving)),
    "q_percentile" -> ((s, d) => sql(s, d, Seq("lineitem"), QPercentileSpark)),
    /** Same statistics as q_percentile via [[graft.ops.Ranking
      * .groupPercentiles]] — exact percentiles with NO per-group value
      * buffering (the exact `percentile` aggregate holds each group's full
      * value list in one aggregation buffer) and no single-partition
      * stage; same oracle, hash-equal. */
    "q_percentile_scalable" -> ((s, d) =>
      // p=1.0 brackets to rank n exactly — the group MAX for free
      graft.ops.Ranking.groupPercentiles(
          t(s, d, "lineitem").select(col("l_returnflag"), col("l_quantity"),
            col("l_orderkey"), col("l_linenumber")),
          Seq("l_returnflag"), col("l_quantity"),
          Seq(col("l_orderkey"), col("l_linenumber")),
          Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "mx" -> 1.0))
        .select("l_returnflag", "p25", "p50", "p75", "mx")
        .orderBy("l_returnflag")),
    "q_string_agg" -> ((s, d) => sql(s, d, Seq("customer", "nation"), QStringAggSpark)),
    "q_regexp" -> ((s, d) => sql(s, d, Seq("part"), QRegexpSpark)),
    "q_json" -> ((s, d) => sql(s, d, Seq("events"), qJson(SparkJsonK))),
    "q_date_arith" -> ((s, d) => sql(s, d, Seq("orders"), QDateArithSpark)),

    /** Two-stage salted aggregation — the skew-mitigation pattern for a
      * hot-key groupBy at 100 TB: stage 1 aggregates (key, salt) so one hot
      * key spreads over 16 reducers; stage 2 folds the partials. Decimal
      * partials keep the result bit-identical to the unsalted oracle. */
    "q_salted_agg" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,2)").as("q"),
        pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(16)).as("salt"))
      li.groupBy("l_returnflag", "salt")
        .agg(count(lit(1)).as("pn"), sum(col("q")).as("ps"))
        .groupBy("l_returnflag")
        .agg(sum(col("pn")).cast("long").as("n"),
          sum(col("ps")).cast("decimal(18,2)").cast("double").as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    /** Salted shuffle join — the skew-mitigation pattern for a hot join
      * key at 100 TB (complement of q_salted_agg): the fact side (50% of
      * rows share sk=1) gets a deterministic 16-way salt, the dim side is
      * replicated 16x via explode, and the join runs on (sk, salt) so the
      * hot key spreads over 16 reducers. Result identical to the plain
      * join, which is exactly what the oracle checks. */
    "q_salted_join" -> ((s, d) => {
      val fact = t(s, d, "lineitem").select(
        when(col("l_orderkey") % 99 < 50, 1L)
          .otherwise(col("l_orderkey") % 99 + 1).as("sk"),
        col("l_quantity").cast("decimal(18,2)").as("q"),
        pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(16)).as("salt"))
      val dim = t(s, d, "customer")
        .filter(col("c_custkey").between(1, 99))
        .select(col("c_custkey").as("sk"), col("c_name"),
          explode(sequence(lit(0), lit(15))).as("salt"))
      fact.join(dim, Seq("sk", "salt"))
        .groupBy("sk", "c_name")
        .agg(count(lit(1)).as("n"),
          sum(col("q")).cast("decimal(18,2)").cast("double").as("sum_qty"))
        .orderBy("sk")
    }),

    /** Keep-first dedup via map-side min election + semi-join back (the
      * [[graft.ops.Curation.dedupParagraphs]] pattern): a window keyed by
      * the digest would pull every copy of a viral page through ONE task's
      * sort buffer; the aggregate combines map-side and the semi-join keys
      * on (digest, doc_id) — unique — so nothing concentrates. */
    "dedup_keep_first" -> ((s, d) =>
      // keeper ids ARE the per-digest min aggregate — the former
      // semi-join back re-scanned + re-hashed the corpus a second time
      // for rows the aggregate already identifies (one map-side-combined
      // exchange total; identical rows to the oracle's
      // MIN(doc_id) GROUP BY md5(text))
      t(s, d, "documents")
        .select(col("doc_id"), md5(col("text")).as("dg"))
        .groupBy(col("dg")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id").orderBy("doc_id")),

    "q_approx_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .orderBy("l_returnflag")),
    "q_scalar_subquery" -> ((s, d) => sql(s, d, Seq("customer", "orders"), QScalarSubquery)),

    // ---- events / streaming-shaped (batch equivalents) ---------------
    "q_events_hourly" -> ((s, d) =>
      sql(s, d, Seq("events"), qEventsHourly(sparkEventTimeExprs(s, d)._2))),
    "q_events_sessionize" -> ((s, d) =>
      sql(s, d, Seq("events"), qSessionize(sparkEventTimeExprs(s, d)._1))),
    "q_cdc_latest" -> ((s, d) =>
      sql(s, d, Seq("events"), qCdcLatest(sparkEventTimeExprs(s, d)._1))),
    "q_gapfill" -> ((s, d) =>
      sql(s, d, Seq("events"), qGapfill(
        // floor division (not DIV, which truncates toward zero): both
        // engines bucket pre-1970 (negative-ms) timestamps identically
        s"CAST(FLOOR((${sparkEventTimeExprs(s, d)._1}) / 3600000.0) AS BIGINT)",
        "explode(sequence(mn, mx))"))),
    "q_stats_agg" -> ((s, d) => sql(s, d, Seq("lineitem"), QStatsAgg)),
    "q_mode" -> ((s, d) => sql(s, d, Seq("lineitem"), QMode)),
    /** Real-tokenizer token counting: BPE with a shipped rank-ordered
      * merge table as a pure nested-replace codegen tree (see [[qBpe]]) —
      * the token-budget currency a packing/mixing planner actually uses,
      * vs the whitespace proxy elsewhere. Dialect split: Spark's
      * regexp_replace is global with `$1` groups; DuckDB needs the 'g'
      * flag and `\\1` groups. */
    "text_bpe" -> ((s, d) => {
      // Spark side runs the cascade as ONE bpe_cascade kernel call
      // (token-level simulation of the same per-rank double replace —
      // pinned identical to the nested-replace text in
      // TextExpressionsSpec); the DuckDB oracle keeps the shared
      // nested-replace formulation in [[oracleSql]]. DataFrame form (the
      // same expressions the SQL variant ran) so the kernel runs over a
      // spread input instead of the one-row-group scan partition.
      graft.functions.TextFunctions.ensureRegistered(s)
      val spec = BpeMerges.map { case (a, b) => s"$a $b" }.mkString("|")
      graft.ops.Spread.spread(t(s, d, "documents"))
        .selectExpr("doc_id",
          "bpe_cascade(concat(' ', char_space(replace(lower(text), ' ', '_'))), '" +
            spec + "') AS s")
        .selectExpr("doc_id",
          "CAST(length(trim(s)) - length(replace(trim(s), ' ', '')) + 1 AS BIGINT) AS n_bpe",
          "md5(trim(s)) AS bpe_md5")
        .orderBy("doc_id")
    }),

    /** Winnowing fingerprint sketch ([[Dedup.winnowSketch]], MOSS
      * algorithm): per-window minimum of 4-gram md5 hashes, distinct set
      * per doc. */
    "dedup_winnow" -> ((s, d) =>
      Dedup.winnowSketch(t(s, d, "documents"))
        .orderBy("doc_id")),

    /** Token-budget mixing priced in BPE tokens instead of whitespace
      * tokens — the same greedy md5-order prefix rule as `corpus_mix`,
      * with [[graft.ops.TextOps.bpeTokenCount]] as the budget currency
      * (the pluggable-counter seam of `mixWeighted`). */
    "corpus_mix_bpe" -> ((s, d) => {
      graft.functions.TextFunctions.ensureRegistered(s)
      Curation.mixWeighted(t(s, d, "documents"), Map.empty,
          defaultBudget = 1000L,
          tokenCount = Some(TextOps.bpeTokenCount(col("text"), BpeMerges)))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).cast("long").as("kept_tokens"))
        .orderBy("source")
    }),
    /** Temperature (α=0.5) source-mixing weights, relative to the largest
      * source ([[Curation.sourceWeights]] — exact integer ratio through
      * one sqrt, engine-deterministic). */
    "corpus_weights" -> ((s, d) =>
      Curation.sourceWeights(t(s, d, "documents"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("w_rel"))
        .orderBy("source")),
    /** Corpus snapshot diff ([[Curation.corpusDiff]]): v2 is a
      * deterministic mutation of v1 — id%7==0 removed, id%5==0 rewritten,
      * id%11==0 re-added under a shifted id — so every verdict class is
      * exercised. Fingerprints-only shuffle. */
    "corpus_diff" -> ((s, d) => {
      val v1 = t(s, d, "documents").select("doc_id", "text")
      val v2 = v1.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      Curation.corpusDiff(v1, v2).orderBy("doc_id")
    }),

    "q_asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val probes = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts"))
      val quotes = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("q_ts"),
          col("event_id").as("signup_event_id"))
      AsofJoin.asofBackward(probes, quotes, Seq("user_id"), "ts", "q_ts",
          Seq("signup_event_id"))
        .select(col("user_id"), col("event_id"),
          coalesce(col("signup_event_id"), lit(-1L)).as("signup_event_id"))
        .orderBy("event_id")
    }),

    // ---- LLM-pipeline: dedup -----------------------------------------
    "dedup_exact" -> ((s, d) => {
      val docs = t(s, d, "documents").select("doc_id", "text")
      val doubled = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 100000))
      Dedup.exactGroups(doubled).orderBy("keep_id")
    }),
    "dedup_fingerprint" -> ((s, d) =>
      Dedup.fingerprintGroups(t(s, d, "documents")).orderBy("fp")),
    "dedup_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(t(s, d, "documents"), 8).orderBy("doc_a", "doc_b")),
    /** The dedup ENDGAME: pairs → groups → ONE canonical doc per group
      * (longest text wins, lowest id breaks ties; singletons are their
      * own canonical). Pure hash aggregate over the CC labels — max_by
      * with a struct ordering, map-side combined, no window. */
    "dedup_canonical" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edges = Dedup.jaccardPairs(docs, 8).select("doc_a", "doc_b")
        .unionByName(Dedup.fingerprintEdges(docs))
      val comp = Dedup.connectedComponents(edges)
        .withColumnRenamed("node", "doc_id")
      docs.join(comp, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
        .groupBy(col("component").as("group_id"))
        .agg(count(lit(1)).as("n_members"),
          max_by(struct(col("doc_id"), col("n_chars")),
            struct(col("n_chars"), -col("doc_id"))).as("_k"))
        .select(col("group_id"), col("n_members"),
          col("_k.doc_id").as("keep_id"), col("_k.n_chars").as("kept_chars"))
        .orderBy("group_id")
    }),
    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashPairs(t(s, d, "documents"), 8).orderBy("doc_a", "doc_b")),
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), 3).orderBy("doc_a", "doc_b")),

    /** Pairs → GROUPS: connected components (alternating large-star/
      * small-star) over the union of exact-Jaccard near-dup pairs and exact
      * fingerprint-duplicate star edges, then one row per dedup group. The
      * op a real pipeline needs after any pairwise detector — a chain
      * a~b~c must elect ONE canonical doc. */
    "dedup_groups" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // capped default: the oracle's blk CTE mirrors jaccardPairs'
      // maxBlockSize skew cap, so the SCALABLE capped form is what the
      // hash compare certifies (no silent divergence at larger SFs).
      val edges = Dedup.jaccardPairs(docs, 8).select("doc_a", "doc_b")
        .unionByName(Dedup.fingerprintEdges(docs))
      Dedup.connectedComponents(edges)
        .groupBy("component")
        .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_member"))
        .select(col("component").as("group_id"), col("n_members"),
          col("max_member"))
        .orderBy("group_id")
    }),

    // ---- LLM-pipeline: similarity search ------------------------------
    "ann_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(t(s, d, "embeddings"), 5, col("vec_id") % 20 === 0)
        .select(col("query_id"), col("rank").as("rnk"), col("neighbor_id"),
          round(col("sim") * 1000, 0).cast("long").as("sim_i"))
        .orderBy("query_id", "rnk")),
    /** Contrastive hard negatives ([[Similarity.hardNegatives]]): most-
      * similar candidates BELOW the near-dup band — sampling a near-dup
      * as a negative poisons contrastive training. */
    "emb_hard_negatives" -> ((s, d) =>
      Similarity.hardNegatives(t(s, d, "embeddings"), 5, 0.95,
          col("vec_id") % 20 === 0)
        .select(col("anchor_id"), col("rank").as("rnk"), col("negative_id"),
          round(col("sim") * 1000, 0).cast("long").as("sim_i"))
        .orderBy("anchor_id", "rnk")),

    "ann_ivf" -> ((s, d) =>
      Similarity.ivfTopK(t(s, d, "embeddings"), 5, 16, 4, col("vec_id") % 20 === 0)
        .select(col("query_id"), col("rank").as("rnk"), col("neighbor_id"),
          round(col("sim") * 1000, 0).cast("long").as("sim_i"))
        .orderBy("query_id", "rnk")),

    /** In-engine recall@k evaluation ([[Similarity.annRecall]]): each
      * ANN family's top-k against the exact brute-force truth on the
      * same query set — the accuracy half of the ANN zoo's
      * accuracy/cost tradeoff, measured, not assumed. Exact integer
      * counts; `brute` is the recall-1000 sanity row. */
    "ann_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val qp = col("vec_id") % 20 === 0
      // EAGER: the brute-force truth is the evaluation FIXTURE, not the
      // operator under test — materializing it at closure construction
      // keeps the bench's setup/query split honest (query_s then times
      // the families + recall joins only)
      val truth = Similarity.bruteForceTopK(emb, 5, qp)
        .localCheckpoint(true) // reused as truth for every family
      Seq(
        "bq" -> Similarity.bqTopK(emb, 5, qp, shortlist = 20),
        "brute" -> truth,
        "matryoshka" -> Similarity.matryoshkaTopK(emb, 5, 8, 30, qp))
        .map { case (f, r) => Similarity.annRecall(truth, r, f, 5) }
        .reduce(_.unionByName(_))
        .orderBy("family")
    }),

    /** Matryoshka two-stage ANN ([[Similarity.matryoshkaTopK]] —
      * MRL-style truncation): 8-dim-prefix cosine shortlists 30
      * candidates per query, full-precision cosine reranks to top-5.
      * The oracle replays both stages over sliced DOUBLE[] arrays. */
    "ann_matryoshka" -> ((s, d) =>
      Similarity.matryoshkaTopK(t(s, d, "embeddings"), 5, 8, 30,
          col("vec_id") % 20 === 0)
        .select(col("query_id"), col("rank").as("rnk"), col("neighbor_id"),
          round(col("sim") * 1000, 0).cast("long").as("sim_i"))
        .orderBy("query_id", "rnk")),

    /** Product-quantization ANN ([[Similarity.pqTopK]] — Jégou et al.
      * 2011): per-sub-space codebooks from the deterministic xxh64
      * sample, argmax-dot encoding, and asymmetric-distance top-k whose
      * per-candidate score sums m lookup-table entries in FIXED
      * sub-space order. The oracle (`tools/gen_pq_oracle.py`) replays
      * the sample, the codes, and the exact summation tree. */
    "ann_pq" -> ((s, d) =>
      Similarity.pqTopK(t(s, d, "embeddings"), k = 5,
          queryPred = col("vec_id") % 20 === 0)
        .select(col("query_id"), col("rank").as("rnk"), col("neighbor_id"),
          round(col("sim") * 1000, 0).cast("long").as("sim_i"))
        .orderBy("query_id", "rnk")),

    /** IVF-PQ ([[Similarity.ivfPqTopK]] — FAISS's default billion-scale
      * shape): coarse cells bound the candidates, PQ codes score them
      * by asymmetric distance; the oracle
      * (`tools/gen_ivfpq_oracle.py`) replays both quantizers from the
      * shared xxh64 sample and the composition end-to-end. */
    "ann_ivfpq" -> ((s, d) =>
      Similarity.ivfPqTopK(t(s, d, "embeddings"), k = 5,
          queryPred = col("vec_id") % 20 === 0)
        .select(col("query_id"), col("rank").as("rnk"), col("neighbor_id"),
          round(col("sim") * 1000, 0).cast("long").as("sim_i"))
        .orderBy("query_id", "rnk")),

    /** BINARY-quantized top-k ([[Similarity.bqTopK]] —
      * [[graft.functions.BqPack]] sign bits + XOR/popcount Hamming
      * shortlist, exact rerank): 32× compression, the billion-scale
      * shortlist scan. Bit-exact oracle: Hamming over 0/1 sign lists is
      * pure integer arithmetic (popcounts minus twice the inner
      * product). */
    "ann_bq" -> ((s, d) =>
      Similarity.bqTopK(t(s, d, "embeddings"), 5, col("vec_id") % 20 === 0,
          shortlist = 20)
        .select(col("query_id"), col("rank").as("rnk"), col("neighbor_id"),
          round(col("sim") * 1000, 0).cast("long").as("sim_i"))
        .orderBy("query_id", "rnk")),

    /** Quantized (int8) top-k with exact float rerank — the memory-scale
      * ANN path; integer-exact quantization makes it oracle-checkable. */
    "ann_int8" -> ((s, d) =>
      Similarity.i8TopK(t(s, d, "embeddings"), 5, col("vec_id") % 20 === 0,
          shortlist = 20)
        .select(col("query_id"), col("rank").as("rnk"), col("neighbor_id"),
          round(col("sim") * 1000, 0).cast("long").as("sim_i"))
        .orderBy("query_id", "rnk")),

    /** IVF with spherical-k-means-trained coarse centroids (the production
      * recall path). The int8 trainer keeps centroids as integer sum
      * vectors (cosine is scale-invariant), so training is exact and
      * order-independent — replayed iteration by iteration in DuckDB
      * (`tools/gen_kmeans_oracle.py`). */
    "ann_ivf_kmeans" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val cents = Similarity.trainCentroidsI8(emb, nlist = 16, iters = 2)
      Similarity.ivfTopK(emb, 5, 16, 4, col("vec_id") % 20 === 0,
          centroids = Some(cents))
        .select(col("query_id"), col("rank").as("rnk"), col("neighbor_id"),
          round(col("sim") * 1000, 0).cast("long").as("sim_i"))
        .orderBy("query_id", "rnk")
    }),
    /** 0.5 is a LOW threshold for SRP banding — pin the wide-recall 4-bit
      * bands here (per band p⁴ with p = 1−θ/π ≈ 0.2 at θ = π/3); the
      * operator's scale default is 8-bit bands for real near-dup work. */
    "emb_neardup_lsh" -> ((s, d) =>
      Similarity.srpNearDupPairs(t(s, d, "embeddings"), 0.5, bands = 16,
        bitsPerBand = 4)
        .select(col("vec_a"), col("vec_b"),
          round(col("sim") * 1000, 0).cast("long").as("sim_i"))
        .orderBy("vec_a", "vec_b")),
    "emb_neardup" -> ((s, d) =>
      Similarity.cosinePairs(t(s, d, "embeddings"), 0.5)
        .select(col("vec_a"), col("vec_b"),
          round(col("sim") * 1000, 0).cast("long").as("sim_i"))
        .orderBy("vec_a", "vec_b")),

    // ---- LLM-pipeline: text analysis ----------------------------------
    "text_quality" -> ((s, d) =>
      TextOps.qualityProfile(t(s, d, "documents"))
        .select("doc_id", "n_chars_m", "n_tokens", "n_distinct_tokens",
          "n_stop_tokens", "n_word_runs", "max_token_len")
        .orderBy("doc_id")),

    /** Model-based quality filter ([[graft.ops.TextOps
      * .qualityModelScore]]): hashing-trick bag of words → fixture
      * linear weights → integer logit + keep decision — the
      * fastText-filter SHAPE every production pipeline runs, codegen
      * end to end, replayed bit-exactly by the oracle. */
    "text_quality_model" -> ((s, d) =>
      TextOps.qualityModelScore(t(s, d, "documents"))
        .select("doc_id", "n_tokens", "score_num", "keep")
        .orderBy("doc_id")),
    "text_tokens" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("lang"), col("source"),
          size(TextOps.lowerTokens(col("text"))).as("nt"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).cast("long").as("total_tokens"),
          min(col("nt")).as("min_tokens"),
          max(col("nt")).as("max_tokens"))
        .orderBy("lang", "source")),
    "text_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    /** CCNet/C4-style boilerplate-span removal ([[Curation
      * .removeBoilerplate]]): disjoint 10-token spans occurring verbatim
      * in >2 documents are dropped corpus-wide; md5 keeps the cleaned
      * text compact while still pinning exact reassembly order. */
    "text_boilerplate" -> ((s, d) =>
      Curation.removeBoilerplate(t(s, d, "documents"), chunkWords = 10, maxDocs = 2)
        .select(col("doc_id"), md5(col("text_clean")).as("clean_md5"),
          col("n_chunks"), col("n_dropped"))
        .orderBy("doc_id")),

    /** PII scrubbing ([[TextOps.scrubPii]]): the synthetic corpus carries
      * no natural PII, so the query plants a deterministic email + phone +
      * IP per doc (the oracle builds the identical string) and the
      * operator must remove exactly those — codegen'd regexp_replace
      * chain, RE2-compatible patterns shared verbatim with the oracle. */
    "text_pii_scrub" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), concat_ws(" ",
          substring(col("text"), 1, 40),
          concat(lit("user"), col("doc_id"), lit("@mail.example.com")),
          concat(lit("+1-555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")),
          concat(lit("10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))).as("pii"))
        .select(col("doc_id"), TextOps.scrubPii(col("pii")).as("clean"))
        .filter(col("clean").contains("<EMAIL>") &&
          col("clean").contains("<PHONE>") && col("clean").contains("<IP>"))
        .orderBy("doc_id")),

    /** GPT-style sequence packing ([[Curation.packSequences]]): per-source
      * md5-ordered token stream split into 256-token training sequences;
      * each doc's (sequence, offset, span) mapping is exact and
      * engine-replayable (window cumsum — no RNG, no floats). */
    "corpus_pack" -> ((s, d) =>
      Curation.packSequences(t(s, d, "documents"), seqLen = 256)
        .orderBy("source", "doc_id")),

    /** Per-source corpus report — composes [[graft.ops.Ranking
      * .groupPercentiles]] (exact median with no per-group buffering) with
      * plain aggregates; the shape every dataset card needs. */
    "corpus_stats" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val agg = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
      graft.ops.Ranking.groupPercentiles(
          docs.select(col("source"), col("n_chars"), col("doc_id")),
          Seq("source"), col("n_chars"), Seq(col("doc_id")),
          Seq("p50_chars" -> 0.5, "max_chars" -> 1.0))
        .join(agg, "source")
        .select(col("source"), col("n_docs"), col("sum_chars"),
          col("p50_chars"), col("max_chars").cast("long").as("max_chars"))
        .orderBy("source")
    }),
    /** Full dataset card row per source: volume, null rate, token count,
      * exact-dup rate (via the token-set fingerprint), language
      * diversity — the one-stop summary a data release ships with,
      * integer-exact end to end. */
    "corpus_card" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs
        .withColumn("fp",
          coalesce(TextOps.fingerprint(col("text")), lit("")))
        .withColumn("nt", when(col("text").isNotNull,
          size(TextOps.lowerTokens(col("text")))).otherwise(lit(0)))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("text").isNull, 1L).otherwise(0L))
            .cast("long").as("n_null_text"),
          sum(col("nt")).cast("long").as("total_tokens"),
          countDistinct(col("fp")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_dup_docs"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("source")
    }),
    "text_vocab_topk" -> ((s, d) =>
      t(s, d, "documents")
        .select(explode(TextOps.lowerTokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)),
    "text_langid" -> ((s, d) =>
      TextOps.langId(t(s, d, "documents"))
        .select("doc_id", "lang", "lang_pred").orderBy("doc_id")),

    /** Benchmark decontamination: corpus docs sharing any word-4-gram with
      * the (deterministic) eval subset. n=4 only because the synthetic docs
      * are ~55 tokens; production uses 8-13-grams. */
    "text_decontaminate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextOps.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0), n = 4)
        .orderBy("doc_id")
    }),

    /** String-similarity join over the distinct part-name dictionary —
      * entity resolution with a lossless length-bucket blocking. */
    "q_fuzzy_join" -> ((s, d) =>
      TextOps.fuzzyNamePairs(t(s, d, "part"), "p_name", 2)
        .orderBy("name_a", "name_b")),

    /** Gopher-style repetition signals, integer-exact per document. */
    "text_repetition" -> ((s, d) =>
      Curation.repetitionProfile(t(s, d, "documents"))
        .select("doc_id", "n_tokens", "dup_token_n", "top_bigram_n")
        .orderBy("doc_id")),

    /** Per-doc top-3 TF-IDF keywords; the rational idf makes the score
      * bit-exact cross-engine (see [[ops.TextOps.tfidfTopK]]). */
    /** BM25 relevance search over the corpus ([[ops.TextOps.bm25TopK]]):
      * Okapi weighting with the RATIONAL idf (bit-exact cross-engine,
      * like TF-IDF) and fixed-order per-term score combination — the
      * oracle replays tf/df/dl/avgdl and the exact expression tree. */
    "text_bm25" -> ((s, d) =>
      TextOps.bm25TopK(t(s, d, "documents"),
        Seq("spark", "query", "merge"), k = 25)),

    /** HYBRID retrieval: the BM25 text leg fused with a dense-ANN leg
      * by reciprocal-rank fusion ([[ops.Ranking.rrfFuse]], Cormack et
      * al. 2009) — the standard RAG retrieval combiner. Both legs are
      * bounded top-k lists; fusion is rank-based (no score
      * normalization) and bit-exact (integer ranks, one division per
      * leg, caller-order sum). The window rank runs over the text
      * leg's 25-row bounded result, never the corpus. */
    "search_hybrid_rrf" -> ((s, d) => {
      val textLeg = TextOps.bm25TopK(t(s, d, "documents"),
          Seq("spark", "query", "merge"), k = 25)
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("doc_id"))))
      val vecLeg = Similarity.bruteForceTopK(t(s, d, "embeddings"), 10,
          col("vec_id") === 0)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.ops.Ranking.rrfFuse(Seq((textLeg, "r"), (vecLeg, "rank")),
          "doc_id")
        .select(col("doc_id"), col("__r0").as("r_text"),
          col("__r1").as("r_vec"), col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
    }),

    /** Leakage-safe split ([[ops.TextOps.leakageSafeSplit]]): the corpus
      * plus an id-shifted twin of itself — per-doc hash splits would
      * scatter twins across train/test; hashing the dup GROUP's
      * canonical id must co-locate every pair, which the oracle checks
      * via per-split doc/group counts and id sums. */
    "corpus_split_safe" -> ((s, d) => {
      val base = t(s, d, "documents").select("doc_id", "text")
      val twins = base.withColumn("doc_id", col("doc_id") + 100000)
      TextOps.leakageSafeSplit(base.unionByName(twins))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_groups"),
          sum(col("doc_id")).cast("long").as("id_sum"))
        .orderBy("split")
    }),

    "text_tfidf" -> ((s, d) =>
      TextOps.tfidfTopK(t(s, d, "documents"), k = 3)
        .orderBy("doc_id", "rnk")),

    /** CCNet-style corpus-LM quality signal in order-independent integer
      * arithmetic: mean corpus bigram frequency + known-bigram ratio. */
    "text_bigram_lm" -> ((s, d) =>
      TextOps.bigramLm(t(s, d, "documents"))
        .orderBy("doc_id")),

    /** Unicode script census ([[TextOps.scriptProfile]]): per-doc
      * character counts over the major BMP script ranges + the dominant
      * script — the mC4/OSCAR-style script filter signal, shuffle-free
      * codegen regex cascades with explicit codepoint ranges so Java
      * regex and the oracle's RE2 agree exactly. */
    "text_scripts" -> ((s, d) =>
      TextOps.scriptProfile(t(s, d, "documents"))
        .orderBy("doc_id")),

    /** DSIR importance scoring ([[TextOps.dsirScore]]) against the
      * `src0` target slice: the domain-selection primitive for
      * assembling a training mix — returns the target-leaning docs
      * (score > 0) with their bit-exact rational importance scores. */
    "corpus_dsir" -> ((s, d) =>
      TextOps.dsirScore(t(s, d, "documents"), col("source") === "src0")
        .where(col("score") > 0)
        .orderBy("doc_id")),

    /** Cross-source word-4-gram overlap matrix (dataset-card
      * contamination-between-sources measure). */
    "corpus_overlap" -> ((s, d) =>
      TextOps.sourceOverlap(t(s, d, "documents"), n = 4)
        .orderBy("src_a", "src_b")),

    /** OOV rate vs the corpus top-500 vocabulary — lexical
      * in-distribution signal, integer-exact. */
    "text_oov" -> ((s, d) =>
      TextOps.oovRate(t(s, d, "documents"), vocabSize = 500)
        .orderBy("doc_id")),

    /** Lee-et-al exact duplicate-substring spans: maximal >=5-word spans
      * occurring at least twice in the corpus, merged from duplicated
      * sliding 5-gram positions. n=5 because the synthetic docs are ~55
      * tokens; production uses 50-token spans. */
    "text_dupspans" -> ((s, d) =>
      Curation.duplicateSpans(t(s, d, "documents"), n = 5)
        .orderBy("doc_id", "span_start")),

    /** Lee-et-al span REMOVAL: every >=5-word run repeated verbatim from
      * an EARLIER doc is cut from the text (the first holder keeps its
      * copy). `hashed=false` so the oracle replays gram identity as the
      * raw string (production default hashes grams to 8-byte keys). */
    "text_despan" -> ((s, d) =>
      Dedup.removeDuplicatedSpans(t(s, d, "documents"), k = 5,
          hashed = false)
        .select("doc_id", "text").orderBy("doc_id")),

    /** Fuzzy (n-gram Jaccard) decontamination of the corpus against the
      * deterministic doc_id%10 eval subset, scored by set overlap instead
      * of flagged by any single shared gram. %10 (not %97 as in
      * text_decontaminate) so the fixture split crosses several of the
      * corpus' planted near-dup pairs. */
    "decon_fuzzy" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextOps.decontaminateFuzzy(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), n = 3, minJaccard = 0.5)
        .orderBy("doc_id", "eval_id")
    }),

    /** Per-source power-of-two token-length histogram — integer-exact
      * bucket cut via length(bin(n))-1, no floating log. */
    "corpus_length_hist" -> ((s, d) =>
      Curation.lengthHistogram(t(s, d, "documents"))
        .orderBy("source", "bucket")),

    /** Exact-count per-language sample, xxh64-ranked — RNG-free and
      * replayed in DuckDB via the staged XXH64 compiler. */
    "corpus_sample" -> ((s, d) =>
      Curation.sampleStratified(t(s, d, "documents"), 25)
        .select(col("lang"), col("rnk"), col("doc_id"))
        .orderBy("lang", "rnk")),

    /** SemDeDup semantic dedup: integer-sum k-means clusters as the
      * candidate generator, within-cluster cosine >= 0.4 marks dups (the
      * synthetic embeddings are near-orthogonal — production text
      * embeddings use ~0.9+). */
    "emb_semdedup" -> ((s, d) =>
      Similarity.semDedup(t(s, d, "embeddings"), 0.4, nlist = 16, iters = 2)
        .orderBy("vec_id")),

    /** Cluster-balanced DIVERSITY sampling
      * ([[Similarity.clusterBalancedSample]]): k-means the corpus with
      * the engine-replayable integer-sum trainer, keep the 4
      * deterministic smallest-md5 picks per cell — every region of
      * embedding space contributes equally. Replayed bit-exactly in
      * DuckDB (tools/gen_clustersample_oracle.py: shared trainer stages
      * + the same (md5, id) draw). */
    "emb_cluster_sample" -> ((s, d) =>
      Similarity.clusterBalancedSample(t(s, d, "embeddings"),
          perCluster = 4, nlist = 16, iters = 2)
        .orderBy("cell_id", "vec_id")),

    /** Deterministic token-budget mixing: per source, keep docs in
      * md5(id) order until 1000 tokens; per-source rollup. */
    "corpus_mix" -> ((s, d) =>
      Curation.mixToBudget(t(s, d, "documents"), 1000L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).cast("long").as("kept_tokens"))
        .orderBy("source")),

    /** Count-min token-frequency sketch ([[Sketches.countMin]], 4×64
      * cells — narrow on purpose, so collisions and their exact replay are
      * exercised at the fixture scale): the structure a 100 TB vocabulary pass keeps when the exact
      * key space doesn't fit. Bucket layout is xxhash64-deterministic, so
      * the estimates — over-counts included — replay bit-for-bit in the
      * oracle (`tools/gen_cm_oracle.py`). Output: top-50 tokens by exact
      * count with their sketch estimates (est ≥ exact always). */
    "sketch_countmin" -> ((s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(TextOps.lowerTokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0 && octet_length(col("token")) <= 24)
        .localCheckpoint(eager = false) // feeds sketch AND exact counts
      val sketch = Sketches.countMin(toks, "token", depth = 4, width = 64)
      val exact = toks.groupBy("token").agg(count(lit(1)).as("exact"))
      Sketches.countMinEstimate(sketch, exact, "token", depth = 4, width = 64)
        .orderBy(desc("exact"), col("token")).limit(50)
        .select("token", "exact", "est")
    }),

    /** Bloom-filter decontamination ([[Sketches.bloomBits]], 3×65536
      * bits) — the scale path of `text_decontaminate`: the eval set
      * broadcasts as a set-bit relation instead of its full distinct
      * n-gram table. False positives are a deterministic function of the
      * layout, so the oracle reproduces them exactly
      * (`tools/gen_bloom_oracle.py`). Same eval split as
      * text_decontaminate (doc_id % 97). */
    "sketch_bloom" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // 4-gram digests truncated to 16 hex chars: within the 24-byte
      // sketch-key contract, and any truncation collision is itself
      // deterministic (replayed by the oracle)
      def g4(df: DataFrame): DataFrame = df
        .select(col("doc_id"), TextOps.lowerTokens(col("text")).as("t"))
        .filter(size(col("t")) >= 4)
        .select(col("doc_id"),
          explode(sequence(lit(1), size(col("t")) - 3)).as("i"), col("t"))
        .select(col("doc_id"),
          substring(md5(array_join(slice(col("t"), col("i"), lit(4)), " ")), 1, 16)
            .as("g"))
      val bloom = Sketches.bloomBits(
        g4(docs.filter(col("doc_id") % 97 === 0)), "g",
        numHashes = 3, bits = 65536)
      Sketches.bloomMightContain(bloom,
          g4(graft.ops.Spread.spread(docs.filter(col("doc_id") % 97 =!= 0)))
            .distinct(), "g",
          numHashes = 3, bits = 65536)
        .groupBy("doc_id")
        .agg(sum(when(col("might_contain"), 1L).otherwise(0L)).as("n_maybe"),
          count(lit(1)).as("n_grams"))
        .orderBy("doc_id")
    }),

    /** Incremental dedup: classify a landing batch (doc_id % 10 == 0)
      * against the standing corpus — corpus_dup / batch_dup / new. */
    "dedup_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.incrementalDedup(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0))
        .orderBy("doc_id")
    }),

    /** Flagship curation funnel — the full corpus-to-training-mix pipeline
      * in one composed query: language-ID agreement → repetition/quality
      * filter → exact keep-first dedup → benchmark decontamination →
      * per-(lang, source) doc/token budget. Every stage is an operator
      * proven by its own oracle query; this proves they COMPOSE. */
    "pipeline_curate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val evalSet = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val langok = TextOps.langId(corpus)
        .filter(col("lang_pred") === col("lang")).drop("lang_pred")
      val rep = Curation.repetitionProfile(langok)
        .filter(col("n_tokens") >= 20 && col("top_bigram_n") * 5 <= col("n_tokens"))
        .select("doc_id", "n_tokens")
      // keep-first election via ONE map-side-combined min_by aggregate
      // over the NARROW election columns (never a window keyed by the
      // content digest — a hot digest would pin one partition; min_by
      // partial-aggregates it away map-side). The former min + semi-join
      // back planned the langid/repetition subtree twice and carried the
      // text column into the election exchange.
      val hashed = langok.join(rep, "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
          md5(col("text")).as("dg"))
      val uniq = hashed.groupBy(col("dg"))
        .agg(min_by(struct(col("doc_id"), col("lang"), col("source"),
          col("n_tokens")), col("doc_id")).as("__k"))
        .select(col("__k.doc_id").as("doc_id"), col("__k.lang").as("lang"),
          col("__k.source").as("source"), col("__k.n_tokens").as("n_tokens"))
      val contaminated = TextOps.decontaminate(corpus, evalSet, 4).select("doc_id")
      uniq.join(contaminated, Seq("doc_id"), "left_anti")
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("total_tokens"))
        .orderBy("lang", "source")
    }),

    /** Deterministic md5-nibble corpus split (train/val/test) — stable
      * across engines and cluster sizes; per-split token budgeting. */
    "q_hash_split" -> ((s, d) =>
      t(s, d, "documents")
        .select(TextOps.hashSplit(col("doc_id")).as("split"), col("lang"),
          size(TextOps.lowerTokens(col("text"))).as("nt"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).cast("long").as("total_tokens"))
        .orderBy("split", "lang")),

    // ---- LLM-pipeline: multimodal columns -----------------------------
    "media_meta" -> ((s, d) =>
      Multimodal.extractMeta(Multimodal.asMedia(t(s, d, "documents"), "text"))
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.checksum").as("checksum"))
        .orderBy("doc_id")),
    /** Frame sampling over the media payload — pure-Catalyst byte slicing
      * (binary substr + posexplode); byte-lengths are oracle-checkable. */
    "media_frames" -> ((s, d) =>
      Multimodal.frameSample(
          Multimodal.asMedia(t(s, d, "documents").select("doc_id", "text"), "text"), 4)
        .select(col("doc_id"), col("frame_idx"),
          length(col("frame")).cast("long").as("frame_len"))
        .orderBy("doc_id", "frame_idx")),
    /** FROM-SCRATCH JPEG decode ([[graft.ops.JpegCodec]] — markers,
      * canonical Huffman, dequant, IDCT, level shift; NOT
      * javax.imageio): one DC-only grayscale JPEG per doc whose flat
      * 8x8 blocks follow the arithmetic pixel formula (Q(0,0)=8 makes
      * dequant x IDCT EXACT). Every THIRD doc encodes PROGRESSIVE
      * (SOF2: three scans — DC-first at Al=1, an AC band scan, a DC
      * refinement — so successive approximation runs in production);
      * every fifth is restart-marked (RSTn resync in both frame
      * types). The oracle replays the block formula — a lossy format
      * certified bit-for-bit; a refusal would surface as null sums. */
    "media_jpeg_features" -> ((s, d) =>
      Multimodal.jpegFeatures(
          Multimodal.synthesizeJpegs(t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("width"), col("height"), col("gray_sum"))
        .orderBy("doc_id")),
    /** REAL image decode ([[graft.ops.Multimodal.ImageIoCodec]]): one
      * fixture PNG per doc from the deterministic pixel formula, decoded
      * with javax.imageio, exact integer channel sums out. PNG is lossless,
      * so decode must invert the encoder — the oracle computes the same
      * sums straight from the formula, certifying real pixel access. */
    "media_features" -> ((s, d) =>
      Multimodal.imageFeatures(
          Multimodal.synthesizeImages(t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          col("sum_r"), col("sum_g"), col("sum_b"),
          col("grad_x_energy"), col("grad_y_energy"))
        .orderBy("doc_id")),

    /** REAL conv/pool embedding leg ([[graft.ops.Multimodal.ImageIoCodec
      * .convEnergies]]): PNG-decode each fixture image, run a fixed 3×3
      * filter bank (Sobel-x/Sobel-y/Laplacian) over the R-channel raster
      * with an abs nonlinearity and global sum pooling — integer conv
      * energies a channel mean cannot fake. The oracle replays the
      * convolution arithmetically from the pixel formula, certifying
      * real neighborhood access into decoded rasters. */
    "media_conv_embed" -> ((s, d) =>
      Multimodal.imageConvEmbed(
          Multimodal.synthesizeImages(t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("grad_x_energy"), col("grad_y_energy"),
          col("lap_energy"))
        .orderBy("doc_id")),

    /** REAL multi-frame decode ([[graft.ops.Multimodal.GifCodec]]): one
      * fixture ANIMATED GIF per doc (indexed gray palette, LZW — lossless,
      * the JDK's honest video-container analog), every frame decoded via
      * the imageio sequence reader to exact integer gray sums. The oracle
      * recomputes the sums from the pixel formula, certifying real
      * per-frame raster access — unlike `media_frames`' byte-slice
      * container math. */
    "media_gif_frames" -> ((s, d) =>
      Multimodal.gifFrameStats(
          Multimodal.synthesizeGifs(t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("gray_sum"))
        .orderBy("doc_id", "frame_idx")),

    /** REAL ISO-BMFF parse ([[graft.ops.Multimodal.Mp4Codec]]): one
      * fixture MP4 per doc (spec-correct box tree from the deterministic
      * parameter formula), the box grammar walked for real — ftyp brand,
      * mvhd timescale/duration, tkhd 16.16 dimensions, stsz sample
      * table. The oracle recomputes every number arithmetically, so the
      * Spark side must parse actual box offsets to match. Honest scope:
      * container METADATA only, no codec decode. */
    "media_mp4_meta" -> ((s, d) =>
      Multimodal.mp4Meta(
          Multimodal.synthesizeMp4s(t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("brand"), col("timescale"),
          col("duration_ms"), col("width"), col("height"),
          col("n_samples"), col("sample_bytes"))
        .orderBy("doc_id")),

    /** REAL VIDEO PIXELS ([[graft.ops.AviCodec]] — RIFF/AVI container
      * walk, every '00dc' frame decoded by the from-scratch
      * [[graft.ops.JpegCodec]], baseline AND progressive frames in the
      * mix): exact per-doc frame counts, container-vs-frame dimension
      * cross-checks, and summed raw gray samples. The oracle replays
      * the per-(frame, block) pixel formula — a refusal anywhere
      * (container or any frame) surfaces as null stats. */
    "media_mjpeg_video" -> ((s, d) =>
      Multimodal.mjpegVideoStats(
          Multimodal.synthesizeMjpegs(t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("n_frames"), col("width"), col("height"),
          col("gray_sum"))
        .orderBy("doc_id")),

    /** REAL MPEG-1 Layer III frame-header walk ([[graft.ops.Mp3Codec]]
      * — 11-bit sync, bitrate/sample-rate tables, padding, VBR frame
      * lengths, ID3v2/v1 wrappers skipped; metadata scope like
      * media_mp4_meta): exact frame count, summed frame bytes, and
      * integer duration out of a real byte stream the oracle replays
      * arithmetically. */
    "media_mp3_meta" -> ((s, d) =>
      Multimodal.mp3Meta(
          Multimodal.synthesizeMp3s(t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("n_frames"), col("frame_bytes"), col("duration_ms"))
        .orderBy("doc_id")),

    /** REAL WAV decode ([[graft.ops.Multimodal.WavCodec]]): one fixture
      * RIFF/PCM WAV per doc from the deterministic sample formula, decoded
      * with javax.sound.sampled, exact integer sample stats out. PCM16 is
      * lossless, so decode must invert the encoder — the oracle computes
      * the same stats straight from the formula, certifying real sample
      * access (container parse + LE int16 reassembly + sign handling). */
    "media_audio" -> ((s, d) =>
      Multimodal.audioStats(
          Multimodal.synthesizeWavs(t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("sum_abs"), col("peak"), col("zero_cross"))
        .orderBy("doc_id")),

    /** FROM-SCRATCH FLAC decode ([[graft.ops.FlacCodec]] — frame sync +
      * CRC-8/16, fixed-predictor and verbatim subframes, Rice-partition
      * residuals; the JDK ships no FLAC reader): one fixture FLAC per
      * doc from the SAME deterministic sample formula as `media_audio`,
      * subframe strategy rotating by doc (verbatim / fixed order 1 /
      * fixed order 2 / real LPC), exact integer sample stats out. FLAC is
      * lossless, so decode must invert the encoder bit-exactly — the
      * oracle replays the formula; a refusal surfaces as null stats. */
    "media_flac" -> ((s, d) =>
      Multimodal.flacStats(
          Multimodal.synthesizeFlacs(t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("sum_abs"), col("peak"), col("zero_cross"))
        .orderBy("doc_id")),

    /** PERCEPTUAL image hashes over really-decoded rasters
      * ([[graft.ops.PerceptualHash]]): integer-exact DCT pHash (Q15
      * cosine table, 8×8 area-average grid, discrete-median threshold)
      * + wraparound gradient dHash, both 63-bit. The oracle replays
      * every integer from the fixture pixel formula — one flipped bit
      * in either signature fails the value hash. */
    "media_perceptual_hash" -> ((s, d) =>
      graft.ops.PerceptualHash.imageHashes(
          graft.ops.PerceptualHash.synthesizeNearDupImages(
            t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("phash"), col("dhash"))
        .orderBy("doc_id")),

    /** Perceptual NEAR-DUP pairs — the multimodal dedup leg: fixture
      * images share a base per doc_id%31 group with per-doc sparse
      * perturbations (+7 on every 19th pixel), so group members land a
      * few pHash bits apart and distinct groups ~32. Pairs come from
      * the banded chunk-pair Hamming LSH ([[graft.ops.Dedup
      * .signaturePairs]] — pigeonhole-complete at the radius, NEVER
      * all-pairs); the oracle brute-forces the identical hash set in
      * DuckDB, so LSH recall is certified against ground truth. Bucket
      * cap set beyond corpus size: zero drops, matching the oracle's
      * full recall (the capped regime is pinned by PerceptualHashSpec). */
    "media_phash_neardup" -> ((s, d) =>
      graft.ops.PerceptualHash.phashPairs(
          graft.ops.PerceptualHash.synthesizeNearDupImages(
            t(s, d, "documents").select("doc_id")),
          maxHamming = 8, maxBucketSize = 1000000)
        .orderBy("doc_a", "doc_b")),

    /** AUDIO fingerprints over really-decoded PCM
      * ([[graft.ops.AudioFingerprint]]): 9 windows × 8-bin integer DFT
      * (Q15 trig), L1 band magnitudes, time-derivative bits — a
      * Haitsma–Kalker-lineage fingerprint kept integer-exact so the
      * oracle replays all 63 bits from the fixture chirp formula. The
      * Spark side must invert a real WAV round trip first. */
    "media_audio_fingerprint" -> ((s, d) =>
      graft.ops.AudioFingerprint.audioFingerprints(
          graft.ops.AudioFingerprint.synthesizeNearDupWavs(
            t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("afp"))
        .orderBy("doc_id")),

    /** Audio NEAR-DUP pairs — the audio dedup leg: clips sharing
      * doc_id%31 render the same broadband chirp with per-doc sparse
      * +64 perturbations, landing a couple of fingerprint bits apart
      * (distinct groups ~32). Pairs via the banded chunk-pair Hamming
      * LSH ([[graft.ops.Dedup.signaturePairs]], never all-pairs); the
      * oracle brute-forces the identical fingerprint set, certifying
      * LSH recall. Bucket cap beyond corpus size: zero drops. */
    "media_audio_neardup" -> ((s, d) =>
      graft.ops.AudioFingerprint.afpPairs(
          graft.ops.AudioFingerprint.synthesizeNearDupWavs(
            t(s, d, "documents").select("doc_id")),
          maxHamming = 6, maxBucketSize = 1000000)
        .orderBy("doc_a", "doc_b")),

    /** ORIENTATION-CANONICAL pHash ([[graft.ops.PerceptualHash
      * .phashCanonical64]]): fractional-area resample (commutes exactly
      * with mirrors/rotations at ANY dims) → min DCT hash over the 8
      * dihedral orientations — flipped re-posts dedup as bit-identical.
      * The oracle replays all 8 orientations and their minimum. */
    "media_phash_canonical" -> ((s, d) =>
      graft.ops.PerceptualHash.imageHashes(
          graft.ops.PerceptualHash.synthesizeNearDupImages(
            t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("phash_canon"))
        .orderBy("doc_id")),

    /** Audio pairs → GROUPS ([[graft.ops.AudioFingerprint.afpGroups]]):
      * connected components over the fingerprint pairs — same canonical
      * election shape as the image side, proven against the recursive
      * reachability replay. */
    "media_audio_groups" -> ((s, d) =>
      graft.ops.AudioFingerprint.afpGroups(
          graft.ops.AudioFingerprint.synthesizeNearDupWavs(
            t(s, d, "documents").select("doc_id")),
          maxHamming = 6, maxBucketSize = 1000000)
        .orderBy("group_id")),

    /** INCREMENTAL audio near-dup ([[graft.ops.AudioFingerprint
      * .afpIncremental]]): re-minted batch vs corpus, batch-band ⋈
      * corpus-band only; oracle brute-forces batch×corpus. */
    "media_audio_incremental" -> ((s, d) => {
      val corpus = graft.ops.AudioFingerprint.synthesizeNearDupWavs(
        t(s, d, "documents").select("doc_id"))
      val batch = graft.ops.AudioFingerprint.synthesizeNearDupWavs(
        t(s, d, "documents").select("doc_id")
          .where(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      graft.ops.AudioFingerprint.afpIncremental(corpus, batch,
          maxHamming = 6, maxBucketSize = 1000000)
        .orderBy("batch_id", "corpus_id")
    }),

    /** Perceptual pairs → GROUPS ([[graft.ops.PerceptualHash
      * .phashGroups]]): connected components (alternating large/small
      * star) over the banded-LSH pairs, one canonical-electable group
      * per near-dup cluster — the op a media pipeline needs after any
      * pairwise detector. The oracle recomputes components via a
      * recursive reachability closure over brute-force pairs. */
    "media_phash_groups" -> ((s, d) =>
      graft.ops.PerceptualHash.phashGroups(
          graft.ops.PerceptualHash.synthesizeNearDupImages(
            t(s, d, "documents").select("doc_id")),
          maxHamming = 8, maxBucketSize = 1000000)
        .orderBy("group_id")),

    /** INCREMENTAL perceptual near-dup ([[graft.ops.PerceptualHash
      * .phashIncremental]]): an arriving batch (every 10th doc
      * re-minted at doc_id+1000000 — same group formula, new
      * perturbation phase) against the standing corpus; candidates are
      * batch-band ⋈ corpus-band ONLY, so per-batch cost scales with
      * the batch. The oracle brute-forces batch×corpus. */
    "media_phash_incremental" -> ((s, d) => {
      val corpus = graft.ops.PerceptualHash.synthesizeNearDupImages(
        t(s, d, "documents").select("doc_id"))
      val batch = graft.ops.PerceptualHash.synthesizeNearDupImages(
        t(s, d, "documents").select("doc_id")
          .where(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      graft.ops.PerceptualHash.phashIncremental(corpus, batch,
          maxHamming = 8, maxBucketSize = 1000000)
        .orderBy("batch_id", "corpus_id")
    }),

    /** Composed MEDIA curation funnel — the multimodal analogue of
      * `pipeline_curate`: perceptual keep-first dedup
      * ([[graft.ops.PerceptualHash.phashPairs]] → connected components,
      * canonical member survives) → decoded-raster quality gate (Sobel
      * gradient energy ≥ 30000 via [[graft.ops.Multimodal
      * .imageFeatures]]) → per-dimension corpus summary. Every stage is
      * map-side or a banded/semi/anti join — the composition proof for
      * a 100 TB media pipeline; the oracle replays all of it. */
    "pipeline_media_curate" -> ((s, d) => {
      val media = graft.ops.PerceptualHash.synthesizeNearDupImages(
        t(s, d, "documents").select("doc_id"))
      val pairs = graft.ops.PerceptualHash.phashPairs(media,
        maxHamming = 8, maxBucketSize = 1000000).select("doc_a", "doc_b")
      val losers = Dedup.connectedComponents(pairs)
        .where(col("node") =!= col("component"))
        .select(col("node").as("doc_id"))
      val kept = media.join(losers, Seq("doc_id"), "left_anti")
      Multimodal.imageFeatures(kept)
        .where(col("grad_x_energy") + col("grad_y_energy") >= 30000L)
        .groupBy("width", "height")
        .agg(count(lit(1)).as("n_images"),
          sum(col("grad_x_energy")).as("sum_gx"),
          sum(col("grad_y_energy")).as("sum_gy"))
        .orderBy("width", "height")
    }),

    /** Per-FRAME video perceptual hashes ([[graft.ops.PerceptualHash
      * .videoFrameHashes]]): every MJPEG/AVI fixture frame walked out
      * of the real RIFF container, JPEG-decoded from scratch, and
      * pHashed — the frame-level unit video near-dup composes from.
      * The oracle replays raster → grid → DCT → median per (doc,
      * frame). */
    "media_video_phash" -> ((s, d) =>
      graft.ops.PerceptualHash.videoFrameHashes(
          Multimodal.synthesizeMjpegs(t(s, d, "documents").select("doc_id")))
        .select(col("doc_id"), col("frame_idx"), col("phash"))
        .orderBy("doc_id", "frame_idx")),

    /** Deterministic epoch shuffle: md5-permuted, dealt round-robin into 8
      * shards with dense per-shard positions ([[Curation.epochShuffle]] —
      * two-pass range rank, no global window). */
    "corpus_shuffle" -> ((s, d) =>
      Curation.epochShuffle(t(s, d, "documents").select("doc_id"), seed = 42L,
          nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")),

    /** Keep-first exact paragraph dedup ([[Curation.dedupParagraphs]]):
      * every repeated 10-token span survives only at its first
      * (doc_id, idx) occurrence. Emits md5 of the deduped text (same
      * output-compression trick as text_boilerplate). */
    "text_paragraph_dedup" -> ((s, d) =>
      Curation.dedupParagraphs(t(s, d, "documents"), chunkWords = 10)
        .select(col("doc_id"), md5(col("text_dedup")).as("dedup_md5"),
          col("n_chunks"), col("n_dropped"))
        .orderBy("doc_id")),

    /** RAG/context-length sliding-window chunking
      * ([[TextOps.slidingChunks]]): 64-token windows every 48 tokens
      * (16-token overlap). Emits md5 of each chunk text. */
    "text_chunks" -> ((s, d) =>
      TextOps.slidingChunks(t(s, d, "documents"), window = 64, stride = 48)
        .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    /** HTML → text extraction ([[TextOps.extractHtmlText]]): each doc is
      * wrapped in a deterministic HTML page (style + script blocks, a
      * comment, block tags, `&nbsp;`-encoded body spaces, an `&amp;lt;`
      * double-escape probe) and the codegen regexp cascade must recover
      * the text — script/style content gone, entities decoded exactly
      * once, whitespace normalized. Emits md5 + length of the result. */
    "text_html_extract" -> ((s, d) => {
      val html = concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script>var x = 1 < 2;</script></head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><!-- generator: graft --><p>"),
        replace(col("text"), lit(" "), lit("&nbsp;")),
        lit("</p><ul><li>source &amp; "), col("source"),
        lit(" &amp;lt; tail</li></ul></body></html>"))
      graft.ops.Spread.spread(t(s, d, "documents"))
        .select(col("doc_id"), TextOps.extractHtmlText(html).as("extracted"))
        .select(col("doc_id"), md5(col("extracted")).as("extract_md5"),
          length(col("extracted")).as("n_chars"))
        .orderBy("doc_id")
    }),

    /** Per-domain link census ([[TextOps.domainCensus]]): URLs planted
      * deterministically into each doc (a `www.`-prefixed https URL with
      * a query string, and a mixed-case http URL followed by a prose
      * period the extractor must not eat), then extract → normalize
      * domain → count mentions and citing docs. The shuffle carries
      * (domain, doc_id) pairs only, never text. */
    "text_url_census" -> ((s, d) => {
      val planted = t(s, d, "documents").select(col("doc_id"),
        concat(lit("See https://www."), col("source"),
          lit(".example.com/p/"), (col("doc_id") % 50).cast("string"),
          lit("?ref=1 and http://cdn-"), (col("doc_id") % 7).cast("string"),
          lit(".Example.ORG/asset.js. "), col("text")).as("text"))
      TextOps.domainCensus(planted).orderBy("domain")
    }),

    /** Exact fixed-point PageRank ([[GraphOps.pageRank]]) over the
      * supplier→customer supply graph (distinct (l_suppkey,
      * o_custkey+1e6) pairs — realistic skewed in-degrees), 3
      * iterations at scale 1e9. All-integer arithmetic, so the ranks
      * are bit-identical across partitionings and engines — the
      * reproducibility a corpus quality weight needs. */
    "graph_pagerank" -> ((s, d) => {
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"),
          (col("o_custkey") + 1000000L).as("dst"))
      GraphOps.pageRank(edges, iters = 3)
        .select(col("node"), col("rank").as("pr"))
        .orderBy("node")
    }),

    /** BPE vocabulary learning ([[TextOps.bpeLearnMerges]]): 6 greedy
      * merges trained on the documents corpus — the training side of
      * `text_bpe`'s encoder, same doubled-replace fixpoint application,
      * (count DESC, pair ASC) tie-break. The oracle replays the full
      * greedy loop with 6 unrolled CTE stages. */
    "bpe_learn" -> ((s, d) =>
      TextOps.bpeLearnMerges(t(s, d, "documents"), k = 6)
        .orderBy("merge_rank")),

    /** Train → encode composition: learn 6 merges on the corpus, collect
      * them (bounded: k rows), and tokenize the SAME corpus with the
      * learned vocabulary through the codegen encoder cascade. Token
      * counts must equal the trained corpus state's — training and
      * encoding share the doubled-replace fixpoint semantics. */
    "bpe_train_encode" -> ((s, d) => {
      graft.functions.TextFunctions.ensureRegistered(s)
      val docs = t(s, d, "documents")
      val merges = TextOps.bpeLearnMerges(docs, k = 6)
        .orderBy("merge_rank").collect()
        .map(r => { val Array(a, b) = r.getString(1).split(" "); (a, b) })
        .toSeq
      graft.ops.Spread.spread(docs).select(col("doc_id"),
          TextOps.bpeTokenCount(col("text"), merges).as("n_tokens"))
        .orderBy("doc_id")
    }),

    /** Gopher quality-rule battery ([[TextOps.gopherQuality]]): integer
      * signals + composite keep verdict, thresholds tested by integer
      * cross-multiplication (engine-exact, no float ratios). minWords
      * lowered to 20 so the verdict discriminates on the synthetic
      * corpus. */
    "text_gopher" -> ((s, d) =>
      TextOps.gopherQuality(t(s, d, "documents"), minWords = 20)
        .orderBy("doc_id")),

    /** C4 cleaning-rule battery ([[TextOps.c4Quality]]): line-level
      * retention (≥5 words, terminal punctuation, no "javascript") +
      * document-level keep (≥3 sentences, no lorem ipsum / `{`). The
      * corpus has no raw line structure, so the query first line-ifies it
      * deterministically (a sentence break after every 10th token) — the
      * operator itself is general. */
    "text_c4" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), "((?:\\S+\\s+){9}\\S+)\\s+", "$1.\n")
          .as("text"))
      TextOps.c4Quality(docs).orderBy("doc_id")
    }),

    /** Unicode canonicalization ([[graft.ops.TextOps.normalizeUnicode]]):
      * every even doc gets an NFD-DECOMPOSED accented suffix (combining
      * marks, synthesized by the same kernel in decompose mode) and NFC
      * must re-compose it byte-exactly to the clean form the oracle
      * hashes — odd docs stay ASCII and must pass the isNormalized fast
      * path untouched. */
    "text_nfc" -> ((s, d) => {
      graft.functions.TextFunctions.ensureRegistered(s)
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"),
            graft.functions.TextFunctions.unicodeNormalize(
              lit(" — café naïve déjà vu"), "NFD")))
          .otherwise(col("text")).as("text"))
      TextOps.normalizeUnicode(dirty)
        .select(col("doc_id"), md5(col("text_norm")).as("norm_md5"),
          col("was_denormalized"))
        .orderBy("doc_id")
    }),

    /** Encoding repair ([[graft.ops.TextOps.fixEncoding]] — ftfy's core
      * fix, one codegen expression per row): the corpus is
      * deterministically corrupted — every doc_id%3==0 doc is
      * DOUBLE-ENCODED (UTF-8 bytes re-read as Latin-1) after a
      * non-ASCII suffix, %3==2 docs get a CLEAN accented suffix that
      * must stay untouched (its bytes are not valid multi-byte UTF-8),
      * %3==1 stay ASCII — and the repair must byte-exactly invert
      * exactly the corrupted third: the oracle hashes the CLEAN text,
      * never seeing the corruption. */
    "text_fix_mojibake" -> ((s, d) => {
      graft.functions.TextFunctions.ensureRegistered(s)
      val dirty = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          graft.functions.TextFunctions.mojibake(
            concat(col("text"), lit(" — café №42"))))
          .when(col("doc_id") % 3 === 2,
            concat(col("text"), lit(" – naïve café")))
          .otherwise(col("text")).as("text"))
      TextOps.fixEncoding(dirty)
        .select(col("doc_id"), md5(col("text_fixed")).as("fixed_md5"),
          col("was_mojibake"))
        .orderBy("doc_id")
    }),

    /** Incremental near-dup ([[Dedup.incrementalMinhashPairs]]): a batch
      * of suffix-mutated resubmissions (doc_id%5, ids offset 1e6) checked
      * against the full corpus by MinHash LSH — candidates only from
      * batch-band ⋈ corpus-band, never corpus×corpus. Replayed bit-exact
      * in DuckDB via the staged-xxh64 machinery
      * (tools/gen_incminhash_oracle.py). */
    "dedup_incremental_near" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" incremental probe suffix tokens")).as("text"))
      Dedup.incrementalMinhashPairs(batch, docs)
        .orderBy("batch_id", "corpus_id")
    }),

    // ---- lakehouse round-trips (round 9): the format writers lay down
    // REAL Delta / Hudi MOR / Iceberg tables from the sf input and the
    // readers take them back through checkpoint replay, log-merge, and
    // position-delete paths — the full interop loop inside the oracle
    // gate (the DuckDB side replays the SEMANTICS directly on orders) --

    /** Delta: partitioned create → rewrite one partition (prices ×2) →
      * checkpoint → log vacuum → read through checkpoint replay + the
      * single-scan [[graft.sources.StaticFileIndex]] plan. */
    "lake_delta_read" -> ((s, d) => {
      val root = lakeTmp(d, "delta")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.sink.DeltaWrite.create(orders, root, Seq("o_orderpriority"))
      val urgent = orders.where(col("o_orderpriority") === "1-URGENT")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.sink.DeltaWrite.replacePartition(urgent, root, "o_orderpriority", "1-URGENT")
      graft.sink.DeltaWrite.checkpoint(s, root)
      graft.sink.DeltaWrite.vacuumLog(s, root) // reader MUST use the checkpoint
      graft.sources.DeltaRead.snapshot(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderpriority")
    }),

    /** Hudi MOR: base at T1, delta-log updates (orderkey%10: status 'U',
      * price+1000) at T2, snapshot-merged read (base ∪ latest log record
      * per key). The log batch collect is bounded to the delta subset —
      * the MOR write-side unit by contract. */
    "lake_hudi_mor_read" -> ((s, d) => {
      val root = lakeTmp(d, "hudimor")
      val t1 = "20240101000000000"; val t2 = "20240102000000000"
      val base = t(s, d, "orders").select(
        col("o_orderkey").cast("string").as("_hoodie_record_key"),
        lit(t1).as("_hoodie_commit_time"),
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sink.HudiMorWrite.writeBase(base, root, "part=0", "fg1", t1)
      val updates = base.where(col("o_orderkey") % 10 === 0).select(
        col("_hoodie_record_key"), lit(t2).as("_hoodie_commit_time"),
        col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"))
      graft.sink.HudiMorWrite.appendLog(updates, root, "part=0", "fg1", t1, t2)
      graft.sources.HudiRead.snapshot(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),

    /** MOR with a 0.9-vintage DELETE log block: base at t1, updates at
      * t2 (orderkey%10), then a Kryo `HoodieKey[]` delete block at t3
      * hard-deleting orderkey%7 — the merged read must apply update,
      * tombstone, AND their election order through the real log-format
      * bytes ([[graft.sources.HudiLogFormat.deleteKeys]]). */
    "lake_hudi_mor_delete" -> ((s, d) => {
      val root = lakeTmp(d, "hudimordel")
      val t1 = "20240101000000000"; val t2 = "20240102000000000"
      val t3 = "20240103000000000"
      val base = t(s, d, "orders").select(
        col("o_orderkey").cast("string").as("_hoodie_record_key"),
        lit(t1).as("_hoodie_commit_time"),
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sink.HudiMorWrite.writeBase(base, root, "part=0", "fg1", t1)
      val updates = base.where(col("o_orderkey") % 10 === 0).select(
        col("_hoodie_record_key"), lit(t2).as("_hoodie_commit_time"),
        col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"))
      graft.sink.HudiMorWrite.appendLog(updates, root, "part=0", "fg1", t1, t2)
      val doomed = base.where(col("o_orderkey") % 7 === 0)
        .select("_hoodie_record_key")
      graft.sink.HudiMorWrite.appendDeleteLog(doomed, root, "part=0",
        "fg1", t1, t3)
      graft.sources.HudiRead.snapshot(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),

    /** Change Data Feed over a COLUMN-MAPPED (name-mode) Delta table:
      * files carry physical column names (`c-1`/`c-2`), the log carries
      * the mapping metadata, and the CDF read must scan physically,
      * synthesize insert/delete classes across two versions, and restore
      * the logical spelling — the round-9 gate, now a graded query. */
    "lake_delta_cdf_mapped" -> ((s, d) => {
      val root = lakeTmp(d, "deltacdfmap")
      val jq = (x: String) => graft.sources.DocPushdown.jsonMapper.writeValueAsString(x)
      def physWrite(sub: String, df: org.apache.spark.sql.DataFrame): (String, Long) = {
        val tmp = java.nio.file.Files.createTempDirectory("cdfmap")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = java.nio.file.Files.list(tmp)
          .filter(_.toString.endsWith(".parquet")).findFirst().get()
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, sub))
        val target = java.nio.file.Paths.get(root, sub, "f.parquet")
        java.nio.file.Files.copy(part, target)
        (s"$sub/f.parquet", java.nio.file.Files.size(target))
      }
      val src = t(s, d, "orders")
        .select(col("o_orderkey").as("c-1"), col("o_totalprice").as("c-2"))
      val mod = t(s, d, "orders").select(col("o_orderkey").as("c-1"),
        when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 1000.0)
          .otherwise(col("o_totalprice")).as("c-2"))
      val (p0, sz0) = physWrite("d0", src)
      val (p1, sz1) = physWrite("d1", mod)
      def fld(n: String, p: String, t: String, id: Int) =
        s"""{"name":"$n","type":"$t","nullable":true,"metadata":{""" +
          s""""delta.columnMapping.physicalName":"$p","delta.columnMapping.id":$id}}"""
      val schemaStr = s"""{"type":"struct","fields":[${
        fld("okey", "c-1", "long", 1)},${fld("oprice", "c-2", "double", 2)}]}"""
      val logDir = java.nio.file.Paths.get(root, "_delta_log")
      java.nio.file.Files.createDirectories(logDir)
      java.nio.file.Files.writeString(logDir.resolve(f"${0L}%020d.json"),
        """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""" + "\n" +
          s"""{"metaData":{"id":"m1","partitionColumns":[],"schemaString":${
            jq(schemaStr)},"format":{"provider":"parquet"},"configuration":{"delta.columnMapping.mode":"name"}}}""" + "\n" +
          s"""{"add":{"path":"$p0","partitionValues":{},"size":$sz0,"modificationTime":1,"dataChange":true}}""" + "\n")
      java.nio.file.Files.writeString(logDir.resolve(f"${1L}%020d.json"),
        s"""{"remove":{"path":"$p0","dataChange":true}}""" + "\n" +
          s"""{"add":{"path":"$p1","partitionValues":{},"size":$sz1,"modificationTime":2,"dataChange":true}}""" + "\n")
      graft.sources.DeltaRead.changes(s, root, 0L, 1L)
        .groupBy("_commit_version", "_change_type")
        .agg(count(lit(1)).as("n"), sum(col("okey")).as("sum_okey"),
          sum(col("oprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("_commit_version", "_change_type")
    }),

    /** COMPACTION under the oracle gate ([[graft.sink.HudiCompact]]):
      * the same MOR history as `lake_hudi_mor_delete` (base + update log
      * + 0.9 delete block), COMPACTED into fresh base files, then read —
      * the merged view must survive the service byte-for-byte while the
      * scan becomes pure parquet. */
    /** Hudi CLEAN service ([[graft.sink.HudiClean]] —
      * KEEP_LATEST_FILE_VERSIONS): a second upsert supersedes the first
      * base version, clean deletes it (asserted non-zero), and the tip
      * snapshot still equals the oracle's replay of both upserts —
      * retention removes bytes, never rows. */
    "lake_hudi_cleaned" -> ((s, d) => {
      val root = lakeTmp(d, "hudiclean")
      val t1 = "20240101000000000"; val t2 = "20240102000000000"
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "2-HIGH")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.HudiCowWrite.upsert(orders, root, "o_orderkey", t1)
      graft.sink.HudiCowWrite.upsert(
        orders.where(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        root, "o_orderkey", t2)
      val n = graft.sink.HudiClean.clean(s, root, "20240109000000000")
      require(n > 0, "clean must delete the superseded base version")
      graft.sources.HudiRead.snapshot(s, root)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    "lake_hudi_compacted" -> ((s, d) => {
      val root = lakeTmp(d, "hudicompact")
      val t1 = "20240101000000000"; val t2 = "20240102000000000"
      val t3 = "20240103000000000"; val t4 = "20240104000000000"
      val base = t(s, d, "orders").select(
        col("o_orderkey").cast("string").as("_hoodie_record_key"),
        lit(t1).as("_hoodie_commit_time"),
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sink.HudiMorWrite.writeBase(base, root, "part=0", "fg1", t1)
      val updates = base.where(col("o_orderkey") % 10 === 0).select(
        col("_hoodie_record_key"), lit(t2).as("_hoodie_commit_time"),
        col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"))
      graft.sink.HudiMorWrite.appendLog(updates, root, "part=0", "fg1", t1, t2)
      val doomed = base.where(col("o_orderkey") % 7 === 0)
        .select("_hoodie_record_key")
      graft.sink.HudiMorWrite.appendDeleteLog(doomed, root, "part=0",
        "fg1", t1, t3)
      graft.sink.HudiCompact.compact(s, root, t4)
      graft.sources.HudiRead.snapshot(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),

    /** ZERO-COPY format conversion ([[graft.sink.LakeConvert]]): write a
      * Delta table, convert its metadata to Iceberg in place (no data
      * bytes move), read it back through the ICEBERG reader — the
      * UniForm/XTable capability under the oracle gate. */
    "lake_convert_roundtrip" -> ((s, d) => {
      val root = lakeTmp(d, "convert")
      graft.sink.DeltaWrite.create(
        t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        root, Nil)
      graft.sink.LakeConvert.deltaToIceberg(s, root)
      graft.sources.IcebergRead.snapshot(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),

    /** Iceberg v2: data files + POSITION-delete files (orderkey%4 rows,
      * positions taken from Spark's own `_metadata.row_index` on
      * read-back) committed through the metadata chain, then the
      * merged-read drops exactly the deleted rows. */
    "lake_iceberg_read" -> ((s, d) => {
      val root = lakeTmp(d, "iceberg")
      t(s, d, "orders").select("o_orderkey", "o_totalprice")
        .write.parquet(s"$root/data")
      def list(sub: String): Seq[String] = {
        val dir = java.nio.file.Paths.get(root, sub)
        val st = java.nio.file.Files.list(dir)
        try st.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq
        finally st.close()
      }
      val dataFiles = list("data")
      s.read.parquet(dataFiles: _*)
        .where(col("o_orderkey") % 4 === 0)
        .select(
          // manifest spelling = plain absolute path; _metadata carries the
          // qualified file:/ form
          regexp_replace(col("_metadata.file_path"), "^file:", "").as("file_path"),
          col("_metadata.row_index").as("pos"))
        .write.parquet(s"$root/deletes")
      graft.sink.IcebergWrite.commit(s, root, dataFiles, list("deletes"))
      graft.sources.IcebergRead.snapshot(s, root)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Hudi as a CDC TARGET ([[graft.sink.HudiCowWrite.upsert]] —
      * real-layout COW upserts): two overlapping batches land on the
      * timeline, only file groups holding updated keys are rewritten,
      * and the snapshot must resolve latest-per-key — overlap keys carry
      * batch 2's doubled price, batch-1-only keys the original. */
    "lake_hudi_upsert" -> ((s, d) => {
      val root = lakeTmp(d, "hudiupsert")
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.HudiCowWrite.upsert(
        orders.where(col("o_orderkey") % 3 === 0), root, "o_orderkey",
        "20240101000000000")
      graft.sink.HudiCowWrite.upsert(
        orders.where(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2), root,
        "o_orderkey", "20240102000000000")
      graft.sources.HudiRead.snapshot(s, root)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Hudi PARTITIONED COW upserts ([[graft.sink.HudiCowWrite
      * .upsertPartitioned]] — the reference's normal write mode,
      * `hoodie.datasource.write.partitionpath.field`): two batches route
      * rows by `o_orderpriority` into hive-style partition dirs inside
      * single commits (one shuffled write job each, groups scoped per
      * partition), a third commit hard-deletes keys per partition, and
      * the snapshot must restore the partition column from the layout
      * with latest-per-key prices. */
    "lake_hudi_upsert_partitioned" -> ((s, d) => {
      val root = lakeTmp(d, "hudiupsertpart")
      val orders = t(s, d, "orders")
        .where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.sink.HudiCowWrite.upsertPartitioned(
        orders.where(col("o_orderkey") % 3 === 0), root, "o_orderkey",
        "o_orderpriority", "20240101000000000")
      graft.sink.HudiCowWrite.upsertPartitioned(
        orders.where(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2), root,
        "o_orderkey", "o_orderpriority", "20240102000000000")
      graft.sink.HudiCowWrite.deleteKeysPartitioned(
        orders.where(col("o_orderkey") % 6 === 0)
          .select(col("o_orderkey"), col("o_orderpriority")), root,
        "o_orderkey", "o_orderpriority", "20240103000000000")
      graft.sources.HudiRead.snapshot(s, root)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderpriority")
    }),

    /** Hudi MOR as a CDC TARGET ([[graft.streaming.LakeMirror
      * .applyBatchHudiMor]] — the production streaming-ingest shape):
      * two change epochs land as LOG-ONLY deltacommits (executor-side
      * Avro block writes, no base files at all), deletes as
      * `_hoodie_is_deleted` tombstones, and the merge-on-read snapshot
      * must resolve latest-per-key across the log stack. */
    "lake_hudi_mor_mirror" -> ((s, d) => {
      val root = lakeTmp(d, "hudimormirror")
      val rowSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice",
          org.apache.spark.sql.types.DoubleType)))
      val orders = t(s, d, "orders")
        .where(col("o_orderkey") % 6 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val feed0 = orders.select(lit(0L).as("version"),
        lit("insert").as("change_type"),
        to_json(struct(col("o_orderkey"), col("o_totalprice"))).as("row"))
      graft.streaming.LakeMirror.applyBatchHudiMor(s, feed0, root,
        "o_orderkey", rowSchema, epochId = 0L)
      val ups1 = orders.where(col("o_orderkey") % 30 === 0)
        .select(lit(1L).as("version"), lit("upsert").as("change_type"),
          to_json(struct(col("o_orderkey"),
            (col("o_totalprice") * 2).as("o_totalprice"))).as("row"))
      val dels1 = orders
        .where(col("o_orderkey") % 42 === 0 && col("o_orderkey") % 30 =!= 0)
        .select(lit(1L).as("version"), lit("delete").as("change_type"),
          to_json(struct(col("o_orderkey"),
            lit(null).cast("double").as("o_totalprice"))).as("row"))
      graft.streaming.LakeMirror.applyBatchHudiMor(s,
        ups1.unionByName(dels1), root, "o_orderkey", rowSchema, epochId = 1L)
      graft.sources.HudiRead.snapshot(s, root)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Hudi PARTITIONED COW scan ([[graft.sources.HudiRead]] hive-style
      * partition dirs → typed partition columns of one StaticFileIndex
      * scan): orders land one base file per priority partition with the
      * priority ONLY in the directory name (data files don't carry the
      * column), and the filtered aggregate must resolve partition values
      * from the layout — with the predicate pruning files at planning
      * time (plan-contract-pinned in HudiReadSpec). */
    "lake_hudi_partitioned" -> ((s, d) => {
      val root = lakeTmp(d, "hudipart")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      val pris = orders.select("o_orderpriority").distinct()
        .orderBy("o_orderpriority").collect().map(_.getString(0)).toSeq
      pris.zipWithIndex.foreach { case (p, i) =>
        val instant = (20240101000000000L + i).toString
        val rows = orders.where(col("o_orderpriority") === p)
          .withColumn("_hoodie_record_key", col("o_orderkey").cast("string"))
          .withColumn("_hoodie_commit_time", lit(instant))
          .drop("o_orderpriority")
        graft.sink.HudiMorWrite.writeBase(rows, root,
          s"o_orderpriority=$p", s"fg$i", instant)
      }
      graft.sources.HudiRead.snapshot(s, root)
        .where(col("o_orderpriority") === "1-URGENT")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Iceberg PARTITIONED scan ([[graft.sources.IcebergRead]] manifest
      * partition tuples → typed partition columns of one
      * StaticFileIndex scan): orders land one-file-per-priority with
      * the priority ONLY in the manifest's r102 `partition` struct
      * (data files don't carry the column), and the filtered aggregate
      * must resolve partition values from the manifests — with the
      * predicate pruning files at planning time (plan-contract-pinned
      * in IcebergPartitionSpec). */
    "lake_iceberg_partitioned" -> ((s, d) => {
      val root = lakeTmp(d, "icepart")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      orders.write.partitionBy("o_orderpriority").parquet(s"$root/data")
      val dataDir = java.nio.file.Paths.get(root, "data")
      val entries = {
        val dirs = java.nio.file.Files.list(dataDir)
        try dirs.iterator().asScala.toSeq
          .filter(p => p.getFileName.toString.startsWith("o_orderpriority="))
          .flatMap { dir =>
            val pri = dir.getFileName.toString.stripPrefix("o_orderpriority=")
            val fl = java.nio.file.Files.list(dir)
            try fl.iterator().asScala.toSeq
              .filter(_.toString.endsWith(".parquet"))
              .map(f => graft.sink.IcebergWrite.FileEntry(f.toString, 0, 1L,
                partition = Seq("o_orderpriority" -> pri),
                sizeInBytes = java.nio.file.Files.size(f)))
            finally fl.close()
          }
        finally dirs.close()
      }
      graft.sink.IcebergWrite.commitEntries(s, root, entries,
        Seq((1, "o_orderkey", "long"), (2, "o_totalprice", "double"),
          (3, "o_orderpriority", "string")), snapshotId = 1L)
      graft.sources.IcebergRead.snapshot(s, root)
        .where(col("o_orderpriority") === "1-URGENT")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Iceberg TAGS ([[graft.sink.IcebergWrite.setRef]] +
      * [[graft.sources.IcebergRead.snapshotAtRef]]): a tag pins the
      * first upsert's state by NAME; a second upsert moves the tip but
      * the tag still reads the pinned snapshot — `FOR VERSION AS OF
      * 'v1.0'` semantics, with expiry retaining pinned snapshots
      * (IcebergRefsSpec). The oracle replays the FIRST upsert only. */
    "lake_iceberg_tag" -> ((s, d) => {
      val root = lakeTmp(d, "icetag")
      val fields = Seq((1, "o_orderkey", "long"), (2, "o_totalprice", "double"))
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "3-MEDIUM")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.IcebergWrite.upsert(orders, root, Seq("o_orderkey"),
        fields, snapshotId = 1L, sequenceNumber = 1L)
      graft.sink.IcebergWrite.setRef(s, root, "v1.0", 1L)
      graft.sink.IcebergWrite.upsert(
        orders.withColumn("o_totalprice", col("o_totalprice") * 3),
        root, Seq("o_orderkey"), fields, snapshotId = 2L, sequenceNumber = 2L)
      graft.sources.IcebergRead.snapshotAtRef(s, root, "v1.0")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Iceberg HIDDEN PARTITIONING
      * ([[graft.sink.IcebergWrite.writeHiddenPartitioned]] +
      * [[graft.sources.TransformFileIndex]]): rows route by
      * `year(o_orderdate)` × `bucket[4](o_orderkey)` — spec-faithful
      * murmur3 — and the snapshot read prunes FILES through the
      * transforms from plain data-column predicates (no partition
      * column anywhere in the query). The oracle replays the same
      * filter over the raw table; pruning itself is plan-contract
      * pinned in IcebergTransformsSpec. */
    "lake_iceberg_hidden" -> ((s, d) => {
      val root = lakeTmp(d, "icehidden")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_totalprice"))
      graft.sink.IcebergWrite.writeHiddenPartitioned(orders, root,
        Seq(("od_year", "year", "o_orderdate"),
          ("ok_bucket", "bucket[4]", "o_orderkey")),
        Seq((1, "o_orderkey", "long"), (2, "o_orderdate", "date"),
          (3, "o_totalprice", "double")), snapshotId = 1L)
      graft.sources.IcebergRead.snapshot(s, root)
        .where(col("o_orderdate") >= lit(java.sql.Date.valueOf("1996-01-01")) &&
          col("o_orderkey") % 10 === 3)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Iceberg PARTITION EVOLUTION ([[graft.sink.IcebergWrite.commitEntries]]
      * spec evolution + the per-group [[graft.sources.TransformFileIndex]]):
      * era 1 lands under `year(o_orderdate)`, then the table evolves —
      * metadata-only — to `bucket[8](o_orderkey)` for era 2. ONE snapshot
      * scan serves both eras, pruning each file group through ITS OWN
      * spec (pinned in IcebergTransformsSpec); the oracle replays the
      * date filter over the raw table. */
    "lake_iceberg_evolution" -> ((s, d) => {
      val root = lakeTmp(d, "iceevolve")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_totalprice"))
      val fields = Seq((1, "o_orderkey", "long"), (2, "o_orderdate", "date"),
        (3, "o_totalprice", "double"))
      graft.sink.IcebergWrite.writeHiddenPartitioned(
        orders.where(col("o_orderkey") % 2 === 0), root,
        Seq(("od_year", "year", "o_orderdate")), fields, snapshotId = 1L)
      graft.sink.IcebergWrite.writeHiddenPartitioned(
        orders.where(col("o_orderkey") % 2 =!= 0), root,
        Seq(("ok_bucket", "bucket[8]", "o_orderkey")), fields, snapshotId = 2L)
      graft.sources.IcebergRead.snapshot(s, root)
        .where(col("o_orderdate") >= lit(java.sql.Date.valueOf("1997-01-01")))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Iceberg as a CDC TARGET ([[graft.sink.IcebergWrite.upsert]] — v2
      * equality-delete upserts): two overlapping batches land, each as
      * data files + an equality-delete file over the key at one
      * sequence number; the reader's strict `delete.seq > data.seq`
      * merge must resolve latest-per-key — overlap keys carry batch 2's
      * doubled price, batch-1-only keys the original. */
    "lake_iceberg_upsert" -> ((s, d) => {
      val root = lakeTmp(d, "iceupsert")
      // urgent slice: the oracle grades the delete-merge semantics, not
      // bulk write throughput (same trim as lake_delta_update_cdf)
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      val fields = Seq((1, "o_orderkey", "long"), (2, "o_totalprice", "double"))
      graft.sink.IcebergWrite.upsert(
        orders.where(col("o_orderkey") % 3 === 0), root,
        Seq("o_orderkey"), fields, snapshotId = 1L, sequenceNumber = 1L)
      graft.sink.IcebergWrite.upsert(
        orders.where(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2), root,
        Seq("o_orderkey"), fields, snapshotId = 2L, sequenceNumber = 2L)
      graft.sources.IcebergRead.snapshot(s, root)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Iceberg POSITION-DELETE write ([[graft.sink.IcebergWrite
      * .deleteWhere]] — row-level DELETE WHERE with NO data-file
      * rewrite): matched rows become real `(file_path, pos)` delete
      * parquet committed as a content=1 entry, and the snapshot read
      * must anti-join them out via `_metadata` row indexes. */
    "lake_iceberg_posdelete" -> ((s, d) => {
      val root = lakeTmp(d, "iceposdel")
      val orders = t(s, d, "orders")
        .where(col("o_orderkey") % 9 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val fields = Seq((1, "o_orderkey", "long"), (2, "o_totalprice", "double"))
      graft.sink.IcebergWrite.upsert(orders, root,
        Seq("o_orderkey"), fields, snapshotId = 1L, sequenceNumber = 1L)
      graft.sink.IcebergWrite.deleteWhere(s, root, "o_orderkey % 2 = 0",
        snapshotId = 2L, sequenceNumber = 2L)
      graft.sources.IcebergRead.snapshot(s, root)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Iceberg FORMAT-V3 DELETION VECTORS ([[graft.sink.IcebergWrite
      * .deleteWhereDv]] + [[graft.sources.Puffin]]): two row-level
      * deletes land as `deletion-vector-v1` roaring-bitmap blobs in
      * real puffin sidecars (manifest entries carry
      * `referenced_data_file`/`content_offset`/`content_size_in_bytes`,
      * metadata flips to `format-version: 3`), and the snapshot read
      * expands the blobs executor-side into the position anti-join —
      * accumulated DVs union per file. */
    "lake_iceberg_dv" -> ((s, d) => {
      val root = lakeTmp(d, "icedv")
      val orders = t(s, d, "orders")
        .where(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val fields = Seq((1, "o_orderkey", "long"), (2, "o_totalprice", "double"))
      graft.sink.IcebergWrite.upsert(orders, root,
        Seq("o_orderkey"), fields, snapshotId = 1L, sequenceNumber = 1L)
      graft.sink.IcebergWrite.deleteWhereDv(s, root, "o_orderkey % 3 = 0",
        snapshotId = 2L, sequenceNumber = 2L)
      graft.sink.IcebergWrite.deleteWhereDv(s, root, "o_orderkey % 5 = 0",
        snapshotId = 3L, sequenceNumber = 3L)
      graft.sources.IcebergRead.snapshot(s, root)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Iceberg CHANGELOG scan ([[graft.sources.IcebergRead.changelog]] —
      * the read that makes upsert histories TAILABLE): three
      * equality-delete commits ([[graft.sink.IcebergWrite.upsert]] ×2 +
      * `deleteKeys`) net into per-snapshot (delete, upsert) change rows
      * by diffing each snapshot's manifest list against its
      * predecessor's — an upsert snapshot emits its data files as
      * `upsert` AND its equality-delete file's key tuples as `delete`
      * (the downstream election resolves same-version ties), a
      * delete-only snapshot emits just `delete`. The oracle replays the
      * per-(version, class) row counts and key sums arithmetically. */
    "lake_iceberg_changelog" -> ((s, d) => {
      val root = lakeTmp(d, "icechangelog")
      val orders = t(s, d, "orders")
        .where(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val fields = Seq((1, "o_orderkey", "long"), (2, "o_totalprice", "double"))
      graft.sink.IcebergWrite.upsert(
        orders.where(col("o_orderkey") % 3 === 0), root,
        Seq("o_orderkey"), fields, snapshotId = 1L, sequenceNumber = 1L)
      graft.sink.IcebergWrite.upsert(
        orders.where(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2), root,
        Seq("o_orderkey"), fields, snapshotId = 2L, sequenceNumber = 2L)
      graft.sink.IcebergWrite.deleteKeys(
        orders.where(col("o_orderkey") % 8 === 0).select("o_orderkey"),
        root, Seq("o_orderkey"), fields, snapshotId = 3L, sequenceNumber = 3L)
      graft.sources.IcebergRead.changelog(s, root)
        .groupBy(col("version"), col("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).cast("long").as("key_sum"))
        .orderBy("version", "change_type")
    }),

    /** Iceberg SCHEMA EVOLUTION on read ([[graft.sources.IcebergRead]]
      * field-id resolution + [[graft.sink.IcebergWrite.updateSchema]]):
      * data files are written with Iceberg-style `parquet.field.id`
      * footers under the ORIGINAL column names, the table schema then
      * renames `o_totalprice` → `total_price` (same field id — a
      * metadata-only rename, Iceberg's contract), and the snapshot read
      * must surface the OLD files' values under the NEW name by
      * resolving columns through the ids, not the names. */
    "lake_iceberg_rename" -> ((s, d) => {
      val root = lakeTmp(d, "icerename")
      def fid(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("parquet.field.id", id).build()
      s.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      t(s, d, "orders")
        .select(col("o_orderkey").as("o_orderkey", fid(1)),
          col("o_totalprice").as("o_totalprice", fid(2)))
        .write.parquet(s"$root/data")
      def list(sub: String): Seq[String] = {
        val dir = java.nio.file.Paths.get(root, sub)
        val st = java.nio.file.Files.list(dir)
        try st.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq
        finally st.close()
      }
      graft.sink.IcebergWrite.commitEntries(s, root,
        list("data").map(graft.sink.IcebergWrite.FileEntry(_, 0, 1L)),
        Seq((1, "o_orderkey", "long"), (2, "o_totalprice", "double")),
        snapshotId = 1L)
      graft.sink.IcebergWrite.updateSchema(s, root,
        Seq((1, "o_orderkey", "long"), (2, "total_price", "double")))
      graft.sources.IcebergRead.snapshot(s, root)
        .where(col("o_orderkey") % 3 === 0)
        .agg(count(lit(1)).as("n"),
          sum(col("total_price").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** ANY→ANY replication under the oracle
      * ([[graft.streaming.LakeMirror.applyBatchIceberg]]): a Delta
      * table (create + row-level UPDATE with CDF) is mirrored into a
      * real ICEBERG table through the change feed's own
      * (version, change_type, row-json) contract — latest-per-key
      * election must pick each update's postimage over its preimage,
      * and the Iceberg snapshot read back must equal the Delta end
      * state the oracle computes. */
    "lake_mirror_roundtrip" -> ((s, d) => {
      val src = lakeTmp(d, "mirrorsrc")
      val dst = lakeTmp(d, "mirrordst")
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.DeltaWrite.create(orders, src, Nil)
      graft.sink.DeltaWrite.updateWhere(s, src, "o_orderkey % 10 = 0",
        Map("o_totalprice" -> "o_totalprice + 1000"))
      val feed = graft.sources.DeltaRead.changes(s, src, 0L,
          graft.sources.DeltaRead.latestVersion(s, src))
        .select(col("_commit_version").as("version"),
          col("_change_type").as("change_type"),
          to_json(struct(col("o_orderkey"), col("o_totalprice"))).as("row"))
      val rowSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice",
          org.apache.spark.sql.types.DoubleType)))
      graft.streaming.LakeMirror.applyBatchIceberg(s, feed, dst,
        Seq("o_orderkey"),
        Seq((1, "o_orderkey", "long"), (2, "o_totalprice", "double")),
        rowSchema, epochId = 0L)
      graft.sources.IcebergRead.snapshot(s, dst)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** SQL-native lake reads ([[graft.functions.LakeTableFunctions]] —
      * table-valued functions over the format readers): the aggregate
      * runs through `spark.sql("... FROM graft_delta('path')")`, so the
      * TVF's resolved plan must be the same one-scan snapshot the
      * programmatic path builds. */
    "lake_sql_tvf" -> ((s, d) => {
      graft.functions.LakeTableFunctions.ensureRegistered(s)
      val root = lakeTmp(d, "tvf")
      val orders = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.DeltaWrite.create(
        orders.where(col("o_orderkey") % 5 === 0), root, Nil)
      s.sql(s"""SELECT count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft_delta('$root')""")
    }),

    /** Table-summary TVF (`graft_bucketed_stats` —
      * [[graft.sources.BucketedLake.stats]], DESCRIBE DETAIL shape):
      * ONE metadata row — layout, live totals, key-NDV — from one
      * manifest read, zero data IO. The oracle recomputes the row
      * count for real, so the manifest totals (and write-time row
      * accounting) are certified, not self-reported. */
    "lake_sql_stats_tvf" -> ((s, d) => {
      graft.functions.LakeTableFunctions.ensureRegistered(s)
      val root = lakeTmp(d, "statstvf")
      graft.sources.BucketedLake.write(
        t(s, d, "orders").select("o_orderkey", "o_totalprice"),
        s"$root/orders", "o_orderkey", 8)
      s.sql(s"""SELECT key, buckets, partition_cols,
        files > 0 AS has_files, rows
        FROM graft_bucketed_stats('$root/orders')""")
    }),

    /** Data-quality EXPECTATIONS metrics ([[graft.ops.Expectations
      * .metrics]] — the DLT `expect` contract): per-rule violation
      * counts over lineitem in ONE map-side aggregate (job-count
      * pinned in ExpectationsSpec); a NULL check result counts as a
      * violation, which the oracle replays via the same
      * `NOT coalesce(cond, false)` shape. */
    "dq_expectations" -> ((s, d) => {
      import graft.ops.Expectations._
      metrics(t(s, d, "lineitem"), Seq(
        Rule("qty_bounds", "l_quantity BETWEEN 1 AND 50", Warn),
        Rule("discount_low", "l_discount <= 0.05", Drop),
        Rule("flag_known", "l_returnflag IN ('A','N','R')", Warn)))
        .orderBy("rule")
    }),

    /** Expectation ROUTING ([[graft.ops.Expectations.split]]): Drop
      * rules gate rows into a dead-letter side, Warn rules only
      * annotate — the oracle replays both sides' counts and sums from
      * the gating predicate alone (the warn rule must NOT affect
      * routing). */
    "dq_quarantine" -> ((s, d) => {
      import graft.ops.Expectations._
      val (passed, quarantined) = split(t(s, d, "lineitem"), Seq(
        Rule("discount_low", "l_discount <= 0.05", Drop),
        Rule("qty_bounds", "l_quantity <= 30", Warn)))
      def side(df: org.apache.spark.sql.DataFrame, label: String) =
        df.agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
          .select(lit(label).as("side"), col("n"), col("total"))
      side(passed, "passed")
        .unionByName(side(quarantined.drop("_violations"), "quarantined"))
        .orderBy("side")
    }),

    /** Avro object-container ROUND TRIP ([[graft.sources.AvroSource]]):
      * a lineitem slice lands as deflate container files with a small
      * sync interval, then reads back through the sync-marker SPLIT
      * scan (many tasks per file — the shape that keeps a handful of
      * huge Avro files parallel at 100 TB); the oracle replays the
      * aggregate over the parquet original. */
    "q_avro_roundtrip" -> ((s, d) => {
      val root = lakeTmp(d, "avrosrc")
      val li = t(s, d, "lineitem")
        .where(col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_shipdate").cast("date").as("l_shipdate"),
          col("l_returnflag"))
      graft.sources.AvroSource.write(li.repartition(2), root,
        codec = "deflate", syncIntervalBytes = 4096)
      graft.sources.AvroSource.read(s, root, maxSplitBytes = 64 * 1024)
        .where(col("l_shipdate") >= lit(java.sql.Date.valueOf("1995-01-01")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("qty"))
        .orderBy("l_returnflag")
    }),

    /** DESCRIBE HISTORY as SQL ([[graft.sources.DeltaRead.history]] via
      * the `graft_delta_history` TVF): four commits — CTAS, append, DV
      * delete, REORG PURGE — each stamped with the protocol's
      * `commitInfo.operation` by [[graft.sink.DeltaWrite]]; the oracle
      * pins versions, operations, action counts, and the dataChange
      * flags (the purge is the one data_change=false commit). */
    "lake_delta_history" -> ((s, d) => {
      graft.functions.LakeTableFunctions.ensureRegistered(s)
      val root = lakeTmp(d, "deltahist")
      val orders = t(s, d, "orders").where(col("o_orderpriority") === "2-HIGH")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.DeltaWrite.create(orders.repartition(2), root, Nil)
      graft.sink.DeltaWrite.append(
        orders.where(col("o_orderkey") % 7 === 0).coalesce(1), root)
      graft.sink.DeltaWrite.deleteWhere(s, root, "o_orderkey % 2 = 0")
      graft.sink.DeltaWrite.purgeDeletionVectors(s, root)
      s.sql(s"""SELECT CAST(version AS BIGINT) AS version, operation,
        CAST(num_added_files AS BIGINT) AS adds,
        CAST(num_removed_files AS BIGINT) AS removes, data_change
        FROM graft_delta_history('$root') ORDER BY version""")
    }),

    /** The Iceberg `snapshots` metadata table as SQL
      * ([[graft.sources.IcebergRead.snapshotsMeta]] via
      * `graft_iceberg_snapshots`): two equality-delete upserts; each
      * snapshot's row carries its FULL file state (manifest lists are
      * complete states, not deltas) and the `overwrite` operation the
      * append-only gates key off. */
    "lake_iceberg_snapshots" -> ((s, d) => {
      graft.functions.LakeTableFunctions.ensureRegistered(s)
      val root = lakeTmp(d, "icesnaps")
      val orders = t(s, d, "orders").where(col("o_orderpriority") === "5-LOW")
        .select(col("o_orderkey"), col("o_totalprice"))
      val fields = Seq((1, "o_orderkey", "long"), (2, "o_totalprice", "double"))
      graft.sink.IcebergWrite.upsert(orders.coalesce(1), root,
        Seq("o_orderkey"), fields, snapshotId = 1L, sequenceNumber = 1L)
      graft.sink.IcebergWrite.upsert(
        orders.withColumn("o_totalprice", col("o_totalprice") * 2).coalesce(1),
        root, Seq("o_orderkey"), fields, snapshotId = 2L, sequenceNumber = 2L)
      s.sql(s"""SELECT CAST(snapshot_id AS BIGINT) AS snapshot_id,
        CAST(timestamp_ms AS BIGINT) AS timestamp_ms, operation,
        CAST(data_files AS BIGINT) AS data_files,
        CAST(delete_files AS BIGINT) AS delete_files
        FROM graft_iceberg_snapshots('$root') ORDER BY snapshot_id""")
    }),

    /** The Hudi `.hoodie` timeline as SQL ([[graft.sources.HudiRead
      * .timeline]] via `graft_hudi_timeline`): two upserts + a key
      * delete, all completed commit instants — the observability
      * surface a replication operator monitors. */
    "lake_hudi_timeline" -> ((s, d) => {
      graft.functions.LakeTableFunctions.ensureRegistered(s)
      val root = lakeTmp(d, "huditl")
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "4-NOT SPECIFIED")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.HudiCowWrite.upsert(orders, root, "o_orderkey",
        "00000000000000001")
      graft.sink.HudiCowWrite.upsert(
        orders.withColumn("o_totalprice", col("o_totalprice") * 2), root,
        "o_orderkey", "00000000000000002")
      graft.sink.HudiCowWrite.deleteKeys(
        orders.select("o_orderkey").where(col("o_orderkey") % 2 === 0), root,
        "o_orderkey", "00000000000000003")
      s.sql(s"""SELECT instant, action, state
        FROM graft_hudi_timeline('$root') ORDER BY instant""")
    }),

    /** SQL-native CHANGELOG read (`graft_iceberg_changelog` TVF over
      * [[graft.sources.IcebergRead.changelog]]): an upsert + delete
      * history queried entirely through `spark.sql`, per-(version,
      * class) row counts and key sums replayed by the oracle. */
    "lake_sql_changelog_tvf" -> ((s, d) => {
      graft.functions.LakeTableFunctions.ensureRegistered(s)
      val root = lakeTmp(d, "tvfchg")
      val orders = t(s, d, "orders").where(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val fields = Seq((1, "o_orderkey", "long"), (2, "o_totalprice", "double"))
      graft.sink.IcebergWrite.upsert(
        orders.where(col("o_orderkey") % 2 === 0), root,
        Seq("o_orderkey"), fields, snapshotId = 1L, sequenceNumber = 1L)
      graft.sink.IcebergWrite.deleteKeys(
        orders.where(col("o_orderkey") % 4 === 0).select("o_orderkey"),
        root, Seq("o_orderkey"), fields, snapshotId = 2L, sequenceNumber = 2L)
      s.sql(s"""SELECT version, change_type, count(*) AS n,
        CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM graft_iceberg_changelog('$root')
        GROUP BY version, change_type ORDER BY version, change_type""")
    }),

    /** SQL-native Delta CHANGE DATA FEED (`graft_delta_cdf` TVF over
      * [[graft.sources.DeltaRead.changes]]): a row-level UPDATE's real
      * cdc pre/postimages aggregated entirely through `spark.sql`. */
    "lake_sql_cdf_tvf" -> ((s, d) => {
      graft.functions.LakeTableFunctions.ensureRegistered(s)
      val root = lakeTmp(d, "tvfcdf")
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "2-HIGH")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.DeltaWrite.create(orders, root, Nil)
      graft.sink.DeltaWrite.updateWhere(s, root, "o_orderkey % 9 = 0",
        Map("o_totalprice" -> "o_totalprice * 3"))
      s.sql(s"""SELECT _change_type, count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft_delta_cdf('$root', 1)
        GROUP BY _change_type ORDER BY _change_type""")
    }),

    /** SQL-native Hudi INCREMENTAL pull (`graft_hudi_incremental` TVF
      * over [[graft.sources.HudiRead.incremental]]): rows committed
      * after the first instant — COW carried rows must NOT re-emit. */
    "lake_sql_hudi_inc_tvf" -> ((s, d) => {
      graft.functions.LakeTableFunctions.ensureRegistered(s)
      val root = lakeTmp(d, "tvfhudi")
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "3-MEDIUM")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.HudiCowWrite.upsert(
        orders.where(col("o_orderkey") % 3 === 0), root, "o_orderkey",
        "20240101000000000")
      graft.sink.HudiCowWrite.upsert(
        orders.where(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2), root,
        "o_orderkey", "20240102000000000")
      s.sql(s"""SELECT count(*) AS n,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft_hudi_incremental('$root', '20240101000000000')""")
    }),

    /** Streaming-sink exactly-once via SetTransaction
      * ([[graft.sink.DeltaWrite.appendTxn]]): three batches land, one of
      * them REPLAYED (at-least-once delivery) — the txn watermark must
      * skip the replay, or the %3==1 slice double-counts and the hash
      * mismatches the every-row-once oracle. */
    "lake_delta_txn" -> ((s, d) => {
      val root = lakeTmp(d, "deltatxn")
      val orders = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.DeltaWrite.create(
        orders.where(col("o_orderkey") % 3 === 0), root, Nil)
      val b1 = orders.where(col("o_orderkey") % 3 === 1)
      graft.sink.DeltaWrite.appendTxn(b1, root, "graft-stream", 1L)
      graft.sink.DeltaWrite.appendTxn(b1, root, "graft-stream", 1L) // replay
      graft.sink.DeltaWrite.appendTxn(
        orders.where(col("o_orderkey") % 3 === 2), root, "graft-stream", 2L)
      graft.sources.DeltaRead.snapshot(s, root)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Row-level Delta UPDATE with CDF emission
      * ([[graft.sink.DeltaWrite.updateWhere]]): every tenth order gets
      * its price bumped; the change feed for the UPDATE version must
      * carry exactly the matched rows as `update_preimage` (old price)
      * + `update_postimage` (new price) from the `_change_data` cdc
      * files — never a synthesized whole-file insert+delete — and the
      * final snapshot must reflect the rewrite. */
    "lake_delta_update_cdf" -> ((s, d) => {
      val root = lakeTmp(d, "deltaupd")
      // urgent orders only, unpartitioned: the partitioned-update leg is
      // spec-pinned (DeltaCdfSpec); the oracle grades the row-level
      // pre/postimage semantics without a 5-partition full-table rewrite
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.DeltaWrite.create(orders, root, Nil)
      graft.sink.DeltaWrite.updateWhere(s, root, "o_orderkey % 10 = 0",
        Map("o_totalprice" -> "o_totalprice + 1000"))
      val feed = graft.sources.DeltaRead.changes(s, root, 1L, 1L) // v1 only
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
      val snap = graft.sources.DeltaRead.snapshot(s, root)
        .agg(lit("snapshot").as("_change_type"), count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .select("_change_type", "n", "total")
      feed.unionByName(snap).orderBy("_change_type")
    }),

    /** Incremental materialized-view maintenance: a count/sum/min/max
      * GROUP BY view maintained from Delta CDF change rows WITHOUT
      * re-aggregating the source — epoch 0 folds the initial load,
      * epoch 1 folds a row-level update (pre+postimages) plus deletes,
      * recomputing min/max only for groups whose stored extreme was
      * removed (pruned to those groups). The oracle recomputes the end
      * state from scratch — incremental == full is the whole claim. */
    "lake_ivm_agg" -> ((s, d) => {
      import graft.streaming.IncrementalAgg
      val root = lakeTmp(d, "ivm")
      val src = s"$root/src"; val viewPath = s"$root/view"
      // a fifth of orders: the fixture WRITES a Delta table and applies
      // two IVM epochs — semantics are scale-invariant, bench cost is not
      val orders = t(s, d, "orders")
        .where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_custkey"),
          col("o_orderdate"))
      graft.sink.DeltaWrite.create(orders, src, Nil)
      val spec = IncrementalAgg.ViewSpec(Seq("o_orderpriority"),
        sumCols = Seq("o_custkey"), minCols = Seq("o_orderdate"),
        maxCols = Seq("o_orderdate"), buckets = 8)
      IncrementalAgg.applyChanges(s,
        graft.sources.DeltaRead.changes(s, src, 0L, 0L)
          .drop("_commit_version"),
        viewPath, spec, 0L,
        () => graft.sources.DeltaRead.snapshot(s, src, Some(0L)))
      graft.sink.DeltaWrite.updateWhere(s, src, "o_orderkey % 7 = 0",
        Map("o_custkey" -> "o_custkey + 100"))
      graft.sink.DeltaWrite.deleteWhere(s, src, "o_orderkey % 13 = 0",
        emitCdc = true)
      IncrementalAgg.applyChanges(s,
        graft.sources.DeltaRead.changes(s, src, 1L, 2L)
          .drop("_commit_version"),
        viewPath, spec, 1L,
        () => graft.sources.DeltaRead.snapshot(s, src))
      IncrementalAgg.read(s, viewPath, spec)
        .select(col("o_orderpriority"), col("view_count"),
          col("sum_o_custkey"), col("min_o_orderdate"),
          col("max_o_orderdate"))
        .orderBy("o_orderpriority")
    }),

    /** Incremental COUNT(DISTINCT) over a FILTERED view: the same CDF
      * feed maintains `count(*)` + `count(DISTINCT custkey)` per
      * priority, restricted to `ck % 3 = 0` — the update bumps custkey
      * by 100 (every updated row CROSSES the filter boundary: (ck+100)
      * mod 3 = (ck+1) mod 3), so the σ-delta rule and the value
      * sub-state both get exercised. Distinct counts are EXACT and
      * additive (per-(group, value) sub-state; no source re-read, no
      * sketch); the oracle recomputes the end state from scratch. */
    /** IVM OVER A JOIN ([[graft.streaming.IncrementalAgg.joinDelta]]):
      * the delta-join rule (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) turns per-side change
      * batches into an exact change feed of the JOINED relation, which
      * then folds through the same bucketed additive state — the
      * continuous-mart shape a binlog/pg feed needs. Epoch 0 loads both
      * sides; epoch 1 deletes fact rows AND re-segments dimension rows
      * in ONE batch (both delta terms and the ΔA⋈ΔB corner live). */
    "lake_ivm_join" -> ((s, d) => {
      import graft.streaming.IncrementalAgg
      val root = lakeTmp(d, "ivmjoin")
      val viewPath = s"$root/view"
      val a = t(s, d, "orders").where(col("o_orderkey") % 5 === 0)
        .select(col("o_custkey").as("custkey"), col("o_orderkey"))
      val b = t(s, d, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      val spec = IncrementalAgg.ViewSpec(Seq("c_mktsegment"),
        sumCols = Seq("o_orderkey"), buckets = 8)
      val emptyA = a.limit(0); val emptyB = b.limit(0)
      IncrementalAgg.applyJoinChanges(s,
        a.withColumn("change_type", lit("insert")),
        b.withColumn("change_type", lit("insert")),
        emptyA, emptyB, Seq("custkey"), viewPath, spec, 0L)
      // epoch 1: delete %13 fact rows; move %7 dimension rows to a new
      // segment (preimage+postimage) — both sides change at once
      val chA = a.where(col("o_orderkey") % 13 === 0)
        .withColumn("change_type", lit("delete"))
      val movedB = b.where(col("custkey") % 7 === 0)
      val chB = movedB.withColumn("change_type", lit("update_preimage"))
        .unionByName(movedB
          .withColumn("c_mktsegment", lit("MOVED"))
          .withColumn("change_type", lit("update_postimage")))
      IncrementalAgg.applyJoinChanges(s, chA, chB, a, b,
        Seq("custkey"), viewPath, spec, 1L)
      IncrementalAgg.read(s, viewPath, spec)
        .select(col("c_mktsegment"), col("view_count"),
          col("sum_o_orderkey"))
        .orderBy("c_mktsegment")
    }),

    "lake_ivm_distinct" -> ((s, d) => {
      import graft.streaming.IncrementalAgg
      val root = lakeTmp(d, "ivmd")
      val src = s"$root/src"; val viewPath = s"$root/view"
      val orders = t(s, d, "orders")
        .where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_custkey"))
      graft.sink.DeltaWrite.create(orders, src, Nil)
      val spec = IncrementalAgg.ViewSpec(Seq("o_orderpriority"),
        distinctCols = Seq("o_custkey"),
        filter = Some("o_custkey % 3 = 0"), buckets = 8)
      val boom = () => throw new IllegalStateException(
        "distinct IVM must never read the source")
      IncrementalAgg.applyChanges(s,
        graft.sources.DeltaRead.changes(s, src, 0L, 0L)
          .drop("_commit_version"),
        viewPath, spec, 0L, boom)
      graft.sink.DeltaWrite.updateWhere(s, src, "o_orderkey % 7 = 0",
        Map("o_custkey" -> "o_custkey + 100"))
      graft.sink.DeltaWrite.deleteWhere(s, src, "o_orderkey % 13 = 0",
        emitCdc = true)
      IncrementalAgg.applyChanges(s,
        graft.sources.DeltaRead.changes(s, src, 1L, 2L)
          .drop("_commit_version"),
        viewPath, spec, 1L, boom)
      IncrementalAgg.read(s, viewPath, spec)
        .select(col("o_orderpriority"), col("view_count"),
          col("nd_o_custkey"))
        .orderBy("o_orderpriority")
    }),

    /** Storage-partitioned join over the bucketed graft lake: orders and
      * customer both hash-bucketed on custkey, joined through the
      * [[graft.sources.GraftBucketCatalog]] V2 catalog whose scans report
      * KeyGroupedPartitioning — the join runs WITHOUT shuffling either
      * side (plan-contract-pinned in BucketedLakeSpec; at 100 TB the
      * deleted exchange is the dominant cost of a fact-fact join). */
    "lake_bucketed_join" -> ((s, d) => {
      val root = lakeTmp(d, "bkjoin")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      graft.sources.BucketedLake.write(
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        s"$root/orders", "o_custkey", 8)
      graft.sources.BucketedLake.write(
        t(s, d, "customer").select("c_custkey", "c_mktsegment"),
        s"$root/customer", "c_custkey", 8)
      s.read.table(s"graft_bk.`$root/orders`").hint("merge")
        .join(s.read.table(s"graft_bk.`$root/customer`"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("c_mktsegment")
    }),

    /** Arrow IPC round trip: orders written as REAL Arrow file bytes
      * (ARROW1 magic, Arrow 18 record batches — consumable by pyarrow/
      * polars/duckdb directly), read back via `format("arrow")`'s
      * columnar batches, aggregated. The oracle recomputes over the
      * original rows — the round trip must be the identity. */
    "arrow_roundtrip" -> ((s, d) => {
      val root = lakeTmp(d, "arrow")
      graft.sources.ArrowIpc.write(
        t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority")),
        root)
      s.read.format("arrow").load(root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_custkey")).cast("long").as("sum_ck"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"),
          min(col("o_orderdate")).as("min_dt"),
          max(col("o_orderdate")).as("max_dt"))
        .orderBy("o_orderpriority")
    }),

    /** Pre-partitioned aggregation: a groupBy on the bucket key of a
      * bucketed lake table needs NO exchange at all — the scan's
      * KeyGroupedPartitioning already satisfies the aggregate's
      * distribution (at 100 TB this is a full shuffle of the fact
      * table, deleted by layout). */
    "lake_bucketed_agg" -> ((s, d) => {
      val root = lakeTmp(d, "bkagg")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      graft.sources.BucketedLake.write(
        t(s, d, "orders").select("o_custkey", "o_totalprice"),
        s"$root/orders", "o_custkey", 8)
      s.read.table(s"graft_bk.`$root/orders`")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_custkey")
    }),

    /** Bucket-pruned point lookups on the bucketed lake
      * ([[graft.sources.GraftBucketScanBuilder]] filter pushdown): a
      * key-equality / IN predicate confines the scan to the bucket(s)
      * that can hold the key — 1-of-n buckets read instead of the whole
      * table (plan-contract-pinned in BucketedLakeSpec; at 100 TB this
      * is the difference between a point lookup and a table scan). The
      * pruned result must equal the unpruned recompute. */
    "lake_bucketed_point" -> ((s, d) => {
      val root = lakeTmp(d, "bkpoint")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      graft.sources.BucketedLake.write(
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        s"$root/orders", "o_custkey", 8)
      s.read.table(s"graft_bk.`$root/orders`")
        .where(col("o_custkey").isin(1L, 2L, 4L, 5L, 7L, 8L))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_custkey")
    }),

    /** The SQL spelling of the bucketed lake, end-to-end: the
      * `graft_bucketed` TVF resolves the V2 relation, the manifest's
      * exact statistics let the filtered dimension auto-broadcast, and
      * dynamic pruning can hand the scan a runtime key filter — no
      * catalog configuration, no hints. Must equal the plain join. */
    "lake_bucketed_dpp" -> ((s, d) => {
      val root = lakeTmp(d, "bkdpp")
      graft.sources.BucketedLake.write(
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        s"$root/orders", "o_custkey", 8)
      graft.functions.LakeTableFunctions.ensureRegistered(s)
      t(s, d, "customer").select("c_custkey", "c_mktsegment")
        .where(col("c_mktsegment") === "BUILDING")
        .createOrReplaceTempView("bk_dim")
      s.sql(s"""
        SELECT c_mktsegment, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM graft_bucketed('$root/orders') JOIN bk_dim
          ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    }),

    /** TWO-AXIS flagship layout ([[graft.sources.BucketedLake]] with
      * `partitionCol`): `data/__part=<year>/__bucket=<hash>/` — the
      * shape every real 100 TB ingest lake uses. The date-range
      * predicate prunes whole partition directories, the key IN-list
      * prunes to its buckets, and BOTH compose on one scan (plan-time
      * file-list pruning; filters stay residual, so results are exact
      * by construction). */
    "lake_bucketed_partitioned" -> ((s, d) => {
      val root = lakeTmp(d, "bkpart")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      graft.sources.BucketedLake.write(
        t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), year(col("o_orderdate")).as("o_orderyear")),
        s"$root/orders", "o_custkey", 8, partitionCol = Some("o_orderyear"))
      s.read.table(s"graft_bk.`$root/orders`")
        .where(col("o_orderyear") >= 1995 && col("o_orderyear") <= 1996 &&
          col("o_custkey").isin(1L, 2L, 4L, 5L, 7L, 8L, 10L, 11L))
        .groupBy("o_orderyear", "o_custkey")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderyear", "o_custkey")
    }),

    /** COMPOSITE partitioning
      * (`__part=<year>/__part2=<priority>/__bucket=<b>` —
      * `BucketedLake.write(partitionCols = Seq(...))`): conjuncts on
      * BOTH axes prune directories independently
      * ([[graft.sources.PartPruning.matchesAll]]) before the bucket
      * axis and per-file stats even apply — the (dt, region) shape a
      * real ingest lake partitions by. The pruned scan must equal the
      * plain filtered recompute. */
    "lake_bucketed_composite" -> ((s, d) => {
      val root = lakeTmp(d, "bkcomp")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      graft.sources.BucketedLake.write(
        t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority"),
          year(col("o_orderdate")).as("o_orderyear")),
        s"$root/orders", "o_custkey", 8,
        partitionCols = Seq("o_orderyear", "o_orderpriority"))
      // multi-axis COUNT(DISTINCT): BOTH composite axes fold from ONE
      // manifest read, zero data IO (metadata-aggregate pushdown —
      // plan contract in BucketedAggPushdownSpec) — joined onto the
      // two-axis-pruned grouped aggregate as constant columns
      val summary = s.sql(s"""
        SELECT COUNT(DISTINCT o_orderyear) AS d_year,
               COUNT(DISTINCT o_orderpriority) AS d_prio
        FROM graft_bk.`$root/orders`""")
      s.read.table(s"graft_bk.`$root/orders`")
        .where(col("o_orderyear") >= 1994 && col("o_orderyear") <= 1996 &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderyear", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_custkey")).cast("long").as("sum_ck"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .crossJoin(summary)
        .orderBy("o_orderyear", "o_orderpriority")
    }),

    /** METADATA-ONLY aggregates on the bucketed lake
      * ([[graft.sources.GraftBucketScanBuilder]] aggregate pushdown):
      * `MIN`/`MAX`/`COUNT` — grouped by the PARTITION column — answer
      * from the manifest's per-file statistics in ONE metadata read,
      * zero data IO (plan + doctored-manifest contracts in
      * BucketedAggPushdownSpec). At 100 TB, `SELECT dt, count(*),
      * max(price) GROUP BY dt` priced like an `ls`; any exactness
      * doubt (filters, strings, NaN) falls back to the row scan, so
      * the answer below is correct either way. */
    "lake_bucketed_minmax" -> ((s, d) => {
      val root = lakeTmp(d, "bkminmax")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      graft.sources.BucketedLake.write(
        t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority"), col("o_totalprice"), col("o_orderstatus"),
          col("o_orderdate").cast("date").as("o_orderdate")),
        s"$root/orders", "o_custkey", 8,
        partitionCol = Some("o_orderpriority"))
      s.sql(s"""
        SELECT o_orderpriority, n, CAST(lo_dt AS STRING) AS lo_dt,
               CAST(hi_dt AS STRING) AS hi_dt, lo_p, hi_p, lo_st,
               hi_st
        FROM (
          SELECT o_orderpriority, COUNT(*) AS n,
                 MIN(o_orderdate) AS lo_dt, MAX(o_orderdate) AS hi_dt,
                 MIN(o_totalprice) AS lo_p, MAX(o_totalprice) AS hi_p,
                 MIN(o_orderstatus) AS lo_st, MAX(o_orderstatus) AS hi_st
          FROM graft_bk.`$root/orders`
          GROUP BY o_orderpriority)
        ORDER BY o_orderpriority""")
    }),

    /** Z-ORDER CLUSTERING on the bucketed lake
      * ([[graft.sources.BucketedLake.cluster]]): files rewritten into
      * tight bit-interleaved-rank windows on (o_totalprice,
      * o_orderdate), so BOTH predicates below skip files via the
      * manifest's min/max axis (intra-bucket skipping contracts pinned
      * in BucketedClusterSpec — pre-cluster, every file spans the full
      * range and nothing skips). Physical reorganization only: the
      * clustered answer must equal the raw-parquet oracle. */
    "lake_bucketed_cluster" -> ((s, d) => {
      val root = lakeTmp(d, "bkclust")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      graft.sources.BucketedLake.write(
        t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_orderdate")),
        s"$root/orders", "o_custkey", 8)
      graft.sources.BucketedLake.cluster(s, s"$root/orders",
        Seq("o_totalprice", "o_orderdate"), maxRowsPerFile = 2000L)
      s.read.table(s"graft_bk.`$root/orders`")
        .where(col("o_totalprice") < 10000.0 &&
          col("o_orderdate") >= lit("1996-01-01").cast("date"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"),
          min(col("o_orderdate")).cast("string").as("lo_dt"))
    }),

    /** BLOOM SKIPPING INDEX on the bucketed lake
      * ([[graft.sources.BucketedLake.buildBloomIndex]] — the FOURTH
      * pruning axis): an equality probe on the high-cardinality
      * NON-KEY o_orderkey column — hash-spread across buckets, so
      * every file's min/max window spans ~the whole value space and
      * neither bucket pruning nor stats can skip — reads only the
      * files whose per-file bloom says the value might be present
      * (file-count contracts in BucketedBloomSpec; at 100 TB this is
      * the needle-in-a-log-lake lookup). Must equal the raw
      * recompute. */
    "lake_bucketed_bloom" -> ((s, d) => {
      val root = lakeTmp(d, "bkbloom")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      graft.sources.BucketedLake.write(
        t(s, d, "orders").select("o_orderkey", "o_custkey",
          "o_totalprice"),
        s"$root/orders", "o_custkey", 8)
      graft.sources.BucketedLake.buildBloomIndex(s, s"$root/orders",
        Seq("o_orderkey"))
      // a MID-RANGE present key: inside every file's min/max window
      // (stats cannot prune it) — only the bloom skips here
      val mm = t(s, d, "orders")
        .agg(min("o_orderkey"), max("o_orderkey")).head()
      val mid = (mm.getLong(0) + mm.getLong(1)) / 2
      val probe = t(s, d, "orders")
        .where(col("o_orderkey") <= mid)
        .agg(max("o_orderkey")).head().getLong(0)
      s.read.table(s"graft_bk.`$root/orders`")
        .where(col("o_orderkey") === probe)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** The SQL MAINTENANCE LIFECYCLE end-to-end
      * ([[graft.sources.BucketedProcedures]] via Spark 4's
      * ProcedureCatalog): `CALL cat.system.compact / cluster /
      * build_bloom_index / vacuum` run the lake's table services from
      * pure SQL — append fragments fold, files re-cluster for
      * skipping, the bloom axis builds, superseded files reclaim — and
      * the data the query reads afterwards must equal the raw-parquet
      * oracle (the services are physical only). */
    "lake_bucketed_maintenance" -> ((s, d) => {
      val root = lakeTmp(d, "bkmaint")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val (lo, hi) = (o.where(col("o_orderkey") % 2 === 0),
        o.where(col("o_orderkey") % 2 === 1))
      graft.sources.BucketedLake.write(lo, s"$root/orders",
        "o_custkey", 8)
      hi.writeTo(s"graft_bk.`$root/orders`").append()
      s.sql(s"CALL graft_bk.system.compact('$root/orders')").collect()
      s.sql(s"CALL graft_bk.system.cluster('$root/orders', " +
        "'o_totalprice', 4096)").collect()
      s.sql(s"CALL graft_bk.system.build_bloom_index('$root/orders', " +
        "'o_orderkey')").collect()
      s.sql(s"CALL graft_bk.system.vacuum('$root/orders', 0, false)")
        .collect()
      s.read.table(s"graft_bk.`$root/orders`")
        .where(col("o_totalprice") >= 100000.0 &&
          col("o_totalprice") < 200000.0)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** TIME TRAVEL over the bucketed lake's MVCC history
      * ([[graft.sources.BucketedLake.versions]]): v1 = the initial
      * write, v2 = after a V2 append — `graft_bucketed('/p', v)` pins a
      * retained manifest version, so both snapshots answer exactly from
      * one table (the audit/reproducibility read every lakehouse
      * ships). */
    "lake_bucketed_timetravel" -> ((s, d) => {
      val root = lakeTmp(d, "bktt")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      graft.functions.LakeTableFunctions.ensureRegistered(s)
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      graft.sources.BucketedLake.write(
        orders.where(col("o_orderkey") % 2 === 0),
        s"$root/orders", "o_custkey", 8) // v1
      orders.where(col("o_orderkey") % 2 =!= 0)
        .writeTo(s"graft_bk.`$root/orders`").append() // v2
      // BOTH time-travel spellings under the oracle: the TVF
      // (graft_bucketed(path, v)) and the ANSI SQL surface
      // (VERSION AS OF / TIMESTAMP AS OF through loadTable(ident,
      // version/timestamp)) must agree on every snapshot
      def tvfAt(v: Int) = s.sql(s"""
        SELECT CAST($v AS INT) AS version, 'tvf' AS via, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM graft_bucketed('$root/orders', $v)""")
      val sqlV1 = s.sql(s"""
        SELECT CAST(1 AS INT) AS version, 'sql' AS via, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM graft_bk.`$root/orders` VERSION AS OF 1""")
      // a far-future horizon pins the NEWEST commit (v2) — deterministic
      val sqlV2 = s.sql(s"""
        SELECT CAST(2 AS INT) AS version, 'sql' AS via, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM graft_bk.`$root/orders`
        TIMESTAMP AS OF TIMESTAMP'2262-01-01 00:00:00'""")
      tvfAt(1).unionByName(tvfAt(2)).unionByName(sqlV1).unionByName(sqlV2)
        .orderBy("version", "via")
    }),

    /** FRAGMENT-LEVEL manifest observability under the oracle
      * ([[graft.sources.BucketedLake.fragments]] — the incremental
      * manifest-delta layer's audit view): v1 is a full checkpoint
      * carrying every file, v2 an O(changed) delta with one add. The
      * oracle is the exact expected table. */
    "lake_sql_fragments_tvf" -> ((s, d) => {
      val root = lakeTmp(d, "bkfrag")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      graft.functions.LakeTableFunctions.ensureRegistered(s)
      // SESSION-SCOPED conf, never the shared session: under the
      // bench's parallel fixture pool a set/unset window on `s` would
      // nondeterministically flip OTHER builders' manifest shapes
      // (delta vs full). A child session isolates the knob — writes
      // read conf from the DataFrame's own session.
      val sw = s.newSession()
      sw.conf.set("spark.graft.bucketed.manifestDeltaMinEntries", "1")
      graft.sources.BucketedLake.write(
        t(sw, d, "orders").select("o_orderkey", "o_totalprice")
          .limit(2000),
        s"$root/orders", "o_orderkey", 4) // v1: full, 4 bucket files
      sw.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      t(sw, d, "orders").select("o_orderkey", "o_totalprice")
        .orderBy(col("o_orderkey").desc).limit(1)
        .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
        .writeTo(s"graft_bk.`$root/orders`").append() // v2: delta, 1 add
      s.sql(s"""
        SELECT version, kind, chain, adds, removes
        FROM graft_bucketed_fragments('$root/orders')
        ORDER BY version""")
    }),

    /** CHANGE DATA FEED over the bucketed lake's MVCC history
      * ([[graft.sources.BucketedLake.changes]]): v2 is an append (the
      * feed reads ONLY the added files — a manifest diff), v3 a
      * row-level merge whose PRECISE change files carry Delta-CDF row
      * classes (delete / update pre+postimage). The oracle recomputes
      * every class from the source table. */
    "lake_bucketed_cdf" -> ((s, d) => {
      val root = lakeTmp(d, "bkcdf")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
      graft.sources.BucketedLake.write(
        orders.where(col("o_orderkey") % 2 === 0),
        s"$root/orders", "o_orderkey", 8) // v1
      orders.where(col("o_orderkey") % 2 =!= 0)
        .writeTo(s"graft_bk.`$root/orders`").append() // v2
      graft.sources.BucketedLake.merge(s, s"$root/orders",
        orders.where(col("o_orderkey") % 100 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        orders.where(col("o_orderkey") % 97 === 0 &&
          col("o_orderkey") % 100 =!= 0).select("o_orderkey")): Unit // v3
      graft.sources.BucketedLake.changes(s, s"$root/orders", 1L, 3L)
        .groupBy(col("_commit_version").cast("int").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).cast("long").as("sum_key"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("version", "change_type")
    }),

    /** Row-level MERGE on the bucketed lake
      * ([[graft.sources.BucketedLake.merge]], copy-on-write of only the
      * key-holding (partition, bucket) groups): one commit upserts
      * doubled-price rows AND hard-deletes a disjoint key set — the
      * same CDC-target contract as `lake_delta_merge`/
      * `lake_hudi_upsert`, now on the repo's flagship layout. The
      * snapshot must equal the oracle's merged recompute. */
    "lake_bucketed_merge" -> ((s, d) => {
      val root = lakeTmp(d, "bkmerge")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      graft.sources.BucketedLake.write(orders, s"$root/orders",
        "o_orderkey", 8) // v1
      graft.sources.BucketedLake.merge(s, s"$root/orders",
        orders.where(col("o_orderkey") % 100 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        orders.where(col("o_orderkey") % 97 === 0 &&
          col("o_orderkey") % 100 =!= 0).select("o_orderkey")): Unit // v2
      s.read.table(s"graft_bk.`$root/orders`")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderpriority")
    }),

    /** SQL ROW-LEVEL DML on the bucketed lake
      * ([[graft.sources.GraftRowLevelOperation]] —
      * `SupportsRowLevelOperations`, group-based copy-on-write):
      * `MERGE INTO` doubles every %100 key's price, `UPDATE` zeroes the
      * %93 keys, row-level `DELETE` drops the %97 keys — three
      * statements, three OCC-gated group-replace commits, candidate
      * files narrowed by the runtime group filter on `_file`. The end
      * state must equal the oracle's CASE/WHERE recompute. */
    "lake_bucketed_sql_merge" -> ((s, d) => {
      val root = lakeTmp(d, "bksqldml")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      graft.sources.BucketedLake.write(orders, s"$root/orders",
        "o_orderkey", 8)
      orders.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .createOrReplaceTempView("graft_sqldml_src")
      s.sql(s"""MERGE INTO graft_bk.`$root/orders` t
                USING graft_sqldml_src s ON t.o_orderkey = s.o_orderkey
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"""UPDATE graft_bk.`$root/orders`
                SET o_totalprice = CAST(0 AS DOUBLE)
                WHERE o_orderkey % 93 = 0 AND o_orderkey % 100 <> 0""")
      s.sql(s"""DELETE FROM graft_bk.`$root/orders`
                WHERE o_orderkey % 97 = 0 AND o_orderkey % 100 <> 0
                  AND o_orderkey % 93 <> 0""")
      s.read.table(s"graft_bk.`$root/orders`")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderpriority")
    }),

    /** DATA SKIPPING on the bucketed lake ([[graft.sources.FileStats]]):
      * three date-disjoint generations land as separate files whose
      * manifest min/max windows cover disjoint o_orderdate ranges — the
      * range predicate reads ONLY the matching generation's files
      * (plan-contract-pinned in BucketedStatsSpec), with zero footer
      * opens for the skipped ones. The skipped scan must equal the
      * plain filtered recompute. */
    "lake_bucketed_skipping" -> ((s, d) => {
      val root = lakeTmp(d, "bkskip")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      val orders = t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"), col("o_totalprice"))
      graft.sources.BucketedLake.write(
        orders.where(col("o_orderdate") < "1994-01-01"),
        s"$root/orders", "o_custkey", 8) // gen 1
      orders.where(col("o_orderdate") >= "1994-01-01" &&
          col("o_orderdate") < "1996-01-01")
        .writeTo(s"graft_bk.`$root/orders`").append() // gen 2
      orders.where(col("o_orderdate") >= "1996-01-01")
        .writeTo(s"graft_bk.`$root/orders`").append() // gen 3
      s.read.table(s"graft_bk.`$root/orders`")
        .where(col("o_orderdate") >= "1996-06-01")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          min(col("o_orderdate")).as("min_dt"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderpriority")
    }),

    /** STREAMING TAIL of the bucketed lake (`graft-bucketed`,
      * [[graft.streaming.BucketedStreamSource]]) composed with
      * exactly-once ingest ([[graft.sources.BucketedLake.streamInto]]):
      * source-lake MVCC versions ARE the offsets; two append commits
      * stream into a second bucketed table under transactional
      * watermarks, and the DESTINATION must equal the plain recompute —
      * the lake→lake replication leg on the flagship layout. */
    "lake_bucketed_stream" -> ((s, d) => {
      val root = lakeTmp(d, "bkstream")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      graft.sources.BucketedLake.createEmpty(s, s"$root/src",
        "o_orderkey", 8, orders.schema) // v1 (create: nothing to emit)
      orders.where(col("o_orderkey") % 2 === 0)
        .writeTo(s"graft_bk.`$root/src`").append() // v2
      orders.where(col("o_orderkey") % 2 =!= 0)
        .writeTo(s"graft_bk.`$root/src`").append() // v3
      graft.sources.BucketedLake.createEmpty(s, s"$root/dst",
        "o_orderkey", 8, orders.schema)
      val q = graft.sources.BucketedLake.streamInto(
        s.readStream.format("graft-bucketed")
          .option("path", s"$root/src").load(),
        s"$root/dst", "bkstream-mirror", s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
      s.read.table(s"graft_bk.`$root/dst`")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_orderkey")).cast("long").as("sum_key"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderpriority")
    }),

    /** SCOPED OVERWRITE + METADATA DELETE on the two-axis bucketed lake
      * ([[graft.sources.ReplaceScope]] + `SupportsDelete`): replaceWhere
      * supersedes exactly the 1995 partition's files (file-level
      * decisions via the partition dir — loud when not exact), then SQL
      * `DELETE FROM ... WHERE o_orderyear = 1993` drops a whole
      * partition as a pure manifest edit (zero data IO). Both are MVCC
      * commits; the snapshot must equal the oracle's recompute. */
    "lake_bucketed_replace" -> ((s, d) => {
      val root = lakeTmp(d, "bkreplace")
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), year(col("o_orderdate")).as("o_orderyear"),
        col("o_totalprice"))
      graft.sources.BucketedLake.write(orders, s"$root/orders",
        "o_orderkey", 8, partitionCol = Some("o_orderyear")) // v1
      orders.where(col("o_orderyear") === 1995)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .writeTo(s"graft_bk.`$root/orders`")
        .overwrite(col("o_orderyear") === 1995) // v2
      s.sql(s"DELETE FROM graft_bk.`$root/orders` " +
        "WHERE o_orderyear = 1993") // v3
      s.read.table(s"graft_bk.`$root/orders`")
        .groupBy("o_orderyear")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderyear")
    }),

    /** IVM fed by the BUCKETED LAKE's own change feed
      * ([[graft.sources.BucketedLake.changes]] →
      * [[graft.streaming.IncrementalAgg.applyChanges]]): epoch 0 folds
      * the initial replace commit, epoch 1 folds a row-level
      * updateWhere + deleteWhere through the merge's PRECISE change
      * files (pre+postimages subtract/add exactly; min/max dirty
      * recompute reads a version-pinned snapshot). Same end state as
      * `lake_ivm_agg`, now with the flagship layout as the mart's
      * source of truth — no Delta leg in the loop. */
    "lake_ivm_bucketed" -> ((s, d) => {
      import graft.streaming.IncrementalAgg
      val root = lakeTmp(d, "ivmbk")
      val src = s"$root/src"; val viewPath = s"$root/view"
      s.conf.set("spark.sql.catalog.graft_bk",
        classOf[graft.sources.GraftBucketCatalog].getName)
      graft.functions.LakeTableFunctions.ensureRegistered(s)
      val orders = t(s, d, "orders")
        .where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_custkey"), col("o_orderdate"))
      graft.sources.BucketedLake.write(orders, src, "o_orderkey", 8) // v1
      val spec = IncrementalAgg.ViewSpec(Seq("o_orderpriority"),
        sumCols = Seq("o_custkey"), minCols = Seq("o_orderdate"),
        maxCols = Seq("o_orderdate"), buckets = 8)
      IncrementalAgg.applyChanges(s,
        graft.sources.BucketedLake.changes(s, src, 0L, 1L)
          .drop("_commit_version"),
        viewPath, spec, 0L,
        () => s.sql(s"SELECT * FROM graft_bucketed('$src', 1)")): Unit
      graft.sources.BucketedLake.updateWhere(s, src,
        col("o_orderkey") % 7 === 0,
        Map("o_custkey" -> (col("o_custkey") + 100))): Unit // v2
      graft.sources.BucketedLake.deleteWhere(s, src,
        col("o_orderkey") % 13 === 0): Unit // v3
      IncrementalAgg.applyChanges(s,
        graft.sources.BucketedLake.changes(s, src, 1L, 3L)
          .drop("_commit_version"),
        viewPath, spec, 1L,
        () => s.read.table(s"graft_bk.`$src`")): Unit
      IncrementalAgg.read(s, viewPath, spec)
        .select(col("o_orderpriority"), col("view_count"),
          col("sum_o_custkey"), col("min_o_orderdate"),
          col("max_o_orderdate"))
        .orderBy("o_orderpriority")
    }),

    /** Real-layout Delta MERGE ([[graft.sink.DeltaWrite.merge]] — Delta
      * as a CDC target, the fourth mirror leg): one keyed commit
      * upserts doubled-price rows AND hard-deletes a disjoint key set,
      * rewriting only key-holding files; the change feed must carry
      * MERGE's row classes (update pre/postimage, insert, delete) and
      * the snapshot the merged end state. */
    "lake_delta_merge" -> ((s, d) => {
      val root = lakeTmp(d, "deltamerge")
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "5-LOW")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.DeltaWrite.create(
        orders.where(col("o_orderkey") % 3 === 0), root, Nil)
      graft.sink.DeltaWrite.merge(
        orders.where(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        orders.where(col("o_orderkey") % 5 === 0 &&
          col("o_orderkey") % 2 =!= 0).select("o_orderkey"),
        root, Seq("o_orderkey"), "graft-merge", 0L)
      val feed = graft.sources.DeltaRead.changes(s, root, 1L, 1L)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
      val snap = graft.sources.DeltaRead.snapshot(s, root)
        .agg(lit("snapshot").as("_change_type"), count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .select("_change_type", "n", "total")
      feed.unionByName(snap).orderBy("_change_type")
    }),

    /** Delta SHALLOW CLONE ([[graft.sink.DeltaWrite.shallowClone]]):
      * a zero-copy branch of the source table (log references the
      * source's files by absolute path); a delete applied to the CLONE
      * diverges it while the source stays intact — the oracle replays
      * both end states side by side. */
    "lake_delta_clone" -> ((s, d) => {
      val src = lakeTmp(d, "clonesrc")
      val dst = lakeTmp(d, "clonedst")
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "2-HIGH")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.DeltaWrite.create(orders, src, Nil)
      graft.sink.DeltaWrite.deleteWhere(s, src, "o_orderkey % 3 = 0")
      graft.sink.DeltaWrite.shallowClone(s, src, dst)
      graft.sink.DeltaWrite.deleteWhere(s, dst, "o_orderkey % 5 = 0")
      def agg(path: String, label: String) =
        graft.sources.DeltaRead.snapshot(s, path)
          .agg(lit(label).as("side"), count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
          .select("side", "n", "total")
      agg(dst, "clone").unionByName(agg(src, "source")).orderBy("side")
    }),

    /** Delta RESTORE ([[graft.sink.DeltaWrite.restore]]): a DV delete
      * moves the table off version 0, RESTORE commits a new version
      * whose live set (including row-level DV state) equals v0 — the
      * recovery path after a bad write, history preserved. The oracle
      * replays the ORIGINAL state. */
    "lake_delta_restore" -> ((s, d) => {
      val root = lakeTmp(d, "deltarestore")
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.DeltaWrite.create(orders, root, Nil)
      graft.sink.DeltaWrite.deleteWhere(s, root, "o_orderkey % 2 = 0")
      graft.sink.DeltaWrite.restore(s, root, 0L)
      graft.sources.DeltaRead.snapshot(s, root)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Delta REORG … APPLY (PURGE)
      * ([[graft.sink.DeltaWrite.purgeDeletionVectors]]): a DV delete
      * leaves row-level tombstones in the live files; PURGE rewrites the
      * carrying files WITHOUT the dead rows as a dataChange=false commit
      * (invisible to CDF and the streaming tail), after which the DV
      * bitmaps are unreferenced and [[graft.sink.DeltaWrite.vacuumData]]
      * reclaims them. The full lifecycle delete → purge → vacuum runs
      * end-to-end; the oracle replays the post-delete live set. */
    "lake_delta_purge" -> ((s, d) => {
      val root = lakeTmp(d, "deltapurge")
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "3-MEDIUM")
        .select(col("o_orderkey"), col("o_totalprice"))
        .repartition(4)
      graft.sink.DeltaWrite.create(orders, root, Nil)
      graft.sink.DeltaWrite.deleteWhere(s, root, "o_orderkey % 4 = 1")
      graft.sink.DeltaWrite.purgeDeletionVectors(s, root)
      graft.sink.DeltaWrite.vacuumData(s, root, retainVersions = 1)
      graft.sources.DeltaRead.snapshot(s, root)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Iceberg ROLLBACK ([[graft.sink.IcebergWrite.rollback]] —
      * `rollback_to_snapshot`): the tip moves back to snapshot 1
      * metadata-only; snapshot 2 stays in history. The oracle replays
      * the FIRST upsert's state. */
    "lake_iceberg_rollback" -> ((s, d) => {
      val root = lakeTmp(d, "icerollback")
      val fields = Seq((1, "o_orderkey", "long"), (2, "o_totalprice", "double"))
      val orders = t(s, d, "orders")
        .where(col("o_orderpriority") === "5-LOW")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.IcebergWrite.upsert(orders, root, Seq("o_orderkey"),
        fields, snapshotId = 1L, sequenceNumber = 1L)
      graft.sink.IcebergWrite.upsert(
        orders.withColumn("o_totalprice", col("o_totalprice") * 5),
        root, Seq("o_orderkey"), fields, snapshotId = 2L, sequenceNumber = 2L)
      graft.sink.IcebergWrite.rollback(s, root, 1L)
      graft.sources.IcebergRead.snapshot(s, root)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Delta COLUMN RENAME via column mapping
      * ([[graft.sink.DeltaWrite.enableColumnMapping]] +
      * [[graft.sink.DeltaWrite.renameColumn]]): the rename is a
      * metadata-only commit — physical names frozen in the schema
      * metadata keep resolving the pre-rename data files, and the
      * snapshot reads them under the NEW logical name (symmetric with
      * `lake_iceberg_rename`'s field-id rename). */
    "lake_delta_rename" -> ((s, d) => {
      val root = lakeTmp(d, "deltarename")
      graft.sink.DeltaWrite.create(
        t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice")),
        root, Nil)
      graft.sink.DeltaWrite.enableColumnMapping(s, root)
      graft.sink.DeltaWrite.renameColumn(s, root, "o_totalprice", "total_price")
      graft.sources.DeltaRead.snapshot(s, root)
        .where(col("o_orderkey") % 3 === 0)
        .agg(count(lit(1)).as("n"),
          sum(col("total_price").cast("decimal(18,2)"))
            .cast("double").as("total"))
    }),

    /** Delta MERGE with SCHEMA EVOLUTION ([[graft.sink.DeltaWrite.merge]]
      * mergeSchema semantics): the batch carries a column the table has
      * never seen (`o_flag`); the commit extends the declared schema, and
      * rows written BEFORE the evolution read back NULL for it — the
      * snapshot aggregate proves both the evolved values and the
      * NULL-backfill on carried rows. */
    "lake_delta_merge_evolve" -> ((s, d) => {
      val root = lakeTmp(d, "deltaevolve")
      val ns = t(s, d, "orders")
        .where(col("o_orderpriority") === "4-NOT SPECIFIED")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.sink.DeltaWrite.create(
        ns.where(col("o_orderkey") % 2 === 0), root, Nil)
      graft.sink.DeltaWrite.merge(
        ns.where(col("o_orderkey") % 3 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("o_flag", col("o_orderkey") % 7),
        ns.where(lit(false)).select("o_orderkey"),
        root, Seq("o_orderkey"), "graft-evolve", 0L)
      graft.sources.DeltaRead.snapshot(s, root)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"),
          count(col("o_flag")).as("flags"),
          sum(col("o_flag")).cast("long").as("flag_sum"))
    }),

    /** Delta CHANGE DATA FEED ([[graft.sources.DeltaRead.changes]]):
      * create (v0) → partition rewrite (v1), then the feed for 0..1 —
      * v0 is all-inserts, v1 is the rewritten partition's old rows as
      * deletes + new rows as inserts, partition column attached from
      * the actions. Aggregated per (version, change type). */
    "lake_delta_cdf" -> ((s, d) => {
      val root = lakeTmp(d, "deltacdf")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.sink.DeltaWrite.create(orders, root, Seq("o_orderpriority"))
      val urgent = orders.where(col("o_orderpriority") === "1-URGENT")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.sink.DeltaWrite.replacePartition(urgent, root, "o_orderpriority", "1-URGENT")
      graft.sources.DeltaRead.changes(s, root, 0L, 1L)
        .groupBy(col("_commit_version"), col("_change_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("_commit_version", "_change_type")
    }),

    /** Delta DELETION VECTORS: partitioned create → DV-delete of the %3=1
      * keys (no data file rewritten; reader-version-3 protocol with the
      * `deletionVectors` feature) → checkpoint → log vacuum. The read
      * must replay the DV descriptors out of the CHECKPOINT and
      * anti-join the executor-expanded row indexes. */
    "lake_delta_dv_read" -> ((s, d) => {
      val root = lakeTmp(d, "deltadv")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      graft.sink.DeltaWrite.create(orders, root, Seq("o_orderpriority"))
      graft.sink.DeltaWrite.deleteWhere(s, root, "o_orderkey % 3 = 1")
      graft.sink.DeltaWrite.checkpoint(s, root)
      graft.sink.DeltaWrite.vacuumLog(s, root) // reader MUST use the checkpoint
      graft.sources.DeltaRead.snapshot(s, root)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderpriority")
    }),

    /** Hudi INCREMENTAL pull on a COW table: full orders base at T1, a
      * T2 rewrite carrying the unchanged rows with their ORIGINAL T1
      * stamps and updating the %10 keys (status 'U', price+1000);
      * `incremental(begin = T1)` must emit exactly the T2-stamped rows
      * (file-pruned to in-range instants, then row-filtered — Hudi's
      * own incremental semantics). */
    "lake_hudi_incremental" -> ((s, d) => {
      val root = lakeTmp(d, "hudiincr")
      val t1 = "20240101000000000"; val t2 = "20240102000000000"
      val base = t(s, d, "orders").select(
        col("o_orderkey").cast("string").as("_hoodie_record_key"),
        lit(t1).as("_hoodie_commit_time"),
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.sink.HudiMorWrite.writeBase(base, root, "part=0", "fg1", t1)
      val rewritten = base
        .withColumn("_hoodie_commit_time",
          when(col("o_orderkey") % 10 === 0, t2).otherwise(t1))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 10 === 0, "U").otherwise(col("o_orderstatus")))
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 1000.0)
            .otherwise(col("o_totalprice")))
      graft.sink.HudiMorWrite.writeBase(rewritten, root, "part=0", "fg1", t2)
      graft.sources.HudiRead.incremental(s, root, beginInstant = t1)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),

    /** Iceberg INCREMENTAL append scan: orders @s1, the %10 delta
      * (price+1000) as new files @s2 through the append-commit chain;
      * `incremental(fromSnapshotId = 1)` must read EXACTLY the appended
      * files — the CDC-style consumption path for Iceberg tables. */
    "lake_iceberg_incremental" -> ((s, d) => {
      val root = lakeTmp(d, "icebergincr")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
      orders.write.parquet(s"$root/s1")
      orders.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .write.parquet(s"$root/s2")
      import graft.sink.IcebergWrite.FileEntry
      val schema = Seq((1, "o_orderkey", "long"),
        (2, "o_orderstatus", "string"), (3, "o_totalprice", "double"))
      graft.sink.IcebergWrite.commitEntries(s, root,
        lakeList(root, "s1").map(FileEntry(_, 0, 1L)), schema, snapshotId = 1L)
      graft.sink.IcebergWrite.commitEntries(s, root,
        lakeList(root, "s2").map(FileEntry(_, 0, 2L)), schema, snapshotId = 2L)
      graft.sources.IcebergRead.incremental(s, root, fromSnapshotId = 1L)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderstatus")
    }),

    /** Iceberg v2 EQUALITY deletes with the spec's strict sequence-number
      * scoping: data@seq1, an `equality_ids=[o_orderkey]` delete file of
      * the %5 keys @seq2, and a re-insert of the %10 keys (price ×4 —
      * exact in binary) @seq3. The merged read must drop the deleted
      * seq-1 rows but keep every seq-3 re-insert (3 ≥ 2). */
    "lake_iceberg_eqdelete" -> ((s, d) => {
      val root = lakeTmp(d, "icebergeq")
      val orders = t(s, d, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
      orders.write.parquet(s"$root/data1")
      orders.where(col("o_orderkey") % 5 === 0)
        .select("o_orderkey").distinct().write.parquet(s"$root/deletes")
      orders.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 4)
        .write.parquet(s"$root/data3")
      import graft.sink.IcebergWrite.FileEntry
      graft.sink.IcebergWrite.commitEntries(s, root,
        lakeList(root, "data1").map(FileEntry(_, 0, 1L)) ++
          lakeList(root, "deletes").map(FileEntry(_, 2, 2L, equalityIds = Seq(1))) ++
          lakeList(root, "data3").map(FileEntry(_, 0, 3L)),
        schemaFields = Seq((1, "o_orderkey", "long"),
          (2, "o_orderstatus", "string"), (3, "o_totalprice", "double")))
      graft.sources.IcebergRead.snapshot(s, root)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").as("total"))
        .orderBy("o_orderstatus")
    })
  )

  /** Absolute paths of the parquet files under `root/sub`. */
  private def lakeList(root: String, sub: String): Seq[String] = {
    val dir = java.nio.file.Paths.get(root, sub)
    val st = java.nio.file.Files.list(dir)
    try st.iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq
    finally st.close()
  }

  /** Deterministic per-sf scratch root for the lakehouse round-trips,
    * wiped at the start of every run (idempotent re-execution). */
  private def lakeTmp(dir: String, kind: String): String = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_lake_${kind}_" + Integer.toHexString(dir.hashCode))
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(del))
      f.delete(): Unit
    }
    if (root.exists) del(root)
    root.getAbsolutePath
  }

  // ====================================================================
  // oracle SQL (DuckDB dialect)
  // ====================================================================

  def oracleSql: Map[String, String] = {
    // ann_recall's oracle composes the already-proven family oracles as
    // subqueries (truth = the brute-force text, families = their own
    // texts) — recall is then pure integer counting over those rows
    val base = oracleBase
    base + ("ann_recall" -> s"""
      WITH truth AS (SELECT query_id, neighbor_id FROM (${base("ann_topk")}) x),
           bqr AS (SELECT query_id, neighbor_id FROM (${base("ann_bq")}) x),
           mat AS (SELECT query_id, neighbor_id
                   FROM (${base("ann_matryoshka")}) x),
           nq AS (SELECT COUNT(DISTINCT query_id) AS n FROM truth),
           fams AS (
             SELECT 'bq' AS family,
                    (SELECT COUNT(*) FROM truth
                     JOIN bqr USING (query_id, neighbor_id)) AS hits
             UNION ALL
             SELECT 'brute', (SELECT COUNT(*) FROM truth)
             UNION ALL
             SELECT 'matryoshka',
                    (SELECT COUNT(*) FROM truth
                     JOIN mat USING (query_id, neighbor_id)))
      SELECT family, nq.n AS n_queries, hits, 5 AS k,
             CAST(FLOOR(hits * 1000.0 / (nq.n * 5)) AS BIGINT) AS recall_x1000
      FROM fams, nq ORDER BY family""")
  }

  private def oracleBase: Map[String, String] = Map(
    "q_identity" -> "SELECT * FROM region ORDER BY r_regionkey",

    "q_filter_limit" -> """
      SELECT c_custkey, c_name, c_acctbal FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000
      ORDER BY c_custkey LIMIT 10""",

    "q_scalar_fns" -> QScalarFnsDuck,

    "q_sql_transform" -> TransformSql.replace("<SRC>", "lineitem"),

    "q_flatten" -> """
      SELECT o_orderkey, o_custkey,
        l_linenumber AS items_linenumber, l_quantity AS items_quantity,
        o_orderstatus AS info_status, o_totalprice AS info_total
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      ORDER BY o_orderkey, items_linenumber""",

    "q_merge_upsert" -> """
      WITH upd AS (
        SELECT o_orderkey, o_custkey, 'U1' AS o_orderstatus,
          o_totalprice + 1000 AS o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 7 = 0)
      SELECT * FROM (
        SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        UNION ALL SELECT * FROM upd) t
      ORDER BY o_orderkey""",

    "q1_agg" -> Q1,
    "q3_join" -> q3("VARCHAR"),
    "q5_multijoin" -> Q5,
    "q_window" -> QWindow,
    "q_semi_anti" -> QSemiAnti,
    "q_exists" -> QExists,
    "q_range_frame" -> QRangeFrame,
    "q_lateral" -> QLateral,
    "q_setops" -> QSetOps,
    "q_rollup" -> QRollup,
    "q_topk" -> QTopK,
    "q_distinct_agg" -> QDistinctAgg,
    "q_case_string" -> QCaseString,
    "q_cube" -> QCube,

    "q_pivot" -> """
      SELECT o_orderpriority,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
        CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
        CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // q_approx_distinct: rows-only (HLL sketches differ per engine); the
    // exact_parts column doubles as an internal plausibility anchor
    "q_scalar_subquery" -> QScalarSubquery,

    "q_grouping_sets" -> QGroupingSets,
    "q_lag_lead" -> QLagLead,
    "q_ntile" -> QNtile,
    "q_ntile_scalable" -> QNtile, // same statistics, scalable plan
    "q_window_frame" -> QWindowFrame,
    "q_unpivot" -> """
      SELECT measure, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
      FROM (UNPIVOT lineitem ON l_quantity, l_extendedprice, l_discount
            INTO NAME measure VALUE v)
      GROUP BY measure ORDER BY measure""",
    "q_range_join" -> QRangeJoin,
    "q_except_all" -> QExceptAll,
    "q_intersect_all" -> QIntersectAll,
    "q_having" -> QHaving,
    "q_percentile" -> QPercentileDuck,
    "q_percentile_scalable" -> QPercentileDuck, // same statistics, scalable plan
    "q_string_agg" -> QStringAggDuck,
    "q_regexp" -> QRegexpDuck,
    "q_json" -> qJson(DuckJsonK),
    "q_date_arith" -> QDateArithDuck,
    "q_salted_agg" -> """
      SELECT l_returnflag, COUNT(*) AS n,
        CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "dedup_keep_first" -> """
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text) ORDER BY doc_id""",
    "q_events_hourly" -> qEventsHourly(DuckHour),
    "q_events_sessionize" -> qSessionize(DuckMs),
    "q_cdc_latest" -> qCdcLatest(DuckMs),
    "q_gapfill" -> qGapfill(s"CAST(FLOOR(($DuckMs) / 3600000.0) AS BIGINT)",
      "unnest(generate_series(mn, mx))"),
    "q_stats_agg" -> QStatsAgg,
    "q_mode" -> QMode,
    "text_bpe" -> qBpe(
      "regexp_replace(replace(lower(text), ' ', '_'), '(.)', '\\1 ', 'g')"),
    /** Winnowing replay: same md5-hex hash order, same full-window ROWS
      * frame minimum, same distinct-set sketch. The gram-index spine
      * follows the text_paragraph_dedup idiom (range over the corpus max,
      * bounded per doc). */
    "dedup_winnow" -> """
      WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      g AS (
        SELECT doc_id, len(tk) - 3 AS n_pos, i AS pos,
          md5(array_to_string(tk[i : i+3], ' ')) AS h
        FROM toks, (SELECT unnest(range(1, (SELECT MAX(len(string_split(lower(text), ' '))) FROM documents) + 1)) AS i) ii
        WHERE len(tk) >= 4 AND i <= len(tk) - 3),
      w AS (SELECT doc_id, n_pos, pos,
        MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        FROM g),
      s AS (SELECT doc_id, COUNT(DISTINCT wmin) AS n_fp,
        md5(array_to_string(list_sort(list_distinct(list(wmin))), ' ')) AS sketch_md5
        FROM w WHERE pos <= n_pos - 3 GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(s.n_fp, 0) AS n_fp,
        COALESCE(s.sketch_md5, md5('')) AS sketch_md5
      FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
      ORDER BY d.doc_id""",

    "corpus_mix_bpe" -> {
      // doubled per rank = per-rank fixpoint (see TextOps.bpeTokenCount)
      val cascade = BpeMerges.foldLeft("s0") { case (acc, (a, b)) =>
        s"replace(replace($acc, ' $a $b ', ' $a$b '), ' $a $b ', ' $a$b ')" }
      s"""
      WITH sp AS (SELECT source, doc_id,
        concat(' ', regexp_replace(replace(lower(text), ' ', '_'), '(.)', '\\1 ', 'g')) AS s0
        FROM documents),
      m AS (SELECT source, doc_id, $cascade AS s FROM sp),
      d AS (SELECT source, doc_id,
        CAST(length(trim(s)) - length(replace(trim(s), ' ', '')) + 1 AS BIGINT) AS nt
        FROM m),
      w AS (SELECT source, doc_id, nt,
            SUM(nt) OVER (PARTITION BY source
                          ORDER BY md5(doc_id::VARCHAR), doc_id) AS cum
            FROM d)
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS kept_tokens
      FROM w WHERE cum - nt < 1000 GROUP BY source ORDER BY source"""
    },
    "corpus_weights" -> """
      WITH per AS (SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source)
      SELECT source, n_docs, n_tokens,
        sqrt(CAST(n_tokens AS DOUBLE) /
             CAST((SELECT MAX(n_tokens) FROM per) AS DOUBLE)) AS w_rel
      FROM per ORDER BY source""",

    "corpus_diff" -> """
      WITH v1 AS (SELECT doc_id, text FROM documents),
      v2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        FROM v1 WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM v1 WHERE doc_id % 11 = 0),
      a AS (SELECT doc_id, md5(text) AS fp1 FROM v1),
      b AS (SELECT doc_id, md5(text) AS fp2 FROM v2)
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        CASE WHEN a.doc_id IS NULL THEN 'added'
             WHEN b.doc_id IS NULL THEN 'removed'
             WHEN fp1 <> fp2 THEN 'changed'
             ELSE 'same' END AS verdict
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
      ORDER BY doc_id""",

    "q_asof_join" -> """
      SELECT p.user_id, p.event_id,
        COALESCE(q.event_id, -1) AS signup_event_id
      FROM (SELECT * FROM events WHERE event_type = 'error') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') q
        ON p.user_id = q.user_id AND q.ts <= p.ts
      ORDER BY p.event_id""",

    "dedup_exact" -> """
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents)
      SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM all_docs GROUP BY md5(text) ORDER BY keep_id""",

    "dedup_fingerprint" -> """
      SELECT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp,
        MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY fp""",

    // the HAVING <= 1000 block cap mirrors jaccardPairs' maxBlockSize —
    // the skew cap is part of the operator's semantics, so the oracle
    // encodes it too (keeping the SCALABLE capped form oracle-checked)
    "dedup_jaccard" -> """
      WITH tok0 AS (
        SELECT doc_id, lang, n_chars // 64 AS len_bkt,
          list_sort(list_distinct(list_transform(
            range(len(string_split(lower(text), ' ')) - 2),
            i -> string_split(lower(text), ' ')[i+1] || ' ' ||
                 string_split(lower(text), ' ')[i+2] || ' ' ||
                 string_split(lower(text), ' ')[i+3]))) AS sh
        FROM documents WHERE len(string_split(text, ' ')) >= 3),
      blk AS (SELECT lang, len_bkt FROM tok0
              GROUP BY lang, len_bkt HAVING COUNT(*) <= 1000),
      tok AS (SELECT t.* FROM tok0 t JOIN blk USING (lang, len_bkt))
      SELECT doc_a, doc_b, i, u FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(len(list_intersect(a.sh, b.sh)) AS INTEGER) AS i,
          CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS INTEGER) AS u
        FROM tok a JOIN tok b
          ON a.lang = b.lang AND a.len_bkt = b.len_bkt AND a.doc_id < b.doc_id) p
      WHERE 10 * i >= 8 * u AND u > 0
      ORDER BY doc_a, doc_b""",

    "q_salted_join" -> """
      WITH fact AS (
        SELECT CASE WHEN l_orderkey % 99 < 50 THEN 1
                    ELSE l_orderkey % 99 + 1 END AS sk,
               CAST(l_quantity AS DECIMAL(18,2)) AS q
        FROM lineitem),
      dim AS (SELECT c_custkey AS sk, c_name FROM customer
              WHERE c_custkey BETWEEN 1 AND 99)
      SELECT sk, c_name, COUNT(*) AS n,
             CAST(CAST(SUM(q) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
      FROM fact JOIN dim USING (sk)
      GROUP BY sk, c_name ORDER BY sk""",

    // CC oracle: recursive-CTE min-label reachability over the same edge
    // set (jaccard pairs ∪ fingerprint star edges). Edge formulations
    // differ (all-pairs vs star) but connectivity — hence the groups — is
    // identical, which is exactly what the hash compare certifies.
    "dedup_groups" -> """
      WITH RECURSIVE tok0 AS (
        SELECT doc_id, lang, n_chars // 64 AS len_bkt,
          list_sort(list_distinct(list_transform(
            range(len(string_split(lower(text), ' ')) - 2),
            i -> string_split(lower(text), ' ')[i+1] || ' ' ||
                 string_split(lower(text), ' ')[i+2] || ' ' ||
                 string_split(lower(text), ' ')[i+3]))) AS sh
        FROM documents WHERE len(string_split(text, ' ')) >= 3),
      blk AS (SELECT lang, len_bkt FROM tok0
              GROUP BY lang, len_bkt HAVING COUNT(*) <= 1000),
      tok AS (SELECT t.* FROM tok0 t JOIN blk USING (lang, len_bkt)),
      jp AS (
        SELECT doc_a, doc_b FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            len(list_intersect(a.sh, b.sh)) AS i,
            len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
          FROM tok a JOIN tok b
            ON a.lang = b.lang AND a.len_bkt = b.len_bkt AND a.doc_id < b.doc_id) p
        WHERE 10 * i >= 8 * u AND u > 0),
      fp AS (
        SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
          string_split(lower(text), ' '))), ' ')) AS f
        FROM documents),
      fpe AS (
        SELECT doc_id AS doc_a, MIN(doc_id) OVER (PARTITION BY f) AS doc_b
        FROM fp QUALIFY doc_a <> doc_b),
      pairs AS (SELECT doc_a, doc_b FROM jp UNION SELECT doc_a, doc_b FROM fpe),
      und AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
      reach(node, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM und) s
        UNION
        SELECT e.v, reach.r FROM reach JOIN und e ON e.u = reach.node),
      comp AS (SELECT node, MIN(r) AS group_id FROM reach GROUP BY node)
      SELECT CAST(group_id AS BIGINT) AS group_id,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(MAX(node) AS BIGINT) AS max_member
      FROM comp GROUP BY group_id ORDER BY group_id""",

    // same component construction as dedup_groups, then one canonical doc
    // per group over ALL documents (singletons group with themselves)
    "dedup_canonical" -> """
      WITH RECURSIVE tok0 AS (
        SELECT doc_id, lang, n_chars // 64 AS len_bkt,
          list_sort(list_distinct(list_transform(
            range(len(string_split(lower(text), ' ')) - 2),
            i -> string_split(lower(text), ' ')[i+1] || ' ' ||
                 string_split(lower(text), ' ')[i+2] || ' ' ||
                 string_split(lower(text), ' ')[i+3]))) AS sh
        FROM documents WHERE len(string_split(text, ' ')) >= 3),
      blk AS (SELECT lang, len_bkt FROM tok0
              GROUP BY lang, len_bkt HAVING COUNT(*) <= 1000),
      tok AS (SELECT t.* FROM tok0 t JOIN blk USING (lang, len_bkt)),
      jp AS (
        SELECT doc_a, doc_b FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            len(list_intersect(a.sh, b.sh)) AS i,
            len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
          FROM tok a JOIN tok b
            ON a.lang = b.lang AND a.len_bkt = b.len_bkt AND a.doc_id < b.doc_id) p
        WHERE 10 * i >= 8 * u AND u > 0),
      fp AS (
        SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
          string_split(lower(text), ' '))), ' ')) AS f
        FROM documents),
      fpe AS (
        SELECT doc_id AS doc_a, MIN(doc_id) OVER (PARTITION BY f) AS doc_b
        FROM fp QUALIFY doc_a <> doc_b),
      pairs AS (SELECT doc_a, doc_b FROM jp UNION SELECT doc_a, doc_b FROM fpe),
      und AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
      reach(node, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM und) s
        UNION
        SELECT e.v, reach.r FROM reach JOIN und e ON e.u = reach.node),
      comp AS (SELECT node, MIN(r) AS group_id FROM reach GROUP BY node),
      lab AS (
        SELECT d.doc_id, COALESCE(c.group_id, d.doc_id) AS group_id, d.n_chars
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
      ranked AS (
        SELECT group_id, doc_id, n_chars,
          ROW_NUMBER() OVER (PARTITION BY group_id
            ORDER BY n_chars DESC, doc_id ASC) AS rn,
          COUNT(*) OVER (PARTITION BY group_id) AS n_members
        FROM lab)
      SELECT CAST(group_id AS BIGINT) AS group_id,
             CAST(n_members AS BIGINT) AS n_members,
             CAST(doc_id AS BIGINT) AS keep_id,
             n_chars AS kept_chars
      FROM ranked WHERE rn = 1 ORDER BY group_id""",

    "text_decontaminate" -> """
      WITH tok AS (
        SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      ng AS (
        SELECT doc_id, list_distinct(list_transform(range(len(t) - 3),
          i -> md5(array_to_string(t[i+1:i+4], ' ')))) AS gs
        FROM tok WHERE len(t) >= 4),
      ev AS (SELECT DISTINCT unnest(gs) AS g FROM ng WHERE doc_id % 97 = 0),
      corp AS (SELECT doc_id, unnest(gs) AS g FROM ng WHERE doc_id % 97 <> 0)
      SELECT corp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM corp JOIN ev ON corp.g = ev.g
      GROUP BY corp.doc_id ORDER BY corp.doc_id""",

    // lossless blocking on the Spark side (length buckets) means the
    // oracle can use the plain theta-join formulation — same pair set
    "q_fuzzy_join" -> """
      WITH names AS (SELECT lower(p_name) AS nm, COUNT(*) AS n
                     FROM part GROUP BY 1)
      SELECT a.nm AS name_a, b.nm AS name_b,
             CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist,
             a.n AS n_a, b.n AS n_b
      FROM names a JOIN names b
        ON a.nm < b.nm AND abs(len(a.nm) - len(b.nm)) <= 2
      WHERE levenshtein(a.nm, b.nm) <= 2
      ORDER BY name_a, name_b""",

    "text_repetition" -> """
      WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      stats AS (SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens,
                CAST(len(t) - len(list_distinct(t)) AS INTEGER) AS dup_token_n FROM tok),
      bgx AS (SELECT doc_id, array_to_string(t[i+1:i+2], ' ') AS bg
              FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i
                    FROM tok WHERE len(t) >= 2) x),
      bgc AS (SELECT doc_id, bg, COUNT(*) AS n FROM bgx GROUP BY doc_id, bg),
      top AS (SELECT doc_id, MAX(n) AS top_bigram_n FROM bgc GROUP BY doc_id)
      SELECT s.doc_id, s.n_tokens, s.dup_token_n,
             CAST(COALESCE(t.top_bigram_n, 0) AS BIGINT) AS top_bigram_n
      FROM stats s LEFT JOIN top t USING (doc_id) ORDER BY s.doc_id""",

    "corpus_mix" -> """
      WITH d AS (SELECT source, doc_id,
                 len(string_split(lower(text), ' ')) AS nt FROM documents),
      w AS (SELECT source, doc_id, nt,
            SUM(nt) OVER (PARTITION BY source
                          ORDER BY md5(doc_id::VARCHAR), doc_id) AS cum
            FROM d)
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS kept_tokens
      FROM w WHERE cum - nt < 1000 GROUP BY source ORDER BY source""",

    "dedup_incremental" -> """
      WITH fp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
                    string_split(lower(text), ' '))), ' ')) AS fp FROM documents),
      b AS (SELECT * FROM fp WHERE doc_id % 10 = 0),
      c AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 10 <> 0),
      j AS (SELECT b.doc_id, (c.fp IS NOT NULL) AS in_corpus,
                   MIN(b.doc_id) OVER (PARTITION BY b.fp) AS first_id
            FROM b LEFT JOIN c USING (fp))
      SELECT doc_id, CASE WHEN in_corpus THEN 'corpus_dup'
                          WHEN first_id <> doc_id THEN 'batch_dup'
                          ELSE 'new' END AS verdict
      FROM j ORDER BY doc_id""",

    "pipeline_curate" -> """
      WITH corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
      scored AS (
        SELECT doc_id,
          len(list_filter(string_split(lower(text), ' '), tk -> tk IN ('the','a','of','and','is'))) AS s_en,
          len(list_filter(string_split(lower(text), ' '), tk -> tk IN ('der','die','das','und','ist'))) AS s_de,
          len(list_filter(string_split(lower(text), ' '), tk -> tk IN ('le','la','les','et','est'))) AS s_fr,
          len(list_filter(string_split(lower(text), ' '), tk -> tk IN ('el','los','las','y','es'))) AS s_es,
          len(list_filter(string_split(lower(text), ' '), tk -> tk IN ('de','shi','le','zai','he'))) AS s_zh
        FROM corpus),
      pred AS (
        SELECT doc_id, CASE
          WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
          WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
          WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
          WHEN s_en >= s_de THEN 'en'
          ELSE 'de' END AS lang_pred
        FROM scored),
      langok AS (SELECT c.* FROM corpus c JOIN pred p USING (doc_id)
                 WHERE p.lang_pred = c.lang),
      tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM langok),
      bgc AS (SELECT doc_id, array_to_string(t[i+1:i+2], ' ') AS bg, COUNT(*) AS n
              FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i
                    FROM tok WHERE len(t) >= 2) x
              GROUP BY doc_id, bg),
      rep AS (SELECT tok.doc_id, len(t) AS n_tokens,
                     COALESCE((SELECT MAX(n) FROM bgc WHERE bgc.doc_id = tok.doc_id), 0) AS top_bigram_n
              FROM tok),
      repok AS (SELECT l.*, r.n_tokens FROM langok l JOIN rep r USING (doc_id)
                WHERE r.n_tokens >= 20 AND r.top_bigram_n * 5 <= r.n_tokens),
      uniq AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
               FROM repok),
      ng AS (SELECT doc_id, list_distinct(list_transform(range(len(string_split(lower(text), ' ')) - 3),
              i -> md5(array_to_string(string_split(lower(text), ' ')[i+1:i+4], ' ')))) AS gs
             FROM documents WHERE len(string_split(lower(text), ' ')) >= 4),
      ev AS (SELECT DISTINCT unnest(gs) AS g FROM ng WHERE doc_id % 97 = 0),
      cont AS (SELECT DISTINCT n.doc_id
               FROM (SELECT doc_id, unnest(gs) AS g FROM ng WHERE doc_id % 97 <> 0) n
               JOIN ev USING (g)),
      fin AS (SELECT * FROM uniq WHERE rn = 1
              AND doc_id NOT IN (SELECT doc_id FROM cont))
      SELECT lang, source, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM fin GROUP BY lang, source ORDER BY lang, source""",

    "q_hash_split" -> """
      SELECT CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) <= 'c' THEN 'train'
                  WHEN substr(md5(doc_id::VARCHAR), 1, 1) <= 'e' THEN 'val'
                  ELSE 'test' END AS split,
             lang, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(lower(text), ' '))) AS BIGINT) AS total_tokens
      FROM documents GROUP BY split, lang ORDER BY split, lang""",

    "ann_topk" -> """
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id % 20 = 0),
           c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                 FROM embeddings),
           s AS (SELECT query_id, neighbor_id,
                   list_cosine_similarity(qv, cv) AS sim
                 FROM q JOIN c ON query_id <> neighbor_id),
           r AS (SELECT query_id, neighbor_id,
                   CAST(round(sim * 1000, 0) AS BIGINT) AS sim_i,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
                 FROM s)
      SELECT query_id, rnk, neighbor_id, sim_i FROM r
      WHERE rnk <= 5 ORDER BY query_id, rnk""",

    // ann_topk with the near-dup band excluded before ranking
    "emb_hard_negatives" -> """
      WITH q AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id % 20 = 0),
           c AS (SELECT vec_id AS negative_id, CAST(embedding AS DOUBLE[]) AS cv
                 FROM embeddings),
           s AS (SELECT anchor_id, negative_id,
                   list_cosine_similarity(qv, cv) AS sim
                 FROM q JOIN c ON anchor_id <> negative_id),
           r AS (SELECT anchor_id, negative_id,
                   CAST(round(sim * 1000, 0) AS BIGINT) AS sim_i,
                   CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY sim DESC, negative_id) AS INTEGER) AS rnk
                 FROM s WHERE sim < 0.95)
      SELECT anchor_id, rnk, negative_id, sim_i FROM r
      WHERE rnk <= 5 ORDER BY anchor_id, rnk""",

    "ann_matryoshka" -> """
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id % 20 = 0),
           c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                 FROM embeddings),
           s1 AS (SELECT query_id, neighbor_id, qv, cv,
                    list_cosine_similarity(qv[1:8], cv[1:8]) AS psim
                  FROM q JOIN c ON query_id <> neighbor_id),
           sh AS (SELECT query_id, neighbor_id, qv, cv,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY psim DESC, neighbor_id) AS prank
                  FROM s1),
           s2 AS (SELECT query_id, neighbor_id,
                    list_cosine_similarity(qv, cv) AS sim
                  FROM sh WHERE prank <= 30),
           r AS (SELECT query_id, neighbor_id,
                   CAST(round(sim * 1000, 0) AS BIGINT) AS sim_i,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
                 FROM s2)
      SELECT query_id, rnk, neighbor_id, sim_i FROM r
      WHERE rnk <= 5 ORDER BY query_id, rnk""",

    // int8 quantization replayed exactly: round-half-away matches the
    // kernel; quantized values are integers, exact in doubles, so the
    // integer-accumulated i8 cosine and the shortlist order agree bit-
    // for-bit; the final rerank is the proven float-cosine path.
    "ann_bq" -> """
      WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
      sb AS (SELECT vec_id, v,
             list_transform(v, x -> CASE WHEN x >= 0 THEN 1.0 ELSE 0.0 END) AS s
             FROM base),
      qs AS (SELECT vec_id AS query_id, v AS qv, s AS qb FROM sb
             WHERE vec_id % 20 = 0),
      sc AS (SELECT query_id, c.vec_id AS neighbor_id,
               -- hamming over 0/1 sign lists: popcounts minus twice the
               -- inner product (mirrors the XOR+popcount kernel exactly)
               CAST(list_inner_product(qb, qb) + list_inner_product(c.s, c.s)
                 - 2 * list_inner_product(qb, c.s) AS BIGINT) AS ham,
               qv, c.v AS cv
             FROM qs JOIN sb c ON query_id <> c.vec_id),
      short AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY ham ASC, neighbor_id) AS rh FROM sc),
      rr AS (SELECT query_id, neighbor_id,
               list_cosine_similarity(qv, cv) AS sim
             FROM short WHERE rh <= 20),
      r AS (SELECT query_id, neighbor_id,
              CAST(round(sim * 1000, 0) AS BIGINT) AS sim_i,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
            FROM rr)
      SELECT query_id, rnk, neighbor_id, sim_i FROM r
      WHERE rnk <= 5 ORDER BY query_id, rnk""",

    "ann_int8" -> """
      WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      qz AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM base),
      q8 AS (SELECT vec_id, v,
             CASE WHEN ma > 0 THEN list_transform(v, x -> round(x / ma * 127))
                  ELSE list_transform(v, x -> 0.0) END AS q
             FROM qz),
      qs AS (SELECT vec_id AS query_id, v AS qv, q AS qq FROM q8 WHERE vec_id % 20 = 0),
      sc AS (SELECT query_id, c.vec_id AS neighbor_id,
               -- zero-norm guard mirrors the I8Cosine kernel's 0.0 (a NaN
               -- here would sort ABOVE every real score in DESC order)
               CASE WHEN list_inner_product(qq, qq) = 0
                      OR list_inner_product(c.q, c.q) = 0 THEN 0.0
                    ELSE list_inner_product(qq, c.q) /
                      sqrt(list_inner_product(qq, qq) * list_inner_product(c.q, c.q))
               END AS sim8,
               qv, c.v AS cv
             FROM qs JOIN q8 c ON query_id <> c.vec_id),
      short AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY sim8 DESC, neighbor_id) AS r8 FROM sc),
      rr AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS sim
             FROM short WHERE r8 <= 20),
      r AS (SELECT query_id, neighbor_id,
              CAST(round(sim * 1000, 0) AS BIGINT) AS sim_i,
              CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
            FROM rr)
      SELECT query_id, rnk, neighbor_id, sim_i FROM r
      WHERE rnk <= 5 ORDER BY query_id, rnk""",

    "emb_neardup" -> """
      SELECT vec_a, vec_b, sim_i FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            CAST(b.embedding AS DOUBLE[])) * 1000, 0) AS BIGINT) AS sim_i,
          list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
            CAST(b.embedding AS DOUBLE[])) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t
      WHERE sim >= 0.5 ORDER BY vec_a, vec_b""",

    "text_quality" -> """
      SELECT doc_id,
        CAST(length(text) AS INTEGER) AS n_chars_m,
        CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
        CAST(len(list_distinct(string_split(lower(text), ' '))) AS INTEGER) AS n_distinct_tokens,
        CAST(len(list_filter(string_split(lower(text), ' '),
          tk -> tk IN ('the','a','of','and','to','in','is','it'))) AS INTEGER) AS n_stop_tokens,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS INTEGER) AS n_word_runs,
        CAST(COALESCE(list_max(list_transform(string_split(lower(text), ' '),
          tk -> length(tk))), 0) AS INTEGER) AS max_token_len
      FROM documents ORDER BY doc_id""",

    /** The hashing-trick scorer replayed: same md5-bucket hash (first 8
      * hex chars as an int), same Knuth-multiplicative fixture weights,
      * integer sums — bit-exact across engines. */
    "text_quality_model" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        FROM documents),
      w AS (
        SELECT doc_id,
          ((CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % 4096)
            * 2654435761) % 2001 - 1000 AS w
        FROM toks WHERE length(tok) > 0)
      SELECT doc_id, count(*) AS n_tokens, CAST(SUM(w) AS BIGINT) AS score_num,
        (SUM(w) > 0) AS keep
      FROM w GROUP BY doc_id ORDER BY doc_id""",

    "text_tokens" -> """
      WITH p AS (SELECT lang, source,
        len(string_split(lower(text), ' ')) AS nt FROM documents)
      SELECT lang, source, COUNT(*) AS n_docs,
        CAST(SUM(nt) AS BIGINT) AS total_tokens,
        CAST(MIN(nt) AS INTEGER) AS min_tokens,
        CAST(MAX(nt) AS INTEGER) AS max_tokens
      FROM p GROUP BY lang, source ORDER BY lang, source""",

    "text_vocab_topk" -> """
      SELECT token, COUNT(*) AS n FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
      WHERE token <> ''
      GROUP BY token ORDER BY n DESC, token LIMIT 20""",

    "text_fingerprint" -> """
      SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
      FROM documents ORDER BY doc_id""",

    // rational idf (tf * (N+1)/(df+1), one multiply + one divide, both
    // correctly-rounded IEEE) — bit-identical to the Spark expression; ln
    // carries no cross-engine guarantee
    "text_bm25" -> """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                 FROM documents WHERE text IS NOT NULL),
      dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM d
             WHERE len(t) > 0),
      st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
      tok AS (SELECT doc_id, dl, unnest(t) AS token FROM dl),
      tf AS (SELECT doc_id, dl, token, CAST(COUNT(*) AS DOUBLE) AS tf
             FROM tok WHERE token IN ('spark', 'query', 'merge')
             GROUP BY doc_id, dl, token),
      dfr AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf
              GROUP BY token),
      ts AS (SELECT tf.doc_id, tf.token,
               (((CAST(st.n AS DOUBLE) - df + CAST(0.5 AS DOUBLE)) /
                   (df + CAST(0.5 AS DOUBLE))) *
                 (tf * CAST(2.2 AS DOUBLE))) /
               (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                 (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)) /
                   (CAST(st.tot AS DOUBLE) / st.n))) AS s
             FROM tf JOIN dfr USING (token) CROSS JOIN st),
      agg AS (SELECT doc_id,
               SUM(CASE WHEN token = 'spark' THEN s END) AS s0,
               SUM(CASE WHEN token = 'query' THEN s END) AS s1,
               SUM(CASE WHEN token = 'merge' THEN s END) AS s2
             FROM ts GROUP BY doc_id)
      SELECT doc_id,
             COALESCE(s0, CAST(0 AS DOUBLE)) +
               COALESCE(s1, CAST(0 AS DOUBLE)) +
               COALESCE(s2, CAST(0 AS DOUBLE)) AS score
      FROM agg ORDER BY score DESC, doc_id LIMIT 25""",

    "search_hybrid_rrf" -> """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                 FROM documents WHERE text IS NOT NULL),
      dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM d
             WHERE len(t) > 0),
      st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
      tok AS (SELECT doc_id, dl, unnest(t) AS token FROM dl),
      tf AS (SELECT doc_id, dl, token, CAST(COUNT(*) AS DOUBLE) AS tf
             FROM tok WHERE token IN ('spark', 'query', 'merge')
             GROUP BY doc_id, dl, token),
      dfr AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf
              GROUP BY token),
      ts AS (SELECT tf.doc_id, tf.token,
               (((CAST(st.n AS DOUBLE) - df + CAST(0.5 AS DOUBLE)) /
                   (df + CAST(0.5 AS DOUBLE))) *
                 (tf * CAST(2.2 AS DOUBLE))) /
               (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
                 (CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)) /
                   (CAST(st.tot AS DOUBLE) / st.n))) AS s
             FROM tf JOIN dfr USING (token) CROSS JOIN st),
      agg AS (SELECT doc_id,
               SUM(CASE WHEN token = 'spark' THEN s END) AS s0,
               SUM(CASE WHEN token = 'query' THEN s END) AS s1,
               SUM(CASE WHEN token = 'merge' THEN s END) AS s2
             FROM ts GROUP BY doc_id),
      tl AS (SELECT doc_id,
               COALESCE(s0, CAST(0 AS DOUBLE)) +
                 COALESCE(s1, CAST(0 AS DOUBLE)) +
                 COALESCE(s2, CAST(0 AS DOUBLE)) AS score
             FROM agg ORDER BY score DESC, doc_id LIMIT 25),
      tr AS (SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                 AS BIGINT) AS r_text
             FROM tl),
      q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
            WHERE vec_id = 0),
      c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings WHERE vec_id <> 0),
      vs AS (SELECT neighbor_id, list_cosine_similarity(qv, cv) AS sim
             FROM c CROSS JOIN q),
      vr AS (SELECT neighbor_id AS doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, neighbor_id)
                 AS BIGINT) AS r_vec
             FROM vs QUALIFY r_vec <= 10),
      f AS (SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id,
                   tr.r_text, vr.r_vec
            FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id)
      SELECT doc_id, r_text, r_vec,
             (CASE WHEN r_text IS NOT NULL
                THEN CAST(1 AS DOUBLE) /
                  (CAST(60 AS DOUBLE) + CAST(r_text AS DOUBLE))
                ELSE CAST(0 AS DOUBLE) END
            + CASE WHEN r_vec IS NOT NULL
                THEN CAST(1 AS DOUBLE) /
                  (CAST(60 AS DOUBLE) + CAST(r_vec AS DOUBLE))
                ELSE CAST(0 AS DOUBLE) END) AS rrf
      FROM f ORDER BY rrf DESC, doc_id LIMIT 10""",

    "corpus_split_safe" -> """
      WITH all_docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents),
      fps AS (SELECT doc_id,
               COALESCE(md5(array_to_string(list_sort(list_distinct(
                 string_split(lower(text), ' '))), ' ')), '') AS fp
             FROM all_docs),
      canon AS (SELECT fp, MIN(doc_id) AS canon FROM fps GROUP BY fp),
      assigned AS (SELECT f.doc_id, f.fp,
               CASE WHEN substr(md5(c.canon::VARCHAR), 1, 1) <= 'c' THEN 'train'
                    WHEN substr(md5(c.canon::VARCHAR), 1, 1) <= 'e' THEN 'val'
                    ELSE 'test' END AS split
             FROM fps f JOIN canon c USING (fp))
      SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_groups,
             CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM assigned GROUP BY split ORDER BY split""",

    "text_tfidf" -> """
      WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                   FROM documents),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok
             WHERE token <> '' GROUP BY doc_id, token),
      dfr AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      tot AS (SELECT COUNT(*) AS n_docs FROM documents)
      SELECT doc_id, rnk, token, score FROM (
        SELECT tf.doc_id, tf.token,
          tf.tf * (tot.n_docs + 1.0) / (dfr.df + 1.0) AS score,
          CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
            ORDER BY tf.tf * (tot.n_docs + 1.0) / (dfr.df + 1.0) DESC,
                     tf.token ASC) AS INTEGER) AS rnk
        FROM tf JOIN dfr USING (token) CROSS JOIN tot)
      WHERE rnk <= 3 ORDER BY doc_id, rnk""",

    // same bigram construction as text_repetition; integer sums + one
    // division keep the doubles engine-exact
    "text_scripts" -> """
      WITH c AS (SELECT doc_id,
        CAST(CASE WHEN text IS NULL THEN 0 ELSE
          length(regexp_replace(text, '[^A-Za-z]', '', 'g')) END
          AS BIGINT) AS n_latin,
        CAST(CASE WHEN text IS NULL THEN 0 ELSE
          length(regexp_replace(text, '[^0-9]', '', 'g')) END
          AS BIGINT) AS n_digit,
        CAST(CASE WHEN text IS NULL THEN 0 ELSE
          length(regexp_replace(text, '[^\x{0400}-\x{04FF}]', '', 'g')) END
          AS BIGINT) AS n_cyrillic,
        CAST(CASE WHEN text IS NULL THEN 0 ELSE
          length(regexp_replace(text, '[^\x{0370}-\x{03FF}]', '', 'g')) END
          AS BIGINT) AS n_greek,
        CAST(CASE WHEN text IS NULL THEN 0 ELSE
          length(regexp_replace(text, '[^\x{0600}-\x{06FF}]', '', 'g')) END
          AS BIGINT) AS n_arabic,
        CAST(CASE WHEN text IS NULL THEN 0 ELSE
          length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) END
          AS BIGINT) AS n_cjk
      FROM documents)
      SELECT doc_id, n_latin, n_digit, n_cyrillic, n_greek, n_arabic, n_cjk,
        CASE
          WHEN greatest(n_latin, n_digit, n_cyrillic, n_greek, n_arabic,
                        n_cjk) = 0 THEN 'none'
          WHEN n_latin >= n_digit AND n_latin >= n_cyrillic AND
               n_latin >= n_greek AND n_latin >= n_arabic AND
               n_latin >= n_cjk THEN 'latin'
          WHEN n_digit >= n_cyrillic AND n_digit >= n_greek AND
               n_digit >= n_arabic AND n_digit >= n_cjk THEN 'digit'
          WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_arabic AND
               n_cyrillic >= n_cjk THEN 'cyrillic'
          WHEN n_greek >= n_arabic AND n_greek >= n_cjk THEN 'greek'
          WHEN n_arabic >= n_cjk THEN 'arabic'
          ELSE 'cjk'
        END AS dominant
      FROM c ORDER BY doc_id""",

    "corpus_dsir" -> """
      WITH tok AS (SELECT doc_id, source = 'src0' AS t,
                          string_split(lower(text), ' ') AS tk
                   FROM documents),
      bg AS (SELECT doc_id, t, array_to_string(tk[i+1:i+2], ' ') AS bg
             FROM (SELECT doc_id, t, tk, unnest(range(len(tk) - 1)) AS i
                   FROM tok WHERE len(tk) >= 2) x),
      corpus AS (SELECT bg,
                        SUM(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
                        SUM(CASE WHEN t THEN 0 ELSE 1 END) AS cr
                 FROM bg GROUP BY bg),
      tot AS (SELECT SUM(ct) AS tot_t, SUM(cr) AS tot_r,
                     COUNT(*) AS n_vocab
              FROM corpus),
      pdf AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
      terms AS (SELECT p.doc_id, p.bg, p.c,
                       CAST(p.c AS DOUBLE) *
                         (CAST(corpus.ct + 1 AS DOUBLE) /
                            CAST(tot.tot_t + tot.n_vocab AS DOUBLE)
                        - CAST(corpus.cr + 1 AS DOUBLE) /
                            CAST(tot.tot_r + tot.n_vocab AS DOUBLE)) AS term
                FROM pdf p JOIN corpus USING (bg) CROSS JOIN tot),
      scored AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                        list_sum(list(term ORDER BY bg)) AS score
                 FROM terms GROUP BY doc_id)
      SELECT doc_id, n_bigrams, score FROM scored
      WHERE score > 0 ORDER BY doc_id""",

    "text_bigram_lm" -> """
      WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      bg AS (SELECT doc_id, array_to_string(t[i+1:i+2], ' ') AS bg
             FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i
                   FROM tok WHERE len(t) >= 2) x),
      corpus AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg),
      per AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                     CAST(SUM(c) AS BIGINT) AS sum_freq,
                     CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_known
              FROM bg JOIN corpus USING (bg) GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(per.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        CAST(per.sum_freq AS DOUBLE) / per.n_bigrams AS mean_bg_freq,
        CAST(per.n_known AS DOUBLE) / per.n_bigrams AS known_ratio
      FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""",

    // same 4-gram digests as text_decontaminate; distinct per (source,
    // gram) before the pair join; jaccard is one division over int counts
    "corpus_overlap" -> """
      WITH tok AS (SELECT source, string_split(lower(text), ' ') AS t FROM documents),
      gr AS (SELECT DISTINCT source,
               md5(array_to_string(t[i+1:i+4], ' ')) AS g
             FROM (SELECT source, t, unnest(range(len(t) - 3)) AS i
                   FROM tok WHERE len(t) >= 4) x),
      tot AS (SELECT source, COUNT(*) AS n FROM gr GROUP BY source),
      sh AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared_ngrams
             FROM gr a JOIN gr b ON a.g = b.g AND a.source < b.source
             GROUP BY a.source, b.source)
      SELECT sh.src_a, sh.src_b, sh.shared_ngrams, ta.n AS n_a, tb.n AS n_b,
        CAST(sh.shared_ngrams AS DOUBLE) / (ta.n + tb.n - sh.shared_ngrams) AS jaccard
      FROM sh JOIN tot ta ON sh.src_a = ta.source
              JOIN tot tb ON sh.src_b = tb.source
      ORDER BY sh.src_a, sh.src_b""",

    // vocabulary cut tie-breaks (count DESC, token ASC) — deterministic
    // at the rank-500 boundary on both engines
    "text_oov" -> """
      WITH tk AS (SELECT doc_id, token FROM (
             SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
             FROM documents) t WHERE token <> ''),
      vocab AS (SELECT token FROM (
             SELECT token, COUNT(*) AS n FROM tk GROUP BY token
             ORDER BY n DESC, token LIMIT 500)),
      per AS (SELECT tk.doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
             FROM tk LEFT JOIN vocab v ON tk.token = v.token
             GROUP BY tk.doc_id)
      SELECT d.doc_id, CAST(COALESCE(per.n_tokens, 0) AS BIGINT) AS n_tokens,
        CAST(COALESCE(per.n_oov, 0) AS BIGINT) AS n_oov,
        CAST(per.n_oov AS DOUBLE) / per.n_tokens AS oov_ratio
      FROM documents d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id""",

    // duplicated sliding 5-grams merged to maximal spans: islands break
    // when the position gap exceeds n (windows no longer overlap/adjoin);
    // NULL lag (first gram of a doc) falls to the ELSE and opens an island
    "text_dupspans" -> """
      WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      gm AS (SELECT doc_id, i AS pos, md5(array_to_string(t[i+1:i+5], ' ')) AS g
            FROM (SELECT doc_id, t, unnest(range(len(t) - 4)) AS i
                  FROM tok WHERE len(t) >= 5) x),
      hot AS (SELECT g FROM (SELECT g, COUNT(*) AS c FROM gm GROUP BY g) WHERE c > 1),
      dup AS (SELECT doc_id, pos FROM gm JOIN hot USING (g)),
      isl AS (SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
                    THEN 0 ELSE 1 END AS brk
              FROM dup),
      grp AS (SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM isl)
      SELECT doc_id, MIN(pos) AS span_start,
        MAX(pos) - MIN(pos) + 5 AS span_words, COUNT(*) AS n_grams
      FROM grp GROUP BY doc_id, island ORDER BY doc_id, span_start""",

    // span REMOVAL replay: grams shared across >=2 docs keep their FIRST
    // holder; later holders drop every word covered by a shared-gram
    // occurrence; untouched docs keep their text verbatim (spanned docs
    // are rebuilt split/agg-on-space, exactly like the Spark rewrite)
    "text_despan" -> """
      WITH tok AS (SELECT doc_id, text,
               string_split(COALESCE(text, ''), ' ') AS t FROM documents),
      gm AS (SELECT doc_id, i + 1 AS s, i + 5 AS e,
               array_to_string(t[i+1:i+5], ' ') AS g
             FROM (SELECT doc_id, t, unnest(range(len(t) - 4)) AS i
                   FROM tok WHERE len(t) >= 5) x),
      firsts AS (SELECT g, MIN(doc_id) AS first_id FROM gm GROUP BY g
                 HAVING MIN(doc_id) <> MAX(doc_id)),
      occ AS (SELECT gm.doc_id, gm.s, gm.e FROM gm JOIN firsts USING (g)
              WHERE gm.doc_id > firsts.first_id),
      spanned AS (SELECT DISTINCT doc_id FROM occ),
      wd AS (SELECT doc_id, t[i+1] AS w, i + 1 AS idx
             FROM (SELECT doc_id, t, unnest(range(len(t))) AS i
                   FROM tok WHERE doc_id IN (SELECT doc_id FROM spanned)) x),
      dropped AS (SELECT DISTINCT wd.doc_id, wd.idx FROM wd
                  JOIN occ ON wd.doc_id = occ.doc_id
                          AND wd.idx BETWEEN occ.s AND occ.e),
      kept AS (SELECT wd.doc_id,
                 string_agg(wd.w, ' ' ORDER BY wd.idx) AS txt
               FROM wd LEFT JOIN dropped dr
                 ON wd.doc_id = dr.doc_id AND wd.idx = dr.idx
               WHERE dr.idx IS NULL GROUP BY wd.doc_id)
      SELECT d.doc_id,
        CASE WHEN d.doc_id IN (SELECT doc_id FROM spanned)
             THEN COALESCE(k.txt, '') ELSE d.text END AS text
      FROM documents d LEFT JOIN kept k USING (doc_id)
      ORDER BY d.doc_id""",

    // distinct 3-gram digests per side; pair candidates from the shared-
    // gram join; jaccard = shared / (n_doc + n_eval - shared), one division
    "decon_fuzzy" -> """
      WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      gr AS (SELECT DISTINCT doc_id,
               md5(array_to_string(t[i+1:i+3], ' ')) AS g
             FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i
                   FROM tok WHERE len(t) >= 3) x),
      co AS (SELECT * FROM gr WHERE doc_id % 10 <> 0),
      ev AS (SELECT doc_id AS eval_id, g FROM gr WHERE doc_id % 10 = 0),
      cot AS (SELECT doc_id, COUNT(*) AS n_doc FROM co GROUP BY doc_id),
      evt AS (SELECT eval_id, COUNT(*) AS n_eval FROM ev GROUP BY eval_id),
      sh AS (SELECT co.doc_id, ev.eval_id, COUNT(*) AS shared_ngrams
             FROM co JOIN ev ON co.g = ev.g GROUP BY co.doc_id, ev.eval_id)
      SELECT sh.doc_id, sh.eval_id, sh.shared_ngrams,
        CAST(sh.shared_ngrams AS DOUBLE) /
          (cot.n_doc + evt.n_eval - sh.shared_ngrams) AS jaccard
      FROM sh JOIN cot ON sh.doc_id = cot.doc_id
              JOIN evt ON sh.eval_id = evt.eval_id
      WHERE CAST(sh.shared_ngrams AS DOUBLE) /
          (cot.n_doc + evt.n_eval - sh.shared_ngrams) >= 0.5
      ORDER BY sh.doc_id, sh.eval_id""",

    // integer-exact floor(log2) bucket via binary-string length
    "corpus_length_hist" -> """
      WITH n AS (SELECT source,
               CAST(len(string_split(lower(COALESCE(text, '')), ' ')) AS BIGINT)
                 AS n_tokens
             FROM documents)
      SELECT source, CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS bucket,
        COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
      FROM n GROUP BY source, bucket ORDER BY source, bucket""",

    /** Staged XXH64 replay of the per-language sample ranking
      * (`tools/gen_sample_oracle.py`). */
    "corpus_sample" -> sqlResource("sample_oracle.sql"),

    /** Integer-sum k-means (the ann_ivf_kmeans trainer) + within-cluster
      * pairwise cosine replay (`tools/gen_semdedup_oracle.py`). */
    "emb_semdedup" -> sqlResource("semdedup_oracle.sql"),
    "emb_cluster_sample" -> sqlResource("clustersample_oracle.sql"),

    // same disjoint 10-token chunking, distinct-doc counting and in-order
    // reassembly; empty-after-cleaning docs keep md5('')
    "text_boilerplate" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      chunks AS (
        -- chunk-index range derived from the longest document, so the
        -- replay never silently truncates (the Spark side is unbounded)
        SELECT doc_id, i AS idx, array_to_string(tk[i*10+1 : i*10+10], ' ') AS chunk
        FROM toks, (SELECT unnest(range((SELECT CAST(ceil(max(len(string_split(text, ' '))) / 10.0) AS INT) FROM documents))) AS i) ii
        WHERE i < CAST(ceil(len(tk) / 10.0) AS INT)),
      hot AS (SELECT chunk FROM (
        SELECT chunk, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY chunk)
        WHERE nd > 2),
      kept AS (
        SELECT doc_id, count(*) AS n_kept,
          string_agg(chunk, ' ' ORDER BY idx) AS text_clean
        FROM chunks WHERE chunk NOT IN (SELECT chunk FROM hot)
        GROUP BY doc_id),
      totals AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
      SELECT t.doc_id, md5(COALESCE(k.text_clean, '')) AS clean_md5,
        t.n_chunks, t.n_chunks - COALESCE(k.n_kept, 0) AS n_dropped
      FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
      ORDER BY t.doc_id""",

    // same planted-PII construction and the same RE2-safe regexes, verbatim
    "text_pii_scrub" -> """
      WITH pii AS (
        SELECT doc_id, concat_ws(' ', substr(text, 1, 40),
          concat('user', doc_id, '@mail.example.com'),
          concat('+1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')),
          concat('10.0.', CAST(doc_id % 256 AS VARCHAR), '.7')) AS p
        FROM documents),
      clean AS (
        SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(p,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          '\+\d{8,15}\b|\+\d{1,4}([- ]\d{2,4}){1,3}\b|\b[2-9]\d{9}\b|\b\d{3}([- ]\d{2,4})?[- ]\d{4}\b', '<PHONE>', 'g') AS clean
        FROM pii)
      SELECT doc_id, clean FROM clean
      WHERE clean LIKE '%<EMAIL>%' AND clean LIKE '%<PHONE>%' AND clean LIKE '%<IP>%'
      ORDER BY doc_id""",

    // same md5-ordered per-source cumsum and 256-token split
    "corpus_pack" -> """
      WITH base AS (
        SELECT source, doc_id,
          CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt,
          md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
      cum AS (
        SELECT source, doc_id, nt,
          SUM(nt) OVER (PARTITION BY source ORDER BY h, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS start_tok
        FROM base)
      SELECT source, doc_id, nt,
        CAST(start_tok // 256 AS BIGINT) AS seq_in_source,
        CAST(start_tok % 256 AS BIGINT) AS seq_offset,
        GREATEST(1, CAST(ceil((start_tok % 256 + nt) / 256.0) AS BIGINT)) AS n_seqs
      FROM cum ORDER BY source, doc_id""",

    "corpus_card" -> """
      WITH f AS (SELECT source, lang, text, doc_id,
               COALESCE(md5(array_to_string(list_sort(list_distinct(
                 string_split(lower(text), ' '))), ' ')), '') AS fp,
               CASE WHEN text IS NOT NULL
                    THEN len(string_split(lower(text), ' ')) ELSE 0 END AS nt
             FROM documents)
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_text,
             CAST(SUM(nt) AS BIGINT) AS total_tokens,
             COUNT(DISTINCT fp) AS n_unique,
             COUNT(*) - COUNT(DISTINCT fp) AS n_dup_docs,
             COUNT(DISTINCT lang) AS n_langs
      FROM f GROUP BY source ORDER BY source""",

    "corpus_stats" -> """
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        quantile_cont(n_chars, 0.5) AS p50_chars,
        CAST(MAX(n_chars) AS BIGINT) AS max_chars
      FROM documents GROUP BY source ORDER BY source""",

    "text_langid" -> """
      WITH scored AS (
        SELECT doc_id, lang,
          len(list_filter(string_split(lower(text), ' '),
            tk -> tk IN ('the','a','of','and','is'))) AS s_en,
          len(list_filter(string_split(lower(text), ' '),
            tk -> tk IN ('der','die','das','und','ist'))) AS s_de,
          len(list_filter(string_split(lower(text), ' '),
            tk -> tk IN ('le','la','les','et','est'))) AS s_fr,
          len(list_filter(string_split(lower(text), ' '),
            tk -> tk IN ('el','los','las','y','es'))) AS s_es,
          len(list_filter(string_split(lower(text), ' '),
            tk -> tk IN ('de','shi','le','zai','he'))) AS s_zh
        FROM documents)
      SELECT doc_id, lang,
        CASE
          WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
          WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
          WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
          WHEN s_en >= s_de THEN 'en'
          ELSE 'de'
        END AS lang_pred
      FROM scored ORDER BY doc_id""",

    "media_meta" -> """
      SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        md5(text) AS checksum
      FROM documents ORDER BY doc_id""",

    // DC-only baseline JPEG: pixel(block b) = ((id%100003)*31 + b*7)%256,
    // 64 pixels per block — the decode is exact by construction
    "media_jpeg_features" -> """
      WITH px AS (
        SELECT doc_id, 8 * (1 + doc_id % 4) AS w, 8 * (1 + doc_id % 3) AS h
        FROM documents),
      blocks AS (
        SELECT doc_id, w, h, unnest(range((w // 8) * (h // 8))) AS b FROM px)
      SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        CAST(SUM(64 * (((doc_id % 100003) * 31 + b * 7) % 256)) AS BIGINT)
          AS gray_sum
      FROM blocks GROUP BY doc_id, w, h ORDER BY doc_id""",

    "media_frames" -> """
      WITH f AS (
        SELECT doc_id, octet_length(encode(text)) AS len,
               GREATEST(1, CAST(FLOOR(octet_length(encode(text)) / 4.0) AS BIGINT)) AS w
        FROM documents)
      SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
             CAST(LEAST(w, len - i * w) AS BIGINT) AS frame_len
      FROM f, (VALUES (0), (1), (2), (3)) t(i)
      WHERE i * w < len
      ORDER BY doc_id, frame_idx""",

    /** Same fixture-pixel formula as `Multimodal.FixtureImage`, summed
      * directly, PLUS the conv bank's gradient energies (the full
      * production feature basis of `ImageIoCodec.features`) — the Spark
      * side must PNG-encode, really decode, sum actual pixels AND do
      * 3×3 neighborhood math on the raster to reproduce these integers. */
    "media_features" -> """
      WITH px AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents),
      expanded AS (
        SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM px),
      stats AS (
        SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
          CAST(3 AS INTEGER) AS channels,
          CAST(SUM(((doc_id % 100003) * 31 + i * 7) % 256) AS BIGINT) AS sum_r,
          CAST(SUM(((doc_id % 100003) * 31 + i * 7 + 101) % 256) AS BIGINT) AS sum_g,
          CAST(SUM(((doc_id % 100003) * 31 + i * 7 + 202) % 256) AS BIGINT) AS sum_b
        FROM expanded GROUP BY doc_id, w, h),
      pos AS (
        SELECT doc_id, w, h, unnest(range((w - 2) * (h - 2))) AS p FROM px),
      xy AS (
        SELECT doc_id, w, 1 + p % (w - 2) AS x, 1 + p // (w - 2) AS y FROM pos),
      nb AS (
        SELECT doc_id,
          ((doc_id % 100003) * 31 + ((y-1)*w + (x-1)) * 7) % 256 AS vmm,
          ((doc_id % 100003) * 31 + ((y-1)*w + (x  )) * 7) % 256 AS vm0,
          ((doc_id % 100003) * 31 + ((y-1)*w + (x+1)) * 7) % 256 AS vmp,
          ((doc_id % 100003) * 31 + ((y  )*w + (x-1)) * 7) % 256 AS v0m,
          ((doc_id % 100003) * 31 + ((y  )*w + (x+1)) * 7) % 256 AS v0p,
          ((doc_id % 100003) * 31 + ((y+1)*w + (x-1)) * 7) % 256 AS vpm,
          ((doc_id % 100003) * 31 + ((y+1)*w + (x  )) * 7) % 256 AS vp0,
          ((doc_id % 100003) * 31 + ((y+1)*w + (x+1)) * 7) % 256 AS vpp
        FROM xy),
      conv AS (
        SELECT doc_id,
          CAST(SUM(ABS((vmp + 2*v0p + vpp) - (vmm + 2*v0m + vpm))) AS BIGINT)
            AS grad_x_energy,
          CAST(SUM(ABS((vpm + 2*vp0 + vpp) - (vmm + 2*vm0 + vmp))) AS BIGINT)
            AS grad_y_energy
        FROM nb GROUP BY doc_id)
      SELECT s.doc_id, width, height, channels, sum_r, sum_g, sum_b,
             grad_x_energy, grad_y_energy
      FROM stats s JOIN conv c ON s.doc_id = c.doc_id
      ORDER BY s.doc_id""",

    /** Arithmetic replay of the 3×3 conv bank over the fixture-pixel
      * formula: v(x,y) is the R-channel value, the three outputs are
      * Σ|sobel_x|, Σ|sobel_y|, Σ|laplacian| over interior pixels — the
      * Spark side must really decode the PNG and do neighborhood math on
      * the raster to reproduce them. */
    "media_conv_embed" -> """
      WITH px AS (
        SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents),
      pos AS (
        SELECT doc_id, w, h, unnest(range((w - 2) * (h - 2))) AS p FROM px),
      xy AS (
        SELECT doc_id, w, 1 + p % (w - 2) AS x, 1 + p // (w - 2) AS y FROM pos),
      n AS (
        SELECT doc_id,
          ((doc_id % 100003) * 31 + ((y-1)*w + (x-1)) * 7) % 256 AS vmm,
          ((doc_id % 100003) * 31 + ((y-1)*w + (x  )) * 7) % 256 AS vm0,
          ((doc_id % 100003) * 31 + ((y-1)*w + (x+1)) * 7) % 256 AS vmp,
          ((doc_id % 100003) * 31 + ((y  )*w + (x-1)) * 7) % 256 AS v0m,
          ((doc_id % 100003) * 31 + ((y  )*w + (x  )) * 7) % 256 AS v00,
          ((doc_id % 100003) * 31 + ((y  )*w + (x+1)) * 7) % 256 AS v0p,
          ((doc_id % 100003) * 31 + ((y+1)*w + (x-1)) * 7) % 256 AS vpm,
          ((doc_id % 100003) * 31 + ((y+1)*w + (x  )) * 7) % 256 AS vp0,
          ((doc_id % 100003) * 31 + ((y+1)*w + (x+1)) * 7) % 256 AS vpp
        FROM xy)
      SELECT doc_id,
        CAST(SUM(ABS((vmp + 2*v0p + vpp) - (vmm + 2*v0m + vpm))) AS BIGINT) AS grad_x_energy,
        CAST(SUM(ABS((vpm + 2*vp0 + vpp) - (vmm + 2*vm0 + vmp))) AS BIGINT) AS grad_y_energy,
        CAST(SUM(ABS(4*v00 - v0m - v0p - vm0 - vp0)) AS BIGINT) AS lap_energy
      FROM n GROUP BY doc_id ORDER BY doc_id""",

    /** Arithmetic replay of the fixture-GIF pixel formula (the Spark side
      * must invert a real LZW-compressed animated-GIF round trip, frame by
      * frame, to match). */
    "media_gif_frames" -> """
      WITH p AS (SELECT doc_id, 6 + doc_id % 5 AS w, 5 + doc_id % 4 AS h,
        2 + doc_id % 4 AS nf FROM documents),
      f AS (SELECT doc_id, w, h, unnest(range(nf)) AS fi FROM p),
      px AS (SELECT doc_id, w, h, fi, unnest(range(w * h)) AS i FROM f)
      SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
        CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        CAST(SUM(((doc_id % 100003) * 37 + fi * 11 + i * 13) % 256) AS BIGINT) AS gray_sum
      FROM px GROUP BY doc_id, fi, w, h ORDER BY doc_id, frame_idx""",

    /** Arithmetic replay of the fixture-MP4 parameter formula (the Spark
      * side must build and then box-walk a real ISO-BMFF stream to
      * match). */
    "media_mp4_meta" -> """
      WITH p AS (SELECT doc_id,
          CAST(600 * (1 + doc_id % 4) AS BIGINT) AS timescale,
          3 + doc_id % 6 AS n,
          CAST(160 + (doc_id % 5) * 80 AS INTEGER) AS width,
          CAST(120 + (doc_id % 3) * 60 AS INTEGER) AS height
        FROM documents),
      sz AS (SELECT doc_id, n, unnest(range(n)) AS i FROM p)
      SELECT p.doc_id, 'isom' AS brand, p.timescale,
        CAST((100 * p.n * 1000) // p.timescale AS BIGINT) AS duration_ms,
        p.width, p.height, CAST(p.n AS INTEGER) AS n_samples,
        CAST(SUM(50 + (sz.doc_id + sz.i) % 40) AS BIGINT) AS sample_bytes
      FROM p JOIN sz ON p.doc_id = sz.doc_id
      GROUP BY p.doc_id, p.timescale, p.n, p.width, p.height
      ORDER BY p.doc_id""",

    /** Arithmetic replay of the MJPEG fixture's per-(frame, block)
      * pixel formula — flat 8x8 blocks, so each block contributes
      * 64x its pixel value; the Spark side must walk a real AVI and
      * JPEG-decode every frame to match. */
    "media_mjpeg_video" -> """
      WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS nf,
          (1 + doc_id % 4) * (1 + doc_id % 3) AS nb,
          CAST(8 * (1 + doc_id % 4) AS INTEGER) AS w,
          CAST(8 * (1 + doc_id % 3) AS INTEGER) AS h
        FROM documents),
      f AS (SELECT doc_id, nf, nb, w, h, unnest(range(nf)) AS fi FROM p),
      b AS (SELECT doc_id, nf, nb, w, h, fi, unnest(range(nb)) AS bi FROM f)
      SELECT doc_id, CAST(nf AS INTEGER) AS n_frames, w AS width,
        h AS height,
        CAST(SUM((((doc_id % 100003) * 31 + fi * 11 + bi * 7) % 256) * 64)
          AS BIGINT) AS gray_sum
      FROM b GROUP BY doc_id, nf, w, h ORDER BY doc_id""",

    /** Arithmetic replay of the fixture-MP3 parameter formula — frame
      * sizes from the public Layer III length equation; the Spark side
      * must walk real sync'd headers (and skip the ID3 wrappers) to
      * match. */
    "media_mp3_meta" -> """
      WITH p AS (SELECT doc_id,
          ([44100, 48000, 32000])[CAST(doc_id % 3 AS INTEGER) + 1] AS sr,
          CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 2 END AS ch,
          5 + doc_id % 7 AS n
        FROM documents),
      f AS (SELECT doc_id, sr, ch, n, unnest(range(n)) AS i FROM p),
      w AS (SELECT doc_id, sr, ch, n,
          ([32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
            )[CAST(1 + (doc_id + i) % 14 AS INTEGER)] AS kbps,
          (doc_id + i) % 2 AS pad
        FROM f)
      SELECT doc_id, CAST(sr AS INTEGER) AS sample_rate,
        CAST(ch AS INTEGER) AS channels, CAST(n AS INTEGER) AS n_frames,
        CAST(SUM(144 * (kbps * 1000) // sr + pad) AS BIGINT) AS frame_bytes,
        CAST(n * 1152 * 1000 // sr AS BIGINT) AS duration_ms
      FROM w GROUP BY doc_id, sr, ch, n ORDER BY doc_id""",

    /** Identical arithmetic to media_audio: the FLAC leg decodes the
      * SAME deterministic PCM, so one replay text certifies both
      * codecs (WAV via javax.sound, FLAC from scratch). */
    "media_flac" -> """
      WITH p AS (SELECT doc_id, 200 + doc_id % 601 AS n FROM documents),
      s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM p),
      w AS (SELECT doc_id, n, i,
        ((doc_id % 100003) * 131 + i * 7919) % 65536 - 32768 AS smp FROM s),
      z AS (SELECT doc_id, n, smp,
        CASE WHEN lag(smp) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
              AND (smp < 0) <> (lag(smp) OVER (PARTITION BY doc_id ORDER BY i) < 0)
             THEN 1 ELSE 0 END AS zc
        FROM w)
      SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
        CAST(n AS BIGINT) AS n_samples,
        CAST(SUM(ABS(smp)) AS BIGINT) AS sum_abs,
        CAST(MAX(ABS(smp)) AS INTEGER) AS peak,
        CAST(SUM(zc) AS BIGINT) AS zero_cross
      FROM z GROUP BY doc_id, n ORDER BY doc_id""",

    /** Arithmetic replay of the fixture-WAV sample formula (the Spark side
      * must invert a real RIFF/PCM encode-decode round trip to match). */
    "media_audio" -> """
      WITH p AS (SELECT doc_id, 200 + doc_id % 601 AS n FROM documents),
      s AS (SELECT doc_id, n, unnest(range(n)) AS i FROM p),
      w AS (SELECT doc_id, n, i,
        ((doc_id % 100003) * 131 + i * 7919) % 65536 - 32768 AS smp FROM s),
      z AS (SELECT doc_id, n, smp,
        CASE WHEN lag(smp) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL
              AND (smp < 0) <> (lag(smp) OVER (PARTITION BY doc_id ORDER BY i) < 0)
             THEN 1 ELSE 0 END AS zc
        FROM w)
      SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
        CAST(n AS BIGINT) AS n_samples,
        CAST(SUM(ABS(smp)) AS BIGINT) AS sum_abs,
        CAST(MAX(ABS(smp)) AS INTEGER) AS peak,
        CAST(SUM(zc) AS BIGINT) AS zero_cross
      FROM z GROUP BY doc_id, n ORDER BY doc_id""",

    /** Integer-exact replay of both perceptual hashes from the fixture
      * near-dup pixel formula: shared Q15 DCT table literals, 8×8
      * floor-boundary grid, discrete-median thresholding — the Spark
      * side must really PNG-decode and reproduce every bit
      * (`src/main/resources/graft/phash_hashes_oracle.sql`). */
    "media_perceptual_hash" -> sqlResource("phash_hashes_oracle.sql"),

    /** Brute-force ground truth for the perceptual near-dup pairs: the
      * same hash replay, then ALL pairs with Hamming ≤ 8 — certifying
      * the Spark side's banded-LSH recall against an exhaustive oracle
      * (`src/main/resources/graft/phash_oracle.sql`). */
    "media_phash_neardup" -> sqlResource("phash_oracle.sql"),

    /** Integer-exact replay of the 63-bit audio fingerprint from the
      * fixture chirp PCM formula: Q15 trig literals at the 64-point
      * grid, windowed 8-bin DFT, |re|+|im| magnitudes, derivative bits
      * (`src/main/resources/graft/afp_hashes_oracle.sql`). */
    "media_audio_fingerprint" -> sqlResource("afp_hashes_oracle.sql"),

    /** Brute-force ground truth for the audio near-dup pairs: same
      * fingerprint replay, then ALL pairs with Hamming ≤ 6 — certifying
      * the banded-LSH recall (`src/main/resources/graft/afp_oracle.sql`). */
    "media_audio_neardup" -> sqlResource("afp_oracle.sql"),

    /** Brute-force pairs → recursive reachability components (group =
      * min reachable doc), same shape as the text dedup_groups replay
      * (`src/main/resources/graft/phash_groups_oracle.sql`). */
    "media_phash_groups" -> sqlResource("phash_groups_oracle.sql"),

    /** Fractional-area grid → 8 dihedral orientations → min DCT hash
      * (`src/main/resources/graft/phash_canon_oracle.sql`). */
    "media_phash_canonical" -> sqlResource("phash_canon_oracle.sql"),

    /** Audio fingerprint pairs → reachability components
      * (`src/main/resources/graft/afp_groups_oracle.sql`). */
    "media_audio_groups" -> sqlResource("afp_groups_oracle.sql"),

    /** Fingerprints for corpus ∪ re-minted batch, brute-force
      * batch×corpus pairs
      * (`src/main/resources/graft/afp_incr_oracle.sql`). */
    "media_audio_incremental" -> sqlResource("afp_incr_oracle.sql"),

    /** Hashes for corpus ∪ re-minted batch, then brute-force
      * batch×corpus pairs only
      * (`src/main/resources/graft/phash_incr_oracle.sql`). */
    "media_phash_incremental" -> sqlResource("phash_incr_oracle.sql"),

    /** Flat-block JPEG pixel replay per (doc, frame) through the same
      * integer DCT/median pipeline
      * (`src/main/resources/graft/video_phash_oracle.sql`). */
    "media_video_phash" -> sqlResource("video_phash_oracle.sql"),

    /** Full-funnel replay: hashes → pairs → reachability components →
      * keep-first → clamped-channel Sobel energies → threshold →
      * per-dimension summary
      * (`src/main/resources/graft/media_curate_oracle.sql`). */
    "pipeline_media_curate" -> sqlResource("media_curate_oracle.sql"),

    "corpus_shuffle" -> """
      WITH r AS (SELECT doc_id,
        ROW_NUMBER() OVER (ORDER BY md5(concat_ws('-', 42, doc_id)), doc_id) - 1 AS rk
        FROM documents)
      SELECT doc_id, CAST(rk % 8 AS INTEGER) AS shard,
        CAST(rk // 8 AS BIGINT) AS pos
      FROM r ORDER BY shard, pos""",

    /** Keep-first paragraph dedup: the ROW_NUMBER()=1 occurrence is the
      * same (doc_id, idx)-lexicographic argmin the Spark side elects with
      * min(struct(doc_id, idx)). */
    "text_paragraph_dedup" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      chunks AS (
        SELECT doc_id, i AS idx, array_to_string(tk[i*10+1 : i*10+10], ' ') AS chunk
        FROM toks, (SELECT unnest(range((SELECT CAST(ceil(max(len(string_split(text, ' '))) / 10.0) AS INT) FROM documents))) AS i) ii
        WHERE i < CAST(ceil(len(tk) / 10.0) AS INT)),
      firsts AS (
        SELECT doc_id, idx, chunk,
          ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
        FROM chunks),
      kept AS (
        SELECT doc_id, count(*) AS n_kept,
          string_agg(chunk, ' ' ORDER BY idx) AS text_dedup
        FROM firsts WHERE rn = 1 GROUP BY doc_id),
      totals AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
      SELECT t.doc_id, md5(COALESCE(k.text_dedup, '')) AS dedup_md5,
        t.n_chunks, t.n_chunks - COALESCE(k.n_kept, 0) AS n_dropped
      FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
      ORDER BY t.doc_id""",

    /** Sliding 64/48 chunking: last chunk index is the integer-exact
      * ceil((n-64)/48) via (n - 64 + 47) floor-division. */
    "text_chunks" -> """
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      lims AS (SELECT doc_id, tk, len(tk) AS n,
        CASE WHEN len(tk) <= 64 THEN 0
             ELSE CAST(floor((len(tk) - 64 + 47) / 48.0) AS INT) END AS lastk
        FROM toks),
      ch AS (
        SELECT doc_id, i AS chunk_id, n, tk
        FROM lims, (SELECT unnest(range((SELECT CAST(max(CASE WHEN len(string_split(text, ' ')) <= 64 THEN 0 ELSE floor((len(string_split(text, ' ')) - 64 + 47) / 48.0) END) AS INT) + 1 FROM documents))) AS i) ii
        WHERE i <= lastk)
      SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
        CAST(LEAST(64, n - chunk_id * 48) AS INTEGER) AS n_tokens,
        md5(array_to_string(tk[chunk_id*48+1 : chunk_id*48+64], ' ')) AS chunk_md5
      FROM ch ORDER BY doc_id, chunk_id""",

    /** HTML extraction replay: identical page construction, then the
      * same RE2-safe regex cascade (DuckDB needs the explicit 'g' and
      * chr(10) replacements; the patterns are shared verbatim with
      * [[graft.ops.TextOps.extractHtmlText]]). */
    "text_html_extract" -> """
      WITH page AS (SELECT doc_id,
        '<html><head><style>p{color:red}</style><script>var x = 1 < 2;</script></head><body><h1>Doc '
        || CAST(doc_id AS VARCHAR) || '</h1><!-- generator: graft --><p>'
        || replace(text, ' ', '&nbsp;') || '</p><ul><li>source &amp; '
        || source || ' &amp;lt; tail</li></ul></body></html>' AS html
        FROM documents),
      dropped AS (SELECT doc_id, regexp_replace(html,
        '(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<!--.*?-->',
        '', 'g') AS s FROM page),
      blocks AS (SELECT doc_id, regexp_replace(s,
        '(?i)</?(p|div|h[1-6]|li|ul|ol|table|tr|td|th|blockquote|section|article|header|footer|pre)\b[^>]*>|<br ?/?>',
        chr(10), 'g') AS s FROM dropped),
      untagged AS (SELECT doc_id, regexp_replace(s, '<[^>]*>', '', 'g') AS s FROM blocks),
      decoded AS (SELECT doc_id,
        replace(replace(replace(replace(replace(replace(replace(s,
          '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&#39;', ''''), '&apos;', ''''), '&amp;', '&') AS s FROM untagged),
      squeezed AS (SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(s,
          '[ \t\r]+', ' ', 'g'),
          ' ?\n ?', chr(10), 'g'),
          '\n{3,}', chr(10) || chr(10), 'g'),
          '^\s+|\s+$', '', 'g') AS s FROM decoded)
      SELECT doc_id, md5(s) AS extract_md5, CAST(length(s) AS INTEGER) AS n_chars
      FROM squeezed ORDER BY doc_id""",

    /** Domain census replay: same planted URLs, same RE2 extraction and
      * `www.`-stripping normalization. */
    "text_url_census" -> """
      WITH planted AS (SELECT doc_id,
        'See https://www.' || source || '.example.com/p/'
        || CAST(doc_id % 50 AS VARCHAR) || '?ref=1 and http://cdn-'
        || CAST(doc_id % 7 AS VARCHAR) || '.Example.ORG/asset.js. ' || text AS text
        FROM documents),
      urls AS (SELECT doc_id, unnest(regexp_extract_all(text,
        'https?://[A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+(?:/[A-Za-z0-9._~%/?#=&+-]*[A-Za-z0-9_~%/=&+-]|/)?')) AS url
        FROM planted),
      doms AS (SELECT doc_id, regexp_replace(lower(regexp_extract(url,
        'https?://([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)+)', 1)), '^www\.', '') AS domain
        FROM urls)
      SELECT domain, count(*) AS n_mentions, count(DISTINCT doc_id) AS n_docs
      FROM doms GROUP BY domain ORDER BY domain""",

    /** Fixed-point PageRank replay: the 3 iterations unrolled as CTE
      * stages; `//` (DuckDB floor division) ≡ Spark `DIV` on the
      * nonnegative ranks, and every sum is CAST back to BIGINT because
      * DuckDB's sum(BIGINT) widens to HUGEINT (which pandas would
      * convert to float, breaking exactness). */
    "graph_pagerank" -> """
      WITH e AS (SELECT DISTINCT l_suppkey AS src, o_custkey + 1000000 AS dst
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      nn AS (SELECT CAST(1000000000 // count(*) AS BIGINT) AS init FROM nodes),
      od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
      r0 AS (SELECT node, (SELECT init FROM nn) AS pr FROM nodes),
      c1 AS (SELECT e.dst AS node, CAST(sum(r0.pr // od.outdeg) AS BIGINT) AS contrib
             FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src
             GROUP BY e.dst),
      r1 AS (SELECT nodes.node,
               CAST((15 * (SELECT init FROM nn) + 85 * COALESCE(c1.contrib, 0)) // 100 AS BIGINT) AS pr
             FROM nodes LEFT JOIN c1 ON nodes.node = c1.node),
      c2 AS (SELECT e.dst AS node, CAST(sum(r1.pr // od.outdeg) AS BIGINT) AS contrib
             FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src
             GROUP BY e.dst),
      r2 AS (SELECT nodes.node,
               CAST((15 * (SELECT init FROM nn) + 85 * COALESCE(c2.contrib, 0)) // 100 AS BIGINT) AS pr
             FROM nodes LEFT JOIN c2 ON nodes.node = c2.node),
      c3 AS (SELECT e.dst AS node, CAST(sum(r2.pr // od.outdeg) AS BIGINT) AS contrib
             FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src
             GROUP BY e.dst),
      r3 AS (SELECT nodes.node,
               CAST((15 * (SELECT init FROM nn) + 85 * COALESCE(c3.contrib, 0)) // 100 AS BIGINT) AS pr
             FROM nodes LEFT JOIN c3 ON nodes.node = c3.node)
      SELECT node, pr FROM r3 ORDER BY node""",

    "bpe_learn" -> bpeLearnOracle(6),
    "bpe_train_encode" -> bpeTrainEncodeOracle(6),

    /** Gopher rules replay: same signals from plain string functions, the
      * stopword-presence sum inlined per list entry, thresholds as
      * integer cross-multiplications. */
    "text_gopher" -> {
      val stopSum = graft.ops.TextOps.Stopwords.map(w =>
        s"(CASE WHEN ' ' || low || ' ' LIKE '% $w %' THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""
      WITH sig AS (SELECT doc_id, lower(text) AS low FROM documents),
      c AS (SELECT doc_id,
        CAST(len(string_split(low, ' ')) AS BIGINT) AS n_words,
        CAST(length(replace(low, ' ', '')) AS BIGINT) AS n_chars_in_words,
        CAST(len(regexp_extract_all(low, '(^| )[^ ]*[a-z][^ ]*')) AS BIGINT) AS n_alpha_words,
        CAST($stopSum AS BIGINT) AS n_stop_distinct
        FROM sig)
      SELECT doc_id, n_words, n_chars_in_words, n_alpha_words, n_stop_distinct,
        (n_words >= 20 AND n_words <= 100000
          AND 3 * n_words <= n_chars_in_words
          AND n_chars_in_words <= 10 * n_words
          AND 5 * n_alpha_words >= 4 * n_words
          AND n_stop_distinct >= 2) AS keep
      FROM c ORDER BY doc_id"""
    },

    /** C4 rules replay: identical line-ification (RE2 `\1` spelling of
      * the same regex), line retention and sentence counting from plain
      * string functions, integer-cast sums. */
    "text_nfc" -> """
      SELECT doc_id,
             md5(CASE WHEN doc_id % 2 = 0 THEN text || ' — café naïve déjà vu'
                      ELSE text END) AS norm_md5,
             doc_id % 2 = 0 AS was_denormalized
      FROM documents ORDER BY doc_id""",

    "text_fix_mojibake" -> """
      SELECT doc_id,
             md5(CASE WHEN doc_id % 3 = 0 THEN text || ' — café №42'
                      WHEN doc_id % 3 = 2 THEN text || ' – naïve café'
                      ELSE text END) AS fixed_md5,
             doc_id % 3 = 0 AS was_mojibake
      FROM documents ORDER BY doc_id""",

    "text_c4" -> """
      WITH d AS (SELECT doc_id,
             regexp_replace(text, '((?:\S+\s+){9}\S+)\s+', '\1.' || chr(10), 'g') AS text
           FROM documents),
      l AS (SELECT doc_id,
              contains(lower(text), 'lorem ipsum') AS has_lorem,
              contains(text, '{') AS has_brace,
              unnest(string_split(text, chr(10))) AS line
            FROM d),
      s AS (SELECT doc_id, has_lorem, has_brace,
              (CASE WHEN trim(line) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(line), ' +')) END >= 5
               AND right(rtrim(line), 1) IN ('.', '!', '?', '"')
               AND NOT contains(lower(line), 'javascript')) AS kept,
              len(regexp_extract_all(line, '[.!?]')) AS np
            FROM l)
      SELECT doc_id,
        CAST(count(*) AS BIGINT) AS n_lines,
        CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_lines,
        CAST(sum(CASE WHEN kept THEN np ELSE 0 END) AS BIGINT) AS n_sentences,
        first(has_lorem) AS has_lorem,
        first(has_brace) AS has_brace,
        (CAST(sum(CASE WHEN kept THEN np ELSE 0 END) AS BIGINT) >= 3
          AND NOT first(has_lorem) AND NOT first(has_brace)
          AND sum(CASE WHEN kept THEN 1 ELSE 0 END) >= 1) AS keep
      FROM s GROUP BY doc_id ORDER BY doc_id""",

    /** Full MinHash+LSH replay: xxh64 shingle hashes → 32 seeded
      * min-signatures → 8 band-fold keys → bucket join → exact Jaccard.
      * XXH64's 64-bit wrapping arithmetic is staged as (hi, lo) 32-bit
      * column pairs across temp tables (validated bit-exact against
      * `XXH64.hashLong`/`hashUTF8String` JVM vectors). Generated by
      * `tools/gen_minhash_oracle.py` into the bundled resource. */
    "dedup_minhash" -> sqlResource("minhash_oracle.sql"),

    /** Incremental near-dup replay: same staged xxh64 pipeline over the
      * corpus ∪ offset-mutated batch, corpus-side bucket cap, corpus ×
      * batch candidates only (`tools/gen_incminhash_oracle.py`). */
    "dedup_incremental_near" -> sqlResource("incminhash_oracle.sql"),

    /** SimHash chunk-pair LSH replay: xxh64(token, 42) sign-accumulated
      * signatures → C(5,2) chunk-pair keys → capped bucket join → exact
      * `bit_count(xor)` Hamming verify, same staged-arithmetic machinery
      * (`tools/gen_simhash_oracle.py`). */
    "dedup_simhash" -> sqlResource("simhash_oracle.sql"),

    /** IVF with deterministic sampled centroids: the coarse sample order
      * (xxh64(vec_id, 42), vec_id) replays via the staged hashLong
      * machinery; assignment/probe/rank are double-accumulated cosine
      * with the operator's exact tie-breaks
      * (`tools/gen_ivf_oracle.py`). */
    "ann_ivf" -> sqlResource("ivf_oracle.sql"),
    "ann_pq" -> sqlResource("pq_oracle.sql"),
    "ann_ivfpq" -> sqlResource("ivfpq_oracle.sql"),

    /** SRP LSH: hyperplanes from xxh64((bit<<32)|dim, 7)/Long.MaxValue;
      * `list_inner_product` accumulates doubles in index order —
      * validated bit-identical to the SrpSignature kernel on all corpus
      * vectors — then 16×4-bit band buckets + exact-cosine verify
      * (`tools/gen_srp_oracle.py`). */
    "emb_neardup_lsh" -> sqlResource("srp_oracle.sql"),

    /** Spark's HyperLogLogPlusPlus replayed bit-for-bit (p=9 registers
      * from xxh64(value, 42), ascending-order zInverse, the decompiled
      * linear-count/threshold/bias selection with the K=6 neighbor
      * window; tables dumped from the Spark jar). Validated across a
      * 10-point cardinality sweep spanning every estimator regime
      * (`tools/gen_hll_oracle.py`). */
    "q_approx_distinct" -> sqlResource("hll_oracle.sql"),

    /** Count-min sketch replay: xxh64(token || "|i", 42) buckets (low bits
      * — width divides 2³²), cell counts as sums of landing tokens'
      * occurrence counts, min-over-rows estimates; over-counts from
      * colliding buckets reproduce exactly (`tools/gen_cm_oracle.py`). */
    "sketch_countmin" -> sqlResource("cm_oracle.sql"),

    /** Bloom-filter decontamination replay: truncated-md5 4-gram keys,
      * eval-side set bits, all-positions-set membership — false positives
      * included (`tools/gen_bloom_oracle.py`). */
    "sketch_bloom" -> sqlResource("bloom_oracle.sql"),

    /** Spherical k-means replayed iteration by iteration: int8-quantized
      * vectors, centroids as exact INTEGER SUM vectors (cosine is
      * scale-invariant, so the mean's division — the order-dependent float
      * step that made this rows-only — never happens), argmax assignment
      * over already-validated double cosine, then the standard ivfTopK
      * replay (`tools/gen_kmeans_oracle.py`). */
    "ann_ivf_kmeans" -> sqlResource("kmeans_oracle.sql"),

    // ---- lakehouse round-trips: the oracle replays the SEMANTICS of the
    // write→read loop directly over orders (the formats themselves are
    // exercised on the Spark side) --------------------------------------

    "lake_delta_read" -> """
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN o_totalprice * 2 ELSE o_totalprice END
                      AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1 ORDER BY 1""",

    "lake_hudi_mor_read" -> """
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM (
        SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
                 AS o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
                    ELSE o_totalprice END AS o_totalprice
        FROM orders) t
      GROUP BY 1 ORDER BY 1""",

    "lake_delta_cdf_mapped" -> """
      WITH src AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
      mod AS (SELECT k, CASE WHEN k % 10 = 0 THEN p + 1000 ELSE p END AS p
              FROM src),
      feed AS (
        SELECT CAST(0 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
               k, p FROM src
        UNION ALL SELECT CAST(1 AS BIGINT), 'delete', k, p FROM src
        UNION ALL SELECT CAST(1 AS BIGINT), 'insert', k, p FROM mod)
      SELECT _commit_version, _change_type, count(*) AS n,
             CAST(SUM(k) AS BIGINT) AS sum_okey,
             CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM feed GROUP BY 1, 2 ORDER BY 1, 2""",

    /** Identical semantics to lake_hudi_mor_delete — compaction must be
      * invisible to the merged view. */
    "lake_hudi_cleaned" -> """
      WITH h AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders
                 WHERE o_orderpriority = '2-HIGH')
      SELECT count(*) AS n,
             CAST(sum(CAST(CASE WHEN k % 2 = 0 THEN p * 2 ELSE p END
               AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM h""",

    "lake_hudi_compacted" -> """
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM (
        SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
                 AS o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0) t
      GROUP BY 1 ORDER BY 1""",

    "lake_convert_roundtrip" -> """
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1 ORDER BY 1""",

    "lake_hudi_mor_delete" -> """
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM (
        SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
                 AS o_orderstatus,
               CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0) t
      GROUP BY 1 ORDER BY 1""",

    "lake_iceberg_read" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 4 <> 0""",

    "lake_hudi_upsert" -> """
      WITH final AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND (o_orderkey % 3 = 0 OR o_orderkey % 2 = 0))
      SELECT count(*) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM final""",

    "lake_hudi_upsert_partitioned" -> """
      WITH final AS (
        SELECT o_orderkey, o_orderpriority,
               CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderkey % 5 = 0
          AND (o_orderkey % 3 = 0 OR o_orderkey % 2 = 0)
          AND o_orderkey % 6 <> 0)
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM final GROUP BY 1 ORDER BY 1""",

    "lake_hudi_mor_mirror" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(CASE WHEN o_orderkey % 30 = 0
                                THEN o_totalprice * 2
                                ELSE o_totalprice END AS DECIMAL(18,2)))
               AS DOUBLE) AS total
      FROM orders
      WHERE o_orderkey % 6 = 0
        AND NOT (o_orderkey % 42 = 0 AND o_orderkey % 30 <> 0)""",

    "lake_hudi_partitioned" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderpriority = '1-URGENT'""",

    "lake_iceberg_partitioned" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderpriority = '1-URGENT'""",

    "lake_iceberg_tag" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderpriority = '3-MEDIUM'""",

    "lake_iceberg_hidden" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE o_orderdate >= DATE '1996-01-01' AND o_orderkey % 10 = 3""",

    "lake_iceberg_evolution" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderdate >= DATE '1997-01-01'""",

    "lake_iceberg_upsert" -> """
      WITH final AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND (o_orderkey % 3 = 0 OR o_orderkey % 2 = 0))
      SELECT count(*) AS n,
             CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM final""",

    "lake_iceberg_posdelete" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 9 = 0 AND o_orderkey % 2 <> 0""",

    "lake_iceberg_dv" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE o_orderkey % 7 = 0
        AND o_orderkey % 3 <> 0 AND o_orderkey % 5 <> 0""",

    "lake_iceberg_changelog" -> """
      WITH k AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 4 = 0),
      b1 AS (SELECT o_orderkey FROM k WHERE o_orderkey % 3 = 0),
      b2 AS (SELECT o_orderkey FROM k WHERE o_orderkey % 2 = 0),
      d3 AS (SELECT o_orderkey FROM k WHERE o_orderkey % 8 = 0)
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS version, 'delete' AS change_type,
               count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM b1
        UNION ALL
        SELECT CAST(1 AS BIGINT), 'upsert', count(*),
               CAST(sum(o_orderkey) AS BIGINT) FROM b1
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'delete', count(*),
               CAST(sum(o_orderkey) AS BIGINT) FROM b2
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'upsert', count(*),
               CAST(sum(o_orderkey) AS BIGINT) FROM b2
        UNION ALL
        SELECT CAST(3 AS BIGINT), 'delete', count(*),
               CAST(sum(o_orderkey) AS BIGINT) FROM d3
      ) t ORDER BY version, change_type""",

    "lake_iceberg_rename" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 3 = 0""",

    "lake_mirror_roundtrip" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(CASE WHEN o_orderkey % 10 = 0
                                THEN o_totalprice + 1000
                                ELSE o_totalprice END AS DECIMAL(18,2)))
                  AS DOUBLE) AS total
      FROM orders WHERE o_orderpriority = '1-URGENT'""",

    "dq_expectations" -> """
      SELECT * FROM (
        SELECT 'discount_low' AS rule, 'drop' AS action,
               CAST(sum(CASE WHEN NOT coalesce(l_discount <= 0.05, false)
                             THEN 1 ELSE 0 END) AS BIGINT) AS violations,
               CAST(count(*) AS BIGINT) AS total FROM lineitem
        UNION ALL
        SELECT 'qty_bounds', 'warn',
               CAST(sum(CASE WHEN NOT coalesce(
                   l_quantity BETWEEN 1 AND 50, false)
                 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(*) AS BIGINT) FROM lineitem
        UNION ALL
        SELECT 'flag_known', 'warn',
               CAST(sum(CASE WHEN NOT coalesce(
                   l_returnflag IN ('A','N','R'), false)
                 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(*) AS BIGINT) FROM lineitem
      ) t ORDER BY rule""",

    "dq_quarantine" -> """
      WITH f AS (SELECT l_extendedprice AS p,
                        NOT coalesce(l_discount <= 0.05, false) AS gated
                 FROM lineitem)
      SELECT * FROM (
        SELECT 'passed' AS side, count(*) AS n,
               CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM f WHERE NOT gated
        UNION ALL
        SELECT 'quarantined', count(*),
               CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
        FROM f WHERE gated
      ) t ORDER BY side""",

    "q_avro_roundtrip" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_linenumber = 1 AND l_shipdate >= DATE '1995-01-01'
      GROUP BY l_returnflag ORDER BY l_returnflag""",

    "lake_delta_history" -> """
      SELECT * FROM (VALUES
        (CAST(0 AS BIGINT), 'CREATE TABLE AS SELECT',
         CAST(2 AS BIGINT), CAST(0 AS BIGINT), true),
        (CAST(1 AS BIGINT), 'WRITE',
         CAST(1 AS BIGINT), CAST(0 AS BIGINT), true),
        (CAST(2 AS BIGINT), 'DELETE',
         CAST(3 AS BIGINT), CAST(3 AS BIGINT), true),
        (CAST(3 AS BIGINT), 'REORG',
         CAST(1 AS BIGINT), CAST(3 AS BIGINT), false))
        AS t(version, operation, adds, removes, data_change)
      ORDER BY version""",

    "lake_iceberg_snapshots" -> """
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'overwrite',
         CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
        (CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'overwrite',
         CAST(2 AS BIGINT), CAST(2 AS BIGINT)))
        AS t(snapshot_id, timestamp_ms, operation, data_files, delete_files)
      ORDER BY snapshot_id""",

    "lake_hudi_timeline" -> """
      SELECT * FROM (VALUES
        ('00000000000000001', 'commit', 'completed'),
        ('00000000000000002', 'commit', 'completed'),
        ('00000000000000003', 'commit', 'completed'))
        AS t(instant, action, state)
      ORDER BY instant""",

    "lake_sql_stats_tvf" -> """
      SELECT 'o_orderkey' AS key, 8 AS buckets, '' AS partition_cols,
             TRUE AS has_files, COUNT(*) AS rows
      FROM orders""",

    "lake_sql_tvf" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 5 = 0""",

    "lake_sql_changelog_tvf" -> """
      WITH k AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0),
      b1 AS (SELECT o_orderkey FROM k WHERE o_orderkey % 2 = 0),
      d2 AS (SELECT o_orderkey FROM k WHERE o_orderkey % 4 = 0)
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS version, 'delete' AS change_type,
               count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM b1
        UNION ALL
        SELECT CAST(1 AS BIGINT), 'upsert', count(*),
               CAST(sum(o_orderkey) AS BIGINT) FROM b1
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'delete', count(*),
               CAST(sum(o_orderkey) AS BIGINT) FROM d2
      ) t ORDER BY version, change_type""",

    "lake_delta_merge" -> """
      WITH low AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders
                   WHERE o_orderpriority = '5-LOW')
      SELECT * FROM (
        SELECT 'delete' AS _change_type, count(*) AS n,
               CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM low WHERE k % 3 = 0 AND k % 5 = 0 AND k % 2 <> 0
        UNION ALL
        SELECT 'insert', count(*),
               CAST(sum(CAST(p * 2 AS DECIMAL(18,2))) AS DOUBLE)
        FROM low WHERE k % 2 = 0 AND k % 3 <> 0
        UNION ALL
        SELECT 'snapshot', count(*),
               CAST(sum(CAST(CASE WHEN k % 2 = 0 THEN p * 2 ELSE p END
                 AS DECIMAL(18,2))) AS DOUBLE)
        FROM low WHERE (k % 3 = 0 OR k % 2 = 0)
          AND NOT (k % 5 = 0 AND k % 2 <> 0 AND k % 3 = 0)
        UNION ALL
        SELECT 'update_postimage', count(*),
               CAST(sum(CAST(p * 2 AS DECIMAL(18,2))) AS DOUBLE)
        FROM low WHERE k % 3 = 0 AND k % 2 = 0
        UNION ALL
        SELECT 'update_preimage', count(*),
               CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
        FROM low WHERE k % 3 = 0 AND k % 2 = 0
      ) t ORDER BY _change_type""",

    "lake_delta_clone" -> """
      WITH h AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders
                 WHERE o_orderpriority = '2-HIGH')
      SELECT * FROM (
        SELECT 'clone' AS side, count(*) AS n,
               CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM h WHERE k % 3 <> 0 AND k % 5 <> 0
        UNION ALL
        SELECT 'source', count(*),
               CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE)
        FROM h WHERE k % 3 <> 0
      ) t ORDER BY side""",

    "lake_delta_restore" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderpriority = '1-URGENT'""",

    "lake_delta_purge" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE o_orderpriority = '3-MEDIUM' AND o_orderkey % 4 <> 1""",

    "lake_iceberg_rollback" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderpriority = '5-LOW'""",

    "lake_delta_rename" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 3 = 0""",

    "lake_delta_merge_evolve" -> """
      WITH ns AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders
                  WHERE o_orderpriority = '4-NOT SPECIFIED'),
      m AS (SELECT k,
                   CASE WHEN k % 3 = 0 THEN p * 2 ELSE p END AS p2,
                   CASE WHEN k % 3 = 0 THEN k % 7 END AS flag
            FROM ns WHERE k % 2 = 0 OR k % 3 = 0)
      SELECT count(*) AS n,
             CAST(sum(CAST(p2 AS DECIMAL(18,2))) AS DOUBLE) AS total,
             count(flag) AS flags,
             CAST(sum(flag) AS BIGINT) AS flag_sum
      FROM m""",

    "lake_sql_cdf_tvf" -> """
      WITH u AS (SELECT * FROM orders
                 WHERE o_orderpriority = '2-HIGH' AND o_orderkey % 9 = 0)
      SELECT * FROM (
        SELECT 'update_postimage' AS _change_type, count(*) AS n,
               CAST(sum(CAST(o_totalprice * 3 AS DECIMAL(18,2))) AS DOUBLE)
                 AS total FROM u
        UNION ALL
        SELECT 'update_preimage', count(*),
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM u
      ) t ORDER BY _change_type""",

    "lake_sql_hudi_inc_tvf" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice * 2 AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders
      WHERE o_orderpriority = '3-MEDIUM' AND o_orderkey % 2 = 0""",

    "lake_delta_txn" -> """
      SELECT count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders""",

    "lake_delta_update_cdf" -> """
      WITH u AS (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT')
      SELECT 'snapshot' AS _change_type, count(*) AS n,
             CAST(sum(CAST(CASE WHEN o_orderkey % 10 = 0
                                THEN o_totalprice + 1000
                                ELSE o_totalprice END AS DECIMAL(18,2)))
                  AS DOUBLE) AS total
      FROM u
      UNION ALL
      SELECT 'update_postimage', count(*),
             CAST(sum(CAST(o_totalprice + 1000 AS DECIMAL(18,2))) AS DOUBLE)
      FROM u WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT 'update_preimage', count(*),
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM u WHERE o_orderkey % 10 = 0
      ORDER BY 1""",

    // full recompute of the incrementally-maintained view's end state:
    // update bumped o_custkey by 100 for %7 keys, %13 keys were deleted
    "lake_ivm_agg" -> """
      WITH endst AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 100
                    ELSE o_custkey END AS ck,
               o_orderdate
        FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 13 <> 0)
      SELECT o_orderpriority, COUNT(*) AS view_count,
             CAST(SUM(ck) AS BIGINT) AS sum_o_custkey,
             MIN(o_orderdate) AS min_o_orderdate,
             MAX(o_orderdate) AS max_o_orderdate
      FROM endst GROUP BY 1 ORDER BY 1""",

    // full recompute of the JOIN view's end state: %13 fact rows were
    // deleted, %7 dimension rows moved to segment 'MOVED'
    "lake_ivm_join" -> """
      WITH a AS (
        SELECT o_custkey AS custkey, o_orderkey
        FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 13 <> 0),
      b AS (
        SELECT c_custkey AS custkey,
               CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer)
      SELECT c_mktsegment, COUNT(*) AS view_count,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_o_orderkey
      FROM a JOIN b USING (custkey)
      GROUP BY 1 ORDER BY 1""",

    // full recompute of the filtered distinct view's end state: the
    // update bumped o_custkey by 100 for %7 keys, %13 keys were deleted,
    // and the view is restricted to ck % 3 = 0
    "lake_ivm_distinct" -> """
      WITH endst AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 100
                    ELSE o_custkey END AS ck
        FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 13 <> 0)
      SELECT o_orderpriority, COUNT(*) AS view_count,
             COUNT(DISTINCT ck) AS nd_o_custkey
      FROM endst WHERE ck % 3 = 0 GROUP BY 1 ORDER BY 1""",

    // the Arrow write/read round trip must be the identity
    "arrow_roundtrip" -> """
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(o_custkey) AS BIGINT) AS sum_ck,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             MIN(o_orderdate) AS min_dt, MAX(o_orderdate) AS max_dt
      FROM orders GROUP BY 1 ORDER BY 1""",

    // the exchange-free pre-partitioned aggregate must equal a recompute
    "lake_bucketed_agg" -> """
      SELECT o_custkey, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1 ORDER BY 1""",

    // the bucket-pruned point lookup must equal the unpruned recompute
    "lake_bucketed_point" -> """
      SELECT o_custkey, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_custkey IN (1, 2, 4, 5, 7, 8)
      GROUP BY 1 ORDER BY 1""",

    // after the full CALL-driven maintenance lifecycle, reads must
    // equal the raw recompute (the services are physical only)
    "lake_bucketed_maintenance" -> """
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE o_totalprice >= 100000 AND o_totalprice < 200000""",

    // the bloom-pruned point lookup must equal the raw recompute
    "lake_bucketed_bloom" -> """
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE o_orderkey = (
        SELECT MAX(o_orderkey) FROM orders
        WHERE o_orderkey <=
          (SELECT (MIN(o_orderkey) + MAX(o_orderkey)) / 2 FROM orders))""",

    // the z-order-clustered (skipping-pruned) answer must equal the
    // raw recompute
    "lake_bucketed_cluster" -> """
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS lo_dt
      FROM orders
      WHERE o_totalprice < 10000
        AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'""",

    // the metadata-priced aggregate must equal the full recompute
    // string MIN/MAX (o_orderstatus) prices from the manifest: the
    // writer's own windows are EXACT (attained ASCII values)
    "lake_bucketed_minmax" -> """
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS lo_dt,
             CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS hi_dt,
             MIN(o_totalprice) AS lo_p, MAX(o_totalprice) AS hi_p,
             MIN(o_orderstatus) AS lo_st, MAX(o_orderstatus) AS hi_st
      FROM orders GROUP BY 1 ORDER BY 1""",

    // the TVF + auto-broadcast + dynamic-pruning spelling must equal
    // the plain join
    "lake_bucketed_dpp" -> """
      SELECT c_mktsegment, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY 1 ORDER BY 1""",

    // v1 saw only the even orderkeys; v2 (post-append) sees all rows —
    // once through the TVF, once through ANSI VERSION/TIMESTAMP AS OF
    "lake_bucketed_timetravel" -> """
      WITH legs AS (
        SELECT CAST(1 AS INTEGER) AS version, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT CAST(2 AS INTEGER), COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders)
      SELECT version, via, n, total
      FROM legs CROSS JOIN (VALUES ('tvf'), ('sql')) AS v(via)
      ORDER BY version, via""",

    // exact expected fragment table: v1 full checkpoint (4 bucket
    // files), v2 delta (chain 1, one added file, zero removes)
    "lake_sql_fragments_tvf" -> """
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'full', CAST(0 AS INTEGER),
         CAST(4 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(2 AS BIGINT), 'delta', CAST(1 AS INTEGER),
         CAST(1 AS BIGINT), CAST(0 AS BIGINT)))
        AS t(version, kind, chain, adds, removes)
      ORDER BY version""",

    // CDF: v2 inserts = the appended odd keys; v3's merge classes
    // recompute from the same predicates the query used
    "lake_bucketed_cdf" -> """
      SELECT * FROM (
        SELECT CAST(2 AS INTEGER) AS version, 'insert' AS change_type,
               COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM orders WHERE o_orderkey % 2 <> 0
        UNION ALL
        SELECT 3, 'delete', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 100 <> 0
        UNION ALL
        SELECT 3, 'update_preimage', COUNT(*),
               CAST(SUM(o_orderkey) AS BIGINT),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders WHERE o_orderkey % 100 = 0
        UNION ALL
        SELECT 3, 'update_postimage', COUNT(*),
               CAST(SUM(o_orderkey) AS BIGINT),
               CAST(SUM(CAST(o_totalprice * 2 AS DECIMAL(18,2))) AS DOUBLE)
        FROM orders WHERE o_orderkey % 100 = 0
      ) ORDER BY version, change_type""",

    // the merged snapshot: doubled prices for upserted keys, deleted
    // keys gone, everything else untouched
    "lake_bucketed_merge" -> """
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(CASE WHEN o_orderkey % 100 = 0
                                THEN o_totalprice * 2
                                ELSE o_totalprice END
                           AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE NOT (o_orderkey % 97 = 0 AND o_orderkey % 100 <> 0)
      GROUP BY 1 ORDER BY 1""",

    // SQL MERGE doubled %100 prices, UPDATE zeroed %93 (non-%100),
    // row-level DELETE dropped %97 (non-%100, non-%93)
    "lake_bucketed_sql_merge" -> """
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(CASE WHEN o_orderkey % 100 = 0
                                THEN o_totalprice * 2
                                WHEN o_orderkey % 93 = 0 THEN 0
                                ELSE o_totalprice END
                           AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE NOT (o_orderkey % 97 = 0 AND o_orderkey % 100 <> 0
                 AND o_orderkey % 93 <> 0)
      GROUP BY 1 ORDER BY 1""",

    // the data-skipped scan must equal the plain filtered recompute
    "lake_bucketed_skipping" -> """
      SELECT o_orderpriority, COUNT(*) AS n,
             MIN(o_orderdate) AS min_dt,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders WHERE o_orderdate >= DATE '1996-06-01'
      GROUP BY 1 ORDER BY 1""",

    // the streamed-and-reingested destination must equal the source
    "lake_bucketed_stream" -> """
      SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total
      FROM orders GROUP BY 1 ORDER BY 1""",

    // replaceWhere doubled the 1995 partition's prices; DELETE dropped
    // the 1993 partition entirely
    "lake_bucketed_replace" -> """
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_orderyear,
             COUNT(*) AS n,
             CAST(SUM(CAST(CASE WHEN year(o_orderdate) = 1995
                                THEN o_totalprice * 2
                                ELSE o_totalprice END
                           AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE year(o_orderdate) <> 1993
      GROUP BY 1 ORDER BY 1""",

    // same end state as lake_ivm_agg: the bucketed lake's updateWhere
    // bumped o_custkey by 100 for %7 keys, deleteWhere removed %13 keys
    "lake_ivm_bucketed" -> """
      WITH endst AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 7 = 0 THEN o_custkey + 100
                    ELSE o_custkey END AS ck,
               o_orderdate
        FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 13 <> 0)
      SELECT o_orderpriority, COUNT(*) AS view_count,
             CAST(SUM(ck) AS BIGINT) AS sum_o_custkey,
             MIN(o_orderdate) AS min_o_orderdate,
             MAX(o_orderdate) AS max_o_orderdate
      FROM endst GROUP BY 1 ORDER BY 1""",

    // two-axis layout: the partition-dir + bucket pruned scan must
    // equal the plain filtered aggregate
    "lake_bucketed_partitioned" -> """
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_orderyear, o_custkey,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      WHERE year(o_orderdate) BETWEEN 1995 AND 1996
        AND o_custkey IN (1, 2, 4, 5, 7, 8, 10, 11)
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // both composite axes pruned, then the same filtered aggregate;
    // the cross-joined summary replays the multi-axis COUNT(DISTINCT)
    "lake_bucketed_composite" -> """
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_orderyear,
             o_orderpriority, COUNT(*) AS n,
             CAST(SUM(o_custkey) AS BIGINT) AS sum_ck,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             s.d_year, s.d_prio
      FROM orders
      CROSS JOIN (SELECT COUNT(DISTINCT year(o_orderdate)) AS d_year,
                         COUNT(DISTINCT o_orderpriority) AS d_prio
                  FROM orders) s
      WHERE year(o_orderdate) BETWEEN 1994 AND 1996
        AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      GROUP BY 1, 2, s.d_year, s.d_prio ORDER BY 1, 2""",

    // the co-located join must equal the plain shuffled join
    "lake_bucketed_join" -> """
      SELECT c_mktsegment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1""",

    "lake_delta_cdf" -> """
      SELECT CAST(0 AS BIGINT) AS _commit_version, 'insert' AS _change_type,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      UNION ALL
      SELECT 1, 'delete', count(*),
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      FROM orders WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT 1, 'insert', count(*),
             CAST(sum(CAST(o_totalprice * 2 AS DECIMAL(18,2))) AS DOUBLE)
      FROM orders WHERE o_orderpriority = '1-URGENT'
      ORDER BY 1, 2""",

    "lake_delta_dv_read" -> """
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 3 <> 1
      GROUP BY 1 ORDER BY 1""",

    "lake_hudi_incremental" -> """
      SELECT 'U' AS o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice + 1000 AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 10 = 0""",

    "lake_iceberg_incremental" -> """
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice + 1000 AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders WHERE o_orderkey % 10 = 0
      GROUP BY 1 ORDER BY 1""",

    "lake_iceberg_eqdelete" -> """
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM (
        SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 5 <> 0
        UNION ALL
        SELECT o_orderstatus, o_totalprice * 4 FROM orders WHERE o_orderkey % 10 = 0
      ) t GROUP BY 1 ORDER BY 1"""
  )

  /** DuckDB replays of the LSH pipelines (see the `oracleSql` entries'
    * scaladoc); shipped as resources because the staged 64-bit arithmetic
    * expands to ~200 SQL statements each (generated by
    * `tools/gen_{minhash,simhash}_oracle.py`). */
  /** Unrolls [[graft.ops.TextOps.bpeLearnMerges]]'s greedy loop as k CTE
    * stages: s0 = the spaced corpus, then per stage an adjacent-pair
    * count (HAVING >= 2, tie-break count DESC / pair ASC), the argmax as
    * a scalar subquery, and the doubled-replace fixpoint producing the
    * next corpus state. Sums/counts CAST to BIGINT (DuckDB widens to
    * HUGEINT, which pandas would float-ify). */
  private def bpeLearnOracle(k: Int): String =
    bpeTrainOracle(k,
      finalSelect = (1 to k).map(i =>
        s"SELECT $i AS merge_rank, pair, replace(pair, ' ', '') AS merged, n FROM b$i")
        .mkString("SELECT * FROM (\n      ", "\n      UNION ALL ", "\n      ) ORDER BY merge_rank"))

  /** Train→encode replay: after the k stages, count tokens of the final
    * corpus state (≡ encoding the raw text with the learned merges, since
    * training applied them with the encoder's exact semantics). */
  private def bpeTrainEncodeOracle(k: Int): String =
    bpeTrainOracle(k, finalSelect =
      s"SELECT doc_id, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_tokens " +
        s"FROM s$k ORDER BY doc_id")

  private def bpeTrainOracle(k: Int, finalSelect: String): String = {
    def stage(i: Int): String = {
      val prev = s"s${i - 1}"
      val pat = s"' ' || (SELECT pair FROM b$i) || ' '"
      val rep = s"' ' || (SELECT replace(pair, ' ', '') FROM b$i) || ' '"
      s"""
      p$i AS MATERIALIZED (SELECT t[i] || ' ' || t[i + 1] AS pair
             FROM (SELECT string_split(trim(s), ' ') AS t FROM $prev) tok,
                  (SELECT unnest(range(1, (SELECT COALESCE(max(len(string_split(trim(s), ' '))), 1) FROM $prev))) AS i) idx
             WHERE i < len(t)),
      b$i AS MATERIALIZED (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p$i
             GROUP BY pair HAVING count(*) >= 2
             ORDER BY n DESC, pair LIMIT 1),
      s$i AS MATERIALIZED (SELECT doc_id, replace(replace(s, $pat, $rep), $pat, $rep) AS s FROM $prev)"""
    }
    s"""
      WITH s0 AS MATERIALIZED (SELECT doc_id, ' ' || regexp_replace(replace(lower(text), ' ', '_'), '(.)', '\\1 ', 'g') AS s
                  FROM documents),${(1 to k).map(stage).mkString(",")}
      $finalSelect"""
  }

  private def sqlResource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/$name")
    require(in != null, s"missing resource graft/$name")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }
}
