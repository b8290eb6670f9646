package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Clustering table service — the analog of Hudi's clustering
  * (`hoodie.clustering.*`, sort-column strategy), which rewrites file groups
  * so correlated records co-locate and min/max file statistics become
  * selective (data skipping).
  *
  * Layout strategies:
  *  - linear: sort by the given columns (Hudi's default sort strategy);
  *  - z-order: sort by an interleaved-bit key over N numeric columns, so
  *    range predicates on ANY of the columns prune files, not just the
  *    leading one.
  *
  * Scale design (100 TB): one min/max aggregation pass over the columns
  * (tiny result), then a single `repartitionByRange` shuffle on the sort
  * key into `numFiles` output files, each sorted within itself. No
  * collect of data rows to the driver; the range boundaries come from
  * Spark's own range-partitioning sampler. The z-value is a pure codegen'd
  * column expression (shift/or chain), not a UDF.
  */
object Clustering {

  /** Bit-interleaved z-value over `cols`, where each column is first
    * normalized to a `bits`-bit integer rank using the provided
    * [lo, hi] range. `cols.size * bits` must fit in 63 bits. */
  def zValue(cols: Seq[Column], ranges: Seq[(Double, Double)], bits: Int): Column = {
    require(cols.nonEmpty && cols.size == ranges.size, "one (lo,hi) range per column")
    require(cols.size * bits <= 63, s"${cols.size} cols x $bits bits exceeds a long")
    val maxBucket = (1L << bits) - 1
    val scaled = cols.zip(ranges).map { case (c, (lo, hi)) =>
      val span = if (hi > lo) hi - lo else 1.0
      // clamp into [0, maxBucket]; nulls sort first (bucket 0).
      // multiply BEFORE dividing: (v/span)*max loses ulps (1/3*3 = 0.99…)
      // and would misbucket exact integer grids
      least(lit(maxBucket), greatest(lit(0L),
        floor((coalesce(c.cast("double"), lit(lo)) - lit(lo)) * lit(maxBucket.toDouble) / lit(span))
          .cast("long")))
    }
    val n = cols.size
    // z = for every bit j of every column i: bit -> position j*n + i
    val terms = for {
      (s, i) <- scaled.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(shiftright(s, j).bitwiseAND(lit(1L)), j * n + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Compute [min, max] per column in one aggregation pass. */
  def columnRanges(df: DataFrame, cols: Seq[String]): Seq[(Double, Double)] = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"_lo_$c"), max(col(c).cast("double")).as(s"_hi_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cols.indices.map { i =>
      if (row.isNullAt(2 * i)) (0.0, 1.0)
      else (row.getDouble(2 * i), row.getDouble(2 * i + 1))
    }
  }

  /** Append a z-value column (named `zCol`) computed over `cols` with
    * ranges taken from the data itself. */
  def withZValue(df: DataFrame, cols: Seq[String], bits: Int = 16,
                 zCol: String = "_graft_z"): DataFrame =
    df.withColumn(zCol, zValue(cols.map(col), columnRanges(df, cols), bits))

  /** Rewrite the table's base files clustered on `cols`.
    *  - `zorder = true`: interleaved-bit key (multi-dimensional skipping);
    *  - `zorder = false`: linear lexicographic sort.
    * `numFiles` bounds the rewritten file count (Hudi's
    * `hoodie.clustering.plan.strategy.target.file.max.bytes` analog,
    * expressed in files at this scale). Published as one version that
    * keeps the table's data-commit number. */
  def cluster(spark: SparkSession, table: LakeTable, cols: Seq[String],
              numFiles: Int, zorder: Boolean = true, bits: Int = 16): Unit = {
    // a MOR table must fold its delta log first: clustering rewrites the
    // base files, and a stale log replaying over them would double-apply
    if (table.tableType == LakeTable.MergeOnRead) MergeWriter.compact(spark, table)
    MergeWriter.rewriteView(spark, table) { base =>
      val sortKey: Seq[Column] =
        if (zorder) Seq(zValue(cols.map(col), columnRanges(base, cols), bits))
        else cols.map(col)
      base.repartitionByRange(numFiles, sortKey: _*).sortWithinPartitions(sortKey: _*)
    }
  }
}
