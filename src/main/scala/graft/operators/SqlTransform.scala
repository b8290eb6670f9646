package graft.operators

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.ConfigLayer

/** T1 — the SQL-template transform, the reference's general-purpose relational
  * operator (TransformUtils.scala:26-38): register the source DataFrame under a
  * unique temp-view name, substitute `<SRC>` in the user SQL, run it. Every
  * Spark SQL construct (joins, aggregates, windows, set ops, …) is reachable
  * through this hook, planned and optimized by Catalyst.
  *
  * Differences from the reference, deliberate:
  *  - `createOrReplaceTempView` instead of the deprecated `registerTempTable`;
  *  - `Regex.quoteReplacement` not needed — `<SRC>` replaced literally, so SQL
  *    containing regex metacharacters around the pattern is safe
  *    (the reference's `replaceAll` treats the SQL as a regex target);
  *  - the temp view is dropped afterwards so repeated transforms don't leak
  *    catalog entries.
  */
object SqlTransform {

  val SrcPattern = "<SRC>"
  /** Config key, kept name-compatible with the reference's option surface. */
  val TransformerSqlKey = "hoodie.deltastreamer.transformer.sql"

  def transform(spark: SparkSession, df: DataFrame, sql: String): DataFrame = {
    require(sql != null && sql.nonEmpty, s"Missing configuration : ($TransformerSqlKey)")
    // temp view names don't like dashes (reference TransformUtils.scala:32)
    val tmpTable = "GRAFT_SRC_TMP_TABLE_" + UUID.randomUUID.toString.replace("-", "_")
    df.createOrReplaceTempView(tmpTable)
    // the analyzed plan no longer references the view — drop it, also when
    // the SQL fails analysis, so repeated transforms don't leak catalog entries
    try spark.sql(sql.replace(SrcPattern, tmpTable))
    finally spark.catalog.dropTempView(tmpTable): Unit
  }

  /** Config-gated variant: run the transform iff the key is set — the Mongo
    * module's (correct) gate semantics (HoodieMongoBatch.scala:129-130); the
    * Excel/JDBC/ES boxers invert the null-check, a reference bug we do not
    * reproduce (SURVEY.md §2.5). */
  def maybeTransform(spark: SparkSession, df: DataFrame, conf: ConfigLayer): DataFrame =
    conf.get(TransformerSqlKey).filter(_.nonEmpty) match {
      case Some(sql) => transform(spark, df, sql)
      case None      => df
    }
}
