package graft.operators

import graft.SparkSuite
import graft.core.ConfigLayer

/** T1 — the <SRC>-templated SQL transform. */
class SqlTransformSpec extends SparkSuite {

  import spark.implicits._

  test("substitutes <SRC> and runs arbitrary SQL") {
    val df = Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "tag")
    val out = SqlTransform.transform(spark, df,
      "SELECT tag, COUNT(*) AS n FROM <SRC> GROUP BY tag")
    assert(out.as[(String, Long)].collect().toSet === Set(("a", 2L), ("b", 1L)))
  }

  test("multiple <SRC> occurrences substitute (self-join)") {
    val df = Seq((1, 10), (2, 20)).toDF("id", "v")
    val out = SqlTransform.transform(spark, df,
      "SELECT a.id, b.v FROM <SRC> a JOIN <SRC> b ON a.id = b.id")
    assert(out.count() === 2)
  }

  test("SQL with regex metacharacters is safe (literal replacement)") {
    val df = Seq(("x$1", 1)).toDF("s", "v")
    val out = SqlTransform.transform(spark, df,
      "SELECT regexp_replace(s, '\\\\$1', 'Y') AS r FROM <SRC>")
    assert(out.as[String].head() === "xY")
  }

  test("SQL that fails analysis leaves no temp view behind") {
    val df = Seq((1, "a")).toDF("id", "tag")
    def views = spark.catalog.listTables().collect()
      .count(_.name.toUpperCase.startsWith("GRAFT_SRC_TMP_TABLE_"))
    val before = views
    intercept[org.apache.spark.sql.AnalysisException](
      SqlTransform.transform(spark, df, "SELECT no_such_col FROM <SRC>"))
    assert(views === before)
  }

  test("maybeTransform gates on the reference key, Mongo semantics (run iff set)") {
    val df = Seq((1, "a")).toDF("id", "tag")
    val none = SqlTransform.maybeTransform(spark, df, ConfigLayer.empty)
    assert(none eq df)
    val some = SqlTransform.maybeTransform(spark, df,
      ConfigLayer(Map(SqlTransform.TransformerSqlKey -> "SELECT id FROM <SRC>")))
    assert(some.columns.toSeq === Seq("id"))
  }

  test("empty SQL rejected with the reference's message shape") {
    val df = Seq((1, "a")).toDF("id", "tag")
    val e = intercept[IllegalArgumentException](SqlTransform.transform(spark, df, ""))
    assert(e.getMessage.contains(SqlTransform.TransformerSqlKey))
  }
}
