package graft.apps

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{ConfigLayer, SparkEnv}
import graft.operators.{Flatten, SqlTransform}
import graft.sink.{BloomIndex, CatalogSync, LakeTable, MergeWriter}

/** Shared CLI + pipeline harness for the batch importers — the reference
  * repeats this shape in all four boxers (read → [flatten] → [SQL
  * transform] → keyed lake write, HoodieJDBCImporter.scala:91-134 etc.);
  * here it exists once.
  *
  * CLI surface (H2/H3): `--props <file>`, repeatable `--hoodie-conf k=v`,
  * `--debug`, `--help`, plus app-specific flags. Properties resolution:
  * defaults < props file < CLI overrides (H3). The SQL-transform gate uses
  * the Mongo module's correct iff-configured semantics everywhere
  * (SURVEY.md §2.5 — the Excel/JDBC/ES boxers inverted the null check). */
abstract class BatchImportApp {

  /** module name, e.g. "jdbc" → extra-options prefix
    * `hoodie.deltastreamer.jdbc.extra.options.` (T6). */
  def module: String

  /** app-specific required CLI flags → description (H4 validation). */
  def requiredFlags: Seq[String]

  def appName(cli: Map[String, String]): String

  /** build the source DataFrame from config + CLI. */
  def readSource(spark: SparkSession, conf: ConfigLayer, cli: Map[String, String]): DataFrame

  /** auto-flatten gate key; None = module has no flatten stage. */
  def autoFlattenKey: Option[String] = None

  def extraOptionsPrefix: String = s"hoodie.deltastreamer.$module.extra.options."

  // -------------------------------------------------------------- CLI

  final def parseArgs(args: Array[String]): (Map[String, String], Seq[String], Boolean) = {
    var cli = Map.empty[String, String]
    var overrides = Vector.empty[String]
    var debug = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--help" | "-h" => usageExit()
        case "--debug" => debug = true
        case "--hoodie-conf" => overrides :+= args(i + 1); i += 1
        case flag if flag.startsWith("--") => cli += flag.stripPrefix("--") -> args(i + 1); i += 1
        case other => throw new IllegalArgumentException(s"unrecognized argument: $other")
      }
      i += 1
    }
    (cli, overrides, debug)
  }

  protected def usageExit(): Unit = {
    System.err.println(
      s"""usage: ${getClass.getName.stripSuffix("$")}
         |  ${requiredFlags.map(f => s"--$f <value>").mkString(" ")} [--props <file>]
         |  [--hoodie-conf k=v]... [--debug] [--help]""".stripMargin)
    System.exit(1)
  }

  final def validate(cli: Map[String, String]): Unit =
    requiredFlags.foreach(f => require(cli.contains(f), s"Missing argument : (--$f)"))

  // -------------------------------------------------------------- pipeline

  /** read → [flatten] → [transform] → empty guard → keyed lake write →
    * catalog sync. */
  final def sync(spark: SparkSession, conf: ConfigLayer, cli: Map[String, String]): Unit = {
    val df = readSource(spark, conf, cli)
    df.printSchema() // observability parity (HoodieJDBCImporter.scala:109)
    val flattened = autoFlattenKey match {
      case Some(key) if conf.getBoolean(key, default = false) => Flatten(df)
      case _ => df
    }
    val transformed = SqlTransform.maybeTransform(spark, flattened, conf)
    // T7 empty-input guard
    if (transformed.isEmpty)
      throw new IllegalStateException(
        s"[$module] source may not exist or may be empty")
    val table = LakeTable.fromConfig(conf.requireKey("path"), conf)
    val operation = conf.getOrElse(LakeTable.OperationKey, MergeWriter.Upsert)
    // honor the reference's write-parallelism knob by clustering the batch
    // on the record key before the merge shuffle
    val parallelism = conf.get(s"hoodie.$operation.shuffle.parallelism").map(_.toInt)
    val batch = parallelism match {
      case Some(n) => transformed.repartition(n, table.recordKeyFields.map(col): _*)
      case None => transformed
    }
    MergeWriter.write(spark, batch, table, operation)
    // hoodie.index.type=BLOOM (the public Hudi key) keeps the COW key index,
    // which narrows each commit to the files holding its keys: a commit
    // maintains a fresh index itself, so only one it left missing or stale
    // is rebuilt; an index is an accelerator, so a failed rebuild leaves it
    // stale and the commit stands
    if (table.tableType == LakeTable.CopyOnWrite &&
        conf.getOrElse("hoodie.index.type", "").equalsIgnoreCase("BLOOM") &&
        !BloomIndex.isFresh(spark, table))
      scala.util.Try(BloomIndex.rebuild(spark, table)): Unit
    CatalogSync.maybeSync(spark, conf, table)
  }

  /** W5 — console preview. */
  final def console(spark: SparkSession, conf: ConfigLayer, cli: Map[String, String],
                    numRows: Int = 10): Unit = {
    val df = readSource(spark, conf, cli)
    df.printSchema()
    SqlTransform.maybeTransform(spark, df, conf).show(numRows, truncate = false)
  }

  // -------------------------------------------------------------- main

  final def main(args: Array[String]): Unit = {
    if (args.isEmpty) usageExit()
    val (cli, overrides, debug) = parseArgs(args)
    validate(cli)
    val conf = ConfigLayer.layered(
      propsFile = cli.get("props"),
      overrides = ConfigLayer.fromPairs(overrides))
    val spark = SparkEnv.appBuilder(appName(cli)).getOrCreate()
    // H6 banner
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(
      s"""=============================================
         |app: ${appName(cli)}
         |cli: ${cli.map { case (k, v) => s"--$k $v" }.mkString(" ")}
         |debug: $debug
         |=============================================""".stripMargin)
    try {
      if (debug) console(spark, conf, cli) else sync(spark, conf, cli)
    } finally spark.stop()
  }
}
