package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.perfbench.BusShim
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.core.SparkEnv

/** What a workload sees: the session, its seed, a fresh directory for its
  * inputs and lake, and the tracer when this is the traced run. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: File, val meter: Meter) {
  /** set once set-up is done, in the traced run only */
  var tracer: Option[Tracer] = None
  dir.mkdirs()
  def traced: Boolean = tracer.isDefined

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(spark.sparkContext, name)(body)
    case None => body
  }

  /** A span that also returns its wall seconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = span(name)(body)
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Traced run only: run a lazy stage to the `noop` sink so its cost shows
    * on its own; returns the rows it produced. */
  def materialize(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  def drain(): Unit = BusShim.drain(spark.sparkContext)

  private val digest = MessageDigest.getInstance("SHA-256")
  var inputRows = 0L
  /** Records generated input: row count and content, for the run record. */
  def input(rows: Long, content: String): Unit = {
    inputRows += rows
    digest.update(content.getBytes(StandardCharsets.UTF_8))
  }
  def inputHash: String = digest.clone().asInstanceOf[MessageDigest].digest().map("%02x".format(_)).mkString
}

/** What one measured phase of a workload produced. */
final class Rec {
  val commitS = mutable.ArrayBuffer[Double]()
  val queryS = mutable.ArrayBuffer[Double]()
  /** (seconds from input creation to commit end, rows it covers) */
  val fresh = mutable.ArrayBuffer[(Double, Long)]()
  /** rows and seconds behind `ingest_rows_per_s` */
  var rows = 0L
  var writeS = 0.0
  /** every user row committed in the window, behind the bytes-per-row metrics */
  var committed = 0L
  /** (bytes, rows) behind `write_bytes_per_row` when not the whole window */
  var written: Option[(Long, Long)] = None
  var ops = 0
  var failedOps = 0
  /** called by a workload's run loop after each operation */
  var afterOp: () => Unit = () => ()
  val errors = mutable.ArrayBuffer[String]()
  /** per-layer sums, reported divided by `ops` */
  val perOp = mutable.LinkedHashMap[String, Double]()
  /** per-layer values reported as they are */
  val fixed = mutable.LinkedHashMap[String, Double]()

  def add(k: String, v: Double): Unit = synchronized(perOp(k) = perOp.getOrElse(k, 0.0) + v)
  def max(k: String, v: Double): Unit = synchronized(fixed(k) = math.max(fixed.getOrElse(k, v), v))
  def check(ok: Boolean, msg: => String): Unit = if (!ok && errors.size < 50) errors += msg
}

/** One prepared workload instance: inputs generated and the initial lake
  * state built under its context's directory. */
trait Workload {
  def c: Ctx
  /** Untimed operations after set-up until `deadlineNs`, at least one, so
    * the measured ones run on warm JIT and code-generation caches. */
  def warmUp(r: Rec, deadlineNs: Long): Unit
  /** Runs operations until `deadlineNs`, at least one, recording into `r`. */
  def run(deadlineNs: Long, r: Rec): Unit
  /** One snapshot query (read + aggregate, collected). Untraced, one runs
    * after each operation of the window, so query times sample the same
    * stretch of time as commit times. */
  def query(): Unit
  /** true when `run` records query times itself instead of calling
    * `Rec.afterOp`. */
  def queriesInRun: Boolean = false
  /** Compares the final snapshot with an independent recompute from the
    * generated inputs; adds mismatches to `r.errors`, returns live rows. */
  def check(r: Rec): Long
  def lakeDir: File
  /** per-layer name for Spark jobs per operation */
  def jobsMetric: String
}

object Main {
  val SetupReps = 3
  val QueryReps = 5
  /** host-speed kernel rounds (see Calib): untimed ones for the JIT, then
    * samples before and after the window and after each operation in it */
  val CalibWarm = 10
  val CalibReps = 8
  val OpCalibReps = 3
  /** Warm-up before each measured window: operation times still fall
    * for the first several operations after set-up as the JIT compiles. */
  val WarmUpNs = 7000000000L
  val Layers = Seq("core", "apps", "sources", "operators", "sink", "streaming", "ops")

  /** Every per-layer metric of the traced run; a workload that does not
    * reach a layer reports 0 for it. */
  val PerLayer: Seq[String] = Seq(
    "core.session_s", "core.storage_end_mb",
    "apps.sync_s", "apps.jobs",
    "sources.read_s", "sources.rows_read", "sources.bytes_read",
    "operators.flatten_s", "operators.flatten_rows_out", "operators.transform_s",
    "sink.dedup_s", "sink.commit_s", "sink.commit_tail_s", "sink.jobs",
    "sink.partitions_touched", "sink.rows_rewritten", "sink.useful_ratio",
    "sink.files_added", "sink.files_removed", "sink.bytes_added",
    "sink.read_view_s", "sink.delta_chain", "sink.incremental_s",
    "sink.compact_s", "sink.compact_bytes_rewritten",
    "streaming.process_batch_s", "streaming.jobs_per_batch", "streaming.rows_per_batch",
    "streaming.trigger_wait_s", "streaming.backlog_files_max", "streaming.generator_lag_s",
    "streaming.persisted_rdds",
    "ops.curate_s", "ops.lsh_s", "ops.components_s", "ops.extra_jobs",
    "ops.candidate_pairs", "ops.verified_pairs", "ops.lsh_precision",
    "ops.capped_buckets", "ops.capped_rows") ++
    Layers.flatMap(l => Seq(s"$l.task_s", s"$l.task_skew", s"$l.gc_s", s"$l.shuffle_bytes")) ++
    Seq("trace.wall_s", "trace.attributed_share", "trace.overhead_s")

  def prepare(name: String, c: Ctx): Workload = name match {
    case "import_nested" => ImportNested.prepare(c)
    case "cdc_stream" => CdcStream.prepare(c)
    case "lake_mor_mixed" => LakeMorMixed.prepare(c)
    case "curate_dedup" => CurateDedup.prepare(c)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Value below which half the weight lies; the mean of the two values
    * either side when half falls exactly between them. */
  def weightedMedian(xs: Seq[(Double, Long)]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sortBy(_._1).toIndexedSeq
    val half = s.map(_._2).sum / 2.0
    val cum = s.map(_._2.toDouble).scanLeft(0.0)(_ + _).tail
    val i = cum.indexWhere(_ >= half)
    if (cum(i) == half && i + 1 < s.size) (s(i)._1 + s(i + 1)._1) / 2 else s(i)._1
  }

  /** The highest percentile with at least ten samples above it:
    * (percentile, value), or None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val idx = s.size - 11
      Some((100.0 * (idx + 1) / s.size, s(idx)))
    }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** All regular files under `dir`: path -> bytes. */
  def listFiles(dir: File): Map[String, Long] = {
    if (!dir.exists) return Map.empty
    val out = Map.newBuilder[String, Long]
    val stream = Files.walk(dir.toPath)
    try stream.filter(p => Files.isRegularFile(p)).forEach(p => out += p.toString -> Files.size(p))
    finally stream.close()
    out.result()
  }

  private def session(cores: Int): (SparkSession, Meter) = {
    val spark = SparkEnv.localSession("perfbench", cores.toString)
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    (spark, meter)
  }

  private def json(metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")

  def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_added") ||
      name.endsWith("bytes_rewritten") || name.endsWith("bytes_read")) "B"
    else if (name.endsWith("_mb")) "MB"
    else if (Seq("ratio", "precision", "skew", "share").exists(name.endsWith)) "ratio"
    else "count"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("train")) return train(opt("cores").toInt, new File(opt("work")))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = new File(opt("work"))
    val out = new File(opt("out"))
    val result =
      if (trace) traced(name, seed, seconds, cores, work, new File(opt("spans")))
      else untraced(name, seed, seconds, cores, work)
    Files.write(out.toPath, result.getBytes(StandardCharsets.UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** CPU time of this JVM, all threads. */
  private def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  private def envJson(spark: SparkSession, cores: Int): String = {
    val rt = Runtime.getRuntime
    s""""env":{"cores":$cores,"spark":"${spark.version}","java":"${System.getProperty("java.version")}",""" +
      s""""heap_max_mb":${rt.maxMemory / (1L << 20)}}"""
  }

  private def recordJson(r: Rec, c: Ctx): String = {
    val errs = r.errors.map(_.replace("\\", "\\\\").replace("\"", "'")).map("\"" + _ + "\"")
    s""""ops":${r.ops},"failed_ops":${r.failedOps},"input_rows":${c.inputRows},""" +
      s""""input_sha256":"${c.inputHash}","commits":${r.commitS.size},""" +
      s""""commit_s":${r.commitS.mkString("[", ",", "]")},"query_s":${r.queryS.mkString("[", ",", "]")},""" +
      s""""commit_tail":${tail(r.commitS.toSeq).map { case (p, v) => s"""{"pct":$p,"s":$v}""" }.getOrElse("null")},""" +
      s""""errors":${errs.mkString("[", ",", "]")}"""
  }

  /** Loads every class the listed workloads use, for the class-data archive
    * the build writes when this JVM exits. */
  private def train(cores: Int, work: File): Unit =
    Seq("import_nested", "cdc_stream", "curate_dedup").foreach { w =>
      untraced(w, 0L, 1.0, cores, new File(work, w), reps = 1, warmUpNs = 0L)
      SparkSession.getActiveSession.foreach(_.stop())
    }

  private def untraced(name: String, seed: Long, seconds: Double, cores: Int, work: File,
                       reps: Int = SetupReps, warmUpNs: Long = WarmUpNs): String = {
    var spark: SparkSession = null
    var meter: Meter = null
    var w: Workload = null
    val sessionS = mutable.ArrayBuffer[Double]()
    val setup = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      val (s, m) = session(cores)
      spark = s
      meter = m
      val t1 = System.nanoTime()
      w = prepare(name, new Ctx(spark, seed, new File(work, s"setup$i"), meter))
      val d = (System.nanoTime() - t0) / 1e9
      sessionS += (t1 - t0) / 1e9
      if (i < reps) deleteTree(w.c.dir)
      d
    }
    val warm = new Rec
    if (!w.queriesInRun) warm.afterOp = () => w.query()
    val (_, warmS) = secs(w.warmUp(warm, System.nanoTime() + warmUpNs))
    val calib = new Calib(cores)
    val speed = mutable.ArrayBuffer[Double]()
    val r = new Rec
    // host speed is also read between operations, where Spark is idle, so
    // the samples cover the window and not only its two ends
    if (!w.queriesInRun) r.afterOp = () => {
      r.queryS += secs(w.query())._2
      speed ++= calib.sample(OpCalibReps)
    }
    r.errors ++= warm.errors.map("warm-up: " + _)
    w.c.drain()
    speed ++= calib.sample(CalibReps, warm = CalibWarm)
    val bytes0 = meter.bytesWritten.get
    val cpu0 = processCpuNs()
    val (_, windowS) = secs(w.run(System.nanoTime() + (seconds * 1e9).toLong, r))
    val windowCpuS = (processCpuNs() - cpu0) / 1e9
    w.c.drain()
    val (written, writtenRows) = r.written.getOrElse((meter.bytesWritten.get - bytes0, r.committed))
    // a run without an operation loop (the stream) queries its final snapshot
    if (!w.queriesInRun && r.queryS.isEmpty) (1 to QueryReps).foreach(_ => r.queryS += secs(w.query())._2)
    speed ++= calib.sample(CalibReps)
    calib.close()
    val live = w.check(r)
    val stored = listFiles(w.lakeDir).values.sum
    // times at the reference host's speed, read around and in the window
    val scale = Calib.RefS / median(speed.toSeq)
    val raw = Seq(
      ("setup_s", median(setup), "s"),
      ("ingest_rows_per_s", r.rows / math.max(r.writeS, 1e-9), "rows/s"),
      ("commit_p50_s", median(r.commitS.toSeq), "s"),
      ("freshness_p50_s", weightedMedian(r.fresh.toSeq), "s"),
      ("query_p50_s", median(r.queryS.toSeq), "s"))
    val metrics = raw.map {
      case (k, v, "rows/s") => (k, v / scale, "rows/s")
      case (k, v, u) => (k, v * scale, u)
    } ++ Seq(
      ("write_bytes_per_row", written.toDouble / math.max(writtenRows, 1L), "B/row"),
      ("stored_bytes_per_row", stored.toDouble / math.max(live, 1L), "B/row"))
    val correct = r.errors.isEmpty
    s"""{"correct":$correct,"attempted":${warm.ops + r.ops + 1},""" +
      s""""failed":${warm.failedOps + r.failedOps + (if (correct) 0 else 1)},""" +
      s""""metrics":${json(metrics)},"record":{${envJson(spark, cores)},""" +
      s""""setup_reps_s":${setup.mkString("[", ",", "]")},"session_reps_s":${sessionS.mkString("[", ",", "]")},"warmup_s":$warmS,""" +
      s""""window_s":$windowS,"window_cpu_s":$windowCpuS,""" +
      s""""calib_s":${speed.mkString("[", ",", "]")},"raw":${json(raw)},${recordJson(r, w.c)}}}"""
  }

  private def traced(name: String, seed: Long, seconds: Double, cores: Int, work: File,
                     spansOut: File): String = {
    val ((spark, meter), sessionS) = secs(session(cores))
    val half = (seconds * 1e9 / 2).toLong
    // phase A, untraced: the baseline for the overhead and job counts
    val a = prepare(name, new Ctx(spark, seed, new File(work, "untraced"), meter))
    val wa = new Rec
    a.warmUp(wa, System.nanoTime() + WarmUpNs)
    val ra = new Rec
    a.c.drain()
    val jobs0 = meter.jobs.get
    a.run(System.nanoTime() + half, ra)
    a.c.drain()
    val jobsPerOp = (meter.jobs.get - jobs0).toDouble / math.max(ra.ops, 1)
    a.check(ra)
    deleteTree(a.c.dir)
    // phase B, traced
    val tracer = new Tracer(s"$name-$seed")
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    val b = prepare(name, new Ctx(spark, seed, new File(work, "traced"), meter))
    val wb = new Rec
    b.warmUp(wb, System.nanoTime() + WarmUpNs)
    b.c.tracer = Some(tracer)
    val rb = new Rec
    val t0 = System.nanoTime()
    b.run(t0 + half, rb)
    val wallB = (System.nanoTime() - t0) / 1e9
    b.c.drain()
    b.check(rb)
    val spans = tracer.spans
    val n = math.max(rb.ops, 1).toDouble
    def sum(pred: Span => Boolean)(f: SpanWork => Long): Double =
      spans.filter(pred).map(s => f(tracer.workOf(s)).toDouble).sum
    val layer = mutable.LinkedHashMap[String, Double]()
    rb.perOp.foreach { case (k, v) => layer(k) = v / n }
    layer ++= rb.fixed
    layer("core.session_s") = sessionS
    layer(b.jobsMetric) = jobsPerOp
    layer("core.storage_end_mb") =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    layer("streaming.persisted_rdds") = spark.sparkContext.getPersistentRDDs.size
    layer("sources.rows_read") = sum(_.layer == "sources")(_.inputRecords.get) / n
    layer("sources.bytes_read") = sum(_.layer == "sources")(_.inputBytes.get) / n
    val rewritten = sum(_.name == "sink.commit")(_.outputRecords.get)
    layer("sink.rows_rewritten") = rewritten / n
    if (rewritten > 0) layer("sink.useful_ratio") = rb.committed / rewritten
    val compacts = spans.filter(_.name == "sink.compact")
    if (compacts.nonEmpty) {
      layer("sink.compact_s") = compacts.map(_.seconds).sum / compacts.size
      layer("sink.compact_bytes_rewritten") = sum(_.name == "sink.compact")(_.outputBytes.get) / compacts.size
    }
    if (tracer.candidatePairs.get > 0) {
      layer("ops.candidate_pairs") = tracer.candidatePairs.get / n
      layer("ops.lsh_precision") = layer.getOrElse("ops.verified_pairs", 0.0) / layer("ops.candidate_pairs")
    }
    Layers.foreach { l =>
      layer(s"$l.task_s") = sum(_.layer == l)(_.taskNs.get) / 1e9 / n
      layer(s"$l.gc_s") = sum(_.layer == l)(_.gcMs.get) / 1e3 / n
      layer(s"$l.shuffle_bytes") = sum(_.layer == l)(_.shuffleBytes.get) / n
      layer(s"$l.task_skew") = tracer.taskSkew(l)
    }
    val top = spans.filter(_.parent == 0).map(_.seconds).sum
    layer("trace.wall_s") = wallB
    layer("trace.attributed_share") = top / math.max(wallB, 1e-9)
    layer("trace.overhead_s") = median(rb.commitS.toSeq) - median(ra.commitS.toSeq)
    tail(rb.commitS.toSeq).foreach { case (_, v) => layer("sink.commit_tail_s") = v }
    Files.write(spansOut.toPath, (tracer.spansJson + "\n").getBytes(StandardCharsets.UTF_8))
    val metrics = PerLayer.map(k => (k, layer.getOrElse(k, 0.0), unitOf(k)))
    val phases = Seq(wa, ra, wb, rb)
    val correct = phases.forall(_.errors.isEmpty)
    ra.errors ++= (wa.errors ++ wb.errors ++ rb.errors).map("traced run: " + _)
    s"""{"correct":$correct,"attempted":${phases.map(_.ops).sum + 2},""" +
      s""""failed":${phases.map(_.failedOps).sum + (if (correct) 0 else 1)},""" +
      s""""metrics":${json(metrics)},"record":{${envJson(spark, cores)},${recordJson(ra, a.c)}}}"""
  }
}
