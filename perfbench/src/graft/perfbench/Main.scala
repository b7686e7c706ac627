package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the run's work directory,
  * the tracer and the listeners, and where to put its samples.
  */
final class Ctx(
    val workload: String,
    val seed: Long,
    val seconds: Int,
    val trace: Boolean,
    val work: Path,
    val dataDir: Path,
    val tables: Path,
    val cpus: Int) {
  val samples = new Samples
  val engine = new EngineListener
  val progress = new ProgressListener
  private var session: SparkSession = _
  val tracer = new Tracer(s"$workload-s$seed-${ProcessHandle.current().pid()}", trace,
    spark.sparkContext)
  /** Per-layer metrics a workload measures directly (not from jobs). */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String,
    scala.collection.mutable.ArrayBuffer[Double]]
  /** Named figures for the result file only (not gated). */
  val detail = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Provenance: input size. */
  var inputRows = 0L
  var inputBytes = 0L

  def spark: SparkSession = {
    if (session == null) session = Main.buildSession(cpus, work, this)
    session
  }

  /** Restart the session with `n` cores (for the one-core speed-up run). */
  def restart(n: Int): SparkSession = {
    if (session != null) session.stop()
    session = Main.buildSession(n, work, this)
    session
  }

  def stop(): Unit = if (session != null) { session.stop(); session = null }

  /** End of the timed loop. A traced run times only the minimum number
    * of units, so its traced units start from the same state for a seed.
    */
  def deadline: Long = System.nanoTime() + (if (trace) 0L else seconds * 1000000000L)
}

object Main {

  val Workloads: Seq[String] = Seq("scd_rebuild", "scd_daily", "table_mixed", "registry_heavy")

  def buildSession(cpus: Int, work: Path, ctx: Ctx): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(ctx.engine)
    spark.streams.addListener(ctx.progress)
    spark
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(usage())
    if (!Workloads.contains(workload)) usage()
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(usage())).toAbsolutePath
    val data = Paths.get(arg(args, "--data").getOrElse(usage())).toAbsolutePath
    val out = Paths.get(arg(args, "--out").getOrElse(usage())).toAbsolutePath
    val tables = arg(args, "--tables").map(Paths.get(_)).getOrElse(data.resolve("sf0.01"))
      .toAbsolutePath
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    Files.createDirectories(work)
    Files.createDirectories(out)

    val spec = Spec.read(Paths.get(arg(args, "--spec").getOrElse(usage())))

    val ctx = new Ctx(workload, seed, seconds, trace, work, data, tables, cpus)
    val w: Workload = workload match {
      case "scd_rebuild" => new ScdRebuild(ctx)
      case "scd_daily" => new ScdDaily(ctx)
      case "table_mixed" => new TableMixed(ctx)
      case "registry_heavy" => new RegistryHeavy(ctx)
    }
    Stats.log(s"$workload seed $seed: start")
    ctx.spark // the session starts before set-up, which it would otherwise dominate
    Stats.log("session started")
    val result = try w.run() finally ctx.stop()
    Stats.log(s"$workload seed $seed: done, passes ${ctx.samples.passes.map(x => f"$x%.2f").mkString(" ")}")
    val s = ctx.samples
    val layers = if (trace) Layers.metrics(ctx, w) else Map.empty[String, Double]
    val endToEnd = Map(
      "setup_s" -> result.setupS,
      "run_s" -> Stats.median(s.passes.toSeq),
      "load_p50_s" -> Stats.median(s.loads.toSeq),
      "read_p50_ms" -> Stats.median(s.reads.toSeq),
      "stored_bytes_ratio" -> result.storedBytesRatio,
      "peak_rss_mb" -> Stats.peakRssMb())
    // the metrics and units BENCHMARK.json names, in its order
    val metrics =
      if (trace) spec.perLayer.map { case (n, u) =>
        if (!layers.contains(n)) Stats.log(s"per-layer metric $n: not exercised by this workload, reported as 0")
        (n, layers.getOrElse(n, 0.0), u)
      }
      else spec.endToEnd.map { case (n, u) =>
        (n, endToEnd.getOrElse(n, sys.error(s"no end-to-end metric $n in this benchmark")), u)
      }
    val metricJson = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val failRatio = if (s.attempted == 0) 1.0 else s.failed.toDouble / s.attempted
    // reported, not gated: too few samples per run for a steady tail, and 0 when all pass
    ctx.detail("load_tail_s") = Stats.tail(s.loads.toSeq)
    ctx.detail("read_tail_ms") = Stats.tail(s.reads.toSeq)
    ctx.detail("fail_ratio") = failRatio
    val provenance =
      s"""{"workload":"$workload","seed":$seed,"seconds":$seconds,"trace":$trace,""" +
        s""""nproc":$cpus,"available_processors":${Runtime.getRuntime.availableProcessors()},""" +
        s""""input_rows":${ctx.inputRows},"input_bytes":${ctx.inputBytes},""" +
        s""""spark":"${org.apache.spark.SPARK_VERSION}","jdk":"${System.getProperty("java.version")}",""" +
        s""""commit":"${sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")}",""" +
        s""""loads":${s.loads.length},"reads":${s.reads.length},"passes":${s.passes.length},""" +
        s""""failures":[${s.failures.map(f =>
          "\"" + f.replace("\"", "'") + "\"").mkString(",")}],""" +
        s""""load_samples_s":[${s.loads.map(num).mkString(",")}],""" +
        s""""read_samples_ms":[${s.reads.map(num).mkString(",")}],""" +
        s""""pass_samples_s":[${s.passes.map(num).mkString(",")}],""" +
        s""""setup_samples_s":[${result.setupSamples.map(num).mkString(",")}],""" +
        s""""layers":{${layers.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString(",")}},""" +
        s""""detail":{${ctx.detail.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString(",")}},""" +
        s""""metrics":$metricJson}"""
    val stamp = s"$workload-s$seed-t${if (trace) 1 else 0}-${System.currentTimeMillis()}"
    Files.write(out.resolve(s"result-$stamp.json"), (provenance + "\n").getBytes("UTF-8"))
    if (trace) Files.write(out.resolve(s"spans-$stamp.json"), ctx.tracer.json.getBytes("UTF-8"))
    System.err.println(s"[perfbench] $provenance")
    println(s"""{"correct":${s.failed == 0 && s.attempted > 0},"attempted":${math.max(1L, s.attempted)},""" +
      s""""failed":${if (s.attempted == 0) 1 else s.failed},"metrics":$metricJson}""")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def usage(): Nothing = {
    System.err.println("usage: Main --workload <" + Workloads.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir> --out <dir> " +
      "--spec <BENCHMARK.json> [--tables <dir>]")
    sys.exit(2)
  }
}

/** The metric names and units `BENCHMARK.json` lists: the one place
  * that says what a run reports.
  */
final case class Spec(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

object Spec {
  def read(path: Path): Spec = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readAllBytes(path))
    def list(key: String): Seq[(String, String)] = {
      val it = tree.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(n => n.get("name").asText -> n.get("unit").asText).toSeq
    }
    Spec(list("end_to_end"), list("per_layer"))
  }
}

/** What a workload run hands back besides its samples. */
final case class RunResult(setupSamples: Seq[Double], storedBytesRatio: Double) {
  def setupS: Double = Stats.median(setupSamples)
}

/** A workload: set up (several times, median reported), timed loop,
  * checks outside the timed spans, then — in a traced run — a fixed
  * traced phase that gives the per-layer numbers.
  */
trait Workload {
  def ctx: Ctx
  def run(): RunResult
  /** Number of units (passes, loads or cycles) the traced phase ran. */
  def tracedUnits: Int
  /** Untraced and traced median unit time, for `trace_overhead`. */
  var untracedUnitS: Double = 0.0
  var tracedUnitS: Double = 0.0
  /** One-core over N-core unit time, where measured. */
  var parallelSpeedup: Double = 0.0

  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats: Int = 3
  /** Timed units (passes, loads, cycles) a run makes even when they
    * outlast `--seconds`.
    */
  val MinUnits: Int = 2
  /** Untimed units first: a fresh JVM runs the first ones several times
    * slower (class loading, code generation, JIT).
    */
  val WarmUnits: Int = 1
}
