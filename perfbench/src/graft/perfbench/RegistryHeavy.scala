package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import graft.{BenchFamilies, SparkEntry}

object RegistryHeavy {
  /** Two `stream`-family gates whose stores write `batch_id=` paths by
    * hand and two `graph`-family queries that anchor their iterations
    * with `localCheckpoint`. All twelve stream and graph queries took
    * 53 s a pass on 4 cores, more than a run's share of the benchmark's
    * time budget.
    */
  val Stream: Seq[String] = Seq("q_stream_dedup_incr", "q_stream_novelty")
  val Graph: Seq[String] = Seq("q_graph_walks", "q_graph_kcore")
  val Names: Seq[String] = Stream ++ Graph
  require(Stream.forall(BenchFamilies.Families("stream").contains) &&
    Graph.forall(BenchFamilies.Families("graph").contains))

  /** (rows, checksum) of a collected result. Fractional values are
    * rounded to 6 significant digits so float summation order cannot
    * move the checksum.
    */
  def resultChecksum(rows: Array[Row]): (Long, Long) = {
    def render(v: Any): String = v match {
      case null => "NULL"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.6g"
      case f: Float => render(f.toDouble)
      case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
      case a: Array[Byte] => a.mkString("b", ".", "")
      case x => x.toString
    }
    Model.checksum(rows.toSeq.map(r => r.toSeq.map(render)))
  }
}

/** Registry queries over one tables directory, each collected (every
  * column, every row) and checked: its row count and order-insensitive
  * checksum must equal the values recorded for `tablesName` (the name
  * of the directory the tables came from) in `expected_registry.tsv`.
  */
final class RegistryRunner(ctx: Ctx, tables: Path, tablesName: String) {
  private val expectedFile = ctx.dataDir.resolve("expected_registry.tsv")
  private val recording = sys.props.contains("perfbench.record")

  /** Recorded (tables, query) → (rows, checksum). */
  private val recorded: Map[(String, String), (Long, Long)] =
    if (!Files.exists(expectedFile)) Map.empty
    else scala.io.Source.fromFile(expectedFile.toFile).getLines().filterNot(_.startsWith("#")).map { l =>
      val Array(t, q, n, c) = l.split("\t")
      (t, q) -> (n.toLong, c.toLong)
    }.toMap
  private val want = recorded.collect { case ((t, q), v) if t == tablesName => q -> v }
  private val got = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]

  /** Run and check query `q`; returns its time, check excluded. */
  def run(q: String, tracer: Tracer): Double = {
    val spark = ctx.spark
    val fn = SparkEntry.queries(q)
    val (rows, s) = Stats.timed {
      try Some(tracer.span(s"queries.$q")(fn(spark, tables.toString).collect()))
      catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q failed: $e")
          None
      }
    }
    ctx.detail(s"$q.s") = s
    if (tracer.enabled) {
      val info = spark.sparkContext.getRDDStorageInfo
      Layers.add(ctx, "operators.anchor_blocks", info.map(_.numCachedPartitions.toDouble).sum)
      Layers.add(ctx, "operators.anchor_mb", info.map(i => (i.memSize + i.diskSize) / 1e6).sum)
    }
    // blocking drop of every anchor the query left, outside its timing
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val sum = rows.map(RegistryHeavy.resultChecksum)
    sum.foreach(got(q) = _)
    ctx.samples.check(s"${ctx.workload} $q: error or $sum != ${want.get(q)}",
      sum.isDefined && (recording || sum == want.get(q)))
    s
  }

  /** With `-Dperfbench.record`, rewrite `expected_registry.tsv` with
    * the checksums this run got.
    */
  def record(): Unit = if (recording) {
    val rows = recorded ++ got.map { case (q, v) => (tablesName, q) -> v }
    val lines = rows.toSeq.sortBy(_._1).map { case ((t, q), (n, c)) => s"$t\t$q\t$n\t$c" }
    Files.write(expectedFile,
      ("# tables\tquery\trows\tchecksum (see RegistryHeavy.resultChecksum)" +: lines)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Registry queries from `BenchFamilies.Families` ([[RegistryHeavy.Names]])
  * over the benchmark's copy of the sf0.01 tables, or the tables
  * directory `--tables` names, in an order the seed permutes. Stream
  * gates are the pass's "loads" (they fold and write state stores),
  * graph queries its "reads".
  */
final class RegistryHeavy(val ctx: Ctx) extends Workload {
  val tracedUnits = 1
  override val MinUnits = 1
  private def spark = ctx.spark

  def run(): RunResult = {
    val data = ctx.work.resolve("sf")
    // set-up: copy the tables and count their rows through Spark
    val setups = (1 to SetupRepeats).map { _ =>
      Stats.deleteTree(data)
      Stats.timed {
        Stats.copyTree(ctx.tables, data)
        ctx.inputRows = Files.list(data).toArray.map(p =>
          spark.read.parquet(p.toString).count()).sum
      }._2
    }
    Stats.log("set-up done")
    ctx.inputBytes = Stats.dirBytes(data)
    val runner = new RegistryRunner(ctx, data, ctx.tables.getFileName.toString)
    val order = new scala.util.Random(ctx.seed).shuffle(RegistryHeavy.Names)
    val tmp = Path.of(System.getProperty("java.io.tmpdir"))
    val tmpBefore = Stats.dirBytes(tmp)

    /** One pass over the queries; returns the queries' time, checks excluded. */
    def pass(tracer: Tracer, timed: Boolean): Double =
      order.map { q =>
        val s = runner.run(q, tracer)
        if (timed) {
          if (RegistryHeavy.Graph.contains(q)) ctx.samples.reads += s * 1000
          else ctx.samples.loads += s
        }
        s
      }.sum

    val off = new Tracer("untraced", false, spark.sparkContext)
    (1 to WarmUnits).foreach(_ => pass(off, timed = false))
    Stats.log("warm-up done")
    // state the stream gates left after one pass, over the input tables
    val stored = (Stats.dirBytes(tmp) - tmpBefore).toDouble / ctx.inputBytes
    runner.record()
    val end = ctx.deadline
    var n = 0
    while (n < MinUnits || System.nanoTime() < end) {
      ctx.samples.passes += pass(off, timed = true)
      n += 1
    }
    if (ctx.trace) {
      untracedUnitS = Stats.median(ctx.samples.passes.toSeq)
      tracedUnitS = pass(ctx.tracer, timed = false)
      Layers.snapshot(ctx, tracedUnits)
    }
    RunResult(setups, math.max(stored, 1e-9))
  }
}
