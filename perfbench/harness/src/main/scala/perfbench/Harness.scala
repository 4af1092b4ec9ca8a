package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.pipeline.{BpiPipeline, BpiSchema}

/** Benchmark harness: drives the engine through its public entry points
  * only — `BpiPipeline.runStreamWith` with a `validationGate` +
  * `appendParquet` sink, and `SparkEntry.queries(name)(spark, dir)` followed
  * by `.count()` — one operation at a time from one client (closed loop),
  * and times every call it makes into a layer.
  *
  * Workloads:
  *   bpi            cycles of polls and a backlog drain: a poll lands one
  *                  payload file and drains it (AvailableNow, one
  *                  checkpoint across all polls), a drain takes the whole
  *                  backlog into a fresh checkpoint and warehouse
  *   lifecycle_cold after an untimed first touch, lifecycles: on a fresh
  *                  copy of the corpus, a cold pass over the lifecycle
  *                  queries builds their state, then warm passes serve
  *                  from it
  *   queries_warm   passes over the other declared queries once a warm-up
  *                  pass has built whatever they need
  *
  * With `--trace 1` it registers a SparkListener, a QueryExecutionListener
  * and a StreamingQueryListener for every other pass only, keeps spans in
  * memory, writes them to `spans.jsonl` at the end and derives per-layer
  * figures; the untraced passes of the same run give the tracing overhead.
  *
  * The raw record (per-operation and per-pass times, failures, checks,
  * per-layer figures) is written as JSON to `--out`; `perfbench/run.py`
  * turns it into the benchmark's metrics.
  */
object Harness {

  final case class Conf(workload: String, seconds: Double, trace: Boolean,
      work: Path, inputs: Path, corpus: Path, queries: Seq[String],
      cores: Int, seed: Long, out: Path)

  final case class Op(kind: String, name: String, module: String, pass: Int,
      traced: Boolean, ms: Double, rows: Long, layers: Map[String, Double])

  final case class Pass(kind: String, index: Int, traced: Boolean, s: Double,
      jitMs: Double, cpuS: Double, spanId: Long)

  final case class Failure(op: String, cls: String, message: String)

  val MinLifecycles = 3
  val WarmPasses = 2
  val WarmupPolls = 15
  val PollsPerCycle = 2
  val MinCycles = 4
  /** Set-ups per run; setup_s reports their median. */
  val Setups = 3

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def p(k: String) = Paths.get(m(k)).toAbsolutePath
    Conf(m("workload"), m("seconds").toDouble, m("trace") == "1",
      p("work"), p("inputs"), p("corpus"),
      m.get("queries") match {
        case Some("ALL") => SparkEntry.allSpecs.map(_.name).sorted
        case Some(f) => Files.readAllLines(Paths.get(f)).asScala.toSeq
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        case None => Nil
      },
      m("cores").toInt, m("seed").toLong, p("out"))
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val h = new Harness(conf)
    try h.run() finally h.stop()
  }

  /** Query name -> module, from each module's own spec list (the modules
    * `SparkEntry.allSpecs` concatenates). */
  lazy val moduleOf: Map[String, String] = {
    import graft.{operators => o, pipeline => p, streaming => s}
    Seq("Relational" -> o.Relational.specs, "RelationalExt" -> o.RelationalExt.specs,
      "BpiQueries" -> p.BpiQueries.specs, "TextAnalysis" -> o.TextAnalysis.specs,
      "Bpe" -> o.Bpe.specs, "Unigram" -> o.Unigram.specs, "Sketches" -> o.Sketches.specs,
      "QualityGate" -> o.QualityGate.specs, "Curation" -> o.Curation.specs,
      "Dedup" -> o.Dedup.specs, "Similarity" -> o.Similarity.specs,
      "ClusterIndex" -> o.ClusterIndex.specs, "EmbeddingOps" -> o.EmbeddingOps.specs,
      "Pca" -> o.Pca.specs, "IvfIndex" -> o.IvfIndex.specs, "PqIndex" -> o.PqIndex.specs,
      "IvfPqIndex" -> o.IvfPqIndex.specs, "StreamQueries" -> s.StreamQueries.specs,
      "Multimodal" -> o.Multimodal.specs)
      .flatMap { case (mod, specs) => specs.map(_.name -> mod) }.toMap
  }

  val Modules: Seq[String] = Seq("Relational", "RelationalExt", "BpiQueries", "TextAnalysis",
    "Bpe", "Unigram", "Sketches", "QualityGate", "Curation", "Dedup", "Similarity",
    "ClusterIndex", "EmbeddingOps", "Pca", "IvfIndex", "PqIndex", "IvfPqIndex",
    "StreamQueries", "Multimodal")

  def dirStats(root: Path): (Long, Long) = {
    if (!Files.isDirectory(root)) return (0L, 0L)
    val s = Files.walk(root)
    try {
      var bytes = 0L
      var dirs = 0L
      s.iterator().asScala.foreach { p =>
        if (Files.isRegularFile(p)) bytes += Files.size(p)
        else if (Files.isDirectory(p) && p.getParent == root) dirs += 1
      }
      (bytes, dirs)
    } finally s.close()
  }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.deleteIfExists)
    finally s.close()
  }

  val DigestColumns: Seq[String] = Seq("disclaimer", "chart_name",
    "bpi_usd_code", "bpi_usd_rate_float", "bpi_usd_description",
    "bpi_gdp_code", "bpi_gdp_rate_float", "bpi_gdp_description",
    "bpi_eur_code", "bpi_eur_rate_float", "bpi_eur_description",
    "bpi_idr_rate_float", "time_updated", "time_updated_iso")

  /** Row count, order-insensitive digest (sum mod 2^64 of the first 8 bytes
    * of SHA-256 over each row's deterministic fields, doubles as their bit
    * patterns — the same rule `gen.py` applies to the values it generated)
    * and the number of rows whose audit columns are malformed. */
  def warehouseDigest(spark: SparkSession, path: String): (Long, String, Long) = {
    val df = spark.read.parquet(path)
    val doubles = DigestColumns.map(c => df.schema(c).dataType == org.apache.spark.sql.types.DoubleType)
    val cols = (DigestColumns ++ Seq("job_id", "last_updated")).map(df.col)
    val n = DigestColumns.size
    val parts = df.select(cols: _*).rdd.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val tsRe = "^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$".r
      var rows = 0L
      var sum = 0L
      var bad = 0L
      it.foreach { r: Row =>
        val fields = (0 until n).map { i =>
          if (r.isNullAt(i)) "\u0000null"
          else if (doubles(i)) f"${java.lang.Double.doubleToRawLongBits(r.getDouble(i))}%016x"
          else r.getString(i)
        }
        val h = md.digest(fields.mkString("\u001f").getBytes("UTF-8"))
        sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
        rows += 1
        if (r.isNullAt(n) || r.isNullAt(n + 1) ||
            tsRe.findFirstIn(r.getString(n + 1)).isEmpty) bad += 1
      }
      Iterator((rows, sum, bad))
    }.collect()
    val (rows, sum, bad) = parts.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (x, y, z)) =>
      (a + x, b + y, c + z) }
    (rows, f"$sum%016x", bad)
  }
}

final class Harness(conf: Harness.Conf) {
  import Harness._

  val tracer = new Tracer
  private var spark: SparkSession = _
  private var records: SparkRecords = _
  private val setups = ArrayBuffer.empty[Double]
  private val ops = ArrayBuffer.empty[Op]
  private val passes = ArrayBuffer.empty[Pass]
  private val failures = ArrayBuffer.empty[Failure]
  /** Operations run, warm-up and output checks included; every failure is
    * one of them. */
  private var attempted = 0
  private val checks = mutable.LinkedHashMap.empty[String, String]
  private val queryRows = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[Long]]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private var stateDisk: (Long, Long) = (0L, 0L)
  private val tmpRoot = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", conf.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Time the JIT compilers have spent so far, all threads together. */
  private def jitMs(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble

  /** CPU time the JVM has used so far, all threads together. */
  private def cpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  private def fail(op: String, e: Throwable): Unit = {
    // report the root cause: stream and job wrappers bury it
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    val msg = Option(e.getMessage).getOrElse("") +
      (if (c ne e) s" | cause ${c.getClass.getName}: ${Option(c.getMessage).getOrElse("")}" else "")
    failures += Failure(op, e.getClass.getName, msg.take(2000))
  }

  /** Run one timed pass. With tracing on, every other pass (starting with
    * the first) runs with the listeners registered; the rest give the
    * untraced baseline for the overhead figure. */
  private def timedPass(kind: String, index: Int, traced: Boolean)(body: => Unit): Unit = {
    if (traced) { records.register(spark); tracer.enabled = true }
    val jit0 = jitMs()
    val cpu0 = cpuMs()
    val (_, ms) = try tracer.span("pass", s"$kind-$index", spark)(body)
    finally if (traced) {
      // let the listener bus deliver the pass's events before detaching
      Thread.sleep(400)
      tracer.enabled = false
      records.unregister(spark)
    }
    passes += Pass(kind, index, traced, ms / 1000.0, jitMs() - jit0, (cpuMs() - cpu0) / 1000.0,
      if (traced) tracer.lastClosed else 0L)
  }

  /** Passes until `seconds` have gone by, at least `minPasses`. With
    * tracing on, passes alternate traced and untraced, the first traced. */
  private def loop(minPasses: Int, deadline: Double)(pass: (Int, Boolean) => Unit): Unit = {
    val need = if (conf.trace) math.max(minPasses, 2) else minPasses
    var i = 0
    while (i < need || Clock.nowMs() < deadline) {
      pass(i, conf.trace && i % 2 == 0)
      i += 1
    }
  }

  /** The workload's hooks: `stage` prepares a fresh set of inputs for the
    * session just started (repeated `Setups` times, each in a new
    * session, for the set-up time), `warmup` runs untimed work once on the
    * last staging, `measure` runs the timed passes until the deadline. */
  private trait Workload {
    def stage(k: Int): Unit
    def warmup(): Unit = ()
    def measure(deadline: Double): Unit
  }

  def run(): Unit = {
    Files.createDirectories(conf.work)
    val w: Workload = conf.workload match {
      case "bpi" => new Bpi
      case "lifecycle_cold" => new Lifecycle
      case "queries_warm" => new QueriesWarm
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: session start plus input staging, repeated in fresh sessions;
    // then the warm-up, once
    (0 until Setups).foreach { k =>
      val t = Clock.nowMs()
      stop()
      spark = newSession()
      w.stage(k)
      setups += (Clock.nowMs() - t) / 1000.0
    }
    records = new SparkRecords(tracer)
    val t = Clock.nowMs()
    w.warmup()
    warmupS = (Clock.nowMs() - t) / 1000.0
    w.measure(Clock.nowMs() + conf.seconds * 1000.0)
    if (conf.trace) traceLayers()
    writeResult()
  }
  private var warmupS = 0.0

  // ---------------------------------------------------------------- BPI

  private def rates(): DataFrame =
    spark.read.schema(BpiSchema.rates).json(conf.inputs.resolve("rates.jsonl").toString)

  /** Drain `landing` through the benchmark's sink, recording the gate and
    * load call times in `calls`. */
  private def drain(opName: String, landing: Path, ratesDf: DataFrame, checkpoint: Path,
      warehouse: Path, calls: mutable.Map[String, Double]): Unit = {
    tracer.span("runStreamWith", opName, spark) {
      BpiPipeline.runStreamWith(spark, landing.toString, ratesDf, checkpoint.toString) {
        (batch, _) =>
          val (gated, g) = tracer.span("gate", "validationGate", spark) {
            BpiPipeline.validationGate(batch)
          }
          val (_, l) = tracer.span("load", "appendParquet", spark) {
            BpiPipeline.appendParquet(gated, warehouse.toString)
          }
          calls.synchronized {
            calls("gate_ms") = calls.getOrElse("gate_ms", 0.0) + g
            calls("load_ms") = calls.getOrElse("load_ms", 0.0) + l
            calls("batches") = calls.getOrElse("batches", 0.0) + 1
          }
      }
    }
  }

  /** (file, lines, bytes) of each generated poll, in landing order. */
  private lazy val pollManifest: Seq[(String, Long, Long)] =
    Files.readAllLines(conf.inputs.resolve("polls.tsv")).asScala.toSeq
      .map(_.split('\t')).map(a => (a(0), a(1).toLong, a(2).toLong))

  private def checkWarehouse(label: String, warehouse: Path, files: Seq[String]): Unit = {
    attempted += 1
    try {
      val (rows, digest, bad) = warehouseDigest(spark, warehouse.toString)
      checks(s"${label}_rows") = rows.toString
      checks(s"${label}_digest") = digest
      checks(s"${label}_bad_audit") = bad.toString
      checks(s"${label}_files") = files.mkString(",")
    } catch { case NonFatal(e) => fail(s"$label-check", e) }
  }

  /** BPI: after an untimed warm-up (a backlog drain and `WarmupPolls`
    * polls: poll times fall over the first fifteen or so polls of a JVM
    * while the JIT compiles the driver-side paths), cycles of
    * `PollsPerCycle` polls and one backlog drain until the deadline, at
    * least `MinCycles` of them. A poll lands the next generated payload
    * file in the lane's landing dir and drains it (one checkpoint and
    * warehouse per lane); a drain takes the whole backlog into a fresh
    * checkpoint and warehouse. Every warehouse is checked afterwards. */
  private final class Bpi extends Workload {
    private var next = 0
    private var lane: Path = _
    private var ratesDf: DataFrame = _
    private var firstInLane = 0
    private val backlog = conf.inputs.resolve("backlog")
    private val backlogBytes = dirStats(backlog)._1
    private val backlogLines = Files.list(backlog).iterator().asScala
      .map(p => Files.readAllLines(p).size.toLong).sum
    private var drains = 0

    def stage(k: Int): Unit = {
      lane = conf.work.resolve(s"poll-lane-$k")
      deleteTree(lane)
      Files.createDirectories(lane.resolve("landing"))
      ratesDf = rates()
      firstInLane = next
    }

    private def poll(pass: Int, traced: Boolean, kind: String): Unit = {
      if (next >= pollManifest.size)
        throw new IllegalStateException(s"ran out of generated polls after $next")
      val (file, lines, bytes) = pollManifest(next)
      next += 1
      attempted += 1
      val calls = mutable.Map.empty[String, Double]
      val opName = s"poll-$file"
      val cpu0 = cpuMs()
      val (_, ms) = tracer.span("op", opName, spark) {
        try {
          Files.move(conf.inputs.resolve("polls").resolve(file),
            lane.resolve("landing").resolve(file), StandardCopyOption.ATOMIC_MOVE)
          drain(opName, lane.resolve("landing"), ratesDf, lane.resolve("checkpoint"),
            lane.resolve("warehouse"), calls)
        } catch { case NonFatal(e) => fail(opName, e) }
      }
      ops += Op(kind, file, "", pass, traced, ms, lines,
        calls.toMap ++ Map("landed_bytes" -> bytes.toDouble, "landed_lines" -> lines.toDouble,
          "cpu_ms" -> (cpuMs() - cpu0)))
    }

    private def drainBacklog(pass: Int, traced: Boolean, kind: String): Path = {
      val d = conf.work.resolve(s"backfill-$drains")
      drains += 1
      attempted += 1
      deleteTree(d)
      val calls = mutable.Map.empty[String, Double]
      val opName = s"drain-$drains"
      val cpu0 = cpuMs()
      val (_, ms) = tracer.span("op", opName, spark) {
        try drain(opName, backlog, ratesDf, d.resolve("checkpoint"), d.resolve("warehouse"), calls)
        catch { case NonFatal(e) => fail(opName, e) }
      }
      ops += Op(kind, opName, "", pass, traced, ms, backlogLines,
        calls.toMap ++ Map("landed_bytes" -> backlogBytes.toDouble,
          "landed_lines" -> backlogLines.toDouble, "cpu_ms" -> (cpuMs() - cpu0)))
      d
    }

    override def warmup(): Unit = {
      deleteTree(drainBacklog(-1, false, "warmup"))
      (0 until WarmupPolls).foreach(_ => poll(-1, false, "warmup"))
    }

    def measure(deadline: Double): Unit = {
      val done = ArrayBuffer.empty[Path]
      loop(MinCycles, deadline) { (i, traced) =>
        timedPass("cycle", i, traced) {
          (0 until PollsPerCycle).foreach(_ => poll(i, traced, "poll"))
          done += drainBacklog(i, traced, "drain")
        }
      }
      // the lane's warehouse holds exactly the polls landed in it, and
      // every drain's warehouse the whole backlog exactly once
      checkWarehouse("poll", lane.resolve("warehouse"), (firstInLane until next).map(pollManifest(_)._1))
      done.zipWithIndex.foreach { case (d, i) =>
        checkWarehouse(s"drain$i", d.resolve("warehouse"), Seq("backlog"))
        deleteTree(d)
      }
    }
  }

  // ------------------------------------------------------------ queries

  /** One declared query: build the plan, then count it. */
  private def query(name: String, dir: String, pass: Int, kind: String,
      traced: Boolean): Unit = {
    var b = Double.NaN
    var c = Double.NaN
    var n = -1L
    attempted += 1
    val (_, ms) = tracer.span("op", name, spark) {
      try {
        val (df, bMs) = tracer.span("build", name, spark) { SparkEntry.queries(name)(spark, dir) }
        b = bMs
        val (rows, cMs) = tracer.span("count", name, spark) { df.count() }
        c = cMs
        n = rows
        queryRows.getOrElseUpdate(name, mutable.LinkedHashSet.empty) += rows
      } catch { case NonFatal(e) => fail(name, e) }
    }
    ops += Op(kind, name, moduleOf.getOrElse(name, "?"), pass, traced, ms, n,
      Map("build_ms" -> b, "count_ms" -> c))
  }

  /** The query list in a seeded order, fresh for each pass. */
  private def shuffled(pass: Int): Seq[String] =
    new scala.util.Random(conf.seed * 1000003L + pass).shuffle(conf.queries)

  /** A private copy of the read-only corpus: state the engine keys by
    * corpus path starts cold in it. */
  private def freshCorpus(tag: String): String = {
    val d = conf.work.resolve(s"corpus-$tag")
    deleteTree(d)
    copyTree(conf.corpus, d)
    d.toString
  }

  /** Lifecycle: the warm-up pays the JVM's first touch (JIT, code
    * generation, state builds) with one pass over the lifecycle queries on
    * the staged corpus copy, then runs one lifecycle untimed (the first
    * after first touch is still 20 to 40% slower than later ones, more so
    * on a busy host). Then lifecycles until the deadline, at least
    * `MinLifecycles`: on a fresh corpus copy (StateCache keys state by
    * corpus dir, so every state build starts from nothing), a cold pass in
    * the listed order builds the state and `WarmPasses` warm passes in
    * seeded orders serve from it. */
  private final class Lifecycle extends Workload {
    private var dir: String = _
    def stage(k: Int): Unit = dir = freshCorpus(s"c$k")
    override def warmup(): Unit = {
      val t = Clock.nowMs()
      conf.queries.foreach(q => query(q, dir, -1, "first", false))
      firstTouchS = (Clock.nowMs() - t) / 1000.0
      val d = freshCorpus("settle")
      (0 to WarmPasses).foreach(_ => conf.queries.foreach(q => query(q, d, -1, "settle", false)))
    }
    def measure(deadline: Double): Unit = {
      loop(MinLifecycles, deadline) { (i, traced) =>
        val d = freshCorpus(s"m$i")
        val before = dirStats(tmpRoot)
        timedPass("cold", i, traced) { conf.queries.foreach(q => query(q, d, i, "cold", traced)) }
        if (i == 0) {
          val after = dirStats(tmpRoot)
          stateDisk = (after._1 - before._1, after._2 - before._2)
        }
        (0 until WarmPasses).foreach { k =>
          timedPass("warm", i, traced) { shuffled(i * WarmPasses + k).foreach(q => query(q, d, i, "warm", traced)) }
        }
      }
    }
  }
  private var firstTouchS = 0.0

  /** Warm queries: a warm-up pass builds whatever the queries need, then
    * passes in a fresh seeded order until the deadline. */
  private final class QueriesWarm extends Workload {
    private var dir: String = _
    def stage(k: Int): Unit = dir = freshCorpus(s"w$k")
    override def warmup(): Unit = conf.queries.foreach(q => query(q, dir, -1, "setup", false))
    def measure(deadline: Double): Unit = {
      stateDisk = dirStats(tmpRoot)
      loop(1, deadline) { (i, traced) =>
        timedPass("pass", i, traced) { shuffled(i).foreach(q => query(q, dir, i, "query", traced)) }
      }
    }
  }

  // ------------------------------------------------------------- tracing

  /** Per-layer figures of a traced run. Times are means per unit pass — a
    * cycle of polls and a drain on `bpi`, a cold pass on
    * `lifecycle_cold`, a pass on `queries_warm` — over the traced passes;
    * counts (jobs, stages, tasks, bytes, batches) come from the first traced
    * pass alone, whose inputs the seed fixes, so they repeat exactly between
    * traced runs with the same seed. */
  private def traceLayers(): Unit = {
    val rep = new TraceReport(tracer, records)
    rep.writeJsonl(conf.work.resolve("spans.jsonl"))
    val (unitKind, overheadKind) = conf.workload match {
      case "bpi" => ("cycle", "cycle")
      case "lifecycle_cold" => ("cold", "warm")
      case _ => ("pass", "pass")
    }
    val spanById = rep.all.map(s => s.id -> s).toMap
    val tracedPasses = passes.toSeq.filter(p => p.traced && p.kind == unitKind)
    val passSpans = tracedPasses.flatMap(p => spanById.get(p.spanId))
    val desc: Seq[Seq[Span]] = passSpans.map(p => rep.descendants(p.id))
    val all = desc.flatten
    val n = math.max(desc.size, 1).toDouble
    val first = desc.headOption.getOrElse(Nil)
    def of(spans: Seq[Span], k: String) = spans.filter(_.kind == k)
    def sumA(spans: Seq[Span], k: String) = spans.map(_.attrs.getOrElse(k, 0.0)).sum
    def put(k: String, v: Double): Unit = layers(k) = v

    // pipeline: the benchmark's own timers around gate and load (every
    // measured cycle), jobs under the gate, bytes scanned per byte landed
    val bpiOps = ops.toSeq.filter(o => o.kind == "poll" || o.kind == "drain")
    val nCycles = math.max(passes.count(_.kind == "cycle"), 1).toDouble
    put("pipeline.gate_ms", bpiOps.map(_.layers.getOrElse("gate_ms", 0.0)).sum / nCycles)
    put("pipeline.load_ms", bpiOps.map(_.layers.getOrElse("load_ms", 0.0)).sum / nCycles)
    val gateIds = of(first, "gate").map(_.id).toSet
    put("pipeline.gate_jobs", of(first, "job").count(j => gateIds(j.parent)))
    val firstPass = tracedPasses.headOption.map(_.index).getOrElse(Int.MinValue)
    val landed = bpiOps.filter(o => o.traced && o.pass == firstPass)
      .map(_.layers.getOrElse("landed_bytes", 0.0)).sum
    put("pipeline.scan_ratio", if (landed > 0) sumA(of(first, "job"), "input_bytes") / landed else 0.0)
    // rows the load wrote, and landed lines it did not, in the first
    // traced pass
    val loadIds = of(first, "load").map(_.id).toSet
    val rowsLoaded = sumA(of(first, "job").filter(j => loadIds(j.parent)), "output_records")
    val linesLanded = bpiOps.filter(o => o.traced && o.pass == firstPass)
      .map(_.layers.getOrElse("landed_lines", 0.0)).sum
    put("pipeline.rows_loaded", rowsLoaded)
    put("pipeline.rows_quarantined", linesLanded - rowsLoaded)

    // streaming: the batches' durationMs, and the runStreamWith wall time
    // no batch covers (query start, source set-up, stop)
    val rsw = of(all, "runStreamWith")
    val batches = of(all, "batch")
    put("streaming.start_ms", rsw.map(s => s.end - s.start - Intervals.covered(
      batches.filter(_.parent == s.id).map(b => (b.start, b.end)), s.start, s.end)).sum / n)
    Seq("latest_offset" -> "latestOffset", "query_planning" -> "queryPlanning",
      "wal_commit" -> "walCommit", "commit_offsets" -> "commitOffsets",
      "add_batch" -> "addBatch").foreach { case (m, k) =>
      put(s"streaming.${m}_ms", sumA(batches, k) / n)
    }
    put("streaming.batches", of(first, "batch").size)

    // operators: build and count time per module, per pass of the unit kind
    val opKind = if (conf.workload == "lifecycle_cold") "cold" else "query"
    val unitOps = ops.toSeq.filter(_.kind == opKind)
    val nPasses = math.max(unitOps.map(_.pass).distinct.size, 1).toDouble
    Modules.foreach { m =>
      val mo = unitOps.filter(_.module == m)
      put(s"operators.$m.build_ms", mo.map(_.layers("build_ms")).filterNot(_.isNaN).sum / nPasses)
      put(s"operators.$m.count_ms", mo.map(_.layers("count_ms")).filterNot(_.isNaN).sum / nPasses)
    }

    // StateCache: what first touch costs over serving from built state
    val warmBuild = ops.toSeq.filter(_.kind == "warm").groupBy(_.name)
      .map { case (q, os) => q -> os.map(_.layers("build_ms")).sorted.apply(os.size / 2) }
    val coldOps = ops.toSeq.filter(_.kind == "cold")
    put("StateCache.build_s", coldOps.flatMap(o => warmBuild.get(o.name).map(o.layers("build_ms") - _))
      .filterNot(_.isNaN).sum / 1000.0 / math.max(coldOps.map(_.pass).distinct.size, 1))
    put("StateCache.disk_bytes", stateDisk._1.toDouble)
    put("StateCache.dirs", stateDisk._2.toDouble)

    // driver: planning phases, and operation time no job covers
    val plan = passSpans.flatMap(p => rep.planningIn(p.start, p.end))
    put("driver.analysis_ms", plan.map(_.analysis).sum / n)
    put("driver.optimization_ms", plan.map(_.optimization).sum / n)
    put("driver.planning_ms", plan.map(_.planning).sum / n)
    put("driver.idle_between_jobs_ms", of(all, "op").map { o =>
      val js = of(rep.descendants(o.id), "job").map(j => (j.start, j.end))
      (o.end - o.start) - Intervals.covered(js, o.start, o.end)
    }.sum / n)

    put("jvm.jit_ms", tracedPasses.map(_.jitMs).sum / n)

    // scheduler and io: counts from the first traced pass; executor times
    val firstJobs = of(first, "job")
    put("scheduler.jobs", firstJobs.size)
    Seq("stages", "tasks", "failed_tasks").foreach(k => put(s"scheduler.$k", sumA(firstJobs, k)))
    Seq("run_ms", "cpu_ms", "gc_ms").foreach(k => put(s"executor.$k", sumA(of(all, "job"), k) / n))
    Seq("input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
      "spill_bytes").foreach(k => put(s"io.$k", sumA(firstJobs, k)))

    // self time per span kind: duration minus what its children cover
    Seq("op", "runStreamWith", "batch", "gate", "load", "build", "count", "job").foreach { k =>
      put(s"self.${k}_ms", of(all, k).map(rep.selfMs).sum / n)
    }

    // tracing overhead: median traced minus median untraced pass
    def median(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val tr = median(passes.toSeq.filter(p => p.kind == overheadKind && p.traced).map(_.s))
    val un = median(passes.toSeq.filter(p => p.kind == overheadKind && !p.traced).map(_.s))
    put("trace.overhead_ms", (tr - un) * 1000.0)
    put("trace.overhead_pct", (tr - un) / un * 100.0)
  }

  private def writeResult(): Unit = {
    def arr(xs: Iterable[String]) = xs.mkString("[", ",", "]")
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val opsJ = arr(ops.map(o => obj(Seq("kind" -> Json.str(o.kind), "name" -> Json.str(o.name),
      "module" -> Json.str(o.module), "pass" -> o.pass.toString, "traced" -> o.traced.toString,
      "ms" -> Json.num(o.ms), "rows" -> o.rows.toString,
      "layers" -> obj(o.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))))
    val passesJ = arr(passes.map(p => obj(Seq("kind" -> Json.str(p.kind),
      "index" -> p.index.toString, "traced" -> p.traced.toString, "s" -> Json.num(p.s),
      "cpu_s" -> Json.num(p.cpuS)))))
    val failJ = arr(failures.map(f => obj(Seq("op" -> Json.str(f.op), "class" -> Json.str(f.cls),
      "message" -> Json.str(f.message)))))
    val rowsJ = obj(queryRows.map { case (q, s) => q -> arr(s.map(_.toString)) })
    val json = obj(Seq(
      "workload" -> Json.str(conf.workload), "seed" -> conf.seed.toString,
      "attempted" -> attempted.toString,
      "setup_s" -> arr(setups.map(Json.num)), "warmup_s" -> Json.num(warmupS),
      "first_touch_s" -> Json.num(firstTouchS), "ops" -> opsJ, "passes" -> passesJ,
      "failures" -> failJ, "query_rows" -> rowsJ,
      "checks" -> obj(checks.map { case (k, v) => k -> Json.str(v) }),
      "layers" -> obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "spans_file" -> (if (conf.trace) Json.str(conf.work.resolve("spans.jsonl").toString) else "null")))
    Files.write(conf.out, json.getBytes("UTF-8"))
  }
}
