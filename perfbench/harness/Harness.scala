package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.Locale

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.Sessions
import graft.etl._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Drives one workload in one process through the program's public entry
  * points (`Runner.run`, the `Xlsx` / `Staging` / pipeline / `Sink` calls,
  * the ten `Views`) and prints one JSON line of results.
  *
  * Usage: Harness --workload <etl_xlsx|dashboard_views> --seconds <s>
  *   --trace <0|1> --work <dir> --expected <tsv>
  *
  * `<dir>/staging` holds the generated workbooks; `<tsv>` holds, per checked
  * output (INDEX, ADULT_4, each view), its row count and row digest. Every
  * load and view is checked against it outside its timed interval.
  *
  * With `--trace 1` the listener is attached for the whole process and
  * half the operations of each client are traced (attributed to their
  * jobs, spans recorded, counts read); the tracing overhead compares their
  * latency with the untraced ones', which are interleaved with them over
  * the same window so a trend cancels out.
  */
object Harness {

  /** Runs of the layer-by-layer decomposition in a traced process. */
  val LayerRounds = 2
  val Clients = 2
  /** A traced window runs on until it holds this many traced and this many
    * untraced operations. */
  val MinTraced = 3
  /** Untimed loads between the cold load and the window: the JIT is still
    * compiling the load path after the cold load, so a window that starts
    * right after it measures a downward trend, not a level. */
  val WarmupLoads = 1
  /** Untimed reads per client before the window, for the same reason:
    * together the clients read every view once. */
  val WarmupViews = 5

  val views: Vector[(String, Boolean, DataFrame => DataFrame)] = Vector(
    ("indexBestCa", true, Views.indexBestCa),
    ("reportingIndex", true, Views.reportingIndex),
    ("processedAdult4", false, Views.processedAdult4),
    ("publishedAdult4", false, Views.publishedAdult4),
    ("cancerAllianceComparison", false, Views.cancerAllianceComparison),
    ("publishedCancerAllianceComparison", false, Views.publishedCancerAllianceComparison),
    ("benchmarkingRank", false, (a: DataFrame) => Views.benchmarkingRank(a)),
    ("publishedBenchmarkingRank", false, Views.publishedBenchmarkingRank),
    ("benchmarkingStandards", false, Views.benchmarkingStandards),
    ("publishedBenchmarkingStandards", false, Views.publishedBenchmarkingStandards))

  final case class Op(name: String, seconds: Double, traced: Boolean, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    require(Set("etl_xlsx", "dashboard_views")(workload), s"unknown workload $workload")
    new Harness(workload, opt("seconds").toDouble, opt("trace") == "1", Paths.get(opt("work")),
      readExpected(Paths.get(opt("expected")))).run()
  }

  def readExpected(p: Path): Map[String, (Long, String)] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(name, rows, digest) = l.split("\t")
      name -> (rows.toLong, digest)
    }.toMap

  private def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => String.format(Locale.ROOT, "%.6f", Double.box(d))
    case x => x.toString
  }

  /** (rows, digest): the sum mod 2^64 of the first 8 bytes of each row's
    * MD5 over its cells joined by U+001F — order-insensitive, and computed
    * the same way by the oracle. */
  def digest(rows: Iterator[Row]): (Long, String) = {
    val md = MessageDigest.getInstance("MD5")
    var n = 0L
    var sum = 0L
    rows.foreach { r =>
      val line = (0 until r.length).map(i => render(r.get(i))).mkString("\u001f")
      sum += java.nio.ByteBuffer.wrap(md.digest(line.getBytes(StandardCharsets.UTF_8))).getLong
      n += 1
    }
    (n, f"$sum%016x")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def dirStats(root: Path): (Long, Int) =
    if (!Files.exists(root)) (0L, 0)
    else {
      val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toList
      (files.map(Files.size).sum, files.count(_.getFileName.toString.endsWith(".parquet")))
    }

  def num(x: Double): String = if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  def json(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
}

final class Harness(workload: String, seconds: Double, traced: Boolean, work: Path,
    expected: Map[String, (Long, String)]) {
  import Harness._

  private val staging = work.resolve("staging").toString
  private val out = work.resolve("out").toString
  private val spans = new Spans(s"$workload-${ProcessHandle.current().pid()}")
  private val tally = new Tally
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toList
  private val threads = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var spark: SparkSession = _
  private var attempted = 0L
  private var failed = 0L
  private val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** The first Runner.run of the process. */
  private var loadColdS = 0.0

  private def now: Long = System.nanoTime()
  private def gcSeconds: Double = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def table(name: String): DataFrame = spark.read.parquet(s"$out/$name").drop("_TIMESTAMP")

  /** Compare one output with its expected count and digest; a mismatch or
    * an exception counts the operation as failed. */
  private def check(what: String, rows: => Iterator[Row]): Boolean = {
    val (want, got) = try {
      (expected(what), digest(rows))
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] check $what raised: $e")
        return false
    }
    if (want != got) System.err.println(s"[perfbench] check $what: got $got, expected $want")
    want == got
  }

  private def checkTables(): Boolean =
    Seq("INDEX", "ADULT_4").forall(t => check(t, table(t).collect().iterator))

  /** One load through the Runner, checked afterwards. With `tr` the load's
    * jobs are counted and its driver CPU and GC time sampled. */
  private def load(tr: Boolean): (Boolean, Double, Seq[Runner.LoadResult]) = {
    val sc = spark.sparkContext
    val gc0 = gcSeconds
    val cpu0 = threads.getCurrentThreadCpuTime
    var spanId = 0L
    val (res, s, op) = Tally.attributed(sc, "load", tr) { op =>
      val (r, s) = spans("etl.Runner.run", on = tr) { id =>
        spanId = id
        try Some(Runner.run(spark, staging, out)) catch {
          case e: Exception => System.err.println(s"[perfbench] load raised: $e"); None
        }
      }
      (r, s, op)
    }
    if (tr) {
      val c = tally.of(sc, op)
      spans.count(spanId, c)
      val staged = dirStats(Paths.get(staging))._1.toDouble
      layerSample("etl.Runner.driver_cpu_s", (threads.getCurrentThreadCpuTime - cpu0) / 1e9)
      layerSample("etl.Runner.gc_s", gcSeconds - gc0)
      layerSample("etl.Runner.jobs_per_load", c.jobs)
      layerSample("etl.Runner.stages_per_load", c.stages)
      layerSample("etl.Runner.tasks_per_load", c.tasks)
      layerSample("etl.Runner.bytes_read_per_staged_byte", c.inputBytes / staged)
      layerSample("etl.Runner.task_cpu_s", c.taskCpuNs / 1e9)
      layerSample("etl.Runner.task_wait_s", c.waitMs / 1e3)
    }
    val ok = res.exists(_.size == 2) && checkTables()
    record(ok)
    if (ok) res.get.foreach { r =>
      val pipeline = if (r.kind == "index") "etl.IndexPipeline" else "etl.Adult4Pipeline"
      layers(s"$pipeline.rows_out") = r.rows.toDouble
    }
    (ok, s, res.getOrElse(Nil))
  }

  private def record(ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) failed += 1
  }

  private val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private def layerSample(k: String, v: Double): Unit =
    samples.synchronized(samples.getOrElseUpdate(k, ArrayBuffer.empty) += v)

  def run(): Unit = {
    // set-up: from JVM start until the session has run its first job
    val jvmStart = now - (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    spark = Sessions.build(s"local[${Runtime.getRuntime.availableProcessors()}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val setupS = (now - jvmStart) / 1e9
    pools.foreach(_.resetPeakUsage())
    if (traced) spark.sparkContext.addSparkListener(tally)

    val cpu0 = os.getProcessCpuTime
    val wall0 = now
    val (ops, e2e) = if (workload == "dashboard_views") dashboard() else etl()
    val effectiveCores = (os.getProcessCpuTime - cpu0) / math.max(1.0, (now - wall0).toDouble)
    val loadAvg = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble

    if (traced) etlLayers()
    val storedPerInput = dirStats(Paths.get(out))._1.toDouble / dirStats(Paths.get(staging))._1
    spark.stop()
    if (traced) spans.write(work.resolve("spans.jsonl"))

    val lat = ops.filter(_.ok).map(_.seconds * 1e3)
    System.err.println(f"[perfbench] set-up (s): $setupS%.2f")
    System.err.println(s"[perfbench] op latencies (ms): ${lat.map(x => f"$x%.0f").mkString(" ")}")
    val metrics = Seq(
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb,
      "load_cold_s" -> loadColdS,
      "stored_bytes_per_input_byte" -> storedPerInput,
      "op_p50_ms" -> median(lat)) ++ e2e
    val traceLayers = if (!traced) Nil else {
      // per operation kind (the load, or one view), traced median over
      // untraced median; the overhead is the median of these ratios
      val ok = ops.filter(_.ok)
      val ratios = ok.groupBy(_.name).values.toSeq.flatMap { same =>
        val (tr, plain) = same.partition(_.traced)
        if (tr.isEmpty || plain.isEmpty) None
        else Some(median(tr.map(_.seconds)) / median(plain.map(_.seconds)))
      }
      System.err.println(s"[perfbench] tracing overhead over ${ok.count(_.traced)} traced and " +
        s"${ok.count(!_.traced)} untraced operations of ${ratios.size} kinds")
      layers ++ samples.map { case (k, v) => k -> median(v.toSeq) } ++ Seq(
        "effective_cores" -> effectiveCores, "load_avg" -> loadAvg,
        "trace.overhead_pct" -> (median(ratios) - 1) * 100)
    }
    println(s"""{"attempted":$attempted,"failed":$failed,"ops":${ops.size},""" +
      s""""effective_cores":${num(effectiveCores)},"load_avg":${num(loadAvg)},""" +
      s""""metrics":${json(metrics)},"layers":${json(traceLayers)}}""")
  }

  /** Peak resident memory the program used: the process's high-water
    * resident set less the heap it pre-touched but never used after
    * set-up, i.e. native memory plus the heap pools' peak usage. */
  private def peakRssMb: Double = {
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble * 1024).getOrElse(0.0)
    val committed = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    val heapPeak = pools.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    System.err.println(f"[perfbench] memory (MB): high water ${hwm / 1048576}%.0f, heap committed " +
      f"${committed / 1048576.0}%.0f, heap peak ${heapPeak / 1048576.0}%.0f")
    (hwm - committed + heapPeak) / 1048576
  }

  /** A traced window continues until it has enough of both kinds. */
  private def windowOpen(t0: Long, ops: Seq[Op]): Boolean =
    (now - t0) / 1e9 < seconds ||
      traced && (ops.count(_.traced) < MinTraced || ops.count(!_.traced) < MinTraced)

  private def etl(): (Seq[Op], Seq[(String, Double)]) = {
    loadColdS = load(tr = false)._2
    (1 to WarmupLoads).foreach(_ => load(tr = false))
    val ops = ArrayBuffer.empty[Op]
    val t0 = now
    while (windowOpen(t0, ops.toSeq)) {
      // traced, untraced, untraced, traced, ...: a linear trend cancels
      val tr = traced && (ops.size + ops.size / 2) % 2 == 0
      val (ok, s, _) = load(tr)
      ops += Op("load", s, tr, ok)
    }
    val total = ops.map(_.seconds).sum
    (ops.toSeq, Seq("ops_per_s" -> (if (total > 0) ops.size / total else 0.0)))
  }

  /** Layer self times by prefix difference over the lazy chain: materialise
    * the staging frame, then the pipeline frame, then write it through the
    * Sink; each layer's self time is its prefix minus the previous one. On
    * dashboard_views this decomposes the CSV generation its set-up publishes. */
  private def etlLayers(): Unit = {
    val targets = Schemas.defaultTargetGeographies
    val sink = work.resolve("layers").toString
    val rounds = (1 to LayerRounds).map { _ =>
      val r = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
      Ingest.listStaged(staging).foreach { path =>
        val name = path.getFileName.toString
        val file = path.toString
        val xlsx = name.endsWith(".xlsx")
        val index = Ingest.dispatch(name) == Ingest.IndexFile
        val (sheet, schema, skip) =
          if (index) ("Table 5", Schemas.rawIndexSheet, 10) else ("Table 4", Schemas.rawAdultSheet, 9)
        var snapshot: Option[String] = None
        if (xlsx) {
          val tid = Thread.currentThread().getId
          val a0 = threads.getThreadAllocatedBytes(tid)
          val (_, s) = spans("etl.Xlsx.readSheet") { _ =>
            Xlsx.readSheet(file, sheet)
            if (!index) snapshot = Xlsx.readSheet(file, "Notes and definitions").drop(11)
              .headOption.flatMap(_.headOption.flatten).flatMap(Ingest.snapshotDate)
          }
          r("etl.Xlsx.readSheet_s") += s
          r("etl.Xlsx.alloc_mb") += (threads.getThreadAllocatedBytes(tid) - a0) / 1048576.0
        }
        def staged(): DataFrame =
          if (xlsx) Staging.readXlsxSheet(spark, file, sheet, schema, skip)
          else Staging.readSheet(spark, file, schema, skip)
        def piped(): DataFrame =
          if (index) IndexPipeline(staged(), targets)
          else Adult4Pipeline(staged(), targets, Ingest.diagnosisWindow(name), snapshot)
        val stagingName = if (xlsx) "etl.Staging.readXlsxSheet" else "etl.Staging.readSheet"
        val (_, sS) = spans(stagingName)(_ => noop(staged()))
        val (_, sP) = spans("prefix.pipeline")(_ => noop(piped()))
        val dest = s"$sink/${if (index) "INDEX" else "ADULT_4"}"
        val (_, sK) = spans("prefix.sink")(_ => Sink.overwriteTable(piped(), dest))
        val (_, sR) = spans("etl.Runner.publish_recount")(_ => spark.read.parquet(dest).count())
        val (bytes, files) = dirStats(Paths.get(dest))
        r(stagingName + "_s") += sS
        r(if (index) "etl.IndexPipeline.self_s" else "etl.Adult4Pipeline.self_s") += sP - sS
        r("etl.Sink.self_s") += sK - sP
        r("etl.Sink.bytes_written_mb") += bytes / 1048576.0
        r("etl.Sink.files_written") += files
        r("etl.Runner.publish_recount_s") += sR
      }
      r.toMap
    }
    rounds.flatMap(_.keys).distinct.foreach(k => layers(k) = median(rounds.map(_(k))))
  }

  private def dashboard(): (Seq[Op], Seq[(String, Double)]) = {
    val (published, cold, _) = load(tr = false)
    loadColdS = cold
    if (!published) sys.error("the publish the views read failed its check")
    val ops = ArrayBuffer.empty[Op]
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // client c starts at view c * 10 / Clients, so the clients read different views
    def viewAt(c: Int, k: Int) = views((c * views.size / Clients + k) % views.size)
    def clients(body: Int => Unit): Seq[Thread] = (0 until Clients).map { c =>
      val t = new Thread(() => body(c), s"client-$c")
      t.start()
      t
    }
    clients(c => (0 until WarmupViews).foreach { k =>
      val (name, onIndex, fn) = viewAt(c, k)
      view(name, onIndex, fn, tr = false)
    }).foreach(_.join())
    val c0 = codegen.getCount
    val t0 = now
    // reads per second of each client's own window
    val rates = new Array[Double](Clients)
    clients { c =>
      var k = 0
      var done = 0
      // whole passes only, so the mix of views, and with it the median,
      // does not depend on where the window happens to end
      while (ops.synchronized(windowOpen(t0, ops.toSeq))) views.indices.foreach { _ =>
        val (name, onIndex, fn) = viewAt(c, k)
        // alternate, flipping each pass, so every view is read both ways
        val tr = traced && (k + k / views.size) % 2 == 0
        val (ok, s) = view(name, onIndex, fn, tr)
        ops.synchronized(ops += Op(name, s, tr, ok))
        if (ok) done += 1
        k += 1
      }
      rates(c) = done / ((now - t0) / 1e9)
    }.foreach(_.join())
    if (traced) {
      // compiles are counted process-wide, so over every read of the window
      layers("etl.Views.codegen_compiles_per_view") = (codegen.getCount - c0).toDouble / ops.size
      Seq("build", "plan", "exec").foreach(p =>
        layers(s"etl.Views.${p}_ms") = median(phases.filter(_._1 == p).map(_._2 * 1e3).toSeq))
      views.foreach { case (name, _, _) =>
        layers(s"etl.Views.$name.p50_ms") =
          median(ops.filter(o => o.ok && o.name == name).map(_.seconds * 1e3).toSeq)
      }
      val n = math.max(1L, viewCounts._2).toDouble
      val c = viewCounts._1
      layers("etl.Views.jobs_per_view") = c.jobs / n
      layers("etl.Views.tasks_per_view") = c.tasks / n
      layers("etl.Views.shuffle_kb_per_view") = c.shuffleWriteBytes / 1024.0 / n
      layers("etl.Views.scan_mb_per_view") = c.inputBytes / 1048576.0 / n
      layers("etl.Views.task_wait_ms") = c.waitMs / n
    }
    (ops.toSeq, Seq("ops_per_s" -> rates.sum))
  }

  private val phases = ArrayBuffer.empty[(String, Double)]
  private var viewCounts = (Counts(), 0L)

  /** One view read: build the frame over the published table, plan it,
    * collect it (the rows a dashboard receives), then check the rows. */
  private def view(name: String, onIndex: Boolean, fn: DataFrame => DataFrame,
      tr: Boolean): (Boolean, Double) = {
    val sc = spark.sparkContext
    var spanId = 0L
    val (res, s, op) = Tally.attributed(sc, "view", tr) { op =>
      val (r, s) = spans(s"etl.Views.$name", on = tr) { id =>
        try {
          spanId = id
          val (df, build) = spans("build", id, tr)(_ => fn(table(if (onIndex) "INDEX" else "ADULT_4")))
          val (_, plan) = spans("plan", id, tr)(_ => df.queryExecution.executedPlan)
          val (rows, exec) = spans("exec", id, tr)(_ => df.collect())
          if (tr) phases.synchronized {
            phases += ("build" -> build) += ("plan" -> plan) += ("exec" -> exec)
          }
          Some(rows)
        } catch {
          case e: Exception => System.err.println(s"[perfbench] view $name raised: $e"); None
        }
      }
      (r, s, op)
    }
    if (tr) {
      val c = tally.of(sc, op)
      spans.count(spanId, c)
      synchronized { viewCounts = (viewCounts._1 + c, viewCounts._2 + 1) }
    }
    val ok = res.exists(rows => check(name, rows.iterator))
    record(ok)
    (ok, s)
  }
}
