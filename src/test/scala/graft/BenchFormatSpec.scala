package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench-artifact driver contract: both the full per-query
  * artifact and the compact final-stdout summary must be SINGLE-LINE,
  * strictly parseable JSON with the fields the driver reads. Seven
  * rounds of `"parsed": null` came from decoration AROUND the payload
  * (sbt's `[info] ` prefix and `[success]` epilogue — fixed in
  * build.sbt); this spec keeps the payload itself from ever becoming
  * the problem. Jackson (bundled with Spark) is the strict parser. */
class BenchFormatSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  /** A row whose measured run took `sec` (a quarter building, a quarter
    * planning, half executing) in 2 jobs of 8 tasks, or that failed after
    * 0.5 s when `sec` is −1. */
  private def row(name: String, sec: Double, gcMs: Long, cpuMs: Long, shuffleBytes: Long) = {
    val t = if (sec < 0) 0.5 else sec
    Bench.Row(name, Meter.Run(t / 4, t / 4, t / 2,
      Meter.Counts(jobs = 2, tasks = 8, cpuNs = cpuMs * 1000000L, gcMs = gcMs,
        shuffleWriteBytes = shuffleBytes),
      Nil, if (sec < 0) Some(new RuntimeException("boom")) else None))
  }

  // representative result rows: a sub-second query, a long one whose
  // Double renders in scientific-notation-free form, and a FAILED row
  // (elapsed −1, the sentinel the driver must be able to tell apart)
  private val results = Seq(
    row("q_alpha", 0.123456789, 12L, 340L, 2048L),
    row("q_beta", 35.900000001, 18000L, 113000L, 104857600L),
    row("q_failed", -1.0, 0L, 9000L, 0L))

  test("full artifact is one line of strict JSON with per-query maps") {
    val s = Bench.fullJson(results, Seq("q_beta" -> 1.07),
      prewarmFamilies = Seq("dedup" -> 12.5, "curation" -> 3.25),
      prewarmSec = 41.93, heapMaxMb = 24576L,
      sfDir = "testdata/sf0.1")
    assert(!s.contains("\n"), "artifact must be a single line")
    val node = mapper.readTree(s) // throws on any malformed JSON
    assert(node.get("metric").asText() == "total")
    assert(node.get("unit").asText() == "sec")
    // total excludes failed rows' -1 sentinel
    assert(math.abs(node.get("value").asDouble() - (0.123456789 + 35.900000001)) < 1e-9)
    assert(node.get("queries").size() == 3)
    assert(node.get("queries").get("q_failed").asDouble() == -1.0)
    // the layers of each row's measured run; a failed row keeps its phases
    assert(node.get("build_sec").get("q_beta").asDouble() == 35.900000001 / 4)
    assert(node.get("plan_sec").get("q_beta").asDouble() == 35.900000001 / 4)
    assert(node.get("exec_sec").get("q_beta").asDouble() == 35.900000001 / 2)
    assert(node.get("exec_sec").get("q_failed").asDouble() == 0.25)
    assert(node.get("jobs").get("q_alpha").asLong() == 2L)
    assert(node.get("tasks").get("q_alpha").asLong() == 8L)
    // task GC and task CPU, renamed from the process figures of r10–r13
    assert(node.get("task_gc_ms").get("q_beta").asLong() == 18000L)
    assert(node.get("task_cpu_ms").get("q_alpha").asLong() == 340L)
    for (gone <- Seq("gc_ms", "cpu_ms", "gc_ms_total", "effective_cores",
        "cpu_inflation", "rerun_advised"))
      assert(!node.has(gone), gone)
    assert(node.get("prewarm_sec").asDouble() == 41.93)
    // per-family prewarm attribution: a 3× regression in one family's
    // snapshot build must be visible in the artifact, not one lump
    assert(node.get("prewarm_family_sec").get("dedup").asDouble() == 12.5)
    assert(node.get("prewarm_family_sec").get("curation").asDouble() == 3.25)
    assert(node.get("heap_max_mb").asLong() == 24576L)
    assert(node.get("task_gc_ms_total").asLong() == 18012L)
    // contention tells: task cpu only over non-failed rows (340 + 113000
    // ms over 36.02 wall-s ≈ 3.15 cores); load_avg is whatever the OS bean
    // says but must parse as a number
    assert(math.abs(node.get("task_cpu_cores").asDouble() - 3.15) < 0.01)
    assert(node.get("load_avg_end").isNumber)
    // outlier re-runs: a transient 35.9s row carrying a 1.07s retry
    // refutes itself inside the artifact
    assert(node.get("retry_sec").get("q_beta").asDouble() == 1.07)
    // shuffle volume: 100 MiB → 100.0 MB-ish (MB = 1e6 bytes, 3 decimals),
    // and a 2 KiB band-key shuffle still resolves as non-zero
    assert(math.abs(node.get("shuffle_mb").get("q_beta").asDouble() - 104.858) < 1e-9)
    assert(node.get("shuffle_mb").get("q_alpha").asDouble() == 0.002)
  }

  test("retry selection: threshold OR top-K, never a failed row") {
    // 12 sub-threshold rows (0.1..1.2 s) + one over threshold + one failed:
    // the hard 2.5 s edge alone would retry only q_big; top-K must pull in
    // the 10 slowest passing rows too, and q_failed must never appear
    val rows = (1 to 12).map(i => row(f"q_r$i%02d", i * 0.1, 0L, 0L, 0L)) ++
      Seq(row("q_big", 9.9, 0L, 0L, 0L), row("q_failed", -1.0, 0L, 0L, 0L))
    val picked = Bench.retrySelection(rows).map(_.name)
    assert(picked.contains("q_big"))
    assert(!picked.contains("q_failed"))
    assert(picked.size == Bench.RetryTopK, s"expected top-${Bench.RetryTopK}, got $picked")
    // the slowest sub-threshold rows are in; the fastest are out
    assert(picked.contains("q_r12") && picked.contains("q_r04"))
    assert(!picked.contains("q_r01") && !picked.contains("q_r03"))
  }

  test("compact summary is one line of strict JSON small enough for the driver's tail") {
    val s = Bench.summaryJson(total = 152.7682598430001, n = 210, failed = 0,
      prewarmSec = 36.920548792, gcTotal = 828L, taskCpuCores = 3.42,
      sfDir = "testdata/sf0.1", detail = "target/bench.json")
    assert(!s.contains("\n"))
    // the driver keeps only the last ~2000 chars of stdout; leave ample
    // headroom so field additions can't silently push it over
    assert(s.length < 500, s"summary too long for the driver tail: ${s.length}")
    val node = mapper.readTree(s)
    assert(node.get("metric").asText() == "total")
    assert(node.get("n").asInt() == 210)
    assert(node.get("failed").asInt() == 0)
    assert(node.get("value").asDouble() > 0)
    assert(node.get("task_gc_ms_total").asLong() == 828L)
    assert(node.get("task_cpu_cores").asDouble() == 3.42)
    for (gone <- Seq("gc_ms_total", "effective_cores", "cpu_inflation", "rerun_advised"))
      assert(!node.has(gone), gone)
    assert(node.get("detail").asText() == "target/bench.json")
  }

  test("extreme Double values still render as valid JSON numbers") {
    // Scala renders tiny/huge doubles in scientific notation (1.0E-4);
    // that IS valid JSON — pin that a parser agrees, so a pathological
    // timing can never corrupt the artifact
    val s = Bench.fullJson(
      Seq(row("q_x", 1.0e-4, 0L, 0L, 0L), row("q_y", 9.87654321e7, 1L, 2L, 0L)),
      Seq.empty, Seq.empty, 0.0, 1L, "sf")
    val node = mapper.readTree(s)
    assert(node.get("queries").get("q_x").asDouble() == 1.0e-4)
    assert(node.get("queries").get("q_y").asDouble() == 9.87654321e7)
  }
}
