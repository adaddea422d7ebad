package graft.ops

import graft.SparkSpec

/** The session-memo lifecycle pin: session-keyed memo maps must not pin a
  * stopped session (its plans, session state, encoders) for the life of
  * the JVM — the leak mode of a long-lived multi-session deployment
  * (Spark Connect server, notebook gateway) where sessions come and go.
  *
  * This suite deliberately STOPS the shared test session, so it contains
  * exactly one test and relies on suites running sequentially in the
  * forked test JVM: suites that ran before it are finished, and suites
  * after it re-`getOrCreate` a fresh session through their own
  * `SparkSpec.spark` lazy val (getOrCreate ignores a session whose
  * context has stopped).
  */
class SessionMemoSpec extends SparkSpec {

  test("a stopped session's memo entries are released") {
    val s = spark
    val sf = "/root/testdata/sf0.001"
    // build a session-shared memo entry through a public consumer (the
    // DL-scored fuzzy pair table is memoized per (session, dir))
    graft.queries.Relational.fuzzyDamerau.fn(s, sf).count()
    assert(SessionMemos.entriesFor(s) > 0,
      "expected the fuzzy-pair memo to be registered for the live session")
    // the inferred-schema memo behind Tables is one of them: a table read
    // through it adds an entry under the session
    val dir = java.nio.file.Files.createTempDirectory("memo-table").toString
    s.range(3).write.parquet(s"$dir/t.parquet")
    val beforeRead = SessionMemos.entriesFor(s)
    graft.Tables.table(s, dir, "t").count()
    assert(SessionMemos.entriesFor(s) === beforeRead + 1,
      "a Tables read must memoize its schema in a session memo")
    s.stop()
    // the application-end listener sweeps during stop(); the listener bus
    // is flushed before stop() returns, but poll briefly to be safe
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (SessionMemos.entriesFor(s) > 0 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(SessionMemos.entriesFor(s) === 0,
      "a stopped session's memo entries must be evicted, not pinned for JVM life")
    // the lazy access path must also self-clean: a fresh session's first
    // memo access sweeps any other stopped-session entries it finds
    assert(SessionMemos.sweep() === 0, "listener sweep left stopped-session entries behind")
  }

  test("registry holds memo instances weakly — collected instances are pruned") {
    // ad-hoc instances (this suite, SessionMemoBuildSpec) must not pin the
    // registry forever; only strongly-reachable singletons may persist
    val before = SessionMemos.registrySize
    (1 to 64).foreach(_ => new SessionMemo[String, String])
    assert(SessionMemos.registrySize >= before, "fresh instances register")
    // no strong refs remain; poll until the weak refs clear. System.gc()
    // is only a HINT (a no-op under -XX:+DisableExplicitGC / Epsilon), so
    // also generate real allocation pressure each spin — and if the refs
    // STILL don't clear, cancel rather than fail: that's a JVM that never
    // collected, not a registry leak (the property under test is pruning
    // once collection happens).
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var size = SessionMemos.registrySize
    var pressure = 1 << 16
    while (size > before && System.nanoTime() < deadline) {
      System.gc()
      val junk = new Array[Array[Byte]](64)
      (0 until 64).foreach(i => junk(i) = new Array[Byte](pressure))
      pressure = math.min(pressure << 1, 1 << 24)
      Thread.sleep(50)
      size = SessionMemos.registrySize
    }
    if (size > before)
      cancel(s"weak refs did not clear within the deadline ($before -> $size) — " +
        "GC never ran on this JVM; pruning is not testable here")
    assert(size <= before,
      s"collected memos must be pruned from the registry ($before -> $size)")
  }
}
