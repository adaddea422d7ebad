package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Pins the atomic-build contract of [[SessionMemo.getOrElseUpdate]]:
  * TrieMap.getOrElseUpdate alone evaluates the build optimistically
  * outside any lock, so two threads racing a cold key would both run
  * the expensive build — with the eager localCheckpoint memos
  * (minhashCandShared) the loser's blocks would linger unreferenced for
  * the session. The memo must run the build exactly once per key no
  * matter how many threads race it, and must keep what it built for the
  * whole session. SessionMemoSpec owns the context-stop release. */
class SessionMemoBuildSpec extends graft.SparkSpec {

  test("racing threads on a cold key run the build exactly once") {
    val memo = new SessionMemo[String, Int]
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val s = spark
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        start.await()
        memo.getOrElseUpdate(s, "cold-key") {
          builds.incrementAndGet()
          Thread.sleep(100) // widen the race window
          42
        }
        ()
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(10000))
    assert(builds.get() === 1,
      s"cold-key build ran ${builds.get()} times — must be exactly once")
    assert(memo.entriesFor(s) === 1)
  }

  test("distinct keys still build independently (coarse lock is per-memo, not global)") {
    val memo = new SessionMemo[String, Int]
    val s = spark
    assert(memo.getOrElseUpdate(s, "a")(1) === 1)
    assert(memo.getOrElseUpdate(s, "b")(2) === 2)
    assert(memo.getOrElseUpdate(s, "a")(999) === 1, "memo hit must not rebuild")
    assert(memo.entriesFor(s) === 2)
  }

  test("a memo keeps every entry for its session: 70 localCheckpoint frames stay readable") {
    // one lifetime rule: nothing evicts an entry before its context stops,
    // so a checkpointed frame handed out early (whose blocks cannot be
    // recomputed) still reads after many later inserts, and its key hits
    val memo = new SessionMemo[Int, org.apache.spark.sql.DataFrame]
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val s = spark
    def frame(i: Int) = memo.getOrElseUpdate(s, i) {
      builds.incrementAndGet()
      s.range(0, i, 1, 1).toDF("id").localCheckpoint()
    }
    val handedOut = (1 to 70).map(frame)
    handedOut.zipWithIndex.foreach { case (df, i) =>
      assert(df.count() === i + 1, s"frame ${i + 1} must still count its rows")
    }
    assert(frame(1) eq handedOut.head, "a hit on key 1 must return the first frame")
    assert(builds.get() === 70, "a memo hit must not rebuild")
    assert(memo.entriesFor(s) === 70)
  }
}
