package graft.ops

import org.apache.spark.sql.Dataset

/** Query-local cache leases.
  *
  * Several queries cache a small intermediate (a distinct fingerprint
  * corpus, a TF table, a token universe) that no OTHER query reuses. Left
  * `.cache()`d, that scratch accumulates for the life of the session: a
  * 156-query bench run carries every earlier query's blocks in storage
  * memory, and the resulting heap/GC pressure measurably slows
  * late-alphabet queries (the r4 sketch-family regression — q_sketch_hll
  * 1.4s → 9.9s with identical query code). [[lease]] marks a cache as
  * query-scoped; [[drain]] runs after each query's action, in
  * `Meter.measure` (so in `Bench` and `Probe`), `Verify` and
  * `TierInvariants`, so steady-state storage holds only the
  * deliberately session-shared memos (the dedup shingle/signature tables,
  * the 3-gram hash universe, the ETL pipeline snapshots).
  *
  * At cluster scale the same contract holds: per-query scratch is
  * released at query end, shared corpus-level materializations live for
  * the session (a production deployment would write those to storage
  * once and scan them, which is what the memo stands in for).
  */
object Caches {
  /** One release action per outstanding lease. */
  private val leases = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Cache `ds` and register it for release at the next [[drain]]. */
  def lease[T](ds: Dataset[T]): Dataset[T] = {
    ds.cache()
    leases.add(() => ds.unpersist(false))
    ds
  }

  /** Register an already-persisted RDD (typically the blocks behind a
    * `localCheckpoint`ed Dataset, which `Dataset.unpersist` cannot reach)
    * for release at the next [[drain]]. NOTE the stronger contract vs
    * [[lease]]: a drained Dataset lease recomputes from lineage if
    * re-used, but a checkpoint's lineage is truncated — once drained its
    * data is gone for good, so the owning query result must be fully
    * consumed before the harness drains. */
  def leaseRdd(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    // Guard the contract at lease time instead of by convention: a lease
    // of an UNpersisted RDD is a caller bug (nothing to release — the
    // caller probably meant `lease` on the Dataset), and it's precisely
    // the callers holding non-persisted handles that would later be
    // surprised by the no-recompute semantics above.
    require(rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE,
      s"leaseRdd requires a persisted (localCheckpoint-backed) RDD; " +
        s"RDD ${rdd.id} has storage level NONE")
    leases.add(() => rdd.unpersist(false))
    ()
  }

  /** Unpersist every outstanding lease (non-blocking) and return how many
    * were released. Called between queries; leased plans are query-local
    * by contract, so nothing else can be holding them. */
  def drain(): Int = {
    var n = 0
    var release = leases.poll()
    while (release != null) {
      // a lease can outlive its session in tests; unpersist on a stopped
      // context is a no-op we don't want to throw over
      try release() catch { case _: Throwable => () }
      n += 1
      release = leases.poll()
    }
    n
  }

  /** Outstanding (not yet drained) lease count — test hook. */
  def outstanding: Int = leases.size
}
