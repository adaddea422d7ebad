package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Session-keyed memoization that does not outlive its session.
  *
  * The query families memoize corpus-snapshot derivations (LSH candidate
  * tables, the IVF quantizer fit, BPE merges, the processed ETL tables)
  * per (session, input-dir). A plain `TrieMap[(SparkSession, …), …]`
  * pins every session it has ever seen — plans, encoders, the session
  * state — for the life of the JVM.
  *
  * One lifetime rule: an entry lives until its session's context stops.
  * Nothing evicts it before then, so a frame handed out (a
  * `localCheckpoint` snapshot included, whose blocks cannot be
  * recomputed) stays readable for the whole session. Entries are released
  * two ways:
  *   - an application-end listener (registered once per SparkContext, on
  *     first access) sweeps every registered memo when the context stops,
  *     so release is prompt even if no memo is touched again;
  *   - every access sweeps entries whose owning session's context has
  *     stopped, covering contexts that died without the listener firing.
  * The swept values need no explicit unpersist: cached/checkpointed
  * blocks die with their context; dropping the map entry is what lets
  * the session object itself be collected.
  *
  * KNOWN LIMIT: a `newSession()` clone over a live context keeps its
  * entries until that context stops (Spark has no session-close signal);
  * no entry point here creates one, each builds one session in `Sessions`.
  */
final class SessionMemo[K, V] {
  private val m = TrieMap.empty[(SparkSession, K), V]
  private val buildLock = new Object
  SessionMemos.register(this)

  /** Get-or-build, keyed by session; the build is ATOMIC per memo.
    * TrieMap.getOrElseUpdate alone evaluates `build` outside any lock, so
    * two threads racing a cold key would both run the (expensive, possibly
    * eagerly-checkpointing) build. The lock is per-MEMO: builds are rare
    * one-time snapshot materializations, and a memo hit never takes it. */
  def getOrElseUpdate(s: SparkSession, k: K)(build: => V): V = {
    SessionMemos.watch(s)
    evictStopped()
    m.getOrElse((s, k), buildLock.synchronized {
      m.getOrElse((s, k), { val v = build; m.put((s, k), v); v })
    })
  }

  /** Context-stop sweep: a stopped context's cached/checkpointed blocks
    * are already gone with the context, so only the entry is dropped. */
  private[ops] def evictStopped(): Int = {
    var n = 0
    m.keySet.foreach { key =>
      if (key._1.sparkContext.isStopped && m.remove(key).isDefined) n += 1
    }
    n
  }

  /** Live entry count for `s` — test hook. */
  def entriesFor(s: SparkSession): Int = m.count { case ((sess, _), _) => sess eq s }
}

/** Registry of every [[SessionMemo]] in the JVM, so one context-stop
  * listener can sweep them all. Holds WEAK references: the production
  * memos are object-field singletons (strongly reachable for the JVM
  * lifetime anyway), but ad-hoc instances (per-test `new SessionMemo`)
  * must not be pinned here forever — cleared referents are pruned on
  * every register/sweep. */
object SessionMemos {
  private val memos =
    new java.util.concurrent.CopyOnWriteArrayList[java.lang.ref.WeakReference[SessionMemo[_, _]]]()
  private val watched = TrieMap.empty[SparkContext, Unit]

  private[ops] def register(memo: SessionMemo[_, _]): Unit = {
    memos.removeIf(r => r.get == null)
    memos.add(new java.lang.ref.WeakReference[SessionMemo[_, _]](memo))
    ()
  }

  /** The memos not yet collected; prunes the cleared references. */
  private def live: Seq[SessionMemo[_, _]] = {
    memos.removeIf(r => r.get == null)
    memos.asScala.toSeq.flatMap(r => Option(r.get))
  }

  /** Registered (not-yet-collected) memo count — test hook. */
  private[ops] def registrySize: Int = live.size

  /** Ensure exactly one application-end listener per SparkContext. Also
    * prunes `watched` keys whose context has stopped: if the listener
    * never fired (listener bus dropped the event or was stopped before
    * it drained), the sweep-on-access path reclaims the memo ENTRIES but
    * this map would otherwise pin every stopped SparkContext it saw. */
  private[ops] def watch(s: SparkSession): Unit = {
    watched.keySet.foreach(c => if (c.isStopped) watched.remove(c))
    val sc = s.sparkContext
    if (!sc.isStopped && watched.putIfAbsent(sc, ()).isEmpty) {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          sweep()
          watched.remove(sc)
          ()
        }
      })
    }
  }

  /** Drop every memo entry owned by a stopped session; returns how many
    * were released. */
  def sweep(): Int = live.map(_.evictStopped()).sum

  /** Total live entries across all memos for `s` — test hook. */
  def entriesFor(s: SparkSession): Int = live.map(_.entriesFor(s)).sum
}
