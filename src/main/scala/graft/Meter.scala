package graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** Per-SparkContext execution statistics: the one listener that counts
  * what queries cost in jobs, stages, tasks and task metrics, and keeps
  * each recent job's wall time, stage count and callsite. Obtain it with
  * `Meter(sc)`, which registers it once per context; a span of work costs
  * the difference of two [[settled]] reads taken around it, and one query
  * costs the [[Meter.Run]] that [[Meter.measure]] returns.
  */
final class Meter private (sc: SparkContext) extends SparkListener {
  import Meter._

  private var total = Counts()
  private val started = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val finished = mutable.Queue.empty[Job]

  private def snapshot: Counts = synchronized(total)

  /** The counts once delivery has caught up: wait for the listener bus to
    * deliver what was posted, then poll until a read holds still for one
    * 5 ms interval, at most `maxSpins` intervals. The tasks of a failed job
    * can report seconds after it (task kill), so a caller measuring a
    * failure passes a larger bound. */
  def settled(maxSpins: Int = 40): Counts = {
    if (!sc.isStopped) org.apache.spark.sql.GraftSqlBridge.drainListeners(sc)
    var prev = snapshot
    var spins = 0
    while (spins < maxSpins) {
      Thread.sleep(5)
      val cur = snapshot
      if (cur == prev) return cur
      prev = cur
      spins += 1
    }
    prev
  }

  /** Finished jobs (of the last [[MaxJobs]]) submitted at or after
    * `startNs` (a `System.nanoTime`), in submission order. */
  def jobsSince(startNs: Long): Seq[Job] =
    synchronized(finished.filter(_.startNs >= startNs).toSeq).sortBy(_.id)

  private def add(c: Counts): Unit = synchronized { total = total + c }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the result stage (the job's last) is named after the job's callsite
    val site = e.stageInfos.maxByOption(_.stageId).fold("?")(_.name)
    started.put(e.jobId, Job(e.jobId, System.nanoTime(), 0.0, e.stageInfos.size, site))
    add(Counts(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach { j =>
      val done = j.copy(seconds = (System.nanoTime() - j.startNs) / 1e9)
      synchronized {
        finished.enqueue(done)
        if (finished.size > MaxJobs) finished.dequeue()
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add(Counts(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    add(if (m == null) Counts(tasks = 1)
    else Counts(tasks = 1, runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteNs = m.shuffleWriteMetrics.writeTime,
      fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
      memorySpillBytes = m.memoryBytesSpilled, diskSpillBytes = m.diskBytesSpilled,
      recordsRead = m.inputMetrics.recordsRead))
  }
}

object Meter {
  /** Finished jobs kept for [[Meter.jobsSince]]. */
  private val MaxJobs = 1024

  /** Work summed over tasks. Task times add across concurrent tasks, so
    * they are task-seconds, not wall; a task's run time splits into CPU,
    * GC and blocked time (I/O and waits, including shuffle write time and
    * fetch wait). Shuffle write counts each exchange once; read counts
    * every consumer of a reused exchange. */
  final case class Counts(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
      shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
      shuffleWriteNs: Long = 0, fetchWaitMs: Long = 0,
      memorySpillBytes: Long = 0, diskSpillBytes: Long = 0,
      recordsRead: Long = 0) {
    def +(o: Counts): Counts = combine(o)(_ + _)
    def -(o: Counts): Counts = combine(o)(_ - _)
    private def combine(o: Counts)(f: (Long, Long) => Long): Counts = Counts(
      f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks),
      f(runMs, o.runMs), f(cpuNs, o.cpuNs), f(gcMs, o.gcMs),
      f(shuffleWriteBytes, o.shuffleWriteBytes), f(shuffleReadBytes, o.shuffleReadBytes),
      f(shuffleWriteNs, o.shuffleWriteNs), f(fetchWaitMs, o.fetchWaitMs),
      f(memorySpillBytes, o.memorySpillBytes), f(diskSpillBytes, o.diskSpillBytes),
      f(recordsRead, o.recordsRead))
  }

  /** One job: submission time (`System.nanoTime`), wall seconds, the
    * stages it planned (skipped ones included) and its callsite. */
  final case class Job(id: Int, startNs: Long, seconds: Double, stages: Int, callSite: String)

  /** One measured query: driver seconds per phase, the meter's counts
    * over the run, the jobs it submitted, and what it threw, if it did. */
  final case class Run(build: Double, plan: Double, exec: Double, counts: Counts,
      jobs: Seq[Job], failure: Option[Throwable]) {
    def total: Double = build + plan + exec
  }

  /** The one measurement of a query, which Bench and Probe share. Times
    * three driver phases: `build`, the `query` closure (DataFrame
    * construction, relation resolution, analysis); `plan`, forcing the
    * executed plan (optimizer and physical planning); `exec`, running that
    * same plan with every output column evaluated (codegen, job
    * round-trips, tasks). The plan is made once: a noop write would plan
    * the query again inside its own command, and `count()` would let the
    * optimizer prune the final projection. Then it settles the meter,
    * waiting longer after a failure (a failed job's tasks can report
    * seconds after it), and drains the query's [[graft.ops.Caches]]
    * leases. A failure in any phase ends the run and is returned, not
    * thrown; the phases it did not reach read as zero. */
  def measure(spark: SparkSession)(query: => DataFrame): Run = {
    val meter = Meter(spark.sparkContext)
    val c0 = meter.settled()
    val marks = mutable.ArrayBuffer(System.nanoTime())
    def mark(): Unit = marks += System.nanoTime()
    val failure = try {
      val qe = query.queryExecution
      mark()
      qe.executedPlan
      mark()
      SQLExecution.withNewExecutionId(qe)(qe.toRdd.foreach(_ => ()))
      None
    } catch {
      case e: Throwable => Some(e)
    }
    while (marks.size < 4) mark()
    val counts = meter.settled(maxSpins = if (failure.isEmpty) 40 else 1000) - c0
    graft.ops.Caches.drain()
    def sec(i: Int) = (marks(i + 1) - marks(i)) / 1e9
    Run(sec(0), sec(1), sec(2), counts, meter.jobsSince(marks.head), failure)
  }

  private val meters = mutable.HashMap.empty[SparkContext, Meter]

  /** The context's meter, registered as a listener on first use only, so
    * every caller reads the same counts. Stopped contexts are dropped. */
  def apply(sc: SparkContext): Meter = synchronized {
    meters.filterInPlace((c, _) => !c.isStopped)
    meters.getOrElseUpdate(sc, {
      val m = new Meter(sc)
      sc.addSparkListener(m)
      m
    })
  }
}
