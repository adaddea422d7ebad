package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Work a set of Spark jobs did, as task-metric sums. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskCpuNs: Long = 0,
    inputBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    waitMs: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskCpuNs + o.taskCpuNs, inputBytes + o.inputBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes, waitMs + o.waitMs)
}

/** The harness's one SparkListener. Jobs are attributed to the operation
  * named by the submitting thread's `perfbench.op` local property, so two
  * concurrent clients get exact per-operation counts; jobs without the
  * property (output checks) are not counted. A task's wait is its launch
  * time minus its stage's submission time: time spent queued for a slot.
  */
final class Tally extends SparkListener {
  private val byOp = new ConcurrentHashMap[String, Counts]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()

  private def add(op: String, c: Counts): Unit = byOp.merge(op, c, (a: Counts, b: Counts) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Tally.OpKey)))
    op.foreach { o =>
      e.stageIds.foreach(stageOp.put(_, o))
      add(o, Counts(jobs = 1))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmitted.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    Option(stageOp.get(id)).foreach(add(_, Counts(stages = 1)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val m = e.taskMetrics
      val wait = math.max(0L, e.taskInfo.launchTime - stageSubmitted.getOrDefault(e.stageId, e.taskInfo.launchTime))
      add(op, if (m == null) Counts(tasks = 1, waitMs = wait)
      else Counts(tasks = 1, taskCpuNs = m.executorCpuTime, inputBytes = m.inputMetrics.bytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled, waitMs = wait))
    }

  /** Counts for `op`, after every event posted so far has been delivered. */
  def of(sc: org.apache.spark.SparkContext, op: String): Counts = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Option(byOp.get(op)).getOrElse(Counts())
  }
}

object Tally {
  val OpKey = "perfbench.op"
  private val seq = new AtomicLong()

  /** Run `body` with its jobs attributed to a fresh operation id, or, when
    * not `on`, unattributed, so the listener ignores them. */
  def attributed[T](sc: org.apache.spark.SparkContext, kind: String, on: Boolean)(body: String => T): T =
    if (!on) body("")
    else {
      val op = s"$kind-${seq.incrementAndGet()}"
      sc.setLocalProperty(OpKey, op)
      try body(op) finally sc.setLocalProperty(OpKey, null)
    }
}

/** One timed interval at a layer boundary. */
final case class Span(id: Long, parent: Long, run: String, name: String,
    startNs: Long, endNs: Long, counts: Option[Counts])

/** Phase timer: spans kept in memory, written out once at the end. */
final class Spans(run: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong()

  /** Time `body` as span `name` under `parent`; returns (result, seconds).
    * When not `on` the interval is timed but no span is kept. */
  def apply[T](name: String, parent: Long = 0L, on: Boolean = true)(body: Long => T): (T, Double) = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    val out = body(id)
    val t1 = System.nanoTime()
    if (on) synchronized { spans += Span(id, parent, run, name, t0, t1, None) }
    (out, (t1 - t0) / 1e9)
  }

  /** Attach counts to an already-recorded span. */
  def count(id: Long, c: Counts): Unit = synchronized {
    val i = spans.indexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(counts = Some(c))
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.toList).map { s =>
      val c = s.counts.map(c =>
        s""","jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_cpu_ns":${c.taskCpuNs},""" +
          s""""input_bytes":${c.inputBytes},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
          s""""spill_bytes":${c.spillBytes},"task_wait_ms":${c.waitMs}""").getOrElse("")
      s"""{"id":${s.id},"parent":${s.parent},"run":"${s.run}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}$c}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
