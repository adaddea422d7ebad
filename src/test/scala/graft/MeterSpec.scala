package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{col, max, sum}

class MeterSpec extends SparkSpec {

  /** A rule that changes nothing and counts the optimizer runs it sees. */
  private final class CountingRule extends Rule[LogicalPlan] {
    val runs = new AtomicInteger()
    def apply(plan: LogicalPlan): LogicalPlan = { runs.incrementAndGet(); plan }
  }

  /** A shuffle (the aggregate) over a join. */
  private def shuffleJoin(s: SparkSession): DataFrame = {
    val facts = s.range(0, 4000, 1, 4).select((col("id") % 50).as("k"), col("id").as("v"))
    val dims = s.range(0, 50, 1, 2).select(col("id").as("k"), (col("id") * 2).as("w"))
    facts.join(dims, "k").groupBy("k").agg(sum("v"), max("w"))
  }

  private def noopWrite(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  test("one known shuffle: jobs, stages and tasks counted, shuffle written equals read") {
    val meter = Meter(spark.sparkContext)
    val c0 = meter.settled()
    // one exchange: 4 scan tasks write it, the aggregate's tasks read it
    spark.range(0, 10000, 1, 4).groupBy((col("id") % 10).as("k")).count()
      .write.format("noop").mode("overwrite").save()
    val c = meter.settled() - c0
    assert(c.jobs >= 1 && c.stages >= 1 && c.tasks >= 1, c)
    assert(c.shuffleWriteBytes > 0, c)
    assert(c.shuffleWriteBytes === c.shuffleReadBytes, c)
    assert(c.cpuNs > 0, c)
    assert(c.recordsRead === 10000, "every generated row enters the scan once")
  }

  test("settling waits out the task-end events that trail a job") {
    val meter = Meter(spark.sparkContext)
    val c0 = meter.settled()
    // 7 tasks in one stage; the action returns before the listener bus has
    // necessarily delivered their task-end events
    spark.sparkContext.parallelize(1 to 70, 7).map(_ * 2).count()
    val c = meter.settled() - c0
    assert(c.tasks === 7, c)
    assert(c.jobs === 1 && c.stages === 1, c)
  }

  test("a second lookup returns the same meter and registers no second listener") {
    val a = Meter(spark.sparkContext)
    val b = Meter(spark.sparkContext)
    assert(a eq b)
    val c0 = a.settled()
    spark.sparkContext.parallelize(1 to 30, 3).count()
    // a listener added twice would count every task twice
    assert((a.settled() - c0).tasks === 3)
  }

  test("jobsSince lists the jobs submitted after a mark, in order") {
    val meter = Meter(spark.sparkContext)
    meter.settled()
    val t0 = System.nanoTime()
    spark.sparkContext.parallelize(1 to 10, 2).count()
    spark.sparkContext.parallelize(1 to 10, 1).count()
    meter.settled()
    val jobs = meter.jobsSince(t0)
    assert(jobs.size === 2)
    assert(jobs.map(_.id) === jobs.map(_.id).sorted)
    assert(jobs.forall(j => j.seconds >= 0 && j.stages === 1))
    assert(jobs.forall(_.callSite.startsWith("count at MeterSpec.scala")), jobs)
  }

  test("input records count what a file scan reads") {
    val meter = Meter(spark.sparkContext)
    val dir = java.nio.file.Files.createTempDirectory("graft-meter").resolve("t").toString
    spark.range(0, 1234, 1, 3).write.parquet(dir)
    val c0 = meter.settled()
    spark.read.parquet(dir).write.format("noop").mode("overwrite").save()
    assert((meter.settled() - c0).recordsRead === 1234)
  }

  test("measure plans the query once; forcing the plan and then a noop write plans it twice") {
    val s = spark.newSession()
    val rule = new CountingRule
    s.experimental.extraOptimizations = Seq(rule)
    val run = Meter.measure(s)(shuffleJoin(s))
    assert(run.failure.isEmpty, run.failure)
    assert(rule.runs.get === 1, "one measured run, one optimizer pass")
    // forcing the plan, then a noop write: the write is a command with its
    // own query execution, which optimizes the query again
    rule.runs.set(0)
    val df = shuffleJoin(s)
    df.queryExecution.executedPlan
    noopWrite(df)
    assert(rule.runs.get === 2)
  }

  test("measure returns a task failure with its counted tasks, and drains the leases") {
    val run = Meter.measure(spark) {
      graft.ops.Caches.lease(spark.range(10).toDF())
      spark.range(0, 100, 1, 4).selectExpr("if(id = 97, raise_error('boom'), id) AS x")
    }
    assert(run.failure.exists(_.getMessage.contains("boom")), run.failure)
    assert(run.counts.jobs === 1 && run.counts.tasks === 4, run.counts)
    assert(run.jobs.size === 1)
    assert(graft.ops.Caches.outstanding === 0)
  }

  test("measure: phases sum to the total, jobs and tasks equal a noop write's") {
    val meter = Meter(spark.sparkContext)
    noopWrite(shuffleJoin(spark)) // warm
    val c0 = meter.settled()
    noopWrite(shuffleJoin(spark))
    val write = meter.settled() - c0
    val t0 = System.nanoTime()
    val run = Meter.measure(spark)(shuffleJoin(spark))
    val wall = (System.nanoTime() - t0) / 1e9
    assert(run.failure.isEmpty, run.failure)
    assert(Seq(run.build, run.plan, run.exec).forall(_ > 0), run)
    assert(run.build + run.plan + run.exec === run.total)
    assert(run.total <= wall, "settling and draining lie outside the phases")
    assert(run.counts.jobs === write.jobs && run.counts.tasks === write.tasks,
      s"measured ${run.counts} vs noop write $write")
    assert(run.jobs.size.toLong === run.counts.jobs)
  }

  test("measure: each phase's driver CPU lies between 0 and its wall time") {
    noopWrite(shuffleJoin(spark)) // warm
    val run = Meter.measure(spark)(shuffleJoin(spark))
    assert(run.failure.isEmpty, run.failure)
    // the thread's CPU clock and the wall clock are read back to back at
    // each mark; 10 ms absorbs the skew between the two reads
    for ((phase, cpu, wall) <- Seq(("build", run.buildCpu, run.build),
        ("plan", run.planCpu, run.plan), ("exec", run.execCpu, run.exec)))
      assert(cpu >= 0 && cpu <= wall + 0.010, s"$phase: cpu $cpu s, wall $wall s")
    assert(run.driverCpu > 0, run)
  }
}
