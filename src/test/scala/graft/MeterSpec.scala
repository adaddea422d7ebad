package graft

import org.apache.spark.sql.functions.col

class MeterSpec extends SparkSpec {

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
}
