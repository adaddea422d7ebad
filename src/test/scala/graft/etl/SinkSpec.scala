package graft.etl

import graft.SparkSpec
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import java.time.Instant
import java.time.temporal.ChronoUnit
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class SinkSpec extends SparkSpec {
  import spark.implicits._

  test("overwriteTable: atomic staged overwrite + single-valued _TIMESTAMP default (S7/S10)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString + "/t"
    Sink.overwriteTable(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    val first = spark.read.parquet(dir)
    assert(first.count() === 2)
    // whole batch carries ONE stamp (Sink.stamped reads one instant per write)
    assert(first.select("_TIMESTAMP").distinct().count() === 1)
    // truncate-replace semantics: second load fully replaces the first
    Sink.overwriteTable(Seq((9, "z")).toDF("k", "v"), dir)
    val second = spark.read.parquet(dir)
    assert(second.select("k").as[Int].collect().toSeq === Seq(9))
    // the staging and set-aside directories are gone once the swap is done
    assert(new java.io.File(dir).getParentFile.list().toSeq === Seq("t"))
  }

  test("overwriteTable: a task that fails mid-write leaves the previous table readable and unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink-fail").toString + "/t"
    Sink.overwriteTable((1 to 100).map(i => (i, s"v$i")).toDF("k", "v").repartition(4), dir)
    def rows() = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    def files() = new java.io.File(dir).listFiles().sortBy(_.getName)
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toSeq
    val before = rows()
    val beforeFiles = files()
    // four tasks; the one holding k = 77 throws, the others write their files
    val failing = (1 to 100).toDF("k").repartition(4)
      .select($"k", when($"k" === 77, raise_error(lit("injected write failure")))
        .otherwise(concat(lit("w"), $"k".cast("string"))).as("v"))
    // the same projection below the shuffle: with adaptive execution its
    // map stage runs before the write job is set up; without it, inside
    // the write job, after the staging directory exists
    val failingBelowShuffle = spark.range(1, 101, 1, 4).select($"id".cast("int").as("k"))
      .select($"k", when($"k" === 77, raise_error(lit("injected write failure")))
        .otherwise(concat(lit("w"), $"k".cast("string"))).as("v"))
      .repartition(4)
    for {
      (shape, df) <- Seq("above the shuffle" -> failing, "below the shuffle" -> failingBelowShuffle)
      adaptive <- Seq("true", "false")
    } {
      val clue = s"$shape, adaptive=$adaptive"
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", adaptive)
      val e = try intercept[Exception](Sink.overwriteTable(df, dir))
        finally spark.conf.set("spark.sql.adaptive.enabled", prev)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(c => String.valueOf(c.getMessage).contains("injected write failure")),
        s"$clue\n${chain.mkString("\n")}")
      // _TIMESTAMP included: the same rows the first load wrote
      assert(rows() === before, clue)
      assert(files() === beforeFiles, clue)
      assert(new java.io.File(dir).getParentFile.list().toSeq === Seq("t"), clue)
    }
  }

  test("overwriteTable: a failed write returns only after the failed job's other tasks end") {
    val dir = Files.createTempDirectory("graft-sink-await").toString + "/t"
    // partition 0 throws on its first row; partitions 1-3 hold their first
    // row for 300 ms through the kill, so they run on after the job fails
    val hold = udf { (k: Long) =>
      if (k > 0 && k % 500 == 0) {
        val end = System.nanoTime() + 300000000L
        while (System.nanoTime() < end) try Thread.sleep(10) catch { case _: InterruptedException => }
      }
      k
    }
    val failing = spark.range(0, 2000, 1, 4).select(hold($"id").as("k"))
      .select($"k", when($"k" === 0, raise_error(lit("injected write failure")))
        .otherwise(lit("w")).as("v"))
    val sc = spark.sparkContext
    val tag = "sink-await-test"
    sc.addJobTag(tag)
    try intercept[Exception](Sink.overwriteTable(failing, dir))
    finally sc.removeJobTag(tag)
    org.apache.spark.sql.GraftSqlBridge.drainListeners(sc)
    val st = sc.statusTracker
    val stages = st.getJobIdsForTag(tag).toSeq.flatMap(st.getJobInfo(_)).flatMap(_.stageIds)
    assert(stages.nonEmpty)
    assert(stages.flatMap(st.getStageInfo(_)).map(_.numActiveTasks).sum === 0,
      "a task still running can write under the staging directory after it is deleted")
    assert(new java.io.File(dir).getParentFile.list().toSeq === Seq.empty)
  }

  test("overwriteTable after an interrupted swap") {
    def siblings(t: String) = new java.io.File(t).getParentFile.list().toSeq.sorted
    def tree(dir: String) = Files.walk(Path.of(dir)).iterator.asScala.filter(Files.isRegularFile(_))
      .map(f => f.toString -> Files.readAllBytes(f).toSeq).toSeq.sortBy(_._1)
    def keys(t: String) = spark.read.parquet(t).select("k").as[Int].collect().toSeq.sorted
    // the task holding k = 3 throws, as in the mid-write test above
    val failing = (1 to 8).toDF("k").repartition(4)
      .select($"k", when($"k" === 3, raise_error(lit("injected write failure")))
        .otherwise(concat(lit("w"), $"k".cast("string"))).as("v"))

    // (a) a crash between the renames: the previous table is only at <t>_old
    val a = Files.createTempDirectory("graft-sink-crash-a").toString + "/t"
    Sink.overwriteTable(Seq((1, "a")).toDF("k", "v"), a)
    Files.move(Path.of(a), Path.of(a + "_old"))
    val old = tree(a + "_old")
    val e = intercept[Exception](Sink.overwriteTable(failing, a))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected write failure")), e.toString)
    assert(tree(a + "_old") === old, "a failed write touched the only copy")
    assert(siblings(a) === Seq("t_old"))
    Sink.overwriteTable(Seq((2, "b")).toDF("k", "v"), a)
    assert(keys(a) === Seq(2))
    assert(siblings(a) === Seq("t"))

    // (b) the table and a stale <t>_old both exist
    val b = Files.createTempDirectory("graft-sink-crash-b").toString + "/t"
    Sink.overwriteTable(Seq((1, "a")).toDF("k", "v"), b)
    Sink.overwriteTable(Seq((9, "z")).toDF("k", "v"), b + "_old")
    Sink.overwriteTable(Seq((2, "b")).toDF("k", "v"), b)
    assert(keys(b) === Seq(2))
    assert(siblings(b) === Seq("t"))

    // (c) a stale <t>_staging, left by a write that never finished
    val c = Files.createTempDirectory("graft-sink-crash-c").toString + "/t"
    Sink.overwriteTable(Seq((1, "a")).toDF("k", "v"), c)
    Sink.overwriteTable(Seq((8, "y"), (9, "z")).toDF("k", "v"), c + "_staging")
    Sink.overwriteTable(Seq((2, "b")).toDF("k", "v"), c)
    assert(keys(c) === Seq(2))
    assert(siblings(c) === Seq("t"))
  }

  // ---- _TIMESTAMP: one instant per write, on every path that stamps ----------

  /** Rows spread over four tasks. */
  private def batch(): DataFrame = (1 to 200).map(i => (i, s"v${i % 3}")).toDF("k", "v").repartition(4)

  /** A staged Index sheet as CSV, for a Runner load. */
  private def indexStaging(): String = {
    val staging = Files.createTempDirectory("graft-sink-staging")
    Files.writeString(staging.resolve("Index_2018.csv"),
      ((1 to 10).map(i => s"preamble $i") ++ Seq(Schemas.rawIndexSheet.fieldNames.mkString(","),
        "Cancer Alliance,NCL,E56000027,Breast,Female,All ages,Age-standardised,2018,1,100,71.5,70.0,73.0,1.0,0.5,",
        "Cancer Alliance,WY,E56000014,Lung,Persons,All ages,Age-standardised,2018,1,50,55.0,54.0,56.0,1.0,0.5,"))
        .mkString("\n") + "\n")
    staging.toString
  }

  /** The distinct stamps one write leaves, and wall-clock readings taken
    * just before and just after it, at the stamp's microsecond precision. */
  private def stampOf(write: () => DataFrame): (Instant, Seq[Instant], Instant) = {
    val before = Instant.now().truncatedTo(ChronoUnit.MICROS)
    val written = write()
    val after = Instant.now()
    val stamps = written.select("_TIMESTAMP").distinct().collect().map(_.getTimestamp(0).toInstant).toSeq
    (before, stamps, after)
  }

  test("every write path stamps one _TIMESTAMP per write, read during the write; the next write gets a new one") {
    val root = Files.createTempDirectory("graft-stamps")
    val staging = indexStaging()
    // each write path: a write of a fresh batch, and a read of what it left
    val writePaths: Seq[(String, () => DataFrame)] = Seq(
      "overwriteTable" -> { () =>
        Sink.overwriteTable(batch(), s"$root/table"); spark.read.parquet(s"$root/table")
      },
      "Runner" -> { () =>
        Runner.run(spark, staging, s"$root/runner"); spark.read.parquet(s"$root/runner/INDEX")
      })
    for ((name, write) <- writePaths) {
      val runs = Seq.fill(2)(stampOf(write))
      for ((before, stamps, after) <- runs) {
        assert(stamps.size === 1, s"$name: one write left stamps $stamps")
        assert(!stamps.head.isBefore(before) && !stamps.head.isAfter(after),
          s"$name: stamp ${stamps.head} outside [$before, $after]")
      }
      assert(runs(0)._2.head.isBefore(runs(1)._2.head), s"$name: two writes, stamps ${runs.map(_._2)}")
    }
  }

  test("a written table's directories and files carry the modes of Hadoop's local filesystem (0755/0644 under umask 022)") {
    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    assert(umask.toShort === Integer.parseInt("022", 8))
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
    assert((dirMode, fileMode) === ("rwxr-xr-x", "rw-r--r--"))
    val root = Files.createTempDirectory("graft-modes")
    Sink.overwriteTable(batch(), s"$root/flat")
    // a partitioned table written by dynamic overwrite, for its nested directories
    batch().write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("v").parquet(s"$root/partitioned")
    for (table <- Seq("flat", "partitioned")) {
      val entries = Files.walk(root.resolve(table)).iterator.asScala.toSeq
      def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      val (dirs, files) = entries.partition(Files.isDirectory(_))
      assert(files.map(_.getFileName.toString).exists(_.endsWith(".parquet")))
      assert(files.map(_.getFileName.toString).exists(_.endsWith(".crc")))
      // a dynamic partition overwrite leaves no _SUCCESS marker
      assert(files.exists(_.getFileName.toString == "_SUCCESS") === (table == "flat"))
      assert(dirs.size === (if (table == "flat") 1 else 4))
      dirs.foreach(d => assert(mode(d) === dirMode, d.toString))
      files.foreach(f => assert(mode(f) === fileMode, f.toString))
    }
  }
}
