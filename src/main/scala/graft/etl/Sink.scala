package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Table sink replicating the reference's truncate+append load (reference
  * src/utils/database_util.py:9-61). [[overwriteTable]] does NOT replicate
  * its rollback on failure (database_util.py:56): the overwrite deletes the
  * previous table before its job runs, so a failed write leaves an empty
  * directory that reads as no table at all. [[Sink.Manifest]] is the
  * atomic mode: a new generation becomes visible only by a pointer swap
  * after it is fully written, so a failed load leaves the previous
  * generation readable. The `_TIMESTAMP DEFAULT
  * CURRENT_TIMESTAMP()` column (reference docs/create_index.sql:19) is
  * appended at write; `current_timestamp()` constant-folds to one value per
  * query = the whole batch gets one stamp.
  *
  * The reference's NaN→NULL normalization pre-write
  * (database_util.py:29-30) is a no-op here: Spark nulls already surface as
  * SQL NULLs, and the staged parquet path never materializes NaN-for-null.
  */
object Sink {

  /** Overwrite `path` with `df` + `_TIMESTAMP`. Not atomic: a failed write
    * leaves `path` an empty directory (use [[Manifest]] to keep the previous
    * table readable). */
  def overwriteTable(df: DataFrame, path: String): Unit =
    df.withColumn("_TIMESTAMP", current_timestamp())
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Managed-table variant (`saveAsTable`) for catalog-backed deployments. */
  def overwriteManaged(df: DataFrame, table: String): Unit =
    df.withColumn("_TIMESTAMP", current_timestamp())
      .write.mode(SaveMode.Overwrite).saveAsTable(table)

  /** Hive-style partitioned layout: one directory per partition value.
    * This is the 100 TB at-rest layout — queries filtering on the partition
    * column prune whole directories before any IO (PartitionFilters in the
    * scan), and `partitionOverwriteMode=dynamic` makes re-loads replace
    * only the partitions present in the batch. */
  def overwritePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.withColumn("_TIMESTAMP", current_timestamp())
      .write.mode(SaveMode.Overwrite)
      // writer-scoped: does NOT mutate the session-wide overwrite mode
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Small-file compaction — lakehouse maintenance: rewrite a FLAT parquet
    * table into `targetFiles` right-sized files (streaming sinks and
    * frequent appends accumulate small files that throttle scan
    * parallelism at 100 TB). The swap is rename-aside → rename-in →
    * delete-old: a restorable copy of the data exists at EVERY step (a
    * crash leaves either `<path>` or `<path>_old`/`<path>_compacting`
    * intact), and the no-table window is a single rename rather than a
    * delete+rename pair. A real deployment swaps via a metastore/
    * table-format pointer for true atomicity. Partition-layout tables are
    * refused: flattening them would break later dynamic partition
    * overwrites.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String, targetFiles: Int): Unit = {
    require(targetFiles > 0)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), hadoopConf)
    val dst = new org.apache.hadoop.fs.Path(path)
    val partitioned = fs.listStatus(dst)
      .exists(st => st.isDirectory && st.getPath.getName.contains("="))
    require(!partitioned,
      s"$path has a partition directory layout; compact would flatten it " +
        "and corrupt later dynamic partition overwrites - compact per partition instead")
    val staged = new org.apache.hadoop.fs.Path(path + "_compacting")
    val old = new org.apache.hadoop.fs.Path(path + "_old")
    spark.read.parquet(path).repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(staged.toString)
    if (fs.exists(old)) require(fs.delete(old, true), s"failed to clear stale $old")
    require(fs.rename(dst, old), s"rename $dst -> $old failed; table untouched")
    require(fs.rename(staged, dst),
      s"rename $staged -> $dst failed; original intact at $old, compacted at $staged")
    require(fs.delete(old, true), s"failed to delete $old after swap (table is live)")
  }

  /** Manifest-indirection table: data lives in immutable generation dirs
    * (`<base>/gen-N`); `<base>/MANIFEST` holds the live generation's name
    * and is replaced ATOMICALLY (FileContext rename with OVERWRITE — atomic
    * on both HDFS and local filesystems). Readers resolve the manifest and
    * scan a complete, immutable directory, so — unlike [[compact]]'s
    * rename-aside swap — there is NO window where the table path does not
    * exist, and a rewrite never disturbs in-flight readers (the previous
    * generation is retained until the NEXT rewrite). This is the root-
    * pointer pattern table formats (Iceberg/Delta) build on, reduced to
    * one pointer file for a filesystem-only sink. */
  object Manifest {
    private val Name = "MANIFEST"

    private def fs(spark: org.apache.spark.sql.SparkSession, base: String) =
      org.apache.hadoop.fs.FileSystem.get(new java.net.URI(base),
        spark.sparkContext.hadoopConfiguration)

    private def currentGen(
        spark: org.apache.spark.sql.SparkSession, base: String): Option[Long] = {
      val f = fs(spark, base)
      val m = new org.apache.hadoop.fs.Path(base, Name)
      if (!f.exists(m)) None
      else {
        val in = f.open(m)
        try Some(new String(in.readAllBytes(), "UTF-8").trim.stripPrefix("gen-").toLong)
        finally in.close()
      }
    }

    /** Write `df` as the next generation and atomically repoint the
      * manifest. The newest `keepGenerations` generations survive (the
      * default keeps the live one plus its predecessor, for readers that
      * resolved the manifest just before the swap); raising it buys
      * [[readAt]] time travel at the cost of storage — the Iceberg/Delta
      * snapshot-retention trade, in one knob. */
    def overwrite(
        spark: org.apache.spark.sql.SparkSession, base: String, df: DataFrame,
        keepGenerations: Int = 2): Unit = {
      require(keepGenerations >= 2, "must keep at least the live + previous generation")
      val f = fs(spark, base)
      val next = currentGen(spark, base).map(_ + 1).getOrElse(0L)
      df.write.mode(SaveMode.Overwrite).parquet(s"$base/gen-$next")
      val tmp = new org.apache.hadoop.fs.Path(base, s"$Name.tmp")
      val out = f.create(tmp, true)
      try out.write(s"gen-$next".getBytes("UTF-8")) finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        new java.net.URI(base), spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, new org.apache.hadoop.fs.Path(base, Name),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      // retire generations beyond the retention horizon
      (0L to next - keepGenerations).foreach { g =>
        val p = new org.apache.hadoop.fs.Path(base, s"gen-$g")
        if (f.exists(p)) f.delete(p, true)
      }
    }

    /** Resolve the live generation and read it. */
    def read(spark: org.apache.spark.sql.SparkSession, base: String): DataFrame = {
      val gen = currentGen(spark, base).getOrElse(
        sys.error(s"no $Name at $base — not a manifest table"))
      spark.read.parquet(s"$base/gen-$gen")
    }

    /** Time-travel read: a PINNED generation (`AS OF` semantics). Fails
      * loudly when the generation has been retired by retention — a silent
      * fallback to live data would be a correctness bug in any consumer
      * doing reproducible reprocessing. */
    def readAt(spark: org.apache.spark.sql.SparkSession, base: String, gen: Long): DataFrame = {
      val f = fs(spark, base)
      val p = new org.apache.hadoop.fs.Path(base, s"gen-$gen")
      if (!f.exists(p))
        sys.error(s"generation $gen at $base is retired or never existed " +
          s"(available: ${generations(spark, base).mkString(",")})")
      spark.read.parquet(p.toString)
    }

    /** Generations still on disk, oldest first. */
    def generations(spark: org.apache.spark.sql.SparkSession, base: String): Seq[Long] = {
      val f = fs(spark, base)
      val b = new org.apache.hadoop.fs.Path(base)
      if (!f.exists(b)) Seq.empty
      else f.listStatus(b).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("gen-")).map(_.stripPrefix("gen-").toLong).sorted
    }

    /** Compact the live generation into `targetFiles` files — a rewrite
      * with zero reader-visible swap window. */
    def compact(
        spark: org.apache.spark.sql.SparkSession, base: String, targetFiles: Int): Unit = {
      require(targetFiles > 0)
      overwrite(spark, base, read(spark, base).repartition(targetFiles))
    }
  }

  /** Bucketed managed table: rows hash-partitioned into `buckets` files by
    * `bucketCol` and sorted within buckets. Two tables bucketed the same
    * way join WITHOUT a shuffle — at 100 TB this converts every recurring
    * equi-join on the bucket key from a full exchange into a local
    * zip-merge of co-located buckets. */
  def overwriteBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    df.withColumn("_TIMESTAMP", current_timestamp())
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)
}
