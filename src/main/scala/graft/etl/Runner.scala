package graft.etl

import graft.ops.Metrics
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

/** Batch orchestration — the engine's equivalent of the reference's
  * `main()` (reference src/main.py:378-422): enumerate the staging
  * directory, dispatch each workbook on its filename prefix, run the
  * matching pipeline with its filename/notes-derived stamps, and
  * atomically (over)write the two modelling tables. A dispatched file is
  * read as xlsx or CSV by its extension ([[Ingest.isXlsx]]); a file of any
  * other kind fails its own load before any job. One Spark job per
  * sink write; everything upstream stays one lazy plan per file, and the
  * row count each [[LoadResult]] reports is observed during that write
  * (the [[graft.ops.Metrics.audited]] pattern), never by reading the
  * table back. A staged sheet, CSV or xlsx, is read and typed cell by cell
  * inside the write's one task ([[Staging]]), so a load runs one task and
  * writes one file per staged file, and a malformed sheet body fails the
  * write, not the driver; an xlsx workbook is opened on the driver only to
  * resolve its sheet and, for an adult workbook, the Notes snapshot.
  * Each table is published by [[Sink.overwriteTable]], the reference's
  * truncate-replace with its rollback: a failed load leaves the previous
  * table readable and unchanged. Its `_TIMESTAMP` is one instant per write
  * that generated code reads by reference, so a repeated load of the same
  * staging compiles no new class. One task per staged file is meant for
  * reference-sized NHS sheets: its gain was measured on 20k-row sheets,
  * and a much larger sheet's load is not measured.
  *
  * Loads of different destination tables run at the same time, one
  * driver thread per destination (today INDEX and ADULT_4); files bound
  * for one destination load one after another in listing order, so the
  * last of them wins, as in the reference. Each thread is created by the
  * calling thread and inherits its Spark local properties (job group,
  * description, scheduler pool), so cancelling the caller's job group
  * cancels every load. The results come back in listing order. `run`
  * returns or throws only once every destination's loads have finished:
  * a failure stops the later files of its own destination but not the
  * other destination's loads, and the first failure in listing order is
  * rethrown with the others attached as suppressed exceptions.
  */
object Runner {

  final case class LoadResult(file: String, kind: String, table: String, rows: Long)

  /** Destination table names — the reference resolves these from env vars
    * (src/main.py:214-217 DATABASE/SCHEMA/DESTINATION_INDEX, with a `dev_`
    * prefix switching deployments) instead of hardcoding. */
  final case class Destinations(index: String = "INDEX", adult4: String = "ADULT_4")

  object Destinations {
    /** Env-driven resolution, reference-style: GRAFT_DEST_INDEX /
      * GRAFT_DEST_ADULT4 override the defaults (injectable map for tests). */
    def fromEnv(env: Map[String, String] = sys.env): Destinations =
      Destinations(
        index = env.getOrElse("GRAFT_DEST_INDEX", "INDEX"),
        adult4 = env.getOrElse("GRAFT_DEST_ADULT4", "ADULT_4"))
  }

  /** @param stagingDir directory of staged workbooks (post-scrape state;
    *        reference ./data, src/main.py:390-393)
    * @param outDir root for the INDEX / ADULT_4 parquet tables
    * @param targetGeographies core areas (reference src/main.py:397)
    * @param destinations table names under outDir (reference
    *        src/main.py:214-217 env-driven destination switch)
    */
  def run(
      spark: SparkSession,
      stagingDir: String,
      outDir: String,
      targetGeographies: Seq[String] = Schemas.defaultTargetGeographies,
      destinations: Destinations = Destinations()): Seq[LoadResult] = {
    def publish(df: DataFrame, dest: String): Long = {
      val (observed, obs) = Metrics.audited(df, observationName(dest), Nil)
      Sink.overwriteTable(observed, dest)
      obs.get("n_rows").asInstanceOf[Long]
    }
    def load(path: Path, kind: Ingest.PipelineKind, dest: String): LoadResult = {
      val name = path.getFileName.toString
      val file = path.toString
      val xlsx = Ingest.isXlsx(path)
      kind match {
        case Ingest.IndexFile =>
          val raw =
            if (xlsx) Staging.readXlsxSheet(spark, file, "Table 5", Schemas.rawIndexSheet, skipRows = 10)
            else Staging.readSheet(spark, file, Schemas.rawIndexSheet, skipRows = 10)
          LoadResult(name, "index", dest, publish(IndexPipeline(raw, targetGeographies), dest))

        case _ => // an AdultFile: unknown files are never staged
          val (raw, snapshot) =
            if (xlsx) Xlsx.withWorkbook(file) { wb =>
              (Staging.readXlsxSheet(spark, wb, "Table 4", Schemas.rawAdultSheet, skipRows = 9),
                notesSnapshot(wb))
            }
            else (Staging.readSheet(spark, file, Schemas.rawAdultSheet, skipRows = 9), None)
          val out = Adult4Pipeline(raw, targetGeographies, Ingest.diagnosisWindow(name), snapshot)
          LoadResult(name, "adult4", dest, publish(out, dest))
      }
    }

    val staged = Ingest.listStaged(stagingDir).flatMap { path =>
      val kind = Ingest.dispatch(path.getFileName.toString)
      val table = kind match {
        case Ingest.IndexFile => Some(destinations.index)
        case Ingest.AdultFile => Some(destinations.adult4)
        case Ingest.UnknownFile => None
      }
      table.map(t => (path, kind, s"$outDir/$t"))
    }
    // One thread per destination loads its files in listing order and
    // stops at its first failure; slot i holds staged file i's outcome.
    val results = new Array[LoadResult](staged.size)
    val failures = new Array[Throwable](staged.size)
    val threads = staged.indices.groupBy(i => staged(i)._3).toSeq.map { case (dest, files) =>
      // constructed on the caller, so it inherits the caller's Spark local
      // properties (job group, description, scheduler pool)
      new Thread(() => files.find { i =>
        try { results(i) = load(staged(i)._1, staged(i)._2, dest); false }
        catch { case t: Throwable => failures(i) = t; true }
      }, s"graft-load:$dest")
    }
    val started = ArrayBuffer.empty[Thread]
    try threads.foreach { t => t.start(); started += t }
    finally started.foreach(_.join())
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ => results.toSeq
    }
  }

  /** A name no other load's observation shares, so two loads in one
    * session never read each other's counts. */
  private[etl] def observationName(dest: String): String =
    s"load:$dest:${java.util.UUID.randomUUID()}"

  /** The snapshot date on the Notes sheet (reference src/main.py:80-84):
    * skiprows=10 makes sheet row 11 the HEADER, so iloc[0,0] is the first
    * cell of row 12. None when the sheet or the date is missing (the
    * reference's warning path); the rest of the sheet is not read. */
  private def notesSnapshot(wb: Xlsx.Workbook): Option[String] =
    Try(wb.rows("Notes and definitions").drop(11).nextOption().flatMap(_.headOption).flatMap(Option(_)))
      .toOption.flatten.flatMap(Ingest.snapshotDate)
}
