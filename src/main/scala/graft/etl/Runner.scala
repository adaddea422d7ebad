package graft.etl

import graft.ops.Metrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.current_timestamp
import scala.util.Try

/** Batch orchestration — the engine's equivalent of the reference's
  * `main()` (reference src/main.py:378-422): enumerate the staging
  * directory, dispatch each workbook on its filename prefix, run the
  * matching pipeline with its filename/notes-derived stamps, and
  * atomically (over)write the two modelling tables. One Spark job per
  * sink write; everything upstream stays one lazy plan per file, and the
  * row count each [[LoadResult]] reports is observed during that write
  * (the [[graft.ops.Metrics.audited]] pattern), never by reading the
  * table back. An xlsx workbook is opened once per load.
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

  /** How table writes land. [[StagedOverwrite]] is the reference's
    * truncate-replace ([[Sink.overwriteTable]]); [[ManifestPointer]]
    * publishes through [[Sink.Manifest]] generations — the same rows plus
    * the `_TIMESTAMP` stamp, but with an atomic pointer swap so dashboard
    * readers never hit a mid-load table. */
  sealed trait SinkMode
  case object StagedOverwrite extends SinkMode
  case object ManifestPointer extends SinkMode

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
      destinations: Destinations = Destinations(),
      sinkMode: SinkMode = StagedOverwrite): Seq[LoadResult] = {
    def publish(df: DataFrame, dest: String): Long = {
      val (observed, obs) = Metrics.audited(df, observationName(dest), Nil)
      sinkMode match {
        case StagedOverwrite => Sink.overwriteTable(observed, dest)
        case ManifestPointer =>
          Sink.Manifest.overwrite(spark, dest, observed.withColumn("_TIMESTAMP", current_timestamp()))
      }
      obs.get("n_rows").asInstanceOf[Long]
    }
    Ingest.listStaged(stagingDir).flatMap { path =>
      val name = path.getFileName.toString
      val xlsx = name.endsWith(".xlsx")
      Ingest.dispatch(name) match {
        case Ingest.IndexFile =>
          val raw =
            if (xlsx)
              Staging.readXlsxSheet(spark, path.toString, "Table 5", Schemas.rawIndexSheet, skipRows = 10)
            else
              Staging.readSheet(spark, path.toString, Schemas.rawIndexSheet, skipRows = 10)
          val out = IndexPipeline(raw, targetGeographies)
          val dest = s"$outDir/${destinations.index}"
          Some(LoadResult(name, "index", dest, publish(out, dest)))

        case Ingest.AdultFile =>
          val (raw, snapshot) =
            if (xlsx) Xlsx.withWorkbook(path.toString) { wb =>
              (Staging.readXlsxSheet(spark, wb, "Table 4", Schemas.rawAdultSheet, skipRows = 9),
                notesSnapshot(wb))
            }
            else (Staging.readSheet(spark, path.toString, Schemas.rawAdultSheet, skipRows = 9), None)
          val out = Adult4Pipeline(raw, targetGeographies, Ingest.diagnosisWindow(name), snapshot)
          val dest = s"$outDir/${destinations.adult4}"
          Some(LoadResult(name, "adult4", dest, publish(out, dest)))

        case Ingest.UnknownFile => None
      }
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
