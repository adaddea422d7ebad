package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Driver-side ingestion: source discovery, per-file dispatch, and the two
  * filename/sheet heuristics the reference computes outside its DataFrames.
  *
  * The reference's discovery walks the NHS Digital publication catalog over
  * HTTP (reference src/utils/scrape_util.py:18-123); this environment is
  * zero-egress, so the engine's contract starts at "staged tabular files in
  * a directory" — exactly the state after the reference's scrape stage
  * saves to ./data (scrape_util.py:115-123). The HTML catalog parsing is
  * kept as pure functions over fetched page text so it unit-tests offline.
  */
object Ingest {

  sealed trait PipelineKind
  case object IndexFile extends PipelineKind
  case object AdultFile extends PipelineKind
  case object UnknownFile extends PipelineKind

  /** Staged-file enumeration (reference src/main.py:390-393). */
  def listStaged(dir: String): Seq[Path] = {
    val stream = Files.list(Paths.get(dir))
    try stream.iterator().asScala.toSeq.sortBy(_.toString)
    finally stream.close()
  }

  /** Filename-prefix dispatch (reference src/main.py:412-419): `Index*` →
    * index pipeline, `adult*` → adult pipeline, else skipped. */
  def dispatch(fileName: String): PipelineKind =
    if (fileName.startsWith("Index")) IndexFile
    else if (fileName.startsWith("adult")) AdultFile
    else UnknownFile

  /** The staged format of a dispatched file, from its extension read
    * case-insensitively: true for a `.xlsx` workbook, false for a `.csv`
    * sheet. Any other file, or a directory, is refused with an
    * IllegalArgumentException naming it, so a load never reads a file as
    * a format it is not. */
  def isXlsx(path: Path): Boolean = {
    val name = path.getFileName.toString.toLowerCase(Locale.ROOT)
    if (Files.isDirectory(path) || !(name.endsWith(".xlsx") || name.endsWith(".csv")))
      throw new IllegalArgumentException(
        s"$path: a staged Index or adult file must be a .xlsx workbook or a .csv sheet")
    name.endsWith(".xlsx")
  }

  /** F8 — diagnosis window from the filename (reference src/main.py:265-267):
    * `…_2017_2021.xlsx` → "2017-2021" (last two '_'-separated tokens of the
    * second-to-last '.'-separated segment). */
  def diagnosisWindow(fileName: String): String = {
    val stem = fileName.split('.').dropRight(1).last
    stem.split('_').takeRight(2).mkString("-")
  }

  /** F9 — snapshot-date heuristic (reference src/main.py:73-95): from the
    * first data line of the "Notes and definitions" sheet, take words
    * -3..-1 as ("Month", "YYYY"). The reference's month check is vacuous
    * (`month_name[0] not in month_name` compares the empty string — always
    * false, src/main.py:88), so the month is deliberately UNVALIDATED here
    * too; only the year gate (2000, 2100) is real (src/main.py:92-93).
    * Any failure → None (caller stamps NULL + warning, src/main.py:269-277).
    */
  def snapshotDate(notesFirstLine: String): Option[String] = Try {
    val monthYear = notesFirstLine.split(" ").toSeq.takeRight(3).dropRight(1)
    require(monthYear.length == 2)
    val year = monthYear(1).toInt
    require(year >= 2000 && year <= 2100)
    monthYear.mkString(" ")
  }.toOption
}
