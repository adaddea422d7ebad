package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable operator combinators — the reference's signature moves
  * (SURVEY.md §2.3) as thin, composable functions over DataFrames. All are
  * narrow ops (filter/project/explode): no shuffle, no union, one codegen
  * stage over one scan of the source.
  */
object Ops {

  /** Row-local flag column of the generalisation rules; never survives a
    * rule. */
  private val Hit = "__generalise_hit"

  /** Apply `overrides` in order to the rows where column [[Hit]] is true,
    * leaving other rows as they are — a later override sees the earlier
    * ones, as a chain of `withColumn` calls on the copies would. */
  private def overrideHits(df: DataFrame, overrides: Map[String, Column]): DataFrame =
    overrides.foldLeft(df) { case (acc, (c, v)) =>
      acc.withColumn(c, when(col(Hit), v).otherwise(col(c)))
    }.drop(Hit)

  /** R1 — generalise-and-keep (reference src/main.py:98-105): copy the rows
    * matching `pred`, overwrite columns per `overrides`, append the copies;
    * originals are KEPT. One explode of [original, copy-if-pred] instead of
    * a filtered second scan and a union: a chain of rules reads the source
    * once, and each rule still sees the copies of the rules before it. */
  def duplicateWhere(df: DataFrame, pred: Column, overrides: Map[String, Column]): DataFrame = {
    val tagged = df.withColumn(Hit,
      explode(when(pred <=> true, array(lit(false), lit(true))).otherwise(array(lit(false)))))
    overrideHits(tagged, overrides)
  }

  /** R2 — generalise-and-replace (reference src/main.py:136-146): like
    * [[duplicateWhere]] but the matching originals are REMOVED — the
    * deliberate asymmetry between the Index pipeline's Breast handling and
    * the Adult pipeline's gender generalisation. Replacing a row in place is
    * one projection. `pred <=> true`, not `pred`: under three-valued logic a
    * NULL cell makes the predicate NULL, and the reference's pandas
    * ~((..)&(..)) keeps such NaN rows unchanged. */
  def replaceWhere(df: DataFrame, pred: Column, overrides: Map[String, Column]): DataFrame =
    overrideHits(df.withColumn(Hit, pred <=> true), overrides)

  /** Gender generalisation for a gender-exclusive cancer site (reference
    * src/main.py:98-105): add a "Persons" copy of (site, baseGender) rows. */
  def generaliseGender(df: DataFrame, cancerSite: String, baseGender: String): DataFrame =
    duplicateWhere(
      df,
      col("Cancer site") === cancerSite && col("Gender") === baseGender,
      Map("Gender" -> lit("Persons")))

  /** R5 — carve "base (subcategory)" (reference src/main.py:244-260):
    * subcategory = text inside parens, NULL for `noneValue` rows; the base
    * column keeps only the part before the parens, trimmed. Faithful to the
    * reference's split('(')/split(')') chain: a row that is not `noneValue`
    * but has no parens yields a NULL subcategory (pandas .str[1] of a
    * 1-element split is NaN). */
  def carveStandardisation(
      df: DataFrame,
      srcCol: String = "Standardisation type",
      subCol: String = "standardisation_type_subcategory",
      noneValue: String = "Non-standardised"): DataFrame =
    df.withColumn(subCol,
        when(col(srcCol) =!= noneValue && col(srcCol).contains("("),
          regexp_extract(col(srcCol), "\\(([^)]*)\\)", 1)))
      .withColumn(srcCol, trim(regexp_replace(col(srcCol), "\\s*\\(.*$", "")))

  /** P7 — load-boundary projection: keep exactly the mapped columns, in
    * order, renamed (reference src/main.py:193-212). */
  def renameSelect(df: DataFrame, mapping: Seq[(String, String)]): DataFrame =
    df.select(mapping.map { case (from, to) => col(from).as(to) }: _*)

  /** R4 — unpivot/melt keeping null measure values (pandas melt semantics,
    * reference src/main.py:314-327). */
  def unpivotMetrics(
      df: DataFrame, ids: Seq[String], values: Seq[String],
      varName: String, valName: String): DataFrame =
    df.unpivot(ids.map(col).toArray, values.map(col).toArray, varName, valName)
}
