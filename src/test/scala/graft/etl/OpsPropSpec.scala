package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants of the operator combinators (SURVEY.md §5.2.4).
  * ScalaCheck generators sampled with a fixed seed (no scalatestplus bridge
  * in the offline cache, so sampling is driven manually).
  */
class OpsPropSpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[List[T]], n: Int): Seq[List[T]] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default.withSize(30), Seed(42L + i)))

  private val sites = Gen.oneOf("Breast", "Larynx", "Lung", "Ovary")
  private val genders = Gen.oneOf("Persons", "Male", "Female")
  private val rowGen = for { s <- sites; g <- genders; v <- Gen.choose(0L, 99L) } yield (s, g, v)
  /** Blank workbook cells too: a null site or gender makes a rule's
    * predicate NULL. */
  private val nullableRowGen = for {
    s <- Gen.frequency(5 -> sites.map(x => x: String), 1 -> Gen.const(null: String))
    g <- Gen.frequency(5 -> genders.map(x => x: String), 1 -> Gen.const(null: String))
    v <- Gen.choose(0L, 99L)
  } yield (s, g, v)

  /** The union formulation the rules had before they were fused: a second
    * filtered scan of the input, overridden and appended. Kept here as the
    * reference the single-pass rules must equal. */
  private def copies(df: DataFrame, pred: Column, overrides: Map[String, Column]): DataFrame =
    overrides.foldLeft(df.filter(pred)) { case (acc, (c, v)) => acc.withColumn(c, v) }
  private def unionDuplicate(df: DataFrame, pred: Column, o: Map[String, Column]): DataFrame =
    df.unionByName(copies(df, pred, o))
  private def unionReplace(df: DataFrame, pred: Column, o: Map[String, Column]): DataFrame =
    df.filter(!(pred <=> true)).unionByName(copies(df, pred, o))

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  test("duplicateWhere: |out| = |in| + |matching|; replaceWhere: |out| = |in|") {
    for (rows <- samples(Gen.nonEmptyListOf(rowGen), 5)) {
      val df = rows.toDF("Cancer site", "Gender", "v")
      val pred = col("Cancer site") === "Breast" && col("Gender") === "Female"
      val matching = rows.count(r => r._1 == "Breast" && r._2 == "Female")
      assert(Ops.duplicateWhere(df, pred, Map("Gender" -> lit("Persons"))).count()
        === rows.size + matching.toLong)
      assert(Ops.replaceWhere(df, pred, Map("Gender" -> lit("Persons"))).count()
        === rows.size.toLong)
    }
  }

  test("duplicateWhere / replaceWhere equal the union formulation as multisets, null cells included") {
    val pred = col("Cancer site") === "Breast" && col("Gender") === "Female"
    // the second override reads the first one's value, as on a withColumn chain
    val overrides = Map(
      "Gender" -> lit("Persons"),
      "v" -> when(col("Gender") === "Persons", col("v") + 1000L).otherwise(col("v")))
    for (rows <- samples(Gen.nonEmptyListOf(nullableRowGen), 8)) {
      val df = rows.toDF("Cancer site", "Gender", "v")
      assert(multiset(Ops.duplicateWhere(df, pred, overrides)) === multiset(unionDuplicate(df, pred, overrides)))
      assert(multiset(Ops.replaceWhere(df, pred, overrides)) === multiset(unionReplace(df, pred, overrides)))
    }
  }

  test("a rule chain sees the earlier rules' copies: the first rule's copy matches the second") {
    // Breast/Female → a Persons copy; Breast/Persons (the copies included)
    // → a further copy with a marked value
    val first = (col("Cancer site") === "Breast" && col("Gender") === "Female", Map("Gender" -> lit("Persons")))
    val second = (col("Cancer site") === "Breast" && col("Gender") === "Persons", Map("v" -> (col("v") + 500L)))
    for (rows <- samples(Gen.nonEmptyListOf(nullableRowGen), 8)) {
      val df = rows.toDF("Cancer site", "Gender", "v")
      val fused = Ops.duplicateWhere(Ops.duplicateWhere(df, first._1, first._2), second._1, second._2)
      val reference = unionDuplicate(unionDuplicate(df, first._1, first._2), second._1, second._2)
      assert(multiset(fused) === multiset(reference))
      val breastFemale = rows.count(r => r._1 == "Breast" && r._2 == "Female")
      val breastPersons = rows.count(r => r._1 == "Breast" && r._2 == "Persons")
      assert(fused.count() === rows.size + breastFemale + breastPersons + breastFemale.toLong)
      val replaced = Ops.replaceWhere(Ops.duplicateWhere(df, first._1, first._2), second._1, second._2)
      assert(multiset(replaced) ===
        multiset(unionReplace(unionDuplicate(df, first._1, first._2), second._1, second._2)))
    }
  }

  test("unpivotMetrics: |out| = |in| × |value cols|, nulls retained") {
    val gen = Gen.nonEmptyListOf(
      Gen.zip(Gen.posNum[Long], Gen.option(Gen.choose(0.0, 100.0)), Gen.option(Gen.choose(0.0, 100.0))))
    for (rows <- samples(gen, 5)) {
      val df = rows.toDF("id", "m1", "m2")
      val out = Ops.unpivotMetrics(df, Seq("id"), Seq("m1", "m2"), "metric", "value")
      assert(out.count() === rows.size * 2L)
      assert(out.filter($"value".isNull).count()
        === rows.count(_._2.isEmpty).toLong + rows.count(_._3.isEmpty))
    }
  }

  test("carveStandardisation: base never keeps a paren; sub defined iff parenthesised") {
    val stdGen = Gen.oneOf(
      "Non-standardised", "Age-standardised",
      "Age-standardised (5 age groups)", "Age-standardised (all ages)")
    for (vals <- samples(Gen.nonEmptyListOf(stdGen), 5)) {
      val out = Ops.carveStandardisation(vals.toDF("Standardisation type"))
        .select("Standardisation type", "standardisation_type_subcategory")
        .as[(String, Option[String])].collect()
      out.foreach { case (base, sub) =>
        assert(!base.contains("("))
        assert(base === base.trim)
      }
      assert(out.count(_._2.isDefined) === vals.count(_.contains("(")))
    }
  }

  test("Exact.sumD is partitioning-invariant (the whole point of the decimal routing)") {
    for (vals <- samples(Gen.nonEmptyListOf(Gen.choose(-1e6, 1e6)), 5)) {
      val df = vals.toDF("v")
      def total(parts: Int): Double =
        df.repartition(parts).agg(graft.Exact.sumD(col("v")).as("s"))
          .head().getDouble(0)
      val one = total(1)
      assert(java.lang.Double.doubleToLongBits(total(7)) === java.lang.Double.doubleToLongBits(one))
      assert(java.lang.Double.doubleToLongBits(total(32)) === java.lang.Double.doubleToLongBits(one))
    }
  }

  test("window-rank invariant: 1 <= rank <= group size on random cohorts") {
    import org.apache.spark.sql.expressions.Window
    for (rows <- samples(Gen.nonEmptyListOf(rowGen), 3)) {
      val df = rows.toDF("site", "gender", "v")
      val ranked = df.withColumn("rnk",
        rank().over(Window.partitionBy("site").orderBy(col("v").desc)))
        .withColumn("base", count(lit(1)).over(Window.partitionBy("site")))
      assert(ranked.filter($"rnk" < 1 || $"rnk" > $"base").count() === 0)
    }
  }
}
