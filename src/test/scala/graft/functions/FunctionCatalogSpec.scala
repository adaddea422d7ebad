package graft.functions

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Both routes install the whole [[FunctionCatalog]]: a session built with
  * [[GraftExtensions]] and a plain session after
  * [[VectorExpressions.register]] resolve every entry to the same answer,
  * and a call with the wrong number of arguments fails with an error that
  * names the function and the count it got. */
class FunctionCatalogSpec extends AnyFunSuite {

  /** One well-formed call per entry, over the row (x, s) = (5, 'a'). */
  private val calls = Map(
    "vector_dot_f32" -> "vector_dot_f32(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)))",
    "vector_norm_f32" -> "vector_norm_f32(array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)))",
    "vector_dot_f64" -> "vector_dot_f64(array(1D, 2D), array(3D, 4D))",
    "vector_norm_f64" -> "vector_norm_f64(array(3D, 4D))",
    "vector_l1_i64" -> "vector_l1_i64(array(1L, 5L), array(4L, 2L))",
    "vector_distsq_i64" -> "vector_distsq_i64(array(1L, 5L), array(4L, 2L))",
    "rolling_hash31" -> "rolling_hash31('ab')",
    "window_hash31" -> "window_hash31('abcd', 2)",
    "hilbert_d2" -> "hilbert_d2(3L, x, 4)",
    "damerau_levenshtein" -> "damerau_levenshtein('hte', 'the')",
    "minhash_bands8" -> "minhash_bands8('a b c d', 2)",
    "md5_seeded8" -> "md5_seeded8(s)",
    "charhist_entries" -> "charhist_entries('abca', 2)",
    "aligned_counts" -> "aligned_counts(charhist_entries('abca', 1), array(97L, 98L, 100L))",
    "marginal_counts" -> "marginal_counts(charhist_entries('abca', 2), array(97L, 98L))",
    "range_bucket_search" -> "range_bucket_search(array(false), array(struct(CAST(3 AS BIGINT))), x)",
    "kmv_sketch" -> "kmv_sketch(x, 2)",
    "mg_topk" -> "mg_topk(s, 2)")

  private def fresh(): Unit = {
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
  }

  // fresh sessions on the shared context (getOrCreate would return a
  // shared one and skip extension application), same master as SparkSpec
  private lazy val (plain, extended, missingBeforeInstall) = {
    fresh()
    val plain = graft.Sessions.build("local[4]")
    val missing = FunctionCatalog.entries.map(_.name)
      .filterNot(n => plain.catalog.functionExists(n)).toSet
    VectorExpressions.register(plain)
    fresh()
    val extended = graft.Sessions.builder("local[4]")
      .withExtensions(new GraftExtensions())
      .getOrCreate()
    fresh()
    (plain, extended, missing)
  }

  private def run(s: SparkSession, call: String): Seq[Row] =
    s.sql(s"SELECT $call AS r FROM VALUES (5L, 'a') AS t(x, s)").collect().toSeq

  test("every catalog entry has a sample call and names are unique") {
    val names = FunctionCatalog.entries.map(_.name)
    assert(names.distinct === names)
    assert(names.toSet === calls.keySet)
  }

  FunctionCatalog.entries.foreach { e =>
    test(s"${e.name}: resolves through the extension and the per-session installer; a wrong argument count names it") {
      val call = calls(e.name)
      assert(missingBeforeInstall.contains(e.name), s"${e.name} resolved before install")
      val viaExtension = run(extended, call)
      val viaRegister = run(plain, call)
      assert(viaExtension.size === 1)
      assert(viaExtension === viaRegister)
      val wrong = if (e.variadic) Seq(e.args - 1) else Seq(e.args - 1, e.args + 1).filter(_ >= 0)
      for (s <- Seq(extended, plain); n <- wrong) {
        val ex = intercept[Exception](run(s, s"${e.name}(${Seq.fill(n)("x").mkString(", ")})"))
        assert(ex.getMessage.contains(e.name) && ex.getMessage.contains(s"got $n"),
          s"${e.name} with $n arguments: ${ex.getMessage}")
      }
    }
  }
}
