package graft.functions

import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorExpressions.KernelCall

/** [[GraftExtensions]], which every [[graft.Sessions]] session carries,
  * installs the whole [[FunctionCatalog]]: a fresh factory session and its
  * `newSession()` clone resolve every entry to the same answer, and a call
  * with the wrong number of arguments fails with an error that
  * names the function and the count it got. Each scalar kernel entry gives
  * the same bits through generated and interpreted code, and a literal Int
  * argument is read only when it is an integer in range. */
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

  // a fresh session on the shared context (getOrCreate would return a
  // shared one), same master as SparkSpec, and its clone
  private lazy val (factory, cloned) = {
    fresh()
    val factory = graft.Sessions.build("local[4]")
    fresh()
    (factory, factory.newSession())
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
      assert(factory.catalog.functionExists(e.name) && cloned.catalog.functionExists(e.name))
      val viaFactory = run(factory, call)
      assert(viaFactory.size === 1)
      assert(viaFactory === run(cloned, call))
      val wrong = if (e.variadic) Seq(e.args - 1) else Seq(e.args - 1, e.args + 1).filter(_ >= 0)
      for (s <- Seq(factory, cloned); n <- wrong) {
        val ex = intercept[Exception](run(s, s"${e.name}(${Seq.fill(n)("x").mkString(", ")})"))
        assert(ex.getMessage.contains(e.name) && ex.getMessage.contains(s"got $n"),
          s"${e.name} with $n arguments: ${ex.getMessage}")
      }
    }
  }

  test("a literal Int argument is a non-null integer literal in range, never wrapped or truncated") {
    val bad = Seq(
      "hilbert_d2(3L, x, 4294967300)" -> ("hilbert_d2", "bits"),
      "hilbert_d2(3L, x, 32)" -> ("hilbert_d2", "bits"),
      "hilbert_d2(3L, x, 4.0D)" -> ("hilbert_d2", "bits"),
      "hilbert_d2(3L, x, CAST(NULL AS INT))" -> ("hilbert_d2", "bits"),
      "hilbert_d2(3L, x, x)" -> ("hilbert_d2", "bits"),
      "minhash_bands8('a b c', 4294967297)" -> ("minhash_bands8", "k"),
      "minhash_bands8('a b c', 0)" -> ("minhash_bands8", "k"),
      "charhist_entries('abca', 4294967298)" -> ("charhist_entries", "blocks"),
      "charhist_entries('abca', 2.5BD)" -> ("charhist_entries", "blocks"),
      "kmv_sketch(x, 2.9D)" -> ("kmv_sketch", "k"),
      "kmv_sketch(x, 4294967298)" -> ("kmv_sketch", "k"),
      "mg_topk(s, 2.5D)" -> ("mg_topk", "k"),
      "mg_topk(s, -2147483647L)" -> ("mg_topk", "k"))
    for (s <- Seq(factory, cloned); (call, (fn, arg)) <- bad) {
      val ex = intercept[Exception](run(s, call))
      val named = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).exists {
        case e: IllegalArgumentException => e.getMessage.contains(s"$fn: $arg must be")
        case _ => false
      }
      assert(named, s"$call: ${ex.getMessage}")
    }
    // an in-range literal of any integral width reads as its value
    for (s <- Seq(factory, cloned)) {
      assert(run(s, "hilbert_d2(3L, x, 4L)") === run(s, "hilbert_d2(3L, x, 4)"))
      assert(run(s, "hilbert_d2(3L, x, CAST(4 AS TINYINT))") === run(s, "hilbert_d2(3L, x, 4)"))
      assert(run(s, "kmv_sketch(x, 2L)") === run(s, "kmv_sketch(x, 2)"))
      assert(run(s, "mg_topk(s, CAST(2 AS SMALLINT))") === run(s, "mg_topk(s, 2)"))
    }
  }

  test("an argument the kernel's Java parameter cannot take fails at analysis, naming the function") {
    val bad = Seq(
      "window_hash31('abcd', CAST(2 AS BIGINT))" -> ("window_hash31", 2),
      "window_hash31(s, x)" -> ("window_hash31", 2),
      "rolling_hash31(x)" -> ("rolling_hash31", 1),
      "vector_norm_f32(x)" -> ("vector_norm_f32", 1),
      "vector_dot_f64(array(1D), 3D)" -> ("vector_dot_f64", 2),
      "hilbert_d2(s, x, 4)" -> ("hilbert_d2", 1),
      "hilbert_d2(3L, 2.5D, 4)" -> ("hilbert_d2", 2),
      "damerau_levenshtein('a', x)" -> ("damerau_levenshtein", 2))
    for (s <- Seq(factory, cloned); (call, (fn, arg)) <- bad) {
      // analysis runs when the query is built; nothing is executed
      val ex = intercept[AnalysisException](s.sql(s"SELECT $call AS r FROM VALUES (5L, 'a') AS t(x, s)"))
      assert(ex.getMessage.contains(s"$fn: argument $arg is"), s"$call: ${ex.getMessage}")
    }
  }

  test("an argument Java widens to the kernel's parameter, or a NULL, is taken as before") {
    for (s <- Seq(factory, cloned)) {
      assert(run(s, "hilbert_d2(CAST(3 AS INT), CAST(x AS SMALLINT), 4)") === run(s, "hilbert_d2(3L, x, 4)"))
      assert(run(s, "hilbert_d2(CAST(3 AS TINYINT), x, 4)") === run(s, "hilbert_d2(3L, x, 4)"))
      assert(run(s, "rolling_hash31(NULL)") === Seq(Row(null)))
    }
    // an int column where the kernel takes long: the same bits through
    // generated and interpreted code as the bigint columns give
    val widened = "hilbert_d2(CAST(x AS INT), CAST(y AS INT), 5)"
    val generated = Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val interpreted = Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false")
    for (conf <- Seq(generated, interpreted))
      assert(kernelRun(widened, conf).map(_._1) === kernelRun(kernelCalls("hilbert_d2"), conf).map(_._1))
  }

  /** One call per scalar kernel entry over the columns of [[kernelInput]]. */
  private val kernelCalls = Map(
    "vector_dot_f32" -> "vector_dot_f32(fa, fb)",
    "vector_norm_f32" -> "vector_norm_f32(fa)",
    "vector_dot_f64" -> "vector_dot_f64(da, db)",
    "vector_norm_f64" -> "vector_norm_f64(da)",
    "vector_l1_i64" -> "vector_l1_i64(la, lb)",
    "vector_distsq_i64" -> "vector_distsq_i64(la, lb)",
    "rolling_hash31" -> "rolling_hash31(s)",
    "window_hash31" -> "window_hash31(s, w)",
    "hilbert_d2" -> "hilbert_d2(x, y, 5)",
    "damerau_levenshtein" -> "damerau_levenshtein(s, t)",
    "minhash_bands8" -> "minhash_bands8(s, 2)",
    "md5_seeded8" -> "md5_seeded8(s)",
    "charhist_entries" -> "charhist_entries(s, 3)",
    "aligned_counts" -> "aligned_counts(e, keys)",
    "marginal_counts" -> "marginal_counts(e, keys)")

  /** 240 rows written to parquet and read back, so each kernel reads a
    * scan (not a local relation the optimizer evaluates itself) and its
    * arguments are plain columns; every column is null on every 13th row,
    * and the floats are not exact binary fractions. */
  private lazy val kernelInput: String = {
    val path = java.nio.file.Files.createTempDirectory("graft-kernels").resolve("input").toString
    factory.range(0, 240, 1, 2).selectExpr("id",
      "transform(sequence(0, id % 7), i -> CAST((id * 0.37 + i * 1.3) % 5.1 - 2.2 AS FLOAT)) AS fa",
      "transform(sequence(0, id % 5), i -> CAST((id * 0.11 - i * 0.7) % 3.3 AS FLOAT)) AS fb",
      "transform(sequence(0, 8), i -> (id * 31 + i * 7) % 23 - 11) AS la",
      "transform(sequence(0, 8), i -> (id * 17 + i * 5) % 19 - 9) AS lb",
      "concat_ws(' ', transform(sequence(0, id % 9), i -> " +
        "substr('the quick brown fox jumps over the lazy dog', 1 + (id * 7 + i * 3) % 40, 1 + i % 4))) AS s",
      "substr('hte quick borwn fox jumsp over teh lazy dgo', 1 + id % 20, 3 + id % 11) AS t",
      "CAST(1 + id % 5 AS INT) AS w",
      "id * 37 % 256 AS x", "id * 11 % 256 AS y",
      "array_sort(transform(sequence(0, id % 6), i -> " +
        "named_struct('k', (i * 211 + id) % 3000, 'c', i + 1))) AS e",
      "array_sort(array_distinct(transform(sequence(0, 9), i -> (i * 97 + id) % 300 + 1000 * (i % 2)))) AS keys")
      .selectExpr("*", "transform(fa, v -> CAST(v AS DOUBLE) / 3) AS da",
        "transform(fb, v -> CAST(v AS DOUBLE) * 1.1) AS db")
      .selectExpr("id" +: Seq("fa", "fb", "da", "db", "la", "lb", "s", "t", "w", "x", "y", "e", "keys")
        .map(c => s"CASE WHEN id % 13 = 0 THEN NULL ELSE $c END AS $c"): _*)
      .write.parquet(path)
    path
  }

  /** `call` under `conf` over every input row, then over the rows whose
    * columns are all non-null (so generated code takes its non-nullable
    * branch): for each, the results by id and the executed plan. */
  private def kernelRun(call: String, conf: Map[String, String]): Seq[(Seq[Seq[Any]], SparkPlan)] = {
    conf.foreach { case (k, v) => factory.conf.set(k, v) }
    try {
      val all = factory.read.parquet(kernelInput)
      val nonNull = all.where(all.columns.map(c => s"$c IS NOT NULL").mkString(" AND "))
      Seq(all, nonNull).map { in =>
        val df = in.selectExpr("id", s"$call AS r")
        val rows = df.collect().toSeq.sortBy(_.getLong(0)).map(_.toSeq.map {
          case d: Double => java.lang.Double.doubleToRawLongBits(d) // bitwise, NaN included
          case v => v
        })
        (rows, df.queryExecution.executedPlan)
      }
    } finally conf.keys.foreach(factory.conf.unset)
  }

  private def kernelProject(p: SparkPlan): Boolean = p.exists {
    case pr: ProjectExec => pr.projectList.exists(_.exists(_.isInstanceOf[KernelCall]))
    case _ => false
  }

  test("aligned_counts and marginal_counts refuse unsorted entries, and marginal_counts unsorted keys, naming the function") {
    val sorted = "array(named_struct('k', 1L, 'c', 2L), named_struct('k', 1001L, 'c', 3L))"
    val unsorted = "array(named_struct('k', 1001L, 'c', 3L), named_struct('k', 1L, 'c', 2L))"
    val repeated = "array(named_struct('k', 1L, 'c', 2L), named_struct('k', 1L, 'c', 3L))"
    // sorted input counts as before, through both routes
    for (s <- Seq(factory, cloned)) {
      assert(run(s, s"aligned_counts($sorted, array(1001L, 1L, 2L))").head.getSeq[Long](0) === Seq(3L, 2L, 0L))
      assert(run(s, s"marginal_counts($sorted, array(1L, 5L))").head.getSeq[Long](0) === Seq(5L, 0L))
    }
    val bad = Seq(
      "aligned_counts" -> s"aligned_counts($unsorted, array(1L))",
      "aligned_counts" -> s"aligned_counts($repeated, array(1L))",
      "marginal_counts" -> s"marginal_counts($unsorted, array(1L))",
      "marginal_counts" -> s"marginal_counts($repeated, array(1L))",
      "marginal_counts" -> s"marginal_counts($sorted, array(5L, 1L))",
      "marginal_counts" -> s"marginal_counts($sorted, array(1L, 1L))")
    for ((name, call) <- bad; mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      factory.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val e = intercept[Exception](run(factory, call))
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(chain.exists(c => c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.startsWith(s"$name:") && (c.getMessage.contains("sorted") || c.getMessage.contains("ascending"))),
          s"$mode $call: ${chain.mkString("\n")}")
      } finally factory.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("every scalar kernel entry has a codegen sample") {
    assert(kernelCalls.keySet ===
      FunctionCatalog.entries.map(_.name).toSet -- Set("range_bucket_search", "kmv_sketch", "mg_topk"))
  }

  kernelCalls.toSeq.sortBy(_._1).foreach { case (name, call) =>
    test(s"$name: generated and interpreted code give the same bits over a scan") {
      val generated = kernelRun(call, Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"))
      val interpreted = kernelRun(call, Map(
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN", "spark.sql.codegen.wholeStage" -> "false"))
      for (((gRows, gPlan), (iRows, iPlan)) <- generated.zip(interpreted)) {
        assert(gPlan.exists {
          case w: WholeStageCodegenExec => kernelProject(w.child)
          case _ => false
        }, s"$name is not projected inside whole-stage codegen:\n$gPlan")
        assert(kernelProject(iPlan) && !iPlan.exists(_.isInstanceOf[WholeStageCodegenExec]), iPlan.toString)
        assert(gRows === iRows)
      }
      val Seq(all, nonNull) = generated.map(_._1)
      assert(all.length === 240 && all.count(_(1) == null) === 19, "a null argument gives null")
      assert(nonNull.length === 221 && !nonNull.exists(_(1) == null))
    }
  }
}
