package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, NullType}

/** The Catalyst expression behind the engine's scalar kernel functions.
  *
  * Rationale (SURVEY.md §7.3's "custom code" escape hatch, exercised here
  * because the built-in alternative is measurably wrong-shaped): Spark's
  * higher-order functions (`zip_with` + `aggregate`) express a dot product
  * correctly but evaluate the lambda INTERPRETED per element — at 64 floats
  * × millions of candidate pairs that is the ANN search's entire budget.
  * [[KernelCall]] keeps whole-stage codegen (`doGenCode` emits a call to a
  * tight static [[VectorKernels]] method) while preserving the exact
  * sequential-fold arithmetic the DuckDB oracles replicate. The fifteen
  * scalar functions of [[FunctionCatalog]] are all this one expression;
  * they differ only in its fields.
  *
  * Exposure is the fully-public path: [[GraftExtensions]] injects the
  * [[FunctionCatalog]] (these and the other engine functions) into every
  * session [[graft.Sessions]] builds; the Column helpers resolve by name via
  * `call_function` (the `Column(expr)` bridge is private[sql] in Spark 4).
  */
object VectorExpressions {

  private val Kernels = "graft.functions.VectorKernels"

  /** A call of the static [[VectorKernels]] method `kernel` on the values
    * of `children`, followed by the literal `params` the call was built
    * with (`hilbert_d2`'s bits, `minhash_bands8`'s k).
    *
    * `name` is the SQL name and the `prettyName`, so plans read
    * `name(children, params)` and unaliased output columns
    * `name(children)`. The call is null-intolerant: a
    * null argument gives null without calling the kernel. Generated code
    * calls the kernel directly; interpreted [[eval]] calls the same static
    * method by reflection. Equality comes from the fields.
    *
    * The analyzer checks each argument against the kernel's Java
    * parameter: the Java class of its Spark type must be that parameter's
    * class, or a primitive Java widens to it (an int column where the
    * kernel takes long), which both the generated call and reflection do.
    * A NULL literal fits any parameter. */
  case class KernelCall(name: String, kernel: String, dataType: DataType,
      children: Seq[Expression], params: Seq[Int]) extends Expression {
    override def nullable: Boolean = children.exists(_.nullable)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = name
    override protected def stringArgs: Iterator[Any] = (children ++ params).iterator

    @transient private lazy val method: Method =
      Class.forName(Kernels).getMethods.find(_.getName == kernel).getOrElse(
        throw new IllegalArgumentException(s"$name: no kernel $Kernels.$kernel"))

    override def checkInputDataTypes(): TypeCheckResult =
      children.zip(method.getParameterTypes).zipWithIndex.collectFirst {
        case ((c, want), i) if c.dataType != NullType && !fits(CodeGenerator.javaClass(c.dataType), want) =>
          TypeCheckResult.TypeCheckFailure(s"$name: argument ${i + 1} is ${c.dataType.simpleString}, " +
            s"but kernel $kernel takes ${want.getSimpleName} there")
      }.getOrElse(TypeCheckResult.TypeCheckSuccess)

    override def eval(input: InternalRow): Any = {
      val args = new Array[AnyRef](children.length + params.length)
      var i = 0
      while (i < children.length) {
        val v = children(i).eval(input)
        if (v == null) return null
        args(i) = v.asInstanceOf[AnyRef]
        i += 1
      }
      params.foreach { p => args(i) = Int.box(p); i += 1 }
      try method.invoke(null, args: _*)
      catch { case e: InvocationTargetException => throw e.getCause }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val gens = children.map(_.genCode(ctx))
      val call = s"${ev.value} = $Kernels.$kernel(" +
        (gens.map(_.value.toString) ++ params.map(_.toString)).mkString(", ") + ");"
      val declare =
        s"${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
      if (nullable) {
        // BinaryExpression.nullSafeCodeGen's shape: each argument is
        // computed only once the ones before it are known non-null
        val body = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$call") {
          case ((c, g), inner) => s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull)(inner)}"
        }
        ev.copy(code = code"boolean ${ev.isNull} = true;\n$declare\n$body")
      } else
        ev.copy(code = code"${gens.map(_.code).mkString("\n")}\n$declare\n$call",
          isNull = FalseLiteral)
    }

    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(children = newChildren)
  }

  /** Java's primitive types in widening order: each widens to every later
    * one (JLS 5.1.2, less `char`, which no Spark type maps to). */
  private val widening: Seq[Class[_]] = Seq(java.lang.Byte.TYPE, java.lang.Short.TYPE,
    java.lang.Integer.TYPE, java.lang.Long.TYPE, java.lang.Float.TYPE, java.lang.Double.TYPE)

  /** A value of Java class `got` can be passed where `want` is declared. */
  private def fits(got: Class[_], want: Class[_]): Boolean =
    want.isAssignableFrom(got) || widening.indexOf(got) >= 0 && widening.indexOf(want) > widening.indexOf(got)

  // Column-level entry points (resolve through GraftExtensions)
  def vector_dot_f32(a: Column, b: Column): Column = call_function("vector_dot_f32", a, b)
  def vector_norm_f32(a: Column): Column = call_function("vector_norm_f32", a)
  def vector_dot_f64(a: Column, b: Column): Column = call_function("vector_dot_f64", a, b)
  def vector_norm_f64(a: Column): Column = call_function("vector_norm_f64", a)
  def rolling_hash31(c: Column): Column = call_function("rolling_hash31", c)
  def window_hash31(c: Column, w: Column): Column = call_function("window_hash31", c, w)
  def hilbert_d2(x: Column, y: Column, bits: Column): Column =
    call_function("hilbert_d2", x, y, bits)
  def vector_l1_i64(a: Column, b: Column): Column = call_function("vector_l1_i64", a, b)
  def vector_distsq_i64(a: Column, b: Column): Column = call_function("vector_distsq_i64", a, b)
  def damerau_levenshtein(a: Column, b: Column): Column = call_function("damerau_levenshtein", a, b)
  def minhash_bands8(text: Column, k: Column): Column = call_function("minhash_bands8", text, k)
  def md5_seeded8(s: Column): Column = call_function("md5_seeded8", s)
  def charhist_entries(text: Column, blocks: Column): Column =
    call_function("charhist_entries", text, blocks)
  def aligned_counts(entries: Column, keys: Column): Column =
    call_function("aligned_counts", entries, keys)
  def marginal_counts(entries: Column, keys: Column): Column =
    call_function("marginal_counts", entries, keys)
}
