package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension registration of graft's native expressions, so SQL text
  * can call them directly:
  *
  * {{{
  * val spark = graft.GraftSession.local(cpus,
  *   "spark.sql.extensions" -> classOf[GraftExtensions].getName)
  * spark.sql("SELECT java_hash(device_id), dot_product(a, b) FROM t")
  * }}}
  *
  * (Also installable on a live session via [[GraftExtensions.register]] —
  * handy when the session is built by a harness we don't control.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // automate the reference's manual partition guards (received_day) and
    // derive the device_id_bucket one it never writes
    e.injectOptimizerRule(_ => graft.plans.InjectPartitionGuard())
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.functions", null, name, usage, "", "", "", "", "4.0.0", "", "scala_udf")

  /** Validated scalar-literal extraction for SQL-registered builders: a
    * wrong arity ([[requireArity]]) or a non-foldable/non-integer argument
    * must surface as a usable analysis-time error naming the function and
    * its usage, not a raw ClassCastException/IndexOutOfBoundsException
    * from `es(i).eval()`.
    */
  private def foldableInt(fn: String, usage: String, es: Seq[Expression],
                          arity: Int, i: Int): Int = {
    val e = requireArity(fn, usage, es, arity)(i)
    val v = if (e.foldable) e.eval() else null
    v match {
      case n: Number => n.intValue()
      case _ => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "NON_FOLDABLE_ARGUMENT",
        messageParameters = Map("funcName" -> s"`$fn`",
          "paramName" -> s"`arg$i`", "paramType" -> s""""INT" ($usage)"""))
    }
  }

  /** String sibling of [[foldableInt]]: same arity + foldability contract
    * for scalar string literals (e.g. a Unicode normalization form), so SQL
    * misuse raises the same AnalysisExceptions instead of an
    * IndexOutOfBounds/NullPointer from a bare `es(i).eval().toString`.
    */
  private def foldableString(fn: String, usage: String, es: Seq[Expression],
                             arity: Int, i: Int): String = {
    val e = requireArity(fn, usage, es, arity)(i)
    if (!e.foldable)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "NON_FOLDABLE_ARGUMENT",
        messageParameters = Map("funcName" -> s"`$fn`",
          "paramName" -> s"`arg$i`", "paramType" -> s""""STRING" ($usage)"""))
    e.eval() match {
      // a foldable NULL literal is not a foldability problem — surface it
      // as the parameter-value error it is (ADVICE r13: NON_FOLDABLE here
      // was misleading for `f(x, CAST(NULL AS STRING))`)
      case null => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INVALID_PARAMETER_VALUE.NULL",
        messageParameters = Map("functionName" -> s"`$fn`",
          "parameter" -> s"`arg$i` ($usage)"))
      case s => s.toString
    }
  }

  /** The arity guard every builder runs before it reads an argument:
    * a wrong arity, zero arguments included, surfaces as a WRONG_NUM_ARGS
    * AnalysisException naming the function and its usage, never a
    * NoSuchElement/IndexOutOfBounds from a bare `es.head`/`es(i)`.
    */
  private def requireArity(fn: String, usage: String, es: Seq[Expression],
                           arity: Int): Seq[Expression] = {
    if (es.length != arity)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map("functionName" -> fn,
          "expectedNum" -> arity.toString, "actualNum" -> es.length.toString,
          "docroot" -> usage))
    es
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("java_hash",
      info("java_hash", "java_hash(str) - bit-exact Java String.hashCode"),
      (es: Seq[Expression]) => JavaHashCode(
        requireArity("java_hash", "java_hash(str)", es, 1).head)),
    ("java_hash_bucket",
      info("java_hash_bucket", "java_hash_bucket(str, n) - MOD(ABS(java_hash(str)), n)"),
      (es: Seq[Expression]) => {
        val usage = "java_hash_bucket(str, n)"
        val a = requireArity("java_hash_bucket", usage, es, 2)
        JavaHashBucket(a.head, foldableInt("java_hash_bucket", usage, a, 2, 1))
      }),
    ("dot_product",
      info("dot_product", "dot_product(array<double>, array<double>) - sequential-fold dot"),
      (es: Seq[Expression]) => {
        val a = requireArity("dot_product",
          "dot_product(array<double>, array<double>)", es, 2)
        DotProduct(a.head, a(1))
      }),
    ("md5_field",
      info("md5_field", "md5_field(str, startNibble, nNibbles) - unsigned BIGINT value of nNibbles hex digits of md5(str), == conv(substring(md5(str), startNibble+1, nNibbles), 16, 10)"),
      (es: Seq[Expression]) => {
        val usage = "md5_field(str, startNibble, nNibbles)"
        val a = requireArity("md5_field", usage, es, 3)
        Md5Field(a.head, foldableInt("md5_field", usage, a, 3, 1),
          foldableInt("md5_field", usage, a, 3, 2))
      }),
    ("normalize_unicode",
      info("normalize_unicode", "normalize_unicode(str, form) - Unicode NFC/NFD/NFKC/NFKD normalization"),
      (es: Seq[Expression]) => {
        val usage = "normalize_unicode(str, form)"
        val a = requireArity("normalize_unicode", usage, es, 2)
        NormalizeUnicode(a.head, foldableString("normalize_unicode", usage, a, 2, 1))
      }))

  /** Register on an already-built session (temp functions). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
