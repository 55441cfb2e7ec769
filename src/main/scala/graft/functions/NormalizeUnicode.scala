package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (NFC/NFD/NFKC/NFKD) as a native codegen expression.
  *
  * Canonicalization is the step *before* any text hashing in a corpus
  * pipeline: "é" as one codepoint and "e"+combining-acute are different
  * strings to every hash/shingle/fingerprint operator but the same text to a
  * reader — un-normalized corpora leak duplicates straight past exact dedup.
  * Spark has no builtin for this; a native expression keeps it inside
  * whole-stage codegen (a Scala UDF would break the ingest projection's
  * pipeline with a serialization boundary at 100 TB row counts).
  */
case class NormalizeUnicode(child: Expression, form: String) extends UnaryExpression {
  require(Set("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"unsupported normalization form $form")

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "normalize_unicode"

  @transient private lazy val normForm = Normalizer.Form.valueOf(form)

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Normalizer.normalize(input.toString, normForm))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize($c.toString(),
         |    java.text.Normalizer.Form.$form))""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): NormalizeUnicode =
    copy(child = newChild)
}

object NormalizeUnicode {
  /** Column wrapper: NFC-normalize a string column. */
  def normalizeUnicode(c: Column): Column =
    ColumnBridge.column(NormalizeUnicode(ColumnBridge.expression(c), "NFC"))
}
