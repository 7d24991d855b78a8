package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftops.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mongo's `$regexFindAll` result — `[{match, idx, captures}, …]` per input
  * string — as a native Catalyst expression (the reference evaluates the
  * same shape per message through its MongoDB query-expression library).
  *
  * Why custom: Spark's `regexp_extract_all` yields only the matched
  * STRINGS; Mongo's contract also carries each match's code-point index
  * and its capture groups (null for non-participating groups), and there
  * is no `regexp_instr_all` to recover per-occurrence positions — a
  * literal-substring search over duplicate matches would mis-index when
  * an earlier occurrence of the same text fails the regex (lookarounds,
  * anchors). The pattern and options are compile-time constants (the
  * typed engine requires literal regexes), so the compiled
  * `java.util.regex.Pattern` is shared across rows; evaluation is
  * interpreted (CodegenFallback) — acceptable for a scalar regex op whose
  * cost is the regex engine itself, not the dispatch.
  *
  * Mongo options (validated): `i` case-insensitive, `m` multiline, `s`
  * dotall, `x` extended. Null/missing input yields an EMPTY array
  * (Mongo), never null.
  */
case class RegexFindAllExpr(child: Expression, pattern: String,
    options: String) extends UnaryExpression with CodegenFallback {

  require(options.forall("imsx".contains(_)),
    s"unsupported $$regexFindAll options '$options' (allowed: i m s x)")

  @transient private lazy val compiled = {
    var flags = 0
    if (options.contains('i'))
      flags |= java.util.regex.Pattern.CASE_INSENSITIVE |
        java.util.regex.Pattern.UNICODE_CASE
    if (options.contains('m')) flags |= java.util.regex.Pattern.MULTILINE
    if (options.contains('s')) flags |= java.util.regex.Pattern.DOTALL
    if (options.contains('x')) flags |= java.util.regex.Pattern.COMMENTS
    java.util.regex.Pattern.compile(pattern, flags)
  }

  override def prettyName: String = "regex_find_all"
  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("match", StringType),
    StructField("idx", IntegerType),
    StructField("captures", ArrayType(StringType)))), containsNull = false)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return new GenericArrayData(Array.empty[Any])
    val s = v.asInstanceOf[UTF8String].toString
    val m = compiled.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    while (m.find()) {
      val caps = new Array[Any](m.groupCount)
      var g = 1
      while (g <= m.groupCount) {
        caps(g - 1) =
          if (m.group(g) == null) null else UTF8String.fromString(m.group(g))
        g += 1
      }
      // idx counts CODE POINTS, not chars (Mongo counts UTF-8 code points;
      // astral-plane text would drift under a char index)
      out += InternalRow(UTF8String.fromString(m.group),
        s.codePointCount(0, m.start), new GenericArrayData(caps))
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): RegexFindAllExpr =
    copy(child = newChild)
}

object RegexFindAllExpr {
  def apply(input: Column, pattern: String, options: String): Column =
    ColumnBridge.column(
      RegexFindAllExpr(ColumnBridge.expression(input), pattern, options))
}
