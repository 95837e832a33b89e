package graft.functions

import java.util.Locale
import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.functions.split
import org.apache.spark.sql.graftglue.{columnToExpr, exprToColumn}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's one case fold: `lower`/`upper` on `UTF8_BINARY` strings.
  *
  * The body is Spark 4.1's own ICU case mapping
  * (`CollationAwareUTF8String.toLowerCase`/`toUpperCase`): an all-ASCII
  * string folds byte by byte, any other string through ICU's full case
  * mapping (`ß` uppers to `SS`, U+0130 lowers to `i` + U+0307, invalid
  * UTF-8 is replaced first). Two things differ from calling Spark's
  * `lower`/`upper`:
  *   - No title-case table. Spark's case mapping lives in a class whose
  *     static initializer title-cases all 1,114,111 code points (1.6–2.1
  *     s) on the first call in a JVM, while the other task threads wait
  *     on the class init. Only `initcap` reads that table; this kernel
  *     calls ICU directly and never loads the class.
  *   - The root locale. Spark folds a non-ASCII string in the JVM's
  *     default locale, so on a `tr` JVM `"Ié TITLE"` lowers to
  *     `"ıé tıtle"`. Here no result depends on the JVM's locale; under an
  *     `en` default the two agree on every input (CaseFoldSpec).
  *
  * A collated string (e.g. `UTF8_LCASE`) is rejected at analysis: its
  * case mapping belongs to Spark's collation path.
  */
object CaseFold {

  /** The fold on a JVM string, for UDF bodies. ICU's root case locale;
    * named by `Locale.ROOT`, not `ULocale.ROOT`, whose lookup took ~25%
    * longer per non-ASCII fold.
    */
  def lower(s: String): String = UCharacter.toLowerCase(Locale.ROOT, s)
  def upper(s: String): String = UCharacter.toUpperCase(Locale.ROOT, s)

  /** The fold on a Spark string; what the expression evaluates. */
  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii else UTF8String.fromString(lower(s.toValidString))
  def upper(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii else UTF8String.fromString(upper(s.toValidString))

  /** lower(string) or upper(string) → string. Like Spark's `Lower`, it is
    * null-intolerant (so constraint inference still adds `IsNotNull` on
    * its input) and folds wherever its input folds.
    */
  case class Fold(child: Expression, toUpper: Boolean) extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case st: StringType
          if st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a UTF8_BINARY string, got ${other.simpleString}")
    }
    override def dataType: DataType = child.dataType
    override def nullIntolerant: Boolean = true
    override def contextIndependentFoldable: Boolean = child.contextIndependentFoldable
    override def prettyName: String = if (toUpper) "fold_upper" else "fold_lower"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String]
      if (toUpper) upper(s) else lower(s)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val fn = if (toUpper) "upper" else "lower"
      defineCodeGen(ctx, ev, c => s"graft.functions.CaseFold.$fn($c)")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def lower(c: Column): Column = exprToColumn(Fold(columnToExpr(c), toUpper = false))
  def upper(c: Column): Column = exprToColumn(Fold(columnToExpr(c), toUpper = true))

  /** A document's tokens: lower-fold, then split on single spaces, empty
    * tokens kept (`"a  b"` → `a`, ``, `b`) — DuckDB's
    * `string_split(lower(text), ' ')`, which the oracles replay.
    */
  def tokens(doc: Column): Column = split(lower(doc), " ", -1)
}
