package graft

import java.util.Locale
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, Lower, Upper}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import graft.functions.CaseFold

/** The case-fold kernel against Spark's own `lower`/`upper`, each
  * evaluated interpreted (`eval`) and through generated code (an unsafe
  * projection), under an en-US default locale. Inputs mix the cases
  * where a fold can drift: ASCII, Latin-1, Greek with a final sigma,
  * U+0130 'İ', 'ß' (upper becomes "SS"), KELVIN SIGN U+212A, surrogate
  * pairs, invalid UTF-8 (the bytes a binary-to-string cast keeps), empty
  * and null. No session is needed: the expressions are bound to one
  * input column and evaluated directly.
  */
object CaseFoldSpec extends Properties("casefold") {

  private val in = BoundReference(0, StringType, nullable = true)

  /** One fold evaluated both ways: (interpreted, codegen). */
  private final class Both(e: Expression) {
    private val proj = GenerateUnsafeProjection.generate(Seq(e))
    def apply(s: UTF8String): (UTF8String, UTF8String) = {
      val row = InternalRow(s)
      val out = proj(row)
      (e.eval(row).asInstanceOf[UTF8String],
        if (out.isNullAt(0)) null else out.getUTF8String(0).clone())
    }
  }

  private val kernelLower = new Both(CaseFold.Fold(in, toUpper = false))
  private val kernelUpper = new Both(CaseFold.Fold(in, toUpper = true))
  private val sparkLower = new Both(Lower(in))
  private val sparkUpper = new Both(Upper(in))

  private def withLocale[T](l: Locale)(body: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(saved)
  }

  private val piece: Gen[String] = Gen.frequency(
    6 -> Gen.asciiPrintableStr,
    2 -> Gen.listOf(Gen.choose('\u0000', 'ÿ')).map(_.mkString),
    // Greek words: a capital sigma ends some of them (final-sigma rule)
    2 -> Gen.listOf(Gen.oneOf("ΟΔΟΣ", "Σ", "σ", "ς", "ΑΣ ", "ΣΑ", " ", "άΈ")).map(_.mkString),
    2 -> Gen.oneOf("İ", "ß", "K", "ŉ", "ǰ", "ﬃ", "I", "i"),
    // surrogate pairs: a supplementary letter with a case mapping, an emoji
    2 -> Gen.oneOf("𐐀", "𐐨", "😀"),
    1 -> Gen.const(""))

  private val input: Gen[UTF8String] = Gen.frequency(
    8 -> Gen.listOf(piece).map(ps => UTF8String.fromString(ps.mkString)),
    // invalid UTF-8: random bytes, kept as they are
    2 -> Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue))
      .map(bs => UTF8String.fromBytes(bs.toArray)),
    1 -> Gen.const(UTF8String.EMPTY_UTF8),
    1 -> Gen.const(null))

  private def agree(kernel: Both, spark: Both)(s: UTF8String): Prop = {
    val (ki, kc) = kernel(s)
    val (si, sc) = withLocale(Locale.US)(spark(s))
    (s"interpreted kernel=$ki spark=$si" |: ki == si) &&
      (s"codegen kernel=$kc spark=$sc" |: kc == sc) &&
      (s"kernel interpreted=$ki codegen=$kc" |: ki == kc)
  }

  property("lower = Spark's lower, interpreted and codegen") =
    forAll(input)(agree(kernelLower, sparkLower))

  property("upper = Spark's upper, interpreted and codegen") =
    forAll(input)(agree(kernelUpper, sparkUpper))

  property("the kernel's fold does not depend on the default locale") =
    forAll(input) { s =>
      val tr = Locale.forLanguageTag("tr-TR")
      withLocale(Locale.US)((kernelLower(s), kernelUpper(s))) ==
        withLocale(tr)((kernelLower(s), kernelUpper(s)))
    }

  property("a tr default locale reaches Spark's lower, not the kernel") = {
    val s = UTF8String.fromString("Ié TITLE")
    val tr = Locale.forLanguageTag("tr-TR")
    (withLocale(tr)(sparkLower(s)._1).toString == "ıé tıtle") &&
      (withLocale(tr)(kernelLower(s)) == ((UTF8String.fromString("ié title"),
        UTF8String.fromString("ié title"))))
  }

  property("the String fold (UDF bodies) is the UTF8String fold") =
    forAll(Gen.listOf(piece).map(_.mkString)) { s =>
      val u = UTF8String.fromString(s)
      UTF8String.fromString(CaseFold.lower(s)) == CaseFold.lower(u) &&
        UTF8String.fromString(CaseFold.upper(s)) == CaseFold.upper(u)
    }

  property("keeps Lower's flags: null-intolerant, folds like its input") = {
    val lit = Literal("AbC")
    val lcase = Literal.create("x", StringType("UTF8_LCASE"))
    val k = CaseFold.Fold(lit, toUpper = false)
    val kin = CaseFold.Fold(in, toUpper = false)
    (k.nullIntolerant == Lower(lit).nullIntolerant) &&
      (k.foldable && k.contextIndependentFoldable == Lower(lit).contextIndependentFoldable) &&
      (!kin.foldable && kin.contextIndependentFoldable == Lower(in).contextIndependentFoldable) &&
      CaseFold.Fold(lcase, toUpper = false).checkInputDataTypes().isFailure
  }
}
