package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}
import org.apache.spark.sql.graftglue.{columnToExpr, exprToColumn}

/** Perceptual average-hash (aHash) over an image payload — the standard
  * first-tier fingerprint for IMAGE near-duplicate detection (the
  * multimodal analogue of [[SimHashUtil]]'s text fingerprint): split
  * the pixel array into 64 positional blocks, set bit i iff block i's
  * mean is strictly above the global mean. Hamming distance between
  * hashes then approximates visual similarity, and the banded-LSH
  * blocking substrate from the text tier applies unchanged.
  *
  * Everything is EXACT integer arithmetic over bytes — block membership
  * by `j*64 div n`, the mean comparison as the cross-multiplication
  * `sum_i · n > total · cnt_i` (no division, no floats) — precisely so
  * a SQL oracle can replay the hash bit-for-bit from the raw bytes.
  * A production decoder would first decode+grayscale+downsample the
  * codec stream; over the repo's BMP containers the pixel array IS the
  * stored bytes, so the hash consumes them directly (the container
  * offset is read from the header's bfOffBits, not assumed).
  */
object MediaHash {

  /** BMP magic + a sane pixel-array offset inside the payload. */
  def isBmp(b: Array[Byte]): Boolean =
    b != null && b.length > 54 && b(0) == 'B' && b(1) == 'M' && {
      val off = Bytes.le32(b, 10)
      off >= 54 && off < b.length
    }

  /** Pixel bytes hashed per payload — the "downsample" step every
    * perceptual hash performs before block statistics (production aHash
    * resizes to 8×8; here the first MiB stands in). Also the overflow
    * guard: the bit rule cross-multiplies `sums(i)·n` with
    * `sums(i) ≤ 255·n/64`, i.e. products ≈ 4·n², which wraps Long past
    * n ≈ 1.5 GB — capping n at 2^20 keeps products ≤ ~2^42. The DuckDB
    * oracle replays the same cap.
    */
  val MaxHashBytes = 1 << 20

  /** aHash64 over the payload's pixel array (bytes from bfOffBits on,
    * first [[MaxHashBytes]] of them). Call only after [[isBmp]].
    */
  def aHash64(b: Array[Byte]): Long = {
    val off = Bytes.le32(b, 10)
    val n = math.min(b.length - off, MaxHashBytes)
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var total = 0L
    var j = 0
    while (j < n) {
      val blk = ((j.toLong * 64L) / n).toInt
      val v = b(off + j) & 0xff
      sums(blk) += v
      cnts(blk) += 1
      total += v
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (sums(i) * n > total * cnts(i)) out |= (1L << i)
      i += 1
    }
    out
  }

  /** `ahash64(payload)` as a codegen Catalyst expression: one fused
    * per-row loop inside whole-stage codegen, null for a payload that
    * is not a decodable BMP (an unsupported format is a datum, not an
    * error — same contract as [[MediaHeaders.probe]]).
    */
  case class AHash64(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects binary, got ${other.simpleString}")
    }
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "ahash64"

    override def nullSafeEval(input: Any): Any = {
      val b = input.asInstanceOf[Array[Byte]]
      if (isBmp(b)) aHash64(b) else null
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = "graft.functions.MediaHash"
      nullSafeCodeGen(ctx, ev, b =>
        s"""
           |if ($cls.isBmp($b)) {
           |  ${ev.value} = $cls.aHash64($b);
           |} else {
           |  ${ev.isNull} = true;
           |}
           |""".stripMargin)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def ahash64(payload: Column): Column =
    exprToColumn(AHash64(columnToExpr(payload)))
}
