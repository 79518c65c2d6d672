package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType}

/** `sq8_pack(codes)` — pack an `array<bigint>` of SQ8 codes (each in
  * [0, 255] by the quantizer's construction) into a `binary` of one
  * byte per component: the STORAGE form of the sq8 index family's
  * `codes` column from format v2 on.
  *
  * Why it exists: format v1 persisted the codes as `array<bigint>` —
  * 8 bytes per component, 512 B/vector at dim 64, WIDER than the 256 B
  * float embeddings the compressed tier is supposed to undercut (the
  * round-17 cost model measured exactly this as why cascade serving
  * lost to the 2-tier BQ serve,
  * SCALING.md ("Round-17: ANN serving probes 11/12/13")). Packed, the
  * stored middle tier is 64 B/vector — 4x narrower than the floats at
  * any dimension, and the scan cost finally matches the design intent.
  *
  * Faithful by construction: values are masked to the low byte
  * (`(byte)(c & 0xFF)`), exact for the quantizer's [0, 255] range —
  * callers feed encoder output, never arbitrary longs. NULL when the
  * array (or any element — the quantizer emits none) is NULL.
  */
final case class Sq8PackExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "sq8_pack"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got ${dt.simpleString}")
  }

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      out(i) = (x.getLong(i) & 0xFFL).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      code"""
        final int $n = $a.numElements();
        final byte[] $out = new byte[$n];
        int $i = 0;
        for (; $i < $n; $i++) {
          if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
          $out[$i] = (byte) ($a.getLong($i) & 0xFFL);
        }
        if ($i == $n) { ${ev.value} = $out; }
      """.toString
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `sq8_decode(codes, lo, hi)` — the fused unpack + reconstruction of a
  * byte-packed SQ8 vector under quantizer stats `lo`/`hi`
  * (`array<double>` each): returns `array<double>` with
  *
  *   out[i] = lo[i] + ((codes[i] & 0xFF) + 0.5) * (hi[i] - lo[i]) / 255.0
  *
  * Numerically IDENTICAL to the declarative reconstruction it replaces
  * — `transform(codes, (c, i) -> lo[i] + (CAST(c AS DOUBLE) + 0.5D) *
  * (hi[i] - lo[i]) / 255.0D)` over the v1 long codes — same operand
  * order, same IEEE sequence (add, then multiply, then divide, then
  * add), so every oracle that hash-compares decoded-cosine micros
  * against DuckDB stays bit-for-bit, and a degenerate constant dim
  * (hi == lo) decodes to lo under the same formula with no branch.
  *
  * Why fused and codegen'd: higher-order functions are
  * `CodegenFallback` in Spark — the v1 lambda decoded per element on
  * the interpreted path. This loop fuses into whole-stage codegen and
  * reads the packed byte directly; the corpus-wide decode of the
  * stored-sq8 panel row and the per-candidate decode of the cascade's
  * middle tier both stay in generated code.
  *
  * NULL when any input is NULL, when a stats element is NULL, or when
  * the stats arrays are shorter than the code vector (a cross-family
  * wiring bug better surfaced as NULL than as garbage strides).
  */
final case class Sq8DecodeExpression(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "sq8_decode"

  override def checkInputDataTypes(): TypeCheckResult = {
    def dbl(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (first.dataType == BinaryType && dbl(second.dataType) && dbl(third.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (binary, array<double>, array<double>), got " +
        s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
        s"${third.dataType.simpleString})")
  }

  override protected def nullSafeEval(c: Any, l: Any, h: Any): Any = {
    val codes = c.asInstanceOf[Array[Byte]]
    val lo = l.asInstanceOf[ArrayData]
    val hi = h.asInstanceOf[ArrayData]
    val n = codes.length
    if (lo.numElements() < n || hi.numElements() < n) return null
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (lo.isNullAt(i) || hi.isNullAt(i)) return null
      val loI = lo.getDouble(i)
      out(i) = loI + ((codes(i) & 0xFF) + 0.5) * (hi.getDouble(i) - loI) / 255.0
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l, h) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val loI = ctx.freshName("loI")
      code"""
        final int $n = $c.length;
        if ($l.numElements() < $n || $h.numElements() < $n) {
          ${ev.isNull} = true;
        } else {
          final double[] $out = new double[$n];
          int $i = 0;
          for (; $i < $n; $i++) {
            if ($l.isNullAt($i) || $h.isNullAt($i)) { ${ev.isNull} = true; break; }
            final double $loI = $l.getDouble($i);
            $out[$i] = $loI + (($c[$i] & 0xFF) + 0.5) * ($h.getDouble($i) - $loI) / 255.0;
          }
          if ($i == $n) {
            ${ev.value} =
              org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
          }
        }
      """.toString
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
