package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Exact fixed-point base-2 logarithm on the integer grid —
  * `log2Fixed(n) = floor-ish(2^F * log2(n))` computed with NOTHING but
  * integer compares, adds, and constant shifts, so a DuckDB oracle can
  * replay it bit-for-bit (OracleSql.ilogChainSql stays in lockstep).
  * IEEE `ln()` is NOT cross-engine stable at the last ulp, and the
  * house gates are hash-exact, so transcendental functions are banned
  * from any gated value; this is the integer-exact substitute the
  * unigram-LM trainer's Viterbi costs ride on (the t35 fixed-point
  * discipline, applied to logs).
  *
  * Algorithm (classic shift-and-square, e.g. Knuth TAOCP §1.2.2 ex.25):
  *  1. normalize n to a mantissa m in [2^SH, 2^(SH+1)) via 11
  *     conditional constant shifts (6 down for big n, 5 up for small),
  *     accumulating the net exponent b = floor(log2 n) - SH... + SH;
  *  2. F fractional bits: square the mantissa, renormalize by SH, and
  *     the carry past 2^(SH+1) IS the next bit of log2.
  * Truncation at each squaring loses < 2^-F relative precision — both
  * engines truncate identically, which is all the gate needs; the
  * property spec additionally pins |result/2^F - log2(n)| < 0.01.
  *
  * Overflow: m < 2^(SH+1) = 2^31, so m*m < 2^62 fits signed 64-bit on
  * both engines. Input domain: 1 <= n < 2^62.
  */
object IntLog {

  /** Fractional bits of the fixed-point result. */
  val F = 8

  /** Mantissa shift: m normalized into [2^SH, 2^(SH+1)). */
  val SH = 30

  /** Downshift steps (phase 1) then upshift steps (phase 2) of the
    * normalization — shared with the SQL mirror.
    */
  val DownSteps: Seq[Int] = Seq(32, 16, 8, 4, 2, 1)
  val UpSteps: Seq[Int] = Seq(16, 8, 4, 2, 1)

  /** `floor(2^F * log2(n))` up to the documented truncation, as a
    * codegen'd native expression (a composed when/otherwise chain
    * would reference its mantissa 3x per step — a 4^19 expression-tree
    * blowup; the ZOrderExpr precedent is the right tool). Caller
    * guarantees 1 <= n < 2^62; NULL in, NULL out.
    */
  def log2Fixed(n: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(Log2FixedExpr(Bridge.expression(n)))
  }

  /** Driver-side reference of the identical algorithm (spec parity and
    * any bounded driver loop that needs the same grid).
    */
  def log2FixedRef(n0: Long): Long = {
    require(n0 >= 1 && n0 < (1L << 62), s"out of domain: $n0")
    var m = n0
    var b = 0L
    for (k <- DownSteps) if (m >= (1L << (SH + k))) { b += k; m >>= k }
    for (k <- UpSteps) if (m < (1L << (SH + 1 - k))) { b -= k; m <<= k }
    var res = b + SH
    for (_ <- 0 until F) {
      val sq = (m * m) >> SH
      if (sq >= (1L << (SH + 1))) { res = res * 2 + 1; m = sq >> 1 }
      else { res = res * 2; m = sq }
    }
    res
  }
}

/** log2fixed(n) — codegen'd native expression over a long column; the
  * generated code calls the same [[IntLog.log2FixedRef]] the driver
  * loops use, so all three surfaces (Column, driver, SQL mirror) share
  * one grid.
  */
case class Log2FixedExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"log2fixed requires an integral column, got $t")
  }

  override def nullSafeEval(n: Any): Any = n match {
    case i: Int => IntLog.log2FixedRef(i.toLong)
    case l: Long => IntLog.log2FixedRef(l)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      n => s"graft.functions.IntLog.log2FixedRef((long) $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "log2fixed"
}
