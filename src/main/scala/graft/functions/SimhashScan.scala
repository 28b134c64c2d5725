package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-local SimHash signature — the whole per-document signature in ONE
  * native pass, replacing the relational rendering
  * `explode(split(text)) → groupBy(id) → 16..56 conditional sums` that
  * paid a corpus-wide exchange just to bring a document's words back
  * together (they were already together: in the row).
  *
  * Bit-for-bit the batch [[graft.operators.TextDedup.simhash]] contract,
  * which the `x_simhash*` oracles pin: tokens are single-space splits
  * with empties KEPT (Spark's `split(text, " ")` with its keep-trailing
  * semantics — an empty text contributes one empty token, exactly like
  * `explode` over `[""]`); each token hashes to the house md5 prefix
  * (8 hex chars when `bits ≤ 32` and not `wide`, else 14 hex chars —
  * 56 bits); bit b of the signature is 1 iff the ±1 sum of token-hash
  * bits b is strictly positive.
  *
  * Because it is row-local it applies to a STREAMING frame unchanged —
  * the property [[graft.operators.TextDedup.nearDropAtIngest]]'s
  * stream-static gate needs, where the explode+groupBy rendering would
  * be a per-micro-batch shuffle and a cross-batch wrong answer. */
case class SimhashScan(child: Expression, bits: Int, wide: Boolean)
    extends UnaryExpression {

  override def prettyName: String = "graft_simhash_scan"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${child.dataType.catalogString}")
    else if (bits < 1 || bits > 56)
      TypeCheckResult.TypeCheckFailure(s"$prettyName supports 1..56 bits, got $bits")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(input: Any): Any =
    SimhashScan.scan(input.asInstanceOf[UTF8String], bits, wide)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.SimhashScan.scan($s, $bits, $wide);")

  override protected def withNewChildInternal(newChild: Expression): SimhashScan =
    copy(child = newChild)
}

object SimhashScan {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def scan(input: UTF8String, bits: Int, wide: Boolean): Long = {
    val text = input.toString
    val md = digest.get()
    val narrow = bits <= 32 && !wide
    val sums = new Array[Int](bits)
    val n = text.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || text.charAt(i) == ' ') {
        md.reset()
        val d = md.digest(text.substring(start, i)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // h32 (4 bytes) or the 14-hex-char / 56-bit extension (7 bytes),
        // big-endian — exactly conv(substring(md5(w),1,8|14),16,10)
        val h =
          if (narrow)
            ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          else
            ((d(0) & 0xffL) << 48) | ((d(1) & 0xffL) << 40) |
              ((d(2) & 0xffL) << 32) | ((d(3) & 0xffL) << 24) |
              ((d(4) & 0xffL) << 16) | ((d(5) & 0xffL) << 8) | (d(6) & 0xffL)
        var b = 0
        while (b < bits) {
          sums(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (sums(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  /** Column form. */
  def simhashScan(c: Column, bits: Int, wide: Boolean = false): Column =
    GraftColumnBridge.column(SimhashScan(GraftColumnBridge.expression(c), bits, wide))
}
