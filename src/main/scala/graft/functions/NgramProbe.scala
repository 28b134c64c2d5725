package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram membership probe for test-set decontamination: one
  * pass over the row's bytes producing
  * `struct<n_grams bigint, n_shared bigint>` — `n_grams` is the number
  * of DISTINCT word `n`-grams in the row, `n_shared` how many of those
  * are in the benchmark's gram set.
  *
  * A gram is `n` consecutive `split(text, " ")` pieces joined by one
  * space, which is exactly the row's byte range from the first piece's
  * start to the last piece's end — also when pieces are empty (leading,
  * trailing or doubled spaces). So every window is hashed and compared
  * IN PLACE in the row's bytes: no per-window string, array or lambda,
  * where the composable rendering (`transform(sequence(...))` over
  * `element_at` + `concat_ws`, `array_distinct`, `explode`, a join and
  * a per-doc aggregate) allocated a joined string per window and a row
  * per distinct gram. Rows with fewer than `n` pieces give (0, 0);
  * a null text gives null.
  *
  * The gram set rides a `SparkContext.broadcast` handle, read once per
  * task into a mutable state of the generated class — a plan-literal
  * (`addReferenceObj`) set would be serialized into every task. */
case class NgramProbe(child: Expression, n: Int, grams: Broadcast[GramSet])
    extends UnaryExpression {

  require(n >= 1, "n must be positive")

  override def prettyName: String = "graft_ngram_probe"
  override def dataType: DataType = NgramProbe.Out

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${child.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val set: GramSet = grams.value

  override def nullSafeEval(input: Any): Any =
    NgramProbe.probe(input.asInstanceOf[UTF8String], n, set)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("gramsBc", grams, classOf[Broadcast[_]].getName)
    val setCls = classOf[GramSet].getName
    val s = ctx.addMutableState(setCls, "gramSet", v => s"$v = ($setCls) $bc.value();")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.NgramProbe.probe($t, $n, $s);")
  }

  override protected def withNewChildInternal(newChild: Expression): NgramProbe =
    copy(child = newChild)
}

object NgramProbe {

  private[functions] val Out: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_shared", LongType, nullable = false)))

  private[functions] val Seed = 42

  /** The `split(_, " ")` piece boundaries of the `len` bytes at (`base`,
    * `off`): `cut(j)` is the byte before piece j — -1, then each space's
    * offset, then `len` — so the window of `n` pieces from piece k spans
    * the bytes strictly between `cut(k)` and `cut(k + n)`. */
  private[functions] def cuts(base: AnyRef, off: Long, len: Int): Array[Int] = {
    var spaces = 0
    var i = 0
    while (i < len) { if (Platform.getByte(base, off + i) == ' ') spaces += 1; i += 1 }
    val cut = new Array[Int](spaces + 2)
    cut(0) = -1
    var p = 1
    i = 0
    while (i < len) { if (Platform.getByte(base, off + i) == ' ') { cut(p) = i; p += 1 }; i += 1 }
    cut(spaces + 1) = len
    cut
  }

  def probe(s: UTF8String, n: Int, set: GramSet): InternalRow = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val cut = cuts(base, off, s.numBytes)
    val windows = cut.length - n // pieces - n + 1
    if (windows < 1) return new GenericInternalRow(Array[Any](0L, 0L))
    // the row's distinct windows: open addressing over window indices + 1
    val mask = Integer.highestOneBit(windows) * 4 - 1
    val slots = new Array[Int](mask + 1)
    val hashes = new Array[Int](windows)
    var nGrams = 0L
    var nShared = 0L
    var k = 0
    while (k < windows) {
      val start = cut(k) + 1
      val wlen = cut(k + n) - start
      val h = Murmur3_x86_32.hashUnsafeBytes(base, off + start, wlen, Seed)
      hashes(k) = h
      var at = h & mask
      var seen = false
      while (!seen && slots(at) != 0) {
        val j = slots(at) - 1
        val jStart = cut(j) + 1
        seen = hashes(j) == h && cut(j + n) - jStart == wlen &&
          ByteArrayMethods.arrayEquals(base, off + jStart, base, off + start, wlen)
        at = (at + 1) & mask
      }
      if (!seen) {
        slots(at) = k + 1
        nGrams += 1
        if (set.contains(base, off + start, wlen, h)) nShared += 1
      }
      k += 1
    }
    new GenericInternalRow(Array[Any](nGrams, nShared))
  }

  /** Column form: `grams` is the broadcast benchmark gram set. */
  def ngramProbe(c: Column, n: Int, grams: Broadcast[GramSet]): Column =
    GraftColumnBridge.column(NgramProbe(GraftColumnBridge.expression(c), n, grams))
}

/** An immutable hash set of byte strings, probed by byte range: all
  * members in one byte array, an open-addressing table of member
  * indices. Compact to broadcast (four primitive arrays, not one object
  * per member), and a probe allocates nothing. */
final class GramSet private (bytes: Array[Byte], starts: Array[Int],
                             hashes: Array[Int], slots: Array[Int])
    extends Serializable {

  private val mask = slots.length - 1

  /** Whether the `len` bytes at (`base`, `off`), whose Murmur3 hash with
    * [[NgramProbe]]'s seed is `h`, are a member. */
  def contains(base: AnyRef, off: Long, len: Int, h: Int): Boolean = {
    var at = h & mask
    while (slots(at) != 0) {
      val g = slots(at) - 1
      if (hashes(g) == h && starts(g + 1) - starts(g) == len &&
          ByteArrayMethods.arrayEquals(bytes, Platform.BYTE_ARRAY_OFFSET + starts(g),
            base, off, len)) return true
      at = (at + 1) & mask
    }
    false
  }
}

object GramSet {

  /** The distinct word `n`-grams of `texts` (UTF-8), windowed exactly as
    * [[NgramProbe]] windows a row. */
  def ofTexts(texts: Iterable[Array[Byte]], n: Int): GramSet =
    apply(texts.flatMap { t =>
      val cut = NgramProbe.cuts(t, Platform.BYTE_ARRAY_OFFSET, t.length)
      (0 until cut.length - n).map(k => java.util.Arrays.copyOfRange(t, cut(k) + 1, cut(k + n)))
    })

  /** The set of `grams`' UTF-8 encodings (duplicates kept once). */
  def apply(grams: Iterable[Array[Byte]]): GramSet = {
    val distinct: Array[Array[Byte]] =
      grams.iterator.map(g => java.nio.ByteBuffer.wrap(g)).toSet[java.nio.ByteBuffer]
        .toArray.map(_.array())
    val starts = new Array[Int](distinct.length + 1)
    var i = 0
    while (i < distinct.length) { starts(i + 1) = starts(i) + distinct(i).length; i += 1 }
    val bytes = new Array[Byte](starts(distinct.length))
    val hashes = new Array[Int](distinct.length)
    val slots = new Array[Int](math.max(2, Integer.highestOneBit(math.max(1, distinct.length)) * 4))
    val mask = slots.length - 1
    i = 0
    while (i < distinct.length) {
      System.arraycopy(distinct(i), 0, bytes, starts(i), distinct(i).length)
      val h = Murmur3_x86_32.hashUnsafeBytes(bytes,
        Platform.BYTE_ARRAY_OFFSET + starts(i), distinct(i).length, NgramProbe.Seed)
      hashes(i) = h
      var at = h & mask
      while (slots(at) != 0) at = (at + 1) & mask
      slots(at) = i + 1
      i += 1
    }
    new GramSet(bytes, starts, hashes, slots)
  }
}
