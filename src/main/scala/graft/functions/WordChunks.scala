package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Non-overlapping chunks of `w` space-separated words of a string, in
  * ONE compiled pass per row — the fused replacement for the builtin chain
  * `transform(sequence(0, greatest(ceil(size(ws) / w), 1) - 1), i ->
  * array_join(slice(ws, i * w + 1, w), " "))` over `ws = split(text, " ")`
  * ([[graft.ops.Dedup.wordChunks]]'s line unit).
  *
  * Why it exists: the chain's `transform` is CodegenFallback, and its
  * lambda holds `split(text, " ")`, so the text is re-split once per
  * chunk, interpreted. Here the text is scanned once for 0x20 bytes, and
  * every chunk is a byte range of it: `split(_, " ")` tokens are exactly
  * the runs between single spaces, so w consecutive tokens joined by " "
  * are the text between the first token's start and the last token's end.
  *
  * Bit-parity contract (DedupSpec asserts it against the builtin chain,
  * on UTF-8 text as Spark reads it):
  *
  *   - n = (number of spaces + 1) tokens, empty ones included (leading,
  *     trailing and doubled spaces), so `""` is one empty token;
  *   - ceil(n / w) chunks, the last one short;
  *   - null text → ONE null chunk (`greatest` skips the null size, and
  *     `array_join` over the null split is null), so the array itself is
  *     never null and contains a null only when the text can be null.
  *
  * Deliberately CodegenFallback, like [[GramStrings]]: the per-row loop
  * is one compiled Scala call either way.
  */
case class WordChunks(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && w > 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_chunks expects a string and w > 0, got " +
        s"${child.dataType.simpleString} / $w")

  override def dataType: DataType =
    ArrayType(StringType, containsNull = child.nullable)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) new GenericArrayData(Array[AnyRef](null))
    else WordChunks.compute(s, w)
  }

  override protected def withNewChildInternal(newChild: Expression)
  : Expression = copy(child = newChild)
}

object WordChunks {

  /** A private copy of `s`'s bytes: every string a kernel returns is a
    * range of it, so none aliases a reused input buffer.
    */
  private[functions] def bytesOf(s: UTF8String): Array[Byte] = {
    val b = new Array[Byte](s.numBytes)
    s.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    b
  }

  /** `split(_, " ")` as token offsets: n + 1 entries for n tokens, token
    * t is the byte range [starts(t), starts(t + 1) - 1), and tokens a
    * until e joined by " " are [starts(a), starts(e) - 1).
    */
  private[functions] def tokenStarts(b: Array[Byte]): Array[Int] = {
    var spaces = 0
    var i = 0
    while (i < b.length) { if (b(i) == ' ') spaces += 1; i += 1 }
    val st = new Array[Int](spaces + 2)
    var t = 1
    i = 0
    while (i < b.length) {
      if (b(i) == ' ') { st(t) = i + 1; t += 1 }
      i += 1
    }
    st(t) = b.length + 1
    st
  }

  /** The line rule every kernel shares: chunk i is tokens
    * [i·w, min(i·w + w, n)) of the [[tokenStarts]] `st`, the byte range
    * [off(i), off(i) + len(i)). Returns (off, len), ceil(n / w) entries.
    */
  private[functions] def chunkRanges(st: Array[Int], w: Int)
  : (Array[Int], Array[Int]) = {
    val n = st.length - 1
    val m = (n + w - 1) / w
    val off = new Array[Int](m)
    val len = new Array[Int](m)
    var i = 0
    while (i < m) {
      off(i) = st(i * w)
      len(i) = st(math.min(i * w + w, n)) - 1 - off(i)
      i += 1
    }
    (off, len)
  }

  def compute(s: UTF8String, w: Int): GenericArrayData = {
    val b = bytesOf(s)
    val (off, len) = chunkRanges(tokenStarts(b), w)
    val out = new Array[AnyRef](off.length)
    var i = 0
    while (i < out.length) {
      out(i) = UTF8String.fromBytes(b, off(i), len(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  def apply(text: Column, w: Int): Column =
    Bridge.column(WordChunks(Bridge.expression(text), w))
}
