package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** The counts behind [[graft.ops.TextOps.repetitionSignals]] (Gopher's
  * repetition filters) in ONE compiled pass per row: a struct of
  *
  *   - `n_lines`, `n_dup_lines`: the [[WordChunks]] lines of the text and
  *     how many of them repeat an earlier one (`size - size(array_distinct)`);
  *   - `line_chars`: the lines' summed `length` (chars, not bytes);
  *   - `dup_line_chars`: Σ count × `length` over the lines occurring more
  *     than once (every occurrence counts);
  *   - `top_bigram`, `top_bigram_count`: the most frequent word bigram of
  *     `split(text, " ")` (the one token of a one-token text) and its
  *     count; on a tie the smallest in UTF-8 binary order wins.
  *
  * It replaces a projection of interpreted higher-order functions — the
  * chunk `transform`, three `aggregate` folds with struct accumulators
  * and an `array_sort` — with one token scan: lines and bigrams are byte
  * ranges of the text (see [[WordChunks]]), and hash counts over those
  * ranges replace the two sorted-run scans.
  *
  * Null text gives what the builtin chain gives for its one null line:
  * n_lines = 1, n_dup_lines = 0, dup_line_chars = 0 and null for the rest.
  */
case class RepetitionCounts(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && w > 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"repetition_counts expects a string and w > 0, got " +
        s"${child.dataType.simpleString} / $w")

  // field nullability is the builtin chain's, so the output schema stays
  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_dup_lines", LongType, nullable = false),
    StructField("line_chars", LongType, nullable = child.nullable),
    StructField("dup_line_chars", LongType, nullable = child.nullable),
    StructField("top_bigram", StringType),
    StructField("top_bigram_count", LongType)))
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) InternalRow(1L, 0L, null, 0L, null, null)
    else RepetitionCounts.compute(s, w)
  }

  override protected def withNewChildInternal(newChild: Expression)
  : Expression = copy(child = newChild)
}

object RepetitionCounts {

  /** Counts equal byte ranges [off(j), off(j) + len(j)) of `b`: sets
    * cnt(j) to the number of ranges equal to range j when j is the first
    * of them, else 0, and returns the number of distinct ranges.
    */
  private def countEqual(b: Array[Byte], off: Array[Int], len: Array[Int],
      cnt: Array[Int]): Int = {
    val m = off.length
    val mask = Integer.highestOneBit(math.max(m, 1) * 2) * 2 - 1
    val slot = new Array[Int](mask + 1)
    java.util.Arrays.fill(slot, -1)
    var distinct = 0
    var j = 0
    while (j < m) {
      var h = Murmur3_x86_32.hashUnsafeBytes(b,
        Platform.BYTE_ARRAY_OFFSET + off(j), len(j), 42) & mask
      var placed = false
      while (!placed) {
        val r = slot(h)
        if (r < 0) {
          slot(h) = j; cnt(j) = 1; distinct += 1; placed = true
        } else if (len(r) == len(j) && ByteArrayMethods.arrayEquals(
            b, Platform.BYTE_ARRAY_OFFSET + off(r),
            b, Platform.BYTE_ARRAY_OFFSET + off(j), len(j))) {
          cnt(r) += 1; placed = true
        } else h = (h + 1) & mask
      }
      j += 1
    }
    distinct
  }

  def compute(s: UTF8String, w: Int): InternalRow = {
    val b = WordChunks.bytesOf(s)
    val st = WordChunks.tokenStarts(b)
    val n = st.length - 1
    val (lOff, lLen) = WordChunks.chunkRanges(st, w)
    val m = lOff.length
    val lCnt = new Array[Int](m)
    val distinctLines = countEqual(b, lOff, lLen, lCnt)
    var lineChars = 0L
    var dupChars = 0L
    var i = 0
    while (i < m) {
      val c = UTF8String.fromBytes(b, lOff(i), lLen(i)).numChars()
      lineChars += c
      if (lCnt(i) > 1) dupChars += lCnt(i).toLong * c
      i += 1
    }
    // bigrams: tokens [t, t + 2), or the one token of a one-token text
    val g = math.max(n - 1, 1)
    val gOff = new Array[Int](g)
    val gLen = new Array[Int](g)
    i = 0
    while (i < g) {
      gOff(i) = st(i); gLen(i) = st(math.min(i + 2, n)) - 1 - gOff(i)
      i += 1
    }
    val gCnt = new Array[Int](g)
    countEqual(b, gOff, gLen, gCnt)
    var best = 0
    var top: UTF8String = null
    i = 0
    while (i < g) {
      if (gCnt(i) > 0 && gCnt(i) >= best) {
        val cand = UTF8String.fromBytes(b, gOff(i), gLen(i))
        if (gCnt(i) > best || cand.compareTo(top) < 0) {
          best = gCnt(i); top = cand
        }
      }
      i += 1
    }
    InternalRow(m.toLong, (m - distinctLines).toLong, lineChars, dupChars,
      top, best.toLong)
  }

  def apply(text: Column, w: Int): Column =
    Bridge.column(RepetitionCounts(Bridge.expression(text), w))
}
