package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The word k-grams of a token array as STRINGS, in ONE compiled pass —
  * the string-output sibling of [[GramHashes]], fusing the builtin chain
  * `wordGrams(toks, k)` (k `slice`s + k−1 `zip_with`s with per-element
  * `concat`), optionally its `array_distinct`, and optionally the
  * `sort_array` the set-similarity consumers apply next. It exists for
  * the consumers that must keep RAW gram strings (set joins keyed on the
  * gram value, DuckDB-oracle-replayed set builds): dd25/dd26's shingle
  * sets, tc1's decontamination gram join, ts21's novelty census.
  * Consumers that immediately hash the gram should use [[GramHashes]]
  * instead and never materialize the strings. Two sibling kernels work on
  * the text itself rather than a token array: [[WordChunks]] (the line
  * chunks of dd8 and ts13) and [[RepetitionCounts]] (ts7's line and
  * bigram counts, which need no gram strings at all; it runs the same
  * token scan and line rule as [[WordChunks]]).
  *
  * Why it exists (r16 measurement): the chain's higher-order functions —
  * the k−1 `zip_with`s and their per-element lambda `concat` — are
  * CodegenFallback, interpreted per element (boxed lambda variables, a
  * Catalyst eval tree per token); `slice`/`array_distinct`/`sort_array`
  * ARE codegen'd in Spark 4 but still each rewalk a generic array and
  * allocate an intermediate per step. Fusing the whole build into one
  * compiled loop measured (sf0.1, 5,000 docs, noop sink, min-of-3):
  * k=3 +distinct 0.68→0.20 s (the tokenize floor), k=3 +distinct+sort
  * 0.68→0.42 s (the residual IS the sort), k=8 plain 0.90→0.25 s —
  * 1.6–3.5× per evaluation, and the absolute win grows with k (more
  * zip_with levels fused away).
  *
  * Bit-parity contract (DedupSpec asserts it against the builtin chain,
  * element-exact — order and duplicates):
  *
  *   - k ≥ 2, n ≥ k tokens: the n−k+1 sliding grams, each the k tokens
  *     joined by a single space (`concat` semantics: a null token inside
  *     a window nulls that gram — unreachable from `split` output, covered
  *     for faithfulness);
  *   - n < k: ONE gram joining all tokens (`concat_ws` semantics: null
  *     tokens are SKIPPED; empty array → one empty string);
  *   - k = 1: the token array itself (n ≥ 1), or the single empty string
  *     (n = 0) — `wordGrams`' when-branch arithmetic;
  *   - null token ARRAY → null;
  *   - `distinct = true` replays `array_distinct` (first occurrence kept,
  *     at most one null kept);
  *   - `sorted = true` replays `sort_array(_, asc)` AFTER the distinct:
  *     ascending binary (UTF8) order, nulls first.
  *
  * Deliberately CodegenFallback, like [[GramHashes]] and for the same
  * measured reason: the per-row loop is one compiled Scala call either
  * way, and fallback keeps a multi-referenced array output from being
  * re-evaluated per extraction inside a fused whole-stage-codegen span.
  */
case class GramStrings(child: Expression, k: Int, distinct: Boolean,
    sorted: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if k > 0 => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"gram_strings expects array<string> and k > 0, got " +
          s"${t.simpleString} / $k")
    }

  // containsNull = true: the builtin zip_with/concat branch types its
  // element as nullable, and a null token does null its gram
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any =
    GramStrings.compute(a.asInstanceOf[ArrayData], k, distinct, sorted)

  override protected def withNewChildInternal(newChild: Expression)
  : Expression = copy(child = newChild)
}

object GramStrings {

  private val SP = UTF8String.fromString(" ")

  /** `sort_array(_, asc)` ordering: nulls first, then binary order. */
  private val ord = new java.util.Comparator[UTF8String] {
    override def compare(a: UTF8String, b: UTF8String): Int =
      if (a eq b) 0
      else if (a == null) -1
      else if (b == null) 1
      else a.compareTo(b)
  }

  /** `array_distinct` replay: first occurrence kept, one null kept. */
  private def dedup(xs: Array[UTF8String]): Array[UTF8String] = {
    val seen = new java.util.HashSet[UTF8String](xs.length * 2)
    var sawNull = false
    val out = new Array[UTF8String](xs.length)
    var w = 0
    var i = 0
    while (i < xs.length) {
      val x = xs(i)
      val fresh = if (x == null) { val f = !sawNull; sawNull = true; f }
        else seen.add(x)
      if (fresh) { out(w) = x; w += 1 }
      i += 1
    }
    if (w == xs.length) out else java.util.Arrays.copyOf(out, w)
  }

  def compute(toks: ArrayData, k: Int, distinct: Boolean, sorted: Boolean)
  : ArrayData = {
    val n = toks.numElements()
    val ss = new Array[UTF8String](n)
    var i = 0
    while (i < n) { ss(i) = toks.getUTF8String(i); i += 1 }
    val raw: Array[UTF8String] =
      if (n < k || (k == 1 && n == 0)) {
        // wordGrams' short-doc path: ONE gram, concat_ws(" ", toks) —
        // null tokens skipped, empty array → empty string
        Array(UTF8String.concatWs(SP, ss: _*))
      } else if (k == 1) {
        ss // slice(toks, 1, n) — the array itself
      } else {
        val m = n - k + 1
        val out = new Array[UTF8String](m)
        val window = new Array[UTF8String](2 * k - 1)
        var j = 1
        while (j < window.length) { window(j) = SP; j += 2 }
        var g = 0
        while (g < m) {
          var t = 0
          while (t < k) { window(2 * t) = ss(g + t); t += 1 }
          // UTF8String.concat null-propagates — matching the builtin
          // concat(tok, " ", tok, ...) inside zip_with
          out(g) = UTF8String.concat(window: _*)
          g += 1
        }
        out
      }
    val dis = if (distinct) dedup(raw) else raw
    // copy before sort: `ss` may alias the input array (k = 1)
    val res = if (sorted) {
      val c = if (dis eq ss) java.util.Arrays.copyOf(dis, dis.length) else dis
      java.util.Arrays.sort(c, ord)
      c
    } else dis
    new GenericArrayData(res.asInstanceOf[Array[AnyRef]])
  }

  def apply(c: Column, k: Int, distinct: Boolean = false,
      sorted: Boolean = false): Column =
    Bridge.column(GramStrings(Bridge.expression(c), k, distinct, sorted))
}
