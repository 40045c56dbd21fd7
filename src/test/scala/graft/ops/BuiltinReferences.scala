package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Builtin-only formulations that the compiled kernels replaced, kept as
  * the references the parity tests replay them against.
  */
object BuiltinReferences {

  /** [[Dedup.wordChunks]] as the builtin chain: split, then one
    * `array_join(slice(...))` per chunk inside a `transform`.
    */
  def wordChunks(text: Column, w: Int): Column = {
    val ws = split(text, " ")
    val nChunks = greatest(
      ceil(size(ws).cast("double") / w).cast("int"), lit(1))
    transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(ws, i * w + 1, lit(w)), " "))
  }

  /** [[TextOps.repetitionSignals]] as builtin folds: duplicate runs are
    * counted in one pass over the SORTED line/gram arrays via `aggregate`
    * with a struct accumulator; ties for the top bigram resolve to the
    * first max run in sorted order.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
      lineWords: Int = 5): DataFrame = {
    val base = df.select(col(idCol), length(col(textCol)).as("n_chars"),
      wordChunks(col(textCol), lineWords).as("lines"),
      graft.functions.GramStrings(split(col(textCol), " "), 2,
        distinct = false, sorted = true).as("grams"))
    // chars in lines whose within-doc occurrence count is >1 (both
    // members of a pair count)
    val dupChars = aggregate(array_sort(col("lines")),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("dup")),
      (acc, l) => {
        val run = when(l === acc("prev"), acc("run") + 1).otherwise(lit(1L))
        val add = when(run === 2, length(l).cast("long") * 2)
          .when(run > 2, length(l).cast("long")).otherwise(lit(0L))
        struct(l.as("prev"), run.as("run"), (acc("dup") + add).as("dup"))
      },
      st => st("dup"))
    // longest run in the sorted gram array = max bigram frequency
    val top = aggregate(col("grams"),
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit("").as("bestg")),
      (acc, g) => {
        val run = when(g === acc("prev"), acc("run") + 1).otherwise(lit(1L))
        val isBest = run > acc("best")
        struct(g.as("prev"), run.as("run"),
          when(isBest, run).otherwise(acc("best")).as("best"),
          when(isBest, g).otherwise(acc("bestg")).as("bestg"))
      })
    val staged = base.select(col(idCol), col("n_chars"),
      size(col("lines")).cast("long").as("n_lines"),
      (size(col("lines")) - size(array_distinct(col("lines"))))
        .cast("long").as("n_dup_lines"),
      aggregate(col("lines"), lit(0L), (a, l) => a + length(l))
        .as("line_chars"),
      dupChars.as("dup_line_chars"),
      top.as("topst"))
      .withColumn("top_bigram_count", col("topst.best"))
      .withColumn("top_bigram", col("topst.bestg"))
    staged.select(col(idCol), col("n_lines"), col("n_dup_lines"),
      round(col("n_dup_lines").cast("double") / col("n_lines"), 4)
        .as("dup_line_frac"),
      round(col("dup_line_chars").cast("double") / col("line_chars"), 4)
        .as("dup_line_char_frac"),
      col("top_bigram"), col("top_bigram_count"),
      round(col("top_bigram_count") * length(col("top_bigram"))
        .cast("double") / col("n_chars"), 4).as("top_bigram_char_frac"))
  }
}
