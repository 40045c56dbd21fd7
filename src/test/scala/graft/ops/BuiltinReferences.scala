package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Builtin-only formulations that the compiled kernels replaced, kept as
  * the references the parity tests replay them against, and the plain
  * forms that main code no longer calls but the specs still check.
  */
object BuiltinReferences {

  /** [[Dedup.wordGrams]] as the builtin chain (k slices zip_with'd, one
    * O(n) pass), docs shorter than k yielding their whole text as the
    * single gram.
    */
  def wordGramsChain(toks: Column, k: Int): Column = {
    val len = greatest(size(toks) - (k - 1), lit(1))
    val joined = (0 until k)
      .map(i => slice(toks, lit(i + 1), len))
      .reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    when(size(toks) < k, array(concat_ws(" ", toks))).otherwise(joined)
  }

  /** [[Dedup.minhashSignatures]] as the builtin chain (numHashes×
    * transform + array_min over the distinct [[wordGramsChain]] grams).
    */
  def minhashSignaturesChain(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame = {
    val sh = df.select(col(idCol), Dedup.tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        array_distinct(wordGramsChain(col("toks"), k)).as("shingles"))
      .withColumn("bh", transform(col("shingles"), s => xxhash64(s)))
    val sigCols = (0 until numHashes).map { i =>
      array_min(transform(col("bh"), h => xxhash64(h, lit(i)))).as(s"h$i")
    }
    sh.select(col(idCol) +: sigCols: _*)
  }

  /** [[Dedup.simhash64]] as the builtin chain: 64 aggregate folds over the
    * token hashes, OR-ed together.
    */
  def simhash64Chain(df: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val withHashes = df.select(col(idCol),
      transform(Dedup.tokens(col(textCol)), t => xxhash64(t)).as("thashes"))
    val fp = (0 until 64).map { i =>
      val bitSum = aggregate(col("thashes"), lit(0),
        (acc, h) => acc +
          when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(bitSum > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    withHashes.select(col(idCol), fp.as("simhash"))
  }

  /** The exact all-pairs scan (upper-triangle cross join, O(n²)) that
    * [[Similarity.thresholdPairs]]' strategies must equal.
    */
  def thresholdPairsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** The quality features of one text column in one call, recomputing
    * the counts that [[TextOps.rawCounts]] selects once.
    */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val chars = length(text)
    Seq("n_chars_q" -> chars.cast("long"),
      "n_words" -> TextOps.wordCount(text).cast("long")) ++
      TextOps.qualityFeaturesFromCounts(chars, TextOps.wordCount(text),
        TextOps.punctCount(text), TextOps.markerCount(text, TextOps.stopwords))
  }

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
