package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: language ID
  * (stopword-marker heuristic), quality scoring (length/word/stopword
  * ratios), token counting (whitespace + regex), and document
  * fingerprinting. All pure Catalyst expressions — codegen'd, no UDFs,
  * embarrassingly parallel (no shuffle at all until a later groupBy).
  */
object TextOps {

  /** Count of whole-word occurrences of any marker, e.g. `\b(the|a)\b`. */
  def markerCount(text: Column, markers: Seq[String]): Column =
    regexp_count(lower(text), lit("\\b(" + markers.mkString("|") + ")\\b"))

  /** Language-marker heuristic: score each language by its stopword-marker
    * hits; highest score wins, ties broken by language code order, zero
    * hits → "und". N-gram-frequency LID reduced to its Spark shape: a few
    * codegen'd regex counters + an argmax `when` chain.
    */
  def languageScores(text: Column): Seq[(String, Column)] = Seq(
    "en" -> markerCount(text, Seq("the", "a", "of", "and", "is")),
    "fr" -> markerCount(text, Seq("le", "la", "et", "les", "des")),
    "es" -> markerCount(text, Seq("el", "los", "las", "y", "que")))

  def languageId(text: Column): Column = {
    val scores = languageScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, score), acc) =>
      when(score > 0 && score === best, lit(lang)).otherwise(acc)
    }
  }

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "is", "to", "in")

  /** Whitespace token count. */
  def wordCount(text: Column): Column = size(split(text, "\\s+"))

  /** BPE-ish regex token count: word pieces + standalone punctuation. */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"))

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9\\s]"))

  /** Raw per-doc counts — the expensive regex/split passes, each exactly
    * once. Everything downstream (features, score) is plain arithmetic over
    * these columns; materialize them in one projection and derive in the
    * next so each regex runs once per doc, not once per derived column
    * (CollapseProject keeps multi-referenced non-cheap projections apart).
    * long casts: DuckDB length()/len() return BIGINT — keep dtypes equal.
    */
  def rawCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_chars" -> length(text).cast("long"),
    "n_words" -> wordCount(text).cast("long"),
    "n_stops" -> markerCount(text, stopwords).cast("long"),
    "n_punct" -> punctCount(text).cast("long"))

  /** Quality ratio features derived from [[rawCounts]] columns — zero regex
    * work.
    */
  def qualityFeaturesFromCounts(chars: Column, words: Column,
      punct: Column, stops: Column): Seq[(String, Column)] = Seq(
    "avg_word_len" -> round(chars.cast("double") / words, 4),
    "stopword_ratio" -> round(stops.cast("double") / words, 4),
    "punct_ratio" -> round(punct.cast("double") / chars, 4))

  /** Composite quality score in [0,1] from [[rawCounts]] columns: penalizes
    * very short docs, rewards stopword presence (natural-language prior),
    * penalizes punctuation excess. Deterministic integer-derived arithmetic
    * (cross-engine exact).
    */
  def qualityScoreFromCounts(chars: Column, words: Column, punct: Column,
      stops: Column): Column = {
    val w = words.cast("double")
    val lengthTerm = least(w / 50.0, lit(1.0))
    val stopTerm = least((stops.cast("double") / w) * 5.0, lit(1.0))
    val punctTerm = greatest(
      lit(1.0) - (punct.cast("double") / chars.cast("double")) * 10.0,
      lit(0.0))
    round((lengthTerm + stopTerm + punctTerm) / 3.0, 4)
  }

  /** Exact corpus TF-IDF: per-(doc, term) score = tf × ln(N/df).
    * SINGLE tokenize pass: term frequency aggregates the exploded token
    * relation by (doc, term); document frequency is derived FROM tf
    * (`tf.groupBy(term).count()` — tf has exactly one row per (doc, term),
    * so the count ≡ `countDistinct(doc)`) and joined back on term.
    *
    * The df-side aggregate is partial-aggregated (map-side combined), so a
    * hot term ("the" ≈ every doc) collapses to one row per map task before
    * its shuffle, and the join-back on term sits where AQE's skew-join
    * splitting applies — unlike the `count().over(Window.partitionBy
    * (term))` formulation (kept as [[tfidfWindowed]]), which must land
    * EVERY (doc, hot-term) row in one window task with no AQE relief: a
    * ~10¹⁰-row single-task straggler at web scale. The df relation is
    * vocabulary-sized and unbounded (no broadcast hint — the planner/AQE
    * sizes it).
    *
    * `cacheTf` (default true) persists the tf relation (MEMORY_AND_DISK,
    * spillable) so the tokenize+aggregate pass runs once — without it the
    * df branch re-derives the token relation (ReuseExchange does NOT dedup
    * it: column pruning rewrites the df branch's aggregate, so the
    * exchange subtrees differ) for a second full scan+regex+explode of
    * the corpus. Both are linear and partition-local; pass false where
    * cache memory is scarcer than a re-scan. Corpus size N broadcasts as
    * a 1-row relation.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
      cacheTf: Boolean = true): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(lower(col(textCol)), "\\s+")).as("term"))
    val tf0 = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val tf = if (cacheTf)
      tf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else tf0
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("term"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4)
          .as("tfidf"))
  }

  /** The window-df formulation of [[tfidf]]: one lineage, no cache, one
    * in-partition sort — fine for SMALL corpora where no term's posting
    * list strains a single task, but the hot-term window partition makes
    * it a straggler at corpus scale (see [[tfidf]]'s scaladoc). Kept as
    * the documented small-corpus variant; results are identical.
    */
  def tfidfWindowed(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(lower(col(textCol)), "\\s+")).as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy("term")))
    val n = docs.agg(count(lit(1)).as("n"))
    withDf.crossJoin(broadcast(n))
      .select(col(idCol), col("term"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4)
          .as("tfidf"))
  }

  /** Gopher-style within-document repetition signals: duplicate-line
    * fraction, duplicate-line character fraction, and the most common word
    * bigram with its character coverage — the filters MassiveText applies
    * before training. Entirely ROW-LOCAL (zero shuffles, embarrassingly
    * parallel): every count comes from one compiled pass per document
    * ([[graft.functions.RepetitionCounts]]: hash counts over the lines and
    * bigrams, O(L) per doc). Lines are `lineWords`-word chunks (see
    * [[Dedup.wordChunks]]); ties for the top bigram resolve to the
    * smallest in UTF-8 binary order.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
      lineWords: Int = 5): DataFrame =
    // the struct lands whole (one evaluation per row), fields split next
    df.select(col(idCol), length(col(textCol)).as("n_chars"),
        graft.functions.RepetitionCounts(col(textCol), lineWords).as("r"))
      .select(col(idCol), col("r.n_lines").as("n_lines"),
        col("r.n_dup_lines").as("n_dup_lines"),
        round(col("r.n_dup_lines").cast("double") / col("r.n_lines"), 4)
          .as("dup_line_frac"),
        round(col("r.dup_line_chars").cast("double") / col("r.line_chars"),
          4).as("dup_line_char_frac"),
        col("r.top_bigram").as("top_bigram"),
        col("r.top_bigram_count").as("top_bigram_count"),
        round(col("r.top_bigram_count") * length(col("r.top_bigram"))
          .cast("double") / col("n_chars"), 4).as("top_bigram_char_frac"))

  /** CCNet-style language-model document scoring: train a unigram LM on
    * the corpus (top-`vocabSize` terms by frequency, add-one smoothing over
    * the pruned vocabulary, everything else scored as out-of-vocabulary),
    * then score each document by the average negative log-probability of
    * its tokens — low scores ≈ fluent/in-domain, high ≈ noise. The pruned
    * LM is SMALL BY DESIGN (real pipelines ship a fixed-vocab KenLM the
    * same way) → broadcast, so the token relation is scored map-side; the
    * only shuffles are the vocabulary count aggregate and the per-doc
    * average — both map-side combined and key-balanced.
    *
    * p(known term) = (count + 1) / (T + V + 1); p(OOV) = 1 / (T + V + 1),
    * where T = total corpus tokens and V = pruned vocabulary size — the
    * +1 mass is what keeps OOV finite. Top-K ties break lexicographically.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 1000): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(lower(col(textCol)), "\\s+")).as("term"))
    // ONE training pass (r16): the full term-count relation is
    // vocabulary-sized — eager-checkpoint IT, then both the pruned vocab
    // (sort+limit) and the token total (t_total = Σ cnt ≡ the old
    // toks.count pass, exactly) derive from the checkpoint leaf instead
    // of each re-running the corpus scan+explode+aggregate (the old
    // shape paid that full pass 3× per call: vocab, totals, scoring).
    // Truncation still stops the broadcasts re-deriving anything.
    val termCounts = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    // vocab/totals deliberately carry NO checkpoint of their own: their
    // subtrees re-enter the plan once per consumer, but over the
    // vocabulary-sized checkpoint LEAF — a top-K and a one-row sum, not
    // corpus passes (A/B'd against eager-checkpointing them too: two
    // extra construction-time jobs for no measured win)
    val vocab = termCounts
      .orderBy(col("cnt").desc, col("term")).limit(vocabSize)
    val totals = termCounts
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("t_total"))
      .crossJoin(vocab.agg(count(lit(1)).as("v_size")))
    toks
      .join(broadcast(vocab), Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        (-log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
          (col("t_total") + col("v_size") + 1))).as("nll"))
      .groupBy(col(idCol))
      .agg(round(avg(col("nll")), 4).as("avg_nll"),
        count(lit(1)).as("n_tokens"))
  }

  /** Bigram LM fluency scoring — the order-2 upgrade of [[lmScore]]: each
    * document is scored by the average negative log conditional probability
    * of its token bigrams under a corpus-trained, vocabulary-pruned bigram
    * model with add-one smoothing.
    *
    * p(cur|prev) = (c(prev,cur) + 1) / (c(prev) + V + 1) when prev is in
    * the top-V vocabulary (c(prev,cur) counted only for in-vocab pairs —
    * out-of-vocab `cur` falls through to the +1 mass via the COALESCE);
    * prev out of vocabulary scores the uniform 1 / (V + 1).
    *
    * Scale shape: bigram pairs are built ROW-LOCALLY from the token array
    * (transform over positions — no self-join on (doc, pos), which would
    * shuffle the corpus twice); the model is bounded by construction
    * (≤ V unigram rows, ≤ V² bigram rows — both broadcast, like KenLM
    * shipping a fixed-vocab model), so scoring is map-side and the only
    * shuffles are the two count aggregates (map-side combined) and the
    * final per-doc average. Docs with fewer than two tokens contribute no
    * bigrams and drop out (no 0/0 row).
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 20): DataFrame = {
    val base = docs.select(col(idCol),
      split(lower(col(textCol)), "\\s+").as("ws"))
    val toks = base.select(col(idCol), explode(col("ws")).as("term"))
    // EAGER checkpoints on the tiny vocab/model relations — each roots
    // several broadcast subtrees (vb joins, prev_cnt, v_size), and
    // truncation stops every broadcast re-deriving them from a fresh
    // corpus scan (see kneserNeyScore for the same shape)
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(vocabSize)
      .localCheckpoint(true)
    // sequence(1, n-1) flips to a DESCENDING range when n < 2 — gate the
    // explode on size so one-token docs emit nothing instead of garbage
    val bigrams = base.filter(size(col("ws")) >= 2)
      .select(col(idCol),
        explode(transform(sequence(lit(1), size(col("ws")) - 1), i =>
          struct(element_at(col("ws"), i).as("prev"),
            element_at(col("ws"), i + 1).as("cur")))).as("b"))
      .select(col(idCol), col("b.prev").as("prev"), col("b.cur").as("cur"))
    val model = bigrams
      .join(broadcast(vocab.select(col("term").as("prev"))), Seq("prev"))
      .join(broadcast(vocab.select(col("term").as("cur"))), Seq("cur"))
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
    val totals = vocab.agg(count(lit(1)).as("v_size"))
    bigrams
      .join(broadcast(vocab.select(col("term").as("prev"),
        col("cnt").as("prev_cnt"))), Seq("prev"), "left")
      .join(broadcast(model), Seq("prev", "cur"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        when(col("prev_cnt").isNotNull,
          -log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
            (col("prev_cnt") + col("v_size") + 1)))
          .otherwise(-log(lit(1.0) / (col("v_size") + 1))).as("nll"))
      .groupBy(col(idCol))
      .agg(round(avg(col("nll")), 4).as("avg_nll"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Interpolated Kneser-Ney bigram scoring — the smoothing that actually
    * ships in n-gram LMs (Chen & Goodman 1999): mass is discounted from
    * seen bigrams by a fixed `discount` and redistributed via the
    * CONTINUATION probability (how many distinct left-contexts a word
    * follows — "francisco" is frequent but only ever follows "san", so it
    * gets little backoff mass), where ts17's add-one gives every unseen
    * pair the same pseudo-count. Closed-vocabulary evaluation: only
    * bigrams with BOTH endpoints in the top-`vocabSize` vocab are scored
    * (docs with none drop out), so every scored pair is in the model
    * (trained on the same corpus), denominators are ≥ 1, and the replay
    * is exact:
    *
    *   P(w2|w1) = (max(c(w1,w2)−D, 0) + D·N1+(w1·)·Pcont(w2)) / c(w1·)
    *   Pcont(w2) = N1+(·w2) / |distinct bigram types|
    *
    * Scale shape: the model lives on ≤ V² rows — all four stat relations
    * broadcast, scoring is one map-side join chain over the corpus bigram
    * stream; the one wide shuffle is the per-doc average.
    */
  def kneserNeyScore(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 20, discount: Double = 0.75): DataFrame = {
    val base = docs.select(col(idCol),
      split(lower(col(textCol)), "\\s+").as("ws"))
    val toks = base.select(col(idCol), explode(col("ws")).as("term"))
    // EAGER checkpoints on the two tiny relations (V and ≤V² rows): each
    // is the root of several broadcast subtrees, and without truncation
    // every broadcast re-derives it from a fresh corpus scan — at 100 TB
    // that is the difference between 3 corpus reads and 6+
    val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(vocabSize)
      .select(col("term"))
      .localCheckpoint(true)
    val bigrams = base.filter(size(col("ws")) >= 2)
      .select(col(idCol),
        explode(transform(sequence(lit(1), size(col("ws")) - 1), i =>
          struct(element_at(col("ws"), i).as("prev"),
            element_at(col("ws"), i + 1).as("cur")))).as("b"))
      .select(col(idCol), col("b.prev").as("prev"), col("b.cur").as("cur"))
    // the in-vocab bigram stream is both the training relation (model
    // counts) and the scoring relation — one definition, two consumers
    val vb = bigrams
      .join(broadcast(vocab.select(col("term").as("prev"))), Seq("prev"))
      .join(broadcast(vocab.select(col("term").as("cur"))), Seq("cur"))
    val model = vb.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
    val ctx = model.groupBy(col("prev"))
      .agg(sum(col("c2")).as("c1v"), count(lit(1)).as("n_fwd"))
    val cont = model.groupBy(col("cur")).agg(count(lit(1)).as("n_bwd"))
    val types = model.agg(count(lit(1)).as("t_types"))
    val d = lit(discount)
    vb.join(broadcast(model), Seq("prev", "cur"))
      .join(broadcast(ctx), Seq("prev"))
      .join(broadcast(cont), Seq("cur"))
      .crossJoin(broadcast(types))
      .select(col(idCol),
        (-log((greatest(col("c2") - d, lit(0.0)) +
            d * col("n_fwd") * (col("n_bwd").cast("double") / col("t_types"))) /
          col("c1v"))).as("nll"))
      .groupBy(col(idCol))
      .agg(round(avg(col("nll")), 4).as("avg_nll"),
        count(lit(1)).as("n_scored"))
  }

  /** Encoding-noise signals — the mojibake/control-character gate a crawl
    * pipeline runs before any linguistic filter: counts of U+FFFD
    * replacement characters (the tombstone a lossy transcode leaves),
    * C0 control characters (excluding \t \n \r), and non-ASCII characters,
    * plus a keep verdict: clean = no tombstones, no control chars, and
    * non-ASCII below 30% of characters (accented-language text passes,
    * binary-in-text garbage fails). The ratio test is INTEGER arithmetic
    * (10·n_nonascii ≤ 3·n_chars) so the verdict replays bit-exact. All
    * three counts are row-local codegen'd regex — zero shuffles.
    */
  def encodingSignals(df: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      length(t).cast("long").as("n_chars"),
      regexp_count(t, lit("�")).cast("long").as("n_replacement"),
      regexp_count(t, lit("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"))
        .cast("long").as("n_ctrl"),
      regexp_count(t, lit("[^\\x00-\\x7F]")).cast("long").as("n_nonascii"))
      .withColumn("is_clean",
        col("n_replacement") === 0 && col("n_ctrl") === 0 &&
          col("n_nonascii") * 10 <= col("n_chars") * 3)
  }

  /** Content fingerprint: md5 (cross-engine checkable). */
  def fingerprintMd5(text: Column): Column = md5(text.cast("binary"))

  /** Fixed-length training-sequence chunking with stride overlap — the
    * tokenize-and-chunk step every LM pretraining pipeline runs between
    * curation and batching: each document yields windows of `seqLen`
    * whitespace tokens starting every `stride` tokens (overlap =
    * seqLen − stride; tail windows are truncated, their true length is in
    * `n_tokens`). Entirely ROW-LOCAL — a per-doc window array exploded to
    * (doc, seq_no) rows, no shuffle — so it composes map-side after any
    * curation pass; at 100 TB the output partitioning is inherited from
    * the corpus scan. Sequence starts are deterministic (`i·stride`), so
    * the relation is exactly reproducible cross-engine (full oracle).
    */
  /** Sentence segmentation + per-doc sentence statistics — the
    * paragraph/sentence structure probe (mean/max sentence length is a
    * standard quality dimension next to ts2's char ratios: machine-
    * generated and boilerplate text skews short-flat or run-on-long).
    * Sentences are maximal `[^.!?]+[.!?]*` runs (a negated class + greedy
    * tail — deliberately lookbehind-free so the exact pattern replays on
    * RE2 engines), blank-trimmed runs dropped. Everything is ROW-LOCAL
    * array algebra (regexp_extract_all → filter → transform → aggregate)
    * inside whole-stage codegen — zero shuffles, no explode round-trip;
    * the integer word counts make avg = sum/count bit-replayable.
    */
  def sentenceStats(df: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val sents = filter(
      regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]*"), lit(0)),
      s => trim(s) =!= "")
    df.select(col(idCol), sents.as("sents"))
      .filter(size(col("sents")) > 0)
      .select(col(idCol),
        size(col("sents")).cast("long").as("n_sentences"),
        transform(col("sents"),
          x => size(split(trim(x), "\\s+")).cast("long")).as("wc"))
      .select(col(idCol), col("n_sentences"),
        aggregate(col("wc"), lit(0L), (a, x) => a + x).as("total_words"),
        round(aggregate(col("wc"), lit(0L), (a, x) => a + x)
          .cast("double") / col("n_sentences"), 4).as("avg_words"),
        array_max(col("wc")).as("max_words"))
  }

  def sequenceChunks(df: DataFrame, idCol: String, textCol: String,
      seqLen: Int, stride: Int): DataFrame = {
    require(seqLen > 0 && stride > 0 && stride <= seqLen,
      s"need 0 < stride <= seqLen, got stride=$stride seqLen=$seqLen")
    val ws = split(col(textCol), " ")
    val nSeq = greatest(
      ceil(size(ws).cast("double") / stride).cast("int"), lit(1))
    df.select(col(idCol),
        posexplode(transform(sequence(lit(0), nSeq - 1),
          i => slice(ws, i * stride + 1, lit(seqLen))))
          .as(Seq("seq_no", "toks")))
      .select(col(idCol), col("seq_no").cast("long").as("seq_no"),
        size(col("toks")).cast("long").as("n_tokens"),
        array_join(col("toks"), " ").as("seq_text"))
  }

  /** GPT-style sequence packing: training chunks are laid end to end in
    * deterministic (doc, seq) order and cut into `binTokens`-token bins —
    * each chunk lands in the bin where its start offset falls (the
    * concatenate-then-cut layout pretraining batches actually use; a
    * greedy no-straddle packer is a sequential recurrence and does not
    * parallelize). Packing runs PER SHARD (`idCol % nShards`): the
    * running-offset window partitions by shard, so the corpus is never
    * funneled through one global sort task — shards are the output files
    * a real batch writer produces anyway. Output: one row per
    * (shard, bin) with its sequence count and token fill.
    */
  def packSequences(chunks: DataFrame, idCol: String, seqNoCol: String,
      nToksCol: String, binTokens: Int, nShards: Int = 32): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"))
      .orderBy(col(idCol), col(seqNoCol))
    chunks
      .withColumn("shard", pmod(col(idCol), lit(nShards)).cast("long"))
      .withColumn("start_off",
        sum(col(nToksCol)).over(w) - col(nToksCol))
      .withColumn("bin", floor(col("start_off") / binTokens))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col(nToksCol)).as("n_tokens"))
      .select(col("shard"), col("bin"), col("n_seqs"), col("n_tokens"))
  }

  /** Rolling-hash fingerprint: min xxhash64 over char 8-gram windows —
    * a winnowing-style content signature robust to small edits.
    */
  def rollingMinHash(text: Column, window: Int = 8): Column =
    array_min(transform(
      sequence(lit(0), greatest(length(text) - window, lit(0))),
      i => xxhash64(text.substr(i + lit(1), lit(window)))))

  /** Corpus-trained Naive-Bayes quality classifier — the linear
    * fasttext-style scorer every curation stack runs after the heuristic
    * gates (train on weak labels, score everything). `labelCol` is the
    * boolean weak label (e.g. heuristic quality ≥ threshold; BOTH classes
    * must be non-empty). Training: token counts per (term, class) over
    * the `vocabSize` most frequent terms (ties lexicographic), add-one
    * smoothing over the vocab mass. Scoring: per-doc sum of per-term
    * log-likelihood ratios + the class-prior log-odds, rounded once.
    * Only docs with ≥ 1 in-vocab token appear in the output (OOV terms
    * carry no signal under a vocab-restricted model).
    *
    * Shape at scale: one token explode feeding a term-keyed count
    * aggregate (map-side combined), the model lands as a broadcast vocab
    * relation + one scalar row; scoring is a map-side join + one
    * doc-keyed aggregate. Same layout as [[lmScore]] — nothing keyed on
    * a skew-prone value except the capped vocab count itself.
    */
  def nbQualityScore(docs: DataFrame, idCol: String, textCol: String,
      labelCol: Column, vocabSize: Int = 1000): DataFrame = {
    val base = docs.select(col(idCol), lower(col(textCol)).as("t"),
      labelCol.as("pos"))
    val toks = base.select(col(idCol), col("pos"),
      explode(split(col("t"), "\\s+")).as("term"))
    // EAGER checkpoints (the ts17/lm2 shape): vocab roots two broadcast
    // subtrees, totals one — truncation caps the corpus token passes
    val vocab = toks.groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("pos"), 1L).otherwise(0L)).as("pos_cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(vocabSize)
      .withColumn("neg_cnt", col("cnt") - col("pos_cnt"))
      .localCheckpoint(true)
    val totals = vocab
      .agg(sum(col("pos_cnt")).as("pos_toks"),
        sum(col("neg_cnt")).as("neg_toks"), count(lit(1)).as("v"))
      .crossJoin(base.agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("pos_docs"),
        count(lit(1)).as("n_docs")))
      .localCheckpoint(true)
    toks.join(broadcast(vocab), Seq("term"))
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        (log((col("pos_cnt") + 1).cast("double") /
            (col("pos_toks") + col("v") + 1)) -
          log((col("neg_cnt") + 1).cast("double") /
            (col("neg_toks") + col("v") + 1))).as("llr"),
        log(col("pos_docs").cast("double") /
          (col("n_docs") - col("pos_docs"))).as("prior_lr"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_vocab_tokens"),
        round(first(col("prior_lr")) + sum(col("llr")), 4).as("score"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", re-expressed relationally):
    * score every raw-corpus document by how much more likely its tokens are
    * under a unigram model of the TARGET domain than under the raw corpus'
    * own model — the per-token average log-ratio
    * `avg_t [ ln p_target(t) − ln p_raw(t) ]`, the quantity DSIR samples
    * against. Both models use add-one smoothing over the raw vocabulary
    * (p(t) = (count+1)/(T+V+1), the [[lmScore]] estimator), so
    * target-unseen terms score as target-OOV rather than −∞.
    *
    * Shape at scale (the [[tfidf]] layout): ONE tokenize pass over the raw
    * corpus into a persisted (doc, term, tf) relation feeding both the
    * raw count aggregate and the scoring join; raw and target term counts
    * are map-side combined; the scoring join is term-keyed where AQE's
    * skew splitting applies (hot stopwords), with NO broadcast hint on the
    * count relations — they are vocabulary-sized but unbounded, so the
    * planner/AQE sizes them. Totals cross the plan as one broadcast row.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, cacheTf: Boolean = true): DataFrame = {
    def toks(df: DataFrame) = df.select(col(idCol),
      explode(split(lower(col(textCol)), "\\s+")).as("term"))
    val tf0 = toks(raw).groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val tf = if (cacheTf)
      tf0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else tf0
    // both term-level model relations feed TWO plan sites (the scoring
    // join and the totals row) — eager checkpoints stop the second site
    // re-running the tf-cache pass / the target-corpus scan
    val rawCnt = tf.groupBy(col("term")).agg(sum(col("tf")).as("raw_cnt"))
      .localCheckpoint(true)
    val tgtCnt = toks(target).groupBy(col("term"))
      .agg(count(lit(1)).as("tgt_cnt"))
      .localCheckpoint(true)
    val totals = rawCnt
      .agg(sum(col("raw_cnt")).as("raw_total"), count(lit(1)).as("v"))
      .crossJoin(tgtCnt.agg(sum(col("tgt_cnt")).as("tgt_total")))
    tf.join(rawCnt, Seq("term"))
      .join(tgtCnt, Seq("term"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol), col("tf"),
        (col("tf") *
          (log((coalesce(col("tgt_cnt"), lit(0L)) + 1).cast("double") /
            (col("tgt_total") + col("v") + 1)) -
           log((col("raw_cnt") + 1).cast("double") /
             (col("raw_total") + col("v") + 1)))).as("w"))
      .groupBy(col(idCol))
      // + 0.0 normalizes IEEE −0.0 (a near-zero ratio rounded to 4 can
      // land on either zero depending on the engine's rounding path)
      .agg((round(sum(col("w")) / sum(col("tf")), 4) + lit(0.0))
        .as("dsir_weight"),
        sum(col("tf")).as("n_tokens"))
  }

  /** C4-style heuristic line cleaning — the rule-based gate C4 runs BEFORE
    * any corpus-frequency pass: drop every line that is too short
    * (< `minLineWords` words) or contains a blocklisted term (C4 drops
    * lines with "javascript", cookie/policy boilerplate, etc. — matched
    * CASE-INSENSITIVELY, as C4's badword line filter is), reassemble
    * documents from the surviving lines, and drop documents left with
    * fewer than `minLinesKept` lines. Lines are `lineWords`-word chunks on
    * this newline-free corpus ([[Dedup.wordChunks]], as in
    * [[Dedup.lineDedup]]).
    *
    * Entirely ROW-LOCAL — the line array is built (one compiled pass,
    * [[graft.functions.WordChunks]]), filtered (higher-order `filter` over
    * per-line token arrays, interpreted: CodegenFallback in Spark 4.1) and
    * re-joined inside one projection; zero shuffles, partitioning
    * inherited from the corpus scan. This is the designed contrast to
    * [[Dedup.lineDedup]]: C4's HEURISTIC gate needs no corpus statistics,
    * so it composes map-side ahead of the frequency-based passes and costs
    * one scan at any corpus size.
    */
  def heuristicClean(docs: DataFrame, idCol: String, textCol: String,
      lineWords: Int = 5, badWords: Seq[String] = Seq("javascript"),
      minLineWords: Int = 3, minLinesKept: Int = 2): DataFrame = {
    val bad = typedlit(badWords.map(_.toLowerCase))
    // per-line token arrays built once; kept = long enough, no blocklist
    // hit (tokens lowercased for the MATCH only — surviving lines rebuild
    // from the original-case tokens)
    val lineToks = transform(Dedup.wordChunks(col(textCol), lineWords),
      l => split(l, " "))
    val keptToks = filter(lineToks,
      t => size(t) >= minLineWords &&
        !arrays_overlap(transform(t, w => lower(w)), bad))
    docs.select(col(idCol), size(lineToks).as("n_lines"),
        transform(keptToks, t => array_join(t, " ")).as("kept"))
      .filter(size(col("kept")) >= minLinesKept)
      .select(col(idCol),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("kept")).cast("long").as("n_lines_kept"),
        (col("n_lines") - size(col("kept"))).cast("long")
          .as("n_lines_dropped"))
  }

  /** CCNet-style perplexity bucketing: score every document with the
    * corpus [[lmScore]] LM, split each language into head / middle / tail
    * at the per-language score TERCILES, and report per-(lang, bucket)
    * accounting — the partition CCNet publishes and downstream sampling
    * draws from (head = most fluent third).
    *
    * Buckets come from exact percentile CUT POINTS, not `ntile`: an
    * `ntile(3) over (partition by lang ...)` must route every document of
    * a language through ONE window task (the [[tfidfWindowed]] straggler
    * shape — English would be a single-task sort of most of a 100 TB
    * corpus), while `percentile` is an aggregate: map-side partial on the
    * doc relation, one row per lang out, joined back as a broadcast-sized
    * cut relation. Scores are rounded (4) before the percentile so the
    * aggregation buffer is value-bucketed and the cuts replay exactly in
    * the oracle; docs AT a cut fall into the lower bucket (`<=`).
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, vocabSize: Int = 1000): DataFrame = {
    val scored = lmScore(docs, idCol, textCol, vocabSize)
      .join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
    val cuts = scored.groupBy(col(groupCol))
      .agg(round(expr("percentile(avg_nll, 1.0D / 3.0D)"), 6).as("c1"),
        round(expr("percentile(avg_nll, 2.0D / 3.0D)"), 6).as("c2"))
    scored.join(cuts, Seq(groupCol))
      .withColumn("bucket",
        when(col("avg_nll") <= col("c1"), "head")
          .when(col("avg_nll") <= col("c2"), "middle")
          .otherwise("tail"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        round(avg(col("avg_nll")), 4).as("mean_nll"))
  }

  /** PII patterns shared by counting and redaction. Kept to the
    * RE2-compatible subset (no backreferences/lookaround) so the same
    * pattern strings run identically under Java regex (Spark) and RE2
    * (DuckDB oracle, most production scrubbers).
    */
  private[graft] val piiPatterns: Seq[(String, String, String)] = Seq(
    // order matters: emails first (their dotted domains would otherwise
    // partially match nothing here, but keeping one canonical order makes
    // the replacement cascade deterministic and oracle-replayable)
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
      "<EMAIL>"),
    ("phone", "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** C4/CCNet-style PII scrubbing: emails, phone numbers and IPv4
    * addresses replaced with typed placeholder tokens, with per-doc match
    * counts (the redaction audit columns a compliance pass publishes).
    * Entirely ROW-LOCAL — a fixed cascade of codegen'd regexp_replace /
    * regexp_count over each document, zero shuffles, partitioning
    * inherited from the corpus scan. Counts are taken BEFORE any
    * replacement so an email's digits can never be double-counted by the
    * phone pattern's scan of the rewritten text.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = piiPatterns.map { case (name, pat, _) =>
      regexp_count(col(textCol), lit(pat)).cast("long").as(s"n_$name")
    }
    val redacted = piiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pat, token)) => regexp_replace(c, pat, token)
    }
    df.select(col(idCol) +: counts :+ redacted.as("redacted_text"): _*)
  }

  /** Zipf rank-frequency fit: least-squares slope (and intercept) of
    * ln(freq) against ln(rank) over the corpus's `topK` most frequent
    * terms — the one-row corpus-health diagnostic (natural text sits near
    * slope −1; templated/boilerplate-heavy corpora flatten, spam steepens).
    *
    * Scale + determinism shape: term frequencies are one map-side-combined
    * aggregate; the top-K cut is `orderBy().limit()` — Spark plans
    * TakeOrderedAndProject, a distributed per-partition top-K + merge,
    * NEVER a single-task global sort of the vocabulary (the window-rank
    * formulation would be exactly that). The regression itself runs on
    * INTEGER micro-units — each ln is rounded once to 1e-6 and cast to
    * long, so Σx, Σy, Σxy, Σx² are exact integer sums (no
    * float-accumulation order sensitivity; the tp2 basis-points trick) and
    * the slope is one deterministic double division at the end. The only
    * non-distributed step is the K-row window that assigns ranks — K rows
    * by construction.
    */
  def zipfFit(docs: DataFrame, textCol: String, topK: Int = 100)
  : DataFrame = {
    val top = docs
      .select(explode(Dedup.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("term"))
    val xy = top
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(
        round(log(col("rank").cast("double")) * 1e6).cast("long").as("x"),
        round(log(col("freq").cast("double")) * 1e6).cast("long").as("y"))
    val slope = (col("n_terms") * col("sxy") - col("sx") * col("sy"))
      .cast("double") /
      (col("n_terms") * col("sxx") - col("sx") * col("sx")).cast("double")
    xy.agg(count(lit(1)).as("n_terms"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_terms"),
        round(slope, 4).as("zipf_slope"),
        round((col("sy").cast("double") / 1e6 -
          slope * (col("sx").cast("double") / 1e6)) / col("n_terms"), 4)
          .as("zipf_intercept"))
  }

  /** Lexical diversity (type-token ratio) per document: distinct-token
    * count over token count — the Gopher-family vocabulary-flatness
    * signal (templated/keyword-stuffed docs sit near 0, natural prose
    * higher). Entirely ROW-LOCAL (`array_distinct` over the one tokenize
    * pass), zero shuffles, partitioning inherited from the scan.
    */
  def lexicalDiversity(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    docs.select(col(idCol), toks.as("toks"))
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_types"))
      .withColumn("ttr",
        round(col("n_types").cast("double") / col("n_tokens"), 4))
  }

  /** Winsorized per-group length statistics: clip token counts at the
    * group's [`lo`, `hi`] percentiles and report the clipped mean with
    * clip accounting — the outlier-robust length profile a curation run
    * publishes per language (a handful of pathological megadocs otherwise
    * dominate the plain mean).
    *
    * Scale + determinism shape: cuts come from exact `percentile`
    * AGGREGATES (map-side partial, one row per group, broadcast back) —
    * never a per-group window sort, the [[perplexityBuckets]] argument.
    * Cuts are rounded once (6 dp) so they replay exactly in DuckDB's
    * `quantile_cont`; the clipped mean is summed in INTEGER micro-units
    * (each clipped value rounded once to 1e-6 — the same
    * order-insensitive integer-sum trick as [[zipfFit]]) and divided
    * once at the end.
    */
  def winsorizedLengthStats(docs: DataFrame, textCol: String,
      groupCol: String, lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val base = docs.select(col(groupCol),
      size(split(col(textCol), "\\s+")).cast("long").as("n_words"))
    val cuts = base.groupBy(col(groupCol)).agg(
      round(expr(s"percentile(n_words, ${lo}D)"), 6).as("lo_cut"),
      round(expr(s"percentile(n_words, ${hi}D)"), 6).as("hi_cut"))
    val clippedMicro = round(least(
      greatest(col("n_words").cast("double") * 1e6, col("lo_cut") * 1e6),
      col("hi_cut") * 1e6)).cast("long")
    base.join(broadcast(cuts), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_words") < col("lo_cut"), 1L).otherwise(0L))
          .as("n_clipped_low"),
        sum(when(col("n_words") > col("hi_cut"), 1L).otherwise(0L))
          .as("n_clipped_high"),
        max(col("lo_cut")).as("lo_cut"),
        max(col("hi_cut")).as("hi_cut"),
        round(sum(clippedMicro).cast("double") / 1e6 / count(lit(1)), 4)
          .as("win_mean_words"))
  }

  /** Flesch reading-ease and Flesch–Kincaid grade from three regex counts
    * — sentences (`[.!?]+` runs), words (whitespace split, the catalog's
    * standard token idiom), syllables (the classic vowel-group heuristic:
    * `[aeiouy]+` runs on the lowercased text). Entirely row-local (zero
    * shuffles, codegen'd regex — no UDF), so it composes map-side into a
    * quality gate at any corpus size. The two ratios are computed once
    * each and combined left-associatively so the doubles replay bit-exact
    * in an oracle engine; sentence count is floored at 1 (a fragment with
    * no terminator is one sentence).
    */
  def readability(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val nSent = greatest(regexp_count(col(textCol), lit("[.!?]+")), lit(1))
    val nWords = size(split(col(textCol), "\\s+"))
    val nSyll = regexp_count(lower(col(textCol)), lit("[aeiouy]+"))
    val staged = df.select(col(idCol),
      nSent.cast("long").as("n_sentences"),
      nWords.cast("long").as("n_words"),
      nSyll.cast("long").as("n_syllables"))
    val wps = col("n_words").cast("double") / col("n_sentences")
    val spw = col("n_syllables").cast("double") / col("n_words")
    staged.select(col(idCol), col("n_sentences"), col("n_words"),
      col("n_syllables"),
      round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 4)
        .as("flesch"),
      round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 4)
        .as("fk_grade"))
  }
}
