package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("language id picks the language with most marker hits") {
    val df = Seq(
      "the cat of the house is a friend of the dog",
      "le chat et la maison et les amis des chiens",
      "el gato y los perros y las casas que existen",
      "xyzzy qwerty plugh").toDF("text")
    val got = df.select(TextOps.languageId(col("text")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("en", "fr", "es", "und"))
  }

  test("quality features: counts and ratios from integer arithmetic") {
    val df = Seq("the quick fox! runs.").toDF("text")
    val feats = BuiltinReferences.qualityFeatures(col("text"))
      .map { case (n, c) => c.as(n) }
    val r = df.select(feats: _*).collect().head
    assert(r.getAs[Long]("n_chars_q") == 20L)
    assert(r.getAs[Long]("n_words") == 4L)
    assert(r.getAs[Double]("punct_ratio") == 0.1) // '!' and '.'
  }

  test("token counts: whitespace vs regex tokens") {
    val df = Seq("a b  c-d").toDF("text")
    val r = df.select(
      TextOps.wordCount(col("text")).as("ws"),
      TextOps.regexTokenCount(col("text")).as("re")).collect().head
    assert(r.getAs[Int]("ws") == 3)   // a, b, c-d
    assert(r.getAs[Int]("re") == 5)   // a, b, c, -, d
  }

  test("fingerprints: md5 distinct on edit, rolling minhash deterministic") {
    val df = Seq("abcdefghijklmnop", "abcdefghijklmnoX", "abcdefghijklmnop")
      .toDF("text")
    val r = df.select(TextOps.fingerprintMd5(col("text")).as("m"),
      TextOps.rollingMinHash(col("text")).as("r")).collect()
    assert(r(0).getString(0) != r(1).getString(0))
    assert(r(0).getLong(1) == r(2).getLong(1)) // same text → same fingerprint
  }

  test("lm score: frequent-token docs score lower, OOV raises the score") {
    // corpus: "aa" 4×, "bb" 2×, "zz" 1× — vocabSize=2 keeps {aa, bb},
    // "zz" goes OOV. T=7, V=2 → p(aa)=5/10, p(bb)=3/10, p(oov)=1/10
    val df = Seq(
      (1L, "aa aa aa aa"), (2L, "bb bb"), (3L, "zz")
    ).toDF("doc_id", "text")
    val got = TextOps.lmScore(df, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == math.floor(-math.log(0.5) * 1e4 + 0.5) / 1e4, got)
    assert(got(2L) == math.floor(-math.log(0.3) * 1e4 + 0.5) / 1e4, got)
    assert(got(3L) == math.floor(-math.log(0.1) * 1e4 + 0.5) / 1e4, got)
    assert(got(1L) < got(2L) && got(2L) < got(3L))
  }

  test("repetition signals: dup lines and top bigram counted exactly") {
    // 2-word lines: "aa bb" appears 3×, "cc dd" once → 2 dup lines of 4;
    // top bigram is "aa bb" ... wait — bigrams overlap: "bb aa" too.
    // text: aa bb aa bb cc dd aa bb
    //   lines(2): [aa bb][aa bb][cc dd][aa bb] → n=4, dups=2, dup_chars=15
    //   bigrams: aa bb, bb aa, aa bb, bb cc, cc dd, dd aa, aa bb → top
    //   "aa bb"×3
    val df = Seq((1L, "aa bb aa bb cc dd aa bb")).toDF("doc_id", "text")
    val r = TextOps.repetitionSignals(df, "doc_id", "text", lineWords = 2)
      .collect().head
    assert(r.getAs[Long]("n_lines") == 4)
    assert(r.getAs[Long]("n_dup_lines") == 2)
    assert(r.getAs[Double]("dup_line_frac") == 0.5)
    // "aa bb" occurs 3× among lines → 3*5 = 15 dup chars of 20 line chars
    assert(r.getAs[Double]("dup_line_char_frac") == 0.75)
    assert(r.getAs[String]("top_bigram") == "aa bb")
    assert(r.getAs[Long]("top_bigram_count") == 3)
    // 3 * 5 chars / 23 text chars
    assert(r.getAs[Double]("top_bigram_char_frac") == 0.6522)
  }

  test("repetition signals equal their builtin reference on documents " +
      "and edges") {
    def same(df: org.apache.spark.sql.DataFrame, w: Int): Unit = {
      val k = TextOps.repetitionSignals(df, "doc_id", "text", w)
      val r = BuiltinReferences.repetitionSignals(df, "doc_id", "text", w)
      assert(k.schema == r.schema, s"w=$w")
      assert(k.exceptAll(r).isEmpty && r.exceptAll(k).isEmpty, s"w=$w")
    }
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    for (w <- Seq(2, 5)) same(docs, w)
    // empty tokens, one word, exactly w and w + 1 words, multi-byte chars
    // (length counts chars), tied bigram counts ("w x", "x y" and "z w"
    // twice each; in row 9 every bigram once) and null text (one null
    // line)
    val edges = Seq((1L, " lead"), (2L, "trail "), (3L, "a  b  a  b"),
      (4L, "one"), (5L, "a b c"), (6L, "a b c d"),
      (7L, "日本 ñandú 日本 ñandú héllo 日本 ñandú"),
      (8L, "z w x y z w x y q"), (9L, "b a a b"),
      (10L, null.asInstanceOf[String])).toDF("doc_id", "text")
    for (w <- Seq(1, 3)) same(edges, w)
    val got = TextOps.repetitionSignals(edges, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(8L).getAs[String]("top_bigram") == "w x")
    assert(got(9L).getAs[String]("top_bigram") == "a a")
    assert(got(7L).getAs[String]("top_bigram") == "日本 ñandú")
    assert(got(7L).getAs[Long]("top_bigram_count") == 3)
    val nul = got(10L)
    assert(nul.getAs[Long]("n_lines") == 1 && nul.isNullAt(4) &&
      nul.isNullAt(5) && nul.isNullAt(6))
    // "" is one empty line and one empty bigram: both forms divide by
    // its zero chars, which ANSI mode rejects
    val empty = Seq((1L, "")).toDF("doc_id", "text")
    for (e <- Seq(
        intercept[ArithmeticException](TextOps.repetitionSignals(
          empty, "doc_id", "text", 5).collect()),
        intercept[ArithmeticException](BuiltinReferences.repetitionSignals(
          empty, "doc_id", "text", 5).collect()))) {
      assert(e.getMessage.contains("DIVIDE_BY_ZERO"), e)
    }
    assert(empty.select(graft.functions.RepetitionCounts(col("text"), 5))
      .head().getStruct(0).toSeq == Seq(1L, 0L, 0L, 0L, "", 1L))
  }

  test("sequenceChunks: strided windows with truncated tails") {
    import spark.implicits._
    // 5 tokens, seqLen 3, stride 2 → starts 0,2,4: [a b c][c d e][e]
    val df = Seq((1L, "a b c d e"), (2L, "x")).toDF("doc_id", "text")
    val got = TextOps.sequenceChunks(df, "doc_id", "text", 3, 2)
      .orderBy("doc_id", "seq_no").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      (1L, 0L, 3L, "a b c"),
      (1L, 1L, 3L, "c d e"),
      (1L, 2L, 1L, "e"),
      (2L, 0L, 1L, "x")))
    // overlap accounting: consecutive windows share seqLen - stride tokens
    val full = TextOps.sequenceChunks(
        Seq((1L, (1 to 100).map(i => s"t$i").mkString(" ")))
          .toDF("doc_id", "text"), "doc_id", "text", 32, 24)
      .orderBy("seq_no").collect()
    assert(full.length == 5)           // ceil(100 / 24)
    assert(full.take(3).forall(_.getLong(2) == 32))
    assert(full(4).getLong(2) == 100 - 4 * 24)  // truncated tail
  }

  test("packSequences: chunks bin at their start offset, per shard") {
    import spark.implicits._
    // shard 0 gets docs 0 and 2, shard 1 gets docs 1 and 3 (mod 2)
    val chunks = Seq(
      (0L, 0L, 3L), (0L, 1L, 3L), (2L, 0L, 4L),
      (1L, 0L, 2L), (3L, 0L, 4L)
    ).toDF("doc_id", "seq_no", "n_tokens")
    val got = TextOps.packSequences(chunks, "doc_id", "seq_no",
        "n_tokens", binTokens = 5, nShards = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // shard 0 offsets: 0, 3, 6 → bins 0, 0, 1
    assert(got((0L, 0L)) == ((2L, 6L)), got)
    assert(got((0L, 1L)) == ((1L, 4L)), got)
    // shard 1 offsets: 0, 2 → both bin 0
    assert(got((1L, 0L)) == ((2L, 6L)), got)
    assert(got.size == 3)
  }

  test("nbQualityScore: tokens of the positive class raise the score") {
    import spark.implicits._
    // class-pure vocabularies: "good"/"fine" appear only in pos docs,
    // "spam"/"junk" only in neg docs
    val df = Seq(
      (1L, "good fine good fine", true),
      (2L, "good good fine fine", true),
      (3L, "spam junk spam junk", false),
      (4L, "spam spam junk junk", false),
      (5L, "good fine spam junk", true) // mixed content
    ).toDF("doc_id", "text", "pos")
    val got = TextOps.nbQualityScore(df, "doc_id", "text", col("pos"),
        vocabSize = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got(1L)._1 == 4L, "all tokens in vocab")
    assert(got(1L)._2 > 0 && got(2L)._2 > 0, s"pos docs score > 0: $got")
    assert(got(3L)._2 < 0 && got(4L)._2 < 0, s"neg docs score < 0: $got")
    // the mixed doc sits between the pure classes
    assert(got(5L)._2 > got(3L)._2 && got(5L)._2 < got(1L)._2, got)
  }

  test("redactPii: typed placeholders, counts taken before replacement") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org or call 555-123-4567 now"),
      (2L, "server at 192.168.0.1 and 10.0.0.2 responded"),
      (3L, "no personal data in this row at all"),
      (4L, "a@b.io b@c.io 555-000-1111 1.2.3.4")
    ).toDF("doc_id", "text")
    val got = TextOps.redactPii(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getString(4)))
      .toMap
    assert(got(1L) == ((1L, 1L, 0L),
      "mail <EMAIL> or call <PHONE> now"))
    assert(got(2L) == ((0L, 0L, 2L),
      "server at <IP> and <IP> responded"))
    assert(got(3L) == ((0L, 0L, 0L),
      "no personal data in this row at all"))
    assert(got(4L) == ((2L, 1L, 1L), "<EMAIL> <EMAIL> <PHONE> <IP>"))
  }

  test("dsir weights: target-like docs score higher, raw-only lower") {
    import spark.implicits._
    // raw corpus: "aa" is target-flavored, "zz" never appears in target
    val raw = Seq(
      (1L, "aa aa aa aa"), (2L, "zz zz zz zz"), (3L, "aa aa zz zz")
    ).toDF("doc_id", "text")
    val target = Seq((10L, "aa aa aa")).toDF("doc_id", "text")
    val got = TextOps.dsirWeights(raw, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // hand-computed: V=2 (raw vocab {aa,zz}), raw T=12, target T=3
    // w(aa) = ln(4/6) - ln(7/15); w(zz) = ln(1/6) - ln(7/15)
    val wAa = math.log(4.0 / 6) - math.log(7.0 / 15)
    val wZz = math.log(1.0 / 6) - math.log(7.0 / 15)
    def r4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    assert(got(1L) == r4(wAa), got)
    assert(got(2L) == r4(wZz), got)
    assert(got(3L) == r4((wAa + wZz) / 2), got)
    assert(got(1L) > got(3L) && got(3L) > got(2L))
  }

  test("heuristic clean: short lines, blocklist lines and thin docs drop") {
    import spark.implicits._
    val df = Seq(
      // 2 full clean lines + short tail → kept, tail dropped
      (1L, "a b c d e f g h i j kk"),
      // line 2 contains the blocklisted 'spamword' → dropped
      (2L, "a b c d e spamword g h i j k l m n o"),
      // only one line survives → doc dropped (minLinesKept = 2)
      (3L, "a b c d e spamword w x y z")
    ).toDF("doc_id", "text")
    val got = TextOps.heuristicClean(df, "doc_id", "text", lineWords = 5,
        badWords = Seq("spamword"), minLineWords = 3, minLinesKept = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == (("a b c d e f g h i j", 2L, 1L)))
    assert(got(2L) == (("a b c d e k l m n o", 2L, 1L)))
  }

  test("heuristic clean: blocklist match is case-insensitive (C4 style)") {
    import spark.implicits._
    val df = Seq(
      // 'JavaScript' must hit the lowercase 'javascript' blocklist entry
      (1L, "a b c d e JavaScript g h i j k l m n o"),
      // blocklist entry given in mixed case must still hit lowercase text
      (2L, "a b c d e cookienote g h i j k l m n o")
    ).toDF("doc_id", "text")
    val got = TextOps.heuristicClean(df, "doc_id", "text", lineWords = 5,
        badWords = Seq("javascript", "CookieNote"), minLineWords = 3,
        minLinesKept = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "a b c d e k l m n o", got)
    assert(got(2L) == "a b c d e k l m n o", got)
  }

  test("dsir weights: target == raw makes every weight exactly zero") {
    import spark.implicits._
    val raw = Seq((1L, "aa bb cc"), (2L, "bb cc dd"), (3L, "ee"))
      .toDF("doc_id", "text")
    val got = TextOps.dsirWeights(raw, raw, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.values.forall(_ == 0.0), got)
  }

  test("heuristic clean equals an explode-based reference on random docs") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "badw", "dd")
    val docs = (1L to 60L).map { i =>
      val n = 1 + rng.nextInt(23)
      (i, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val got = TextOps.heuristicClean(docs, "doc_id", "text", lineWords = 4,
      badWords = Seq("badw"), minLineWords = 2, minLinesKept = 1)
    // reference: explode the same chunks, filter, reassemble
    val ref = docs
      .select(col("doc_id"),
        posexplode(Dedup.wordChunks(col("text"), 4)).as(Seq("pos", "line")))
      .withColumn("toks", split(col("line"), " "))
      .withColumn("ok",
        size(col("toks")) >= 2 && !array_contains(col("toks"), "badw"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(expr("transform(array_sort(filter(" +
          "collect_list(struct(pos, line, ok)), p -> p.ok)), " +
          "p -> p.line)"), " ").as("clean_text"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_lines_kept"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_lines_dropped"))
      .filter(col("n_lines_kept") >= 1)
    val g = got.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val r = ref.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(g == r)
  }

  test("zipf fit reproduces the closed-form integer least squares") {
    import spark.implicits._
    val docs = Seq((1L, "a a a a b b c")).toDF("doc_id", "text")
    val got = TextOps.zipfFit(docs, "text", topK = 100).collect().head
    // replicate the micro-unit regression: ranks 1..3, freqs 4, 2, 1
    val pts = Seq((1L, 4L), (2L, 2L), (3L, 1L)).map { case (r, f) =>
      (math.round(math.log(r.toDouble) * 1e6),
        math.round(math.log(f.toDouble) * 1e6))
    }
    val n = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx)
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(0) == 3L)
    assert(got.getDouble(1) == r4(slope), got)
    assert(got.getDouble(2) ==
      r4((sy / 1e6 - slope * (sx / 1e6)) / n), got)
  }

  test("lexical diversity: distinct-over-total token ratio per doc") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "x y z"), (3L, "w w w w"))
      .toDF("doc_id", "text")
    val got = TextOps.lexicalDiversity(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 2L, 0.6667)), got)
    assert(got(2L) == ((3L, 3L, 1.0)), got)
    assert(got(3L) == ((4L, 1L, 0.25)), got)
  }

  test("winsorized length stats clip at the exact percentile cuts") {
    import spark.implicits._
    val docs = (1 to 20).map(i => (i.toLong, Seq.fill(i)("w").mkString(" "),
      "en")).toDF("doc_id", "text", "lang")
    val got = TextOps.winsorizedLengthStats(docs, "text", "lang")
      .collect().head
    // lengths 1..20: p05 = 1.95, p95 = 19.05 (linear interpolation);
    // winsorized mean = (1.95 + (2+...+19) + 19.05) / 20 = 10.5
    assert(got.getString(0) == "en")
    assert(got.getLong(1) == 20L)
    assert(got.getLong(2) == 1L && got.getLong(3) == 1L, got)
    assert(got.getDouble(4) == 1.95 && got.getDouble(5) == 19.05, got)
    assert(got.getDouble(6) == 10.5, got)
  }

  test("perplexity buckets: uniform scores collapse to a single head row") {
    import spark.implicits._
    val docs = (1L to 6L).map(i => (i, "aa aa aa", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextOps.perplexityBuckets(docs, "doc_id", "text", "lang",
      vocabSize = 1).collect()
    assert(got.length == 1 && got.head.getString(1) == "head", got.toSeq)
    assert(got.head.getLong(2) == 6L)
  }

  test("perplexity buckets: terciles partition each group, head <= tail") {
    import spark.implicits._
    // 9 docs in one lang with strictly increasing OOV fraction → strictly
    // increasing avg_nll → terciles of 3/3/3
    val docs = (1 to 9).map { i =>
      val toks = Seq.fill(9 - i)("aa") ++ Seq.fill(i)(s"oov$i")
      (i.toLong, toks.mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
    val got = TextOps.perplexityBuckets(docs, "doc_id", "text", "lang",
        vocabSize = 1)
      .collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getDouble(4))).toMap
    assert(got.keySet == Set("head", "middle", "tail"))
    assert(got.values.map(_._1).toSeq.sorted == Seq(3L, 3L, 3L))
    assert(got("head")._2 < got("middle")._2)
    assert(got("middle")._2 < got("tail")._2)
  }

  test("bigram LM: add-one conditional probabilities, all in vocab") {
    import spark.implicits._
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // counts: a=3 b=2 c=1, V=3; c2: (a,b)=2 (b,a)=1 (a,c)=1
    // doc1: -[2·ln(3/7) + ln(2/6)]/3 ; doc2: -ln(2/7)
    val got = TextOps.bigramLmScore(docs, "doc_id", "text", vocabSize = 10)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val d1 = -(2 * math.log(3.0 / 7) + math.log(2.0 / 6)) / 3
    assert(got(0) == ((1L, BigDecimal(d1).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble, 3L)), got.toSeq)
    assert(got(1) == ((2L, BigDecimal(-math.log(2.0 / 7)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble, 1L)), got.toSeq)
  }

  test("bigram LM: OOV context scores uniform, OOV target keeps +1 mass") {
    import spark.implicits._
    val docs = Seq((1L, "a c"), (2L, "c a")).toDF("doc_id", "text")
    // vocabSize=1 → vocab={a} (cnt 2): (a,c) = 1/(2+1+1); (c,a) = 1/2
    val got = TextOps.bigramLmScore(docs, "doc_id", "text", vocabSize = 1)
      .orderBy("doc_id").collect().map(r => r.getDouble(1))
    assert(got(0) == BigDecimal(math.log(4.0)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble, got.toSeq)
    assert(got(1) == BigDecimal(math.log(2.0)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble, got.toSeq)
  }

  test("encoding signals: tombstones/control chars flag, accents pass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean ascii text"),
      (2L, "café résumé naïve ok"), // accents, < 30%
      (3L, "bad � here"),
      (4L, "bellchar"),
      (5L, "éééé")) // 100% non-ASCII
      .toDF("doc_id", "text")
    val got = TextOps.encodingSignals(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(5))).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false,
      5L -> false), got)
  }

  test("readability: flesch and fk-grade from the three counts") {
    import spark.implicits._
    val docs = Seq((1L, "The cat sat. The dog ran!")).toDF("doc_id", "text")
    val r = TextOps.readability(docs, "doc_id", "text").collect().head
    // 2 sentences, 6 words, 6 vowel-group syllables → wps=3, spw=1
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((2L, 6L, 6L)), r)
    assert(r.getDouble(4) == BigDecimal(206.835 - 1.015 * 3 - 84.6)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, r)
    assert(r.getDouble(5) == BigDecimal(0.39 * 3 + 11.8 - 15.59)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, r)
  }

  test("kneserNeyScore: hand-computed interpolated-KN bigram NLL") {
    import spark.implicits._
    // corpus: "a b a b" + "b a" → model (a,b):2, (b,a):2; each context
    // total 2, 1 forward type, 1 backward type, 2 bigram types overall.
    // P(b|a) = (2−0.75 + 0.75·1·(1/2)) / 2 = 0.8125 = P(a|b)
    val docs = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val got = TextOps.kneserNeyScore(docs, "doc_id", "text",
        vocabSize = 20, discount = 0.75)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val nll = BigDecimal(-math.log(0.8125))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq((1L, nll, 3L), (2L, nll, 1L)), got.toSeq)
  }

  test("kneserNeyScore: discounted mass sums to 1 over each context") {
    import spark.implicits._
    // score single-bigram probe docs for every vocab pair over a mixed
    // corpus; per context, Σ_cur exp(−nll) must be 1 (KN is a proper
    // conditional distribution when every context total is positive)
    val corpus = Seq((1L, "x y z x y x z z y x"), (2L, "y x z y y"))
      .toDF("doc_id", "text")
    val vocab = Seq("x", "y", "z")
    val probes = (for {
      (p, i) <- vocab.zipWithIndex
      (c, j) <- vocab.zipWithIndex
    } yield ((100 + i * 3 + j).toLong, s"$p $c")).toDF("doc_id", "text")
    // train on corpus+probes together (the function trains on its input);
    // probe ids are distinct so their rows read back cleanly
    val all = corpus.unionByName(probes)
    val scored = TextOps.kneserNeyScore(all, "doc_id", "text",
        vocabSize = 3, discount = 0.75)
      .filter(col("doc_id") >= 100).collect()
      .map(r => (r.getLong(0), math.exp(-r.getDouble(1)))).toMap
    for ((p, i) <- vocab.zipWithIndex) {
      val mass = (0 until 3).map(j => scored((100 + i * 3 + j).toLong)).sum
      assert(math.abs(mass - 1.0) < 1e-3,
        s"context $p mass $mass (4dp rounding tolerance exceeded)")
    }
  }

  test("sentenceStats: segmentation, word counts, trailing fragment") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello world. How are you today? Ok"),
      (2L, "no terminators at all"),
      (3L, "!!! ...")).toDF("doc_id", "text")
    val got = TextOps.sentenceStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    // doc 1: "Hello world." | "How are you today?" | "Ok" → 2,4,1 words
    // doc 2: one unterminated sentence of 4 words
    // doc 3: "!!!" has no non-terminator char so no match starts there;
    //        " ..." matches via its leading space and trims to "..." — a
    //        surviving 1-"word" run (only whitespace-blank runs drop)
    assert(got.toSeq == Seq((1L, 3L, 7L, 2.3333, 4L),
      (2L, 1L, 4L, 4.0, 4L), (3L, 1L, 1L, 1.0, 1L)), got.toSeq)
  }
}
