package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // two near-duplicates (one word changed), one exact dup pair, one distinct
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy cat again and again today"),
    (3L, "completely different content about spark query engines at scale"),
    (4L, "completely different content about spark query engines at scale"),
    (5L, "unrelated text regarding benchmark suites and parquet readers here")
  ).toDF("doc_id", "text")

  // connectedComponents under every driver-finish bound: 0 runs every
  // round on the cluster, 1 and 3 switch to the driver mid-loop, None is
  // the public overload (finishes on the driver from the first count).
  // All must give the same (id -> component) map in the input id type.
  private def components(pairs: org.apache.spark.sql.DataFrame,
      a: String, b: String, jump: Boolean = false): Map[Any, Any] = {
    val byBound = Seq(Some(0L), Some(1L), Some(3L), None).map { bound =>
      val cc = bound.fold(Dedup.connectedComponents(pairs, a, b,
        jump = jump))(Dedup.connectedComponents(pairs, a, b, 25, jump, _))
      val idType = pairs.schema(a).dataType
      assert(cc.schema.map(_.dataType) == Seq(idType, idType), cc.schema)
      bound -> cc.collect().map(r => r.get(0) -> r.get(1)).toMap
    }
    val (_, want) = byBound.last
    byBound.foreach { case (bound, got) =>
      assert(got == want, s"bound $bound: $got vs $want")
    }
    want
  }

  test("exact dedup groups identical texts under min-id representative") {
    val got = Dedup.exact(docs, "text", "doc_id")
      .select("rep_id", "n_dupes").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(3L) == 2)          // 3 and 4 collapse
    assert(got(1L) == 1 && got(2L) == 1 && got(5L) == 1)
  }

  test("canonical dedup groups case/punctuation variants of one content") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello, World!"),
      (2L, "hello world"),
      (3L, "HELLO -- WORLD??"),
      (4L, "hello there world")
    ).toDF("doc_id", "text")
    val got = Dedup.canonicalDedup(df, "doc_id", "text")
      .select("rep_id", "n_dupes").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 4L -> 1L), got)
  }

  test("minhash+LSH surfaces the near-duplicate pair, not unrelated docs") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 64)
    val bands = Dedup.lshBands(sig, "doc_id", 16, 4)
    val pairs = Dedup.lshCandidatePairs(bands, "doc_id")
    val est = Dedup.estimateJaccard(pairs, sig, "doc_id", 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(est.contains((1L, 2L)), "near-dup pair must be a candidate")
    assert(est((1L, 2L)) > 0.4, "estimated jaccard should be substantial")
    assert(est.contains((3L, 4L)) && est((3L, 4L)) == 1.0)
    assert(!est.keySet.exists { case (a, b) => Set(a, b).contains(5L) })
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    val fp = Dedup.simhash64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fp(3L) == fp(4L))                        // identical text
    assert(hamming(fp(1L), fp(2L)) <= 16)           // near-dup
    assert(hamming(fp(1L), fp(5L)) > 16)            // unrelated
  }

  test("ngram jaccard: exact pair at 1.0, near pair high, others filtered") {
    val blocked = docs.withColumn("grp", lit("all"))
    val got = Dedup.ngramJaccardPairs(blocked, "doc_id", "text",
        Seq("grp"), 3, 0.2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(got((3L, 4L)) == 1.0)
    assert(got((1L, 2L)) > 0.4 && got((1L, 2L)) < 1.0)
    assert(!got.keySet.exists { case (a, b) => Set(a, b).contains(5L) })
    // the pairs close into the two duplicate clusters at every bound
    val pairs = Dedup.ngramJaccardPairs(blocked, "doc_id", "text",
      Seq("grp"), 3, 0.2).select("doc_a", "doc_b")
    assert(components(pairs, "doc_a", "doc_b") ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("embedding near-dup: cosine pairs contract to min-id representative") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.04f, 0.0f)),   // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f)),      // orthogonal
      (4L, Array(1.0f, 0.01f, 0.0f))      // near-dup of 1 and 2
    ).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(vecs, "vec_id", "embedding", 0.95,
        dim = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got(2L) == ((1L, 1L)))         // 2 dupes 1
    assert(got(4L) == ((1L, 2L)))         // 4 dupes both 1 and 2
    assert(!got.contains(1L) && !got.contains(3L))  // representatives survive
  }

  test("ngram jaccard DF cutoff drops hot-gram buckets (stays sub-quadratic)") {
    // 30 docs in one block sharing ONLY the stop-gram "the quick brown";
    // each doc's remaining grams are unique. With maxDocFreq below the
    // block size the hot bucket is excluded: zero pairs emitted instead of
    // 30·29/2 = 435 — the cost bound a stop-gram-heavy 100× corpus needs.
    val hot = (1 to 30).map(i =>
      (i.toLong, s"the quick brown unique$i gram$i tail$i"))
      .toDF("doc_id", "text").withColumn("grp", lit("all"))
    val capped = Dedup.ngramJaccardPairs(hot, "doc_id", "text",
      Seq("grp"), 3, 0.0, maxDocFreq = 10)
    assert(capped.count() == 0, "hot-gram bucket must be dropped")
    // uncapped control: the same stop-gram generates all 435 pairs
    val uncapped = Dedup.ngramJaccardPairs(hot, "doc_id", "text",
      Seq("grp"), 3, 0.0, maxDocFreq = 1000)
    assert(uncapped.count() == 435L)
  }

  test("lshCandidatePairs: no sort or window in the bucket plan") {
    // pairs are emitted in-task from collected buckets (one groupBy on the
    // bucket key); the old window-count sizing forced a sort inside the
    // band exchange — lock the sort-free shape in
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 64)
    val bands = Dedup.lshBands(sig, "doc_id", 16, 4)
    val plan = Dedup.lshCandidatePairs(bands, "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("Sort ["), plan.take(2000))
  }

  test("lshCandidatePairs maxBucket drops degenerate constant-text buckets") {
    // constant corpus: every doc lands in the SAME bucket of every band —
    // uncapped that is all n(n-1)/2 pairs; the cap trades that recall for
    // a hard cost bound (the web-scale constant-boilerplate case)
    val const = (1 to 20).map(i => (i.toLong, "same text in every doc here"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(const, "doc_id", "text", 3, 64)
    val bands = Dedup.lshBands(sig, "doc_id", 16, 4)
    assert(Dedup.lshCandidatePairs(bands, "doc_id").count() == 190L)
    assert(Dedup.lshCandidatePairs(bands, "doc_id", maxBucket = 10)
      .count() == 0L)
  }

  test("native SimHash64 equals the 64-fold builtin chain on random docs") {
    val rnd = new scala.util.Random(20260812L)
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "juliet")
    val texts = (0 until 80).map { i =>
      (i.toLong, (0 until rnd.nextInt(40)).map(_ =>
        words(rnd.nextInt(words.size))).mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    val native = Dedup.simhash64(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chain = BuiltinReferences.simhash64Chain(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == chain)
  }

  test("native MinHashSigs equals the builtin transform+array_min chain") {
    val rnd = new scala.util.Random(20260812L)
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox")
    val texts = (0 until 60).map { i =>
      (i.toLong, (0 until rnd.nextInt(30)).map(_ =>
        words(rnd.nextInt(words.size))).mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.orderBy(col("doc_id")).collect()
        .map(r => (0 until r.length).map(i =>
          if (r.isNullAt(i)) null else r.get(i)).toSeq).toSeq
    val native = rows(Dedup.minhashSignatures(df, "doc_id", "text", 3, 16))
    val chain = rows(BuiltinReferences.minhashSignaturesChain(df, "doc_id",
      "text", 3, 16))
    assert(native == chain)
  }

  test("GramHashes equals the builtin gram+xxhash64 chain, incl. edges") {
    // the r15 fused expression must replay transform(wordGrams(toks,k),
    // xxhash64) bit-exact — up to the deliberately-skipped array_distinct
    // (min-insensitive; compared here as SETS) — on every edge the
    // builtin path can produce: short docs (< k tokens), single-token,
    // empty text ("" splits to [""]), multi-space runs, and null text
    val df = Seq(
      (1L, "alpha bravo charlie delta alpha bravo charlie"),
      (2L, "one two"), (3L, "single"), (4L, ""),
      (5L, "a  b   c"), (6L, null.asInstanceOf[String]),
      (7L, "dup dup dup dup")).toDF("doc_id", "text")
    for (k <- Seq(1, 2, 3)) {
      val toks = Dedup.tokens(col("text"))
      val fused = df.select(col("doc_id"),
        graft.functions.GramHashes(toks, k).as("h"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Long](1).toSet)).toMap
      val chainCol =
        if (k == 1) transform(toks, t => xxhash64(t))
        else transform(array_distinct(Dedup.wordGrams(toks, k)),
          g => xxhash64(g))
      val chain = df.select(col("doc_id"), chainCol.as("h"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Long](1).toSet)).toMap
      assert(fused == chain, s"k=$k")
      // ELEMENT-exact (order + duplicates) vs the NON-distinct chain —
      // the spanDedup/spanContaminationReport hashKeys path posexplodes
      // the fused output, so positions and multiplicity are load-bearing
      // there, not just the value set (ADVICE r15)
      val fusedEl = df.select(col("doc_id"),
        graft.functions.GramHashes(toks, k).as("h"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Long](1).toList)).toMap
      val chainElCol =
        if (k == 1) transform(toks, t => xxhash64(t))
        else transform(BuiltinReferences.wordGramsChain(toks, k),
          g => xxhash64(g))
      val chainEl = df.select(col("doc_id"), chainElCol.as("h"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Long](1).toList)).toMap
      assert(fusedEl == chainEl, s"element-exact k=$k")
    }
    // the seeded + distinct form (blockedGramKeys' shape) must replay
    // array_distinct(transform(wordGrams, g => xxhash64(block..., g)))
    // ELEMENT-EXACT (order + values): seeding with xxhash64(blocks) is
    // the same left-to-right child chaining
    val blocked = df.withColumn("lang", lit("en"))
      .withColumn("source", lit("web"))
    val toks = Dedup.tokens(col("text"))
    val fusedB = blocked.select(col("doc_id"),
        graft.functions.GramHashes(toks, 3,
          xxhash64(col("lang"), col("source")), distinct = true).as("h"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1).toList)).toMap
    val chainB = blocked.select(col("doc_id"),
        array_distinct(transform(Dedup.wordGrams(toks, 3),
          g => xxhash64(col("lang"), col("source"), g))).as("h"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1).toList)).toMap
    assert(fusedB == chainB)
  }

  test("GramStrings equals the builtin gram chain, all modes, incl. edges") {
    // the r16 fused string-gram expression must replay the builtin chain
    // ELEMENT-exact (order + duplicates) in every mode:
    //   plain     = wordGramsChain(toks, k)
    //   distinct  = array_distinct(wordGramsChain(toks, k))
    //   sorted    = sort_array(array_distinct(wordGramsChain(toks, k)))
    // on the same edges as GramHashes: short docs (< k tokens),
    // single-token, empty text ("" splits to [""]), multi-space runs,
    // null text, and heavy duplication
    val df = Seq(
      (1L, "alpha bravo charlie delta alpha bravo charlie"),
      (2L, "one two"), (3L, "single"), (4L, ""),
      (5L, "a  b   c"), (6L, null.asInstanceOf[String]),
      (7L, "dup dup dup dup"),
      (8L, "z y x w z y x w z y")).toDF("doc_id", "text")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[String](1).toList)).toMap
    for (k <- Seq(1, 2, 3, 9)) {
      val toks = Dedup.tokens(col("text"))
      val chain = BuiltinReferences.wordGramsChain(toks, k)
      assert(rows(df.select(col("doc_id"),
          graft.functions.GramStrings(toks, k).as("g"))) ==
        rows(df.select(col("doc_id"), chain.as("g"))), s"plain k=$k")
      assert(rows(df.select(col("doc_id"),
          graft.functions.GramStrings(toks, k, distinct = true).as("g"))) ==
        rows(df.select(col("doc_id"), array_distinct(chain).as("g"))),
        s"distinct k=$k")
      assert(rows(df.select(col("doc_id"), graft.functions.GramStrings(
          toks, k, distinct = true, sorted = true).as("g"))) ==
        rows(df.select(col("doc_id"),
          sort_array(array_distinct(chain)).as("g"))), s"sorted k=$k")
      // non-distinct sorted (the ts7 repetitionSignals shape)
      assert(rows(df.select(col("doc_id"), graft.functions.GramStrings(
          toks, k, distinct = false, sorted = true).as("g"))) ==
        rows(df.select(col("doc_id"), sort_array(chain).as("g"))),
        s"sorted non-distinct k=$k")
    }
    // null TOKENS inside the array (unreachable from split — the contract
    // covers them for faithfulness): a null inside a sliding window nulls
    // that gram (concat), the short-doc path skips them (concat_ws), and
    // sort_array puts the null gram first
    val withNulls = Seq(
      (1L, Seq("a", null, "b", "c")),
      (2L, Seq(null, "x")),
      (3L, Seq[String](null, null))).toDF("doc_id", "toks")
    for (k <- Seq(1, 2, 3, 5)) {
      val chain = BuiltinReferences.wordGramsChain(col("toks"), k)
      assert(rows(withNulls.select(col("doc_id"),
          graft.functions.GramStrings(col("toks"), k).as("g"))) ==
        rows(withNulls.select(col("doc_id"), chain.as("g"))),
        s"null-tokens plain k=$k")
      assert(rows(withNulls.select(col("doc_id"), graft.functions
          .GramStrings(col("toks"), k, distinct = true, sorted = true)
          .as("g"))) ==
        rows(withNulls.select(col("doc_id"),
          sort_array(array_distinct(chain)).as("g"))),
        s"null-tokens sorted k=$k")
    }
  }

  test("WordChunks equals the builtin chunk chain on documents and edges") {
    def same(df: org.apache.spark.sql.DataFrame, w: Int): Unit = {
      val k = df.select(col("doc_id"), Dedup.wordChunks(col("text"), w)
        .as("lines"))
      val r = df.select(col("doc_id"),
        BuiltinReferences.wordChunks(col("text"), w).as("lines"))
      assert(k.schema == r.schema, s"w=$w")
      assert(k.exceptAll(r).isEmpty && r.exceptAll(k).isEmpty, s"w=$w")
    }
    val docs = spark.read.parquet(s"$sf01/documents.parquet")
    for (w <- Seq(1, 5)) same(docs, w)
    // empty tokens from leading, trailing and doubled spaces; one word;
    // exactly w and w + 1 words; multi-byte chars; null text (one null
    // line, as the builtin gives)
    val edges = Seq((1L, ""), (2L, " lead"), (3L, "trail "), (4L, "  "),
      (5L, "a  b   c d"), (6L, "one"), (7L, "a b c"), (8L, "a b c d"),
      (9L, "héllo wörld ñandú 日本語 テキスト ok"),
      (10L, null.asInstanceOf[String])).toDF("doc_id", "text")
    for (w <- Seq(1, 3)) same(edges, w)
    val got = edges.select(col("doc_id"), Dedup.wordChunks(col("text"), 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq(""))
    assert(got(5L) == Seq("a  b", "  c", "d"))
    assert(got(8L) == Seq("a b c", "d"))
    assert(got(10L) == Seq(null))
  }

  test("loopParts: 32MB/task rule, floor 1, cluster-derived cap") {
    // KB-scale loop relations collapse to one task
    assert(Dedup.loopParts(1000L, 32L, 32) == 1)
    // ~64 MB at 32 B rows → 2 tasks (the 32 MB/task rule)
    assert(Dedup.loopParts(2L * 1024 * 1024, 32L, 32) == 2)
    // the cap is max(4096, 128 × parallelism), not a constant (VERDICT
    // r15 item 4): 1 TB of 32 B rows wants 32768 tasks — a 32-core local
    // box clamps at 4096, a 64-way cluster at 8192, a 512-way cluster
    // takes the full width
    val tb = (1L << 40) / 32L
    assert(Dedup.loopParts(tb, 32L, 32) == 4096)
    assert(Dedup.loopParts(tb, 32L, 64) == 8192)
    assert(Dedup.loopParts(tb, 32L, 512) == 32768)
  }

  test("barrier is a semantic identity (incl. key-only relations)") {
    val df = Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("id", "s", "v")
    val b = Dedup.barrier(df, "id")
    assert(b.columns.toSeq == Seq("id", "s", "v"))
    assert(b.collect().map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2))).sorted.toSeq == Seq((1L, "a", 2.0), (2L, "b", 3.0)))
    val keyOnly = Dedup.barrier(df.select("id"), "id")
    assert(keyOnly.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("wordGrams equals the naive slice formulation on random docs") {
    // the zip_with rewrite must produce exactly the grams of the reference
    // transform(sequence)+slice form it replaced, including docs shorter
    // than k (whole text as the single gram) and empty text
    val rnd = new scala.util.Random(20260812L)
    val words = Vector("a", "bb", "ccc", "dog", "fox", "x1", "yz")
    val texts = (0 until 60).map { i =>
      (i.toLong, (0 until rnd.nextInt(8)).map(_ =>
        words(rnd.nextInt(words.size))).mkString(" "))
    } :+ (60L -> "")
    val df = texts.toDF("id", "text")
      .select(col("id"), Dedup.tokens(col("text")).as("toks"))
    for (k <- Seq(2, 3, 5)) {
      val naive = expr(
        s"transform(sequence(0, greatest(size(toks) - $k, 0)), " +
          s"i -> concat_ws(' ', slice(toks, i + 1, $k)))")
      val rows = df.select(col("id"),
          Dedup.wordGrams(col("toks"), k).as("zip"), naive.as("ref"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"k=$k id=${r.getLong(0)}: ${r.getSeq[String](1)} vs " +
            s"${r.getSeq[String](2)}")
      }
    }
  }

  test("simhash near-dup pairs: exact dup at hamming 0, unrelated absent") {
    val got = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(got((3L, 4L)) == 0)            // identical text
    assert(!got.keySet.exists { case (a, b) => Set(a, b).contains(5L) })
  }

  test("span dedup cuts repeated windows from every doc, keeps the rest") {
    // L=2: "b c" occurs in docs 1, 2 and twice in 4 → cut everywhere
    // (covered indices: 1-2 in docs 1/2; all of doc 4 via overlap);
    // doc 3 untouched; doc 5 is shorter than a window → passes through
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "x b c y z"),
      (3L, "p q r s t"),
      (4L, "b c b c"),
      (5L, "q")
    ).toDF("doc_id", "text")
    def run(hash: Boolean) =
      Dedup.spanDedup(df, "doc_id", "text", spanTokens = 2,
          maxOccurrences = 1, hashKeys = hash)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
        .toMap
    val got = run(hash = false)
    assert(got(1L) == ("a d e", 3L), got)
    assert(got(2L) == ("x y z", 3L), got)
    assert(got(3L) == ("p q r s t", 5L), got)
    assert(!got.contains(4L), "fully-covered doc must drop out")
    assert(got(5L) == ("q", 1L), "short docs pass through untouched")
    assert(run(hash = true) == got, "hashed keys = identical relation")
  }

  test("decontamination: overlapping docs reported and removed, rest kept") {
    val bench = Seq((100L, "held out eval question about spark engines"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "a doc with the eval question about spark inside it"),
      (2L, "nothing in common with the benchmark suite at all"),
      // shares two distinct 3-grams ("eval question about", "question
      // about spark") via one span
      (3L, "another eval question about spark mention")
    ).toDF("doc_id", "text")
    val report = Dedup.contaminationReport(train, bench, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(report.contains(1L) && report.contains(3L) && !report.contains(2L),
      report)
    assert(report(1L) >= 2L, "doc 1 shares at least two distinct 3-grams")
    val clean = Dedup.decontaminate(train, bench, "doc_id", "text", 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L), clean)
  }

  test("line dedup shuffled-fallback path (gate=0) matches broadcast path") {
    // a "hot" corpus: every doc contributes the same boilerplate line plus
    // unique content; with broadcastMaxLines = 0 the blacklist gate always
    // falls back to the shuffled left_anti. With auto-broadcast disabled
    // the plan must contain NO broadcast join — the 100 TB regime where a
    // billions-row blacklist can neither hint-broadcast nor OOM the driver
    val hot = (1 to 12).map(i =>
      (i.toLong, s"copy right footer uniq$i body$i"))
      .toDF("doc_id", "text")
    def res(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val viaBroadcast = res(Dedup.lineDedup(hot, "doc_id", "text",
      lineWords = 2, maxOccurrences = 1))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val gated = Dedup.lineDedup(hot, "doc_id", "text",
        lineWords = 2, maxOccurrences = 1, broadcastMaxLines = 0L)
      val plan = gated.queryExecution.executedPlan.toString
      assert(!plan.contains("Broadcast"), plan.take(2000))
      assert(res(gated) == viaBroadcast)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("simhash near-dup maxBucket drops hot-chunk buckets (cost bound)") {
    // constant corpus: identical fingerprints put all 20 docs in the same
    // bucket of all four chunks — uncapped that is 190 hamming-0 pairs;
    // the cap drops the over-cap buckets entirely (sub-quadratic bound)
    val const = (1 to 20).map(i => (i.toLong, "same text in every doc here"))
      .toDF("doc_id", "text")
    assert(Dedup.simhashNearDupPairs(const, "doc_id", "text", 3)
      .count() == 190L)
    assert(Dedup.simhashNearDupPairs(const, "doc_id", "text", 3,
      maxBucket = 10).count() == 0L)
  }

  test("line dedup drops corpus-repeated lines, keeps doc order") {
    // 2-word lines: docs 1 and 2 share "dup dup"; doc 3 is untouched;
    // doc 4 is ALL repeated lines and must disappear from the output
    val df = Seq(
      (1L, "aa bb dup dup cc dd"),
      (2L, "dup dup ee ff"),
      (3L, "gg hh ii jj"),
      (4L, "dup dup dup dup")
    ).toDF("doc_id", "text")
    val got = Dedup.lineDedup(df, "doc_id", "text",
        lineWords = 2, maxOccurrences = 1)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(got(1L) == ("aa bb cc dd", 2L), got)
    assert(got(2L) == ("ee ff", 1L), got)
    assert(got(3L) == ("gg hh ii jj", 2L), got)
    assert(!got.contains(4L), "fully-banned doc must drop out")
  }

  test("span contamination: verbatim windows counted, coverage distinct") {
    val bench = Seq((100L, "the secret benchmark answer key"))
      .toDF("doc_id", "text")
    // doc 1 embeds a 4-token verbatim run → two overlapping 3-token
    // windows share with bench, covering 4 distinct token indices
    val train = Seq(
      (1L, "intro text the secret benchmark answer outro words"),
      (2L, "completely unrelated content with no overlap at all"))
      .toDF("doc_id", "text")
    val got = Dedup.spanContaminationReport(train, bench, "doc_id",
        "text", spanTokens = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == Map(1L -> ((2L, 4L))), got)
    // hashed and raw window keys agree
    val raw = Dedup.spanContaminationReport(train, bench, "doc_id",
        "text", spanTokens = 3, hashKeys = false)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(raw == got)
  }

  test("gramCandidatePairs equals the jaccard pipeline's pair set at " +
      "threshold 0") {
    val corpus = docs.withColumn("lang", lit("en"))
      .withColumn("source", lit("s1"))
    def pairSet(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = pairSet(Dedup.gramCandidatePairs(corpus, "doc_id",
      "text", Seq("lang", "source"), 3))
    val viaJaccard = pairSet(Dedup.ngramJaccardPairs(corpus, "doc_id",
      "text", Seq("lang", "source"), 3, 0.0))
    assert(direct == viaJaccard && direct.nonEmpty, (direct, viaJaccard))
  }

  test("gramStarEdges: same components and membership as the clique " +
      "relation, strictly fewer or equal edges") {
    val corpus = docs.withColumn("lang", lit("en"))
      .withColumn("source", lit("s1"))
    val clique = Dedup.gramCandidatePairs(corpus, "doc_id", "text",
      Seq("lang", "source"), 3)
    val star = Dedup.gramStarEdges(corpus, "doc_id", "text",
      Seq("lang", "source"), 3)
    def comps(p: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(p, "doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(comps(star) == comps(clique) && comps(star).nonEmpty)
    // star never emits MORE edges than the clique, and every star edge
    // is a clique edge (min-doc pairs are a subset of all pairs)
    def edges(p: org.apache.spark.sql.DataFrame) =
      p.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (se, ce) = (edges(star), edges(clique))
    assert(se.subsetOf(ce) && se.size <= ce.size, (se.size, ce.size))
  }

  test("snapshot diff classifies added/removed/changed/unchanged; " +
      "hash and raw content paths agree") {
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val now = Seq((1L, "alpha"), (2L, "beta EDITED"), (4L, "delta"))
      .toDF("doc_id", "text")
    def statuses(hash: Boolean) =
      Dedup.snapshotDiff(old, now, "doc_id", "text", hashContent = hash)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = statuses(hash = true)
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), got)
    assert(statuses(hash = false) == got)
  }

  test("connected components: chains close transitively, islands stay apart") {
    // component {1..6} is a 5-hop chain (forces multiple propagation
    // rounds), {10,11} a single edge, {20,21,22} a triangle
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)
    ).toDF("id_a", "id_b")
    val got = components(pairs, "id_a", "id_b")
    assert((1L to 6L).forall(got(_) == 1L), got)
    assert(got(10L) == 10L && got(11L) == 10L, got)
    assert(Seq(20L, 21L, 22L).forall(got(_) == 20L), got)
    assert(got.size == 11, "only nodes appearing in pairs are emitted")
    // int and string ids come back in their own type, ordered as Spark
    // orders them ("10" < "2" as strings)
    val asInt = components(pairs.selectExpr("CAST(id_a AS INT) AS id_a",
      "CAST(id_b AS INT) AS id_b"), "id_a", "id_b")
    assert(asInt == got.map { case (k, v) =>
      k.asInstanceOf[Long].toInt -> v.asInstanceOf[Long].toInt }, asInt)
    val asString = components(pairs.selectExpr("CAST(id_a AS STRING) AS id_a",
      "CAST(id_b AS STRING) AS id_b"), "id_a", "id_b")
    assert(asString("11") == "10" && asString("22") == "20" &&
      asString("6") == "1", asString)
  }

  test("connected components: pointer-jumping variant reaches the same " +
      "fixpoint") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
      (10L, 11L), (20L, 21L), (21L, 22L)
    ).toDF("id_a", "id_b")
    assert(components(pairs, "id_a", "id_b", jump = true) ==
      components(pairs, "id_a", "id_b"))
  }

  test("connected components converge regardless of edge direction") {
    // same chain with reversed/mixed orientations — min label must still
    // reach every node through the symmetrized edges
    val pairs = Seq((6L, 5L), (4L, 5L), (3L, 4L), (3L, 2L), (2L, 1L))
      .toDF("id_a", "id_b")
    val got = components(pairs, "id_a", "id_b")
    assert((1L to 6L).forall(got(_) == 1L), got)
  }

  test("connected components throw when maxIters rounds leave more " +
      "cross-label edges than the driver bound") {
    // after r rounds a 40-node chain keeps 39 - r cross-label edges
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(chain, "id_a", "id_b", 5, false, 0L))
    assert(e.getMessage.contains("34 cross-label edges left after 5 " +
      "rounds"), e.getMessage)
  }

  test("kCore throws when maxIters rounds leave sub-k nodes, and drops " +
      "its edge cache") {
    // a 60-node chain's 2-core is empty, but each round peels only the
    // two current ends; nothing else here needs the shared cache
    spark.sharedState.cacheManager.clearCache()
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](
      Dedup.kCore(chain, "a", "b", k = 2, maxIters = 5))
    assert(e.getMessage.contains("after 5 rounds"), e.getMessage)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("incremental dedup: bloom path equals the plain anti join") {
    val existing = Seq(
      (1L, "alpha content"), (2L, "beta content"), (3L, "gamma content"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha content"),   // dup of existing
      (11L, "delta content"),   // new
      (12L, "beta content"),    // dup of existing
      (13L, "epsilon content")) // new
      .toDF("doc_id", "text")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id").collect().map(_.getLong(0)).toSet
    val viaBloom = ids(Dedup.incrementalDedup(batch, existing, "text"))
    val plain = ids(batch.join(existing.select(col("text")),
      Seq("text"), "left_anti"))
    assert(viaBloom == Set(11L, 13L))
    assert(viaBloom == plain)
    // size gate: past maxBloomBytes the pre-filter is skipped entirely,
    // same exact result through the plain shuffled anti join
    assert(ids(Dedup.incrementalDedup(batch, existing, "text",
      maxBloomBytes = 0L)) == Set(11L, 13L))
  }

  test("incremental dedup: empty existing corpus keeps the whole batch") {
    val existing = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Dedup.incrementalDedup(batch, existing, "text").count() == 2L)
  }

  test("connected components of an empty pair relation are empty") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(components(pairs, "id_a", "id_b").isEmpty)
  }

  test("incremental dedup stays exact under a saturated bloom (fpp→1)") {
    // a filter sized for ONE item at fpp 0.5 (a couple of bits) takes 50
    // inserts → effectively every probe reports might-contain, so all
    // rows route through the exact anti join — false positives must never
    // drop a genuinely new row
    val existing = (1L to 50L).map(i => (i, s"existing doc $i"))
      .toDF("doc_id", "text")
    val batch = (1L to 50L).map(i =>
      (100L + i, if (i % 2 == 0) s"existing doc $i" else s"new doc $i"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(batch, existing, "text",
        expectedItems = 1L, fpp = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == (1L to 50L).filter(_ % 2 == 1).map(100L + _).toSet)
  }

  test("resolveClustersByScore keeps the best-scoring member per cluster") {
    import spark.implicits._
    // two clusters: {1,2,3} (best quality on 2) and {10,11} (tie → min id)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val scores = Seq(
      (1L, 0.3), (2L, 0.9), (3L, 0.5), (10L, 0.7), (11L, 0.7)
    ).toDF("doc_id", "quality")
    val got = Dedup.resolveClustersByScore(pairs, scores, "doc_id",
        "quality")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3)))).toMap
    assert(got == Map(
      1L -> ((2L, 3L, 0.9)),
      10L -> ((10L, 2L, 0.7))))
  }

  test("resolveClustersByScore aggregates hash-side, never sort-side") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val scores = Seq((1L, 0.3), (2L, 0.9)).toDF("doc_id", "quality")
    val plan = Dedup.resolveClustersByScore(pairs, scores, "doc_id",
        "quality")
      .queryExecution.executedPlan.toString
    // the packed-long argmax must keep every aggregate in this op
    // hash-combinable; a struct max_by buffer silently demotes the
    // component pass to SortAggregateExec (externally sorts every doc)
    assert(plan.contains("HashAggregate"), plan.linesIterator.take(8)
      .mkString("\n"))
    assert(!plan.contains("SortAggregate"), plan.linesIterator.take(8)
      .mkString("\n"))
  }

  test("resolveClustersByScore rejects scores outside the packed domain") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val scores = Seq((1L, 1.0e6), (2L, 0.9)).toDF("doc_id", "quality")
    val ex = intercept[Exception] {
      Dedup.resolveClustersByScore(pairs, scores, "doc_id", "quality")
        .collect()
    }
    assert(ex.getMessage.contains("packed-argmax domain") ||
      Option(ex.getCause).exists(_.getMessage
        .contains("packed-argmax domain")), ex.getMessage)
  }

  test("span decontaminate drops only docs sharing a verbatim window") {
    import spark.implicits._
    val train = Seq(
      (1L, "w1 w2 w3 w4 w5 tail one"),   // shares the 5-token window
      (2L, "w5 w4 w3 w2 w1 tail two"),   // same tokens, different order
      (3L, "x1 x2 x3 x4 x5 tail three")  // disjoint
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "w1 w2 w3 w4 w5 bench tail"))
      .toDF("doc_id", "text")
    val got = Dedup.spanDecontaminate(train, bench, "doc_id", "text",
        spanTokens = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L))
  }

  test("semantic dedup: in-cluster near-dups drop to the min id, " +
    "cross-cluster twins survive") {
    import spark.implicits._
    // two well-separated directions (axis 0 vs axis 1); ids 1,2,3 are
    // near-identical on axis 0 (cosine ≈ 1), ids 10,11 on axis 1. k=2
    // with min-id init (id 1 → cluster 0, id 2 → nearest id-1 ⇒ also
    // cluster 0 at init, one Lloyd's round separates the axes).
    def v(main: Int, eps: Double): Seq[Float] =
      (0 until 4).map(i =>
        (if (i == main) 1.0 else if (i == (main + 2)) eps else 0.0).toFloat)
    val rows = Seq(
      (1L, v(0, 0.00)), (2L, v(0, 0.01)), (3L, v(0, 0.02)),
      (10L, v(1, 0.00)), (11L, v(1, 0.01)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(df, "vec_id", "embedding",
        k = 2, iters = 2, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2)))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L))
    // each axis group keeps exactly its smallest id
    assert(got(1L)._2 && !got(2L)._2 && !got(3L)._2, got)
    assert(got(10L)._2 && !got(11L)._2, got)
    // the two groups land in different clusters
    assert(got(1L)._1 == got(2L)._1 && got(2L)._1 == got(3L)._1)
    assert(got(10L)._1 == got(11L)._1)
    assert(got(1L)._1 != got(10L)._1)
  }

  test("triangleCount: K4 has 4, a star has 0, duplicates don't inflate") {
    import spark.implicits._
    // K4 on 1..4 (4 triangles) + star 10-{11,12,13} (0 triangles), with
    // reversed and duplicated edges to exercise normalization
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val star = Seq((10L, 11L), (12L, 10L), (10L, 13L), (11L, 10L))
    val edges = (k4 ++ star ++ k4.map(_.swap)).toDF("doc_a", "doc_b")
    val n = Dedup.triangleCount(edges, "doc_a", "doc_b")
      .collect().head.getLong(0)
    assert(n == 4L, s"expected 4 triangles, got $n")
  }

  test("editDistancePairs finds exactly the within-distance pairs") {
    import spark.implicits._
    val df = Seq(
      (1L, "hello"), (2L, "hallo"), (3L, "help"), (4L, "xyzzy"),
      (5L, "hi")) // below the 2k+2 length floor → out of scope
      .toDF("id", "name")
    val got = Dedup.editDistancePairs(df, "id", "name", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only hello↔hallo is within distance 1; help is 2 edits from hello,
    // xyzzy shares no grams, hi is shorter than the floor
    assert(got.toSeq == Seq((1L, 2L, 1L)), got.toSeq)
    // candidate filtering must not lose a pair the q-gram bound admits:
    // exhaustive check on a small random-ish set vs a driver-side oracle.
    // 40 ids over a period-35 template → 5 strings appear twice, pinning
    // the internal exact-group expansion (distance-0 pairs + cross-group
    // id fan-out) against the duplicate-blind brute force
    val rows = (0L until 40L).map(i =>
      (i, s"prefix${i % 7}suffix${(i * 13) % 5}"))
    val big = rows.toDF("id", "name")
    val exp = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      d = {
        val m = Array.tabulate(sa.length + 1, sb.length + 1) { (x, y) =>
          if (x == 0) y else if (y == 0) x else 0 }
        for (x <- 1 to sa.length; y <- 1 to sb.length)
          m(x)(y) = math.min(math.min(m(x - 1)(y) + 1, m(x)(y - 1) + 1),
            m(x - 1)(y - 1) + (if (sa(x - 1) == sb(y - 1)) 0 else 1))
        m(sa.length)(sb.length)
      } if d <= 2
    } yield (ia, ib, d.toLong)).toSet
    val gotBig = Dedup.editDistancePairs(big, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotBig == exp, s"missing=${exp -- gotBig} extra=${gotBig -- exp}")
  }

  test("editDistancePairs: a hot duplicate group emits each pair exactly once") {
    import spark.implicits._
    // 1500 ids on ONE string forces the salted expansion past B = 1
    // (B = ⌈1500/1000⌉ = 2): every id pair must meet exactly once across
    // the block-pair slots — a double-count (pair meets in two slots) or
    // a drop (blocks bx > by never meeting) is the classic salting bug.
    // Two ids on a 1-edit neighbour pin the cross fan-out alongside.
    val hot = (0L until 1500L).map(i => (i, "identical hot title"))
    val near = Seq((9001L, "identical hot titlX"),
      (9002L, "identical hot titlX"))
    val got = Dedup.editDistancePairs((hot ++ near).toDF("id", "name"),
      "id", "name", maxDist = 2)
    val n = got.count()
    val expZero = 1500L * 1499 / 2 + 1    // within-group pairs
    val expCross = 1500L * 2              // hot × near at distance 1
    assert(n == expZero + expCross, s"got $n pairs")
    assert(got.dropDuplicates("id_a", "id_b").count() == n,
      "a pair met in more than one block-pair slot")
    assert(got.filter(col("id_a") >= col("id_b")).count() == 0)
    assert(got.filter(col("dist") === 0).count() == expZero)
  }

  test("prefix-filtered pairs are COMPLETE vs brute force at the threshold") {
    val t = 0.5
    // brute-force truth: exact Jaccard over distinct word 3-grams
    val rows = docs.collect().map { r =>
      val toks = r.getString(1).toLowerCase.split("\\s+")
      (r.getLong(0), toks.sliding(3).map(_.mkString(" ")).toSet)
    }
    val exp = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= t
    } yield (ia, ib)).toSet
    val got = Dedup.prefixFilteredPairs(docs, "doc_id", "text", t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exp, s"missing=${exp -- got} extra=${got -- exp}")
    // the exact-dup pair carries Jaccard exactly 1.0
    val j34 = Dedup.prefixFilteredPairs(docs, "doc_id", "text", t)
      .filter("doc_a = 3 AND doc_b = 4").collect()
    assert(j34.length == 1 && j34.head.getDouble(2) == 1.0)
  }

  test("pageRank: mass conserved, symmetric nodes tie, hub outranks leaves") {
    // star a-hub with 3 leaves plus an isolated 2-clique
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
      .toDF("a", "b")
    val got = Dedup.pageRank(pairs, "a", "b", iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(got.values.sum - 1.0) < 1e-3,
      s"rank mass not conserved: ${got.values.sum}")
    assert(got(2) == got(3) && got(3) == got(4), "leaf symmetry broken")
    assert(got(5) == got(6), "clique symmetry broken")
    assert(got(1) > got(2), "hub must outrank its leaves")
  }

  test("labelPropagation: synchronous 3-round plurality, hand-traced") {
    // two triangles bridged by one edge — LPA should keep them as two
    // communities where connected components would merge them
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val got = Dedup.labelPropagation(pairs, "a", "b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand trace (synchronous, plurality, min-label ties):
    // l1 = {1→2, 2→1, 3→1, 4→3, 5→4, 6→4}
    // l2 = {1→1, 2→1, 3→1, 4→4, 5→3, 6→3}
    // l3 = {1→1, 2→1, 3→1, 4→3, 5→3, 6→3}
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L), got)
    // where CC merges everything across the bridge
    val cc = Dedup.connectedComponents(pairs, "a", "b")
      .select("component").distinct().count()
    assert(cc == 1, "sanity: the bridge makes one component")
  }

  test("containmentPairs: excerpt scores 1.0 into its superset, not back") {
    import spark.implicits._
    // A's 3 trigrams are a strict subset of B's 6; C is unrelated
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e f g h"),
      (3L, "x y z w v u t s")).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text", Seq(), 3,
        minContainment = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(got == Map((1L, 2L) -> 1.0, (2L, 1L) -> 0.5), got)
    // the same pair under Jaccard scores only 3/6 = 0.5 — the asymmetric
    // signal is the point; at 0.6 only the contained direction survives
    val strict = Dedup.containmentPairs(df, "doc_id", "text", Seq(), 3,
        minContainment = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((1L, 2L)), strict)
  }

  test("kCore: pendant chain peels away, triangle survives as the 2-core") {
    // triangle {1,2,3} with a chain 3-7-8: 8 peels (deg 1), then 7
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 7L), (7L, 8L))
      .toDF("a", "b")
    val got = Dedup.kCore(pairs, "a", "b", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), got)
    // k=3: the triangle itself dissolves (needs ≥ 3 neighbors each)
    assert(Dedup.kCore(pairs, "a", "b", k = 3).count() == 0)
    // k=1: nothing peels — every node has a neighbor
    assert(Dedup.kCore(pairs, "a", "b", k = 1).count() == 5)
  }

  test("corpusJaccard: identical slices estimate 1.0, disjoint near 0") {
    import org.apache.spark.sql.functions.{lit, pmod}
    // even/odd slices carry IDENTICAL shingle sets → exact J = 1 and the
    // two corpus sketches are equal component-wise → estimate exactly 1
    val same = Seq(
      (0L, "a b c d e"), (1L, "a b c d e"),
      (2L, "f g h i j"), (3L, "f g h i j")).toDF("doc_id", "text")
    val r1 = Dedup.corpusJaccard(same, "doc_id", "text",
      id => pmod(id, lit(2)), k = 3, numHashes = 32).collect()(0)
    assert(r1.getAs[Double]("exact_jaccard") == 1.0, r1)
    assert(r1.getAs[Double]("minhash_est") == 1.0, r1)
    assert(r1.getAs[Boolean]("equal"), r1)
    // disjoint slices: exact J = 0; the estimate can only exceed 0 on an
    // xxhash64 collision between distinct grams
    val disj = Seq((0L, "a b c d e"), (1L, "p q r s t"))
      .toDF("doc_id", "text")
    val r2 = Dedup.corpusJaccard(disj, "doc_id", "text",
      id => pmod(id, lit(2)), k = 3, numHashes = 32).collect()(0)
    assert(r2.getAs[Double]("exact_jaccard") == 0.0, r2)
    assert(r2.getAs[Double]("minhash_est") <= 0.1, r2)
    assert(r2.getAs[Boolean]("equal"), r2)
    // half-overlapping shingle sets: exact J is 1/3 (3 shared of 9), and
    // the verdict holds at the documented tolerance
    val half = Seq(
      (0L, "a b c d e"), (1L, "c d e f g")).toDF("doc_id", "text")
    val r3 = Dedup.corpusJaccard(half, "doc_id", "text",
      id => pmod(id, lit(2)), k = 3, numHashes = 256, tol = 0.2)
      .collect()(0)
    assert(r3.getAs[Long]("n_inter") == 1L, r3)
    assert(r3.getAs[Long]("n_union") == 5L, r3)
    assert(r3.getAs[Boolean]("equal"), r3)
  }

  test("graph ops leave no cached relations behind (session hygiene)") {
    import spark.implicits._
    // every iterative/persisting graph op must materialize its (small)
    // result and RELEASE its MEMORY_AND_DISK intermediates before
    // returning — a long-lived session invoking them repeatedly must not
    // accumulate cached relations (the pageRank idiom, round-9/10 leak
    // fixes). cacheManager is in SharedState, so residue from any prior
    // suite on this shared session is cleared first.
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val edges = (k4 ++ Seq((10L, 11L), (11L, 12L))).toDF("doc_a", "doc_b")
    val scores = (1L to 12L).map(i => (i, i * 0.1)).toDF("doc_id", "q")
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "triangleCount" ->
        (() => Dedup.triangleCount(edges, "doc_a", "doc_b")),
      "pageRank" ->
        (() => Dedup.pageRank(edges, "doc_a", "doc_b", iters = 3)),
      "connectedComponents" ->
        (() => Dedup.connectedComponents(edges, "doc_a", "doc_b")),
      "labelPropagation" ->
        (() => Dedup.labelPropagation(edges, "doc_a", "doc_b", rounds = 2)),
      "kCore" -> (() => Dedup.kCore(edges, "doc_a", "doc_b", k = 2)),
      "resolveClustersByScore" -> (() => Dedup.resolveClustersByScore(
        edges.toDF("doc_a", "doc_b"), scores, "doc_id", "q")))
    ops.foreach { case (name, op) =>
      val out = op()
      out.collect(): Unit // consume the returned relation fully
      assert(cm.isEmpty,
        s"$name left cached relations registered after returning")
    }
  }
}
