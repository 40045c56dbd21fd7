package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Bpe, Dedup, Joins, Layout, TextOps, Similarity, Multimodal, Sampling}
import graft.streaming.StreamingOps

/** Training-data-pipeline operator catalog: deduplication, similarity
  * search, text analysis, multimodal plumbing, and stream-shaped windowed
  * aggregation — over the `documents`, `embeddings` and `events` tables.
  *
  * Queries whose semantics are hash-seeded (minhash/simhash/LSH/ANN) have no
  * DuckDB-expressible oracle and their [[QuerySpec]] carries none (the
  * driver records a rows-only check); everything arithmetic gets a full
  * oracle.
  */
object QueriesScale {
  import Tables._

  /** tp19/tp20 oracles: the same Morton interleave of (b1, b2) as
    * Layout.zOrderKey(bits = 8), generated so the two expressions cannot
    * drift.
    */
  private val mortonInterleave = (0 until 8).flatMap(i => Seq(
    s"(((b1 >> $i) & 1) << ${2 * i})",
    s"(((b2 >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")

  /** Oracle SQL shipped as a classpath resource — for generated oracles
    * whose size is past the JVM's 64 KB string-constant cap (dd2's
    * bit-exact xxHash64 replay is ~55 KB of machine-written SQL).
    */
  private def resourceSql(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing oracle resource $path")
    try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---- dedup -------------------------------------------------------------
    // exact dedup: deterministic representative per distinct text
    QuerySpec("dd1_exact_dedup", (s, d) =>
      Dedup.exact(documents(s, d), "text", "doc_id")
        .select(col("rep_id"), col("n_dupes"))
        .orderBy(col("rep_id")),
      Some("""SELECT MIN(doc_id) AS rep_id, COUNT(*) AS n_dupes
        |FROM documents GROUP BY text ORDER BY rep_id""".stripMargin)),

    // minhash signatures (first 4 of 64 slots shown). The entry carries
    // BOTH verification layers: an ENFORCED structural verdict —
    // re-keyed exact copies of every 10th doc are injected, and `equal`
    // demands (a) every exact-text group share ONE identical 64-slot
    // signature (MinHash is a pure function of the shingle set) and (b)
    // each signature be all-slots-present or all-null (nothing partially
    // hashed); Verify.enforceSelfCheck withholds the dump on any false
    // row — AND a full DuckDB oracle (r15): the hash chain is xxHash64
    // end to end, and tools/gen_dd2_oracle.py derandomizes it into SQL
    // that replays h0..h3, the fold, and the verdict bit-exact.
    QuerySpec("dd2_minhash_sig", (s, d) => {
      val docs = fanOut(documents(s, d)).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
      val slots = (0 until 64).map(i => col(s"h$i"))
      val sig = Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 64)
        .join(corpus.select(col("doc_id"),
          xxhash64(col("text")).as("text_h")), "doc_id")
        .withColumn("sig_h", xxhash64(slots: _*))
        .withColumn("n_null",
          slots.map(c => when(c.isNull, 1).otherwise(0)).reduce(_ + _))
      val w = Window.partitionBy(col("text_h"))
      sig
        .withColumn("equal",
          (max(col("sig_h")).over(w) === min(col("sig_h")).over(w)) &&
            (col("n_null") === 0 || col("n_null") === 64))
        .select(col("doc_id"), col("h0"), col("h1"), col("h2"), col("h3"),
          col("equal"))
        .orderBy(col("doc_id"))
    },
      // GENERATED (tools/gen_dd2_oracle.py — regenerate, don't hand-edit):
      // the sim17 derandomization pattern taken to its limit. The minhash
      // chain is xxHash64 end to end, so the oracle embeds the same five
      // primes and seed and replays every step — string hash (4-lane
      // stripes + tails), hashLong, the 64 hashInt slots, and the
      // signature fold for the window key — in 64-bit modular arithmetic
      // over HUGEINT, bit-exact. The entry KEEPS its enforced structural
      // self-check (`equal` column, Verify.enforceSelfCheck); this adds
      // the full rows+schema+hash replay on top.
      Some(resourceSql("/graft/dd2_oracle.sql"))),

    // full MinHash→LSH→candidate→estimate pipeline, reported as stats.
    // ENFORCED no-miss verdict (dd15's guarantee surfaced here too):
    // injected exact copies share every band by construction, so the
    // candidate and near-dup counts must each cover all injected pairs —
    // `equal` false withholds the dump.
    QuerySpec("dd3_lsh_stats", (s, d) => {
      val docs0 = fanOut(documents(s, d)).select(col("doc_id"), col("text"))
      val docs = docs0.unionByName(
        docs0.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
      // signatures feed the band build AND both estimate-join sides →
      // barrier so the minhash pipeline is computed once (exchange-reused)
      val sig = Dedup.barrier(
        Dedup.minhashSignatures(docs, "doc_id", "text", 3, 64), "doc_id")
      val bands = Dedup.lshBands(sig, "doc_id", 16, 4)
      val pairs = Dedup.lshCandidatePairs(bands, "doc_id")
      val est = Dedup.estimateJaccard(pairs, sig, "doc_id", 64)
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(pairs.agg(count(lit(1)).as("n_candidate_pairs")))
        .crossJoin(est.filter(col("est_jaccard") >= 0.5)
          .agg(count(lit(1)).as("n_near_dupes")))
        .crossJoin(broadcast(docs0.filter(col("doc_id") % 10 === 0)
          .agg(count(lit(1)).as("n_injected"))))
        .withColumn("equal",
          col("n_candidate_pairs") >= col("n_injected") &&
            col("n_near_dupes") >= col("n_injected"))
    }),

    // simhash fingerprints. Like dd2, BOTH verification layers: the
    // ENFORCED structural verdict — injected re-keyed exact copies must
    // land on the SAME 64-bit fingerprint (SimHash is a pure function of
    // the token multiset), `equal` fails any group whose fingerprints
    // diverge, and Verify withholds the dump — AND a full DuckDB oracle
    // (r15, tools/gen_dd4_oracle.py): the chain is xxHash64 + bit votes
    // end to end, so the SQL replays the fingerprint bit-exact.
    QuerySpec("dd4_simhash", (s, d) => {
      val docs = fanOut(documents(s, d)).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
      val sh = Dedup.simhash64(corpus, "doc_id", "text")
        .join(corpus.select(col("doc_id"),
          xxhash64(col("text")).as("text_h")), "doc_id")
        // null-stable key so all-null groups still compare consistently
        .withColumn("sim_key", xxhash64(col("simhash")))
      val w = Window.partitionBy(col("text_h"))
      sh
        .withColumn("equal",
          max(col("sim_key")).over(w) === min(col("sim_key")).over(w))
        .select(col("doc_id"), col("simhash"), col("equal"))
        .orderBy(col("doc_id"))
    },
      // GENERATED (tools/gen_dd4_oracle.py): same derandomization as dd2 —
      // per-token xxHash64 replayed step-for-step, SimHash bit votes as
      // relational arithmetic, sim_key via the hashLong chain.
      Some(resourceSql("/graft/dd4_oracle.sql"))),

    // exact n-gram Jaccard pairs via inverted index, blocked by (lang,source);
    // document-frequency cutoff 64 bounds hot-gram buckets (no-op at this
    // corpus — max DF is 3 — but the cost guard the 100× corpus needs; the
    // oracle below encodes the same cutoff)
    QuerySpec("dd5_ngram_jaccard", (s, d) =>
      Dedup.ngramJaccardPairs(fanOut(documents(s, d)), "doc_id", "text",
          Seq("lang", "source"), 3, 0.05, maxDocFreq = 64)
        .orderBy(col("doc_a"), col("doc_b")),
      Some("""WITH toks AS (
        |  SELECT doc_id, lang, source,
        |         string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
        |hot AS (
        |  SELECT lang, source, gram FROM grams
        |  GROUP BY lang, source, gram HAVING COUNT(*) > 64),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ix
        |  FROM grams a JOIN grams b
        |    ON a.gram = b.gram AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |    WHERE h.lang = a.lang AND h.source = a.source
        |      AND h.gram = a.gram)
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       ROUND(ix * 1.0 / (sa.sz + sb.sz - ix), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE ix * 1.0 / (sa.sz + sb.sz - ix) >= 0.05
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // embedding-cosine near-dup: exact pair mining with auto-selected
    // strategy (no cross join at any threshold), contracted to a
    // doc_id → representative mapping. The 0.35 threshold matches this
    // corpus's similarity tail and lands in the dense regime → block-grid
    // decomposition; real near-dup corpora sit at ~0.95, where the same
    // call switches to LSH banding and prunes to near-linear (see
    // Similarity.thresholdPairs).
    QuerySpec("dd6_embedding_neardup", (s, d) =>
      Dedup.embeddingNearDup(embeddings(s, d), "vec_id", "embedding", 0.35,
          dim = 64)
        .orderBy(col("doc_id")),
      Some(
        """WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
        |      FROM s a JOIN s b ON a.vec_id < b.vec_id
        |      WHERE list_cosine_similarity(a.v, b.v) >= 0.35)
        |SELECT ib AS doc_id, MIN(ia) AS rep_id, COUNT(*) AS n_near_dups
        |FROM p GROUP BY ib ORDER BY doc_id""".stripMargin)),

    // simhash near-dup pairs: 4×16-bit band candidates + exact Hamming ≤ 3
    // (hash-seeded → no SQL oracle; ENFORCED verdict instead): injected
    // exact copies are Hamming-0 and share all four 16-bit bands, so every
    // injected pair MUST be emitted — `equal` carries per-row Hamming
    // sanity AND the global no-miss flag (1-row broadcast, a17 pattern).
    QuerySpec("dd7_simhash_neardup", (s, d) => {
      val docs0 = fanOut(documents(s, d)).select(col("doc_id"), col("text"))
      val docs = docs0.unionByName(
        docs0.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
      val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 3)
      val expected = docs0.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 5000000L).as("id_b"))
      val missed = expected.join(pairs, Seq("id_a", "id_b"), "left_anti")
        .agg(count(lit(1)).as("n_missed"))
      pairs.crossJoin(broadcast(missed))
        .withColumn("equal",
          col("hamming") <= 3 && col("n_missed") === 0L)
        .select(col("id_a"), col("id_b"), col("hamming"), col("equal"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // C4-style line-level dedup: corpus-frequency blacklist (>1 occurrence)
    // over 5-word lines, docs reassembled from surviving lines in order.
    // Pure arithmetic/string work → full oracle.
    QuerySpec("dd8_line_dedup", (s, d) =>
      Dedup.lineDedup(fanOut(documents(s, d)), "doc_id", "text",
          lineWords = 5, maxOccurrences = 1)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |idx AS (SELECT unnest(generate_series(0,
        |          (SELECT MAX(len(ws)) // 5 FROM t))) AS i),
        |lines AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(ws[(i*5+1):(i*5+5)], ' ') AS line
        |  FROM t, idx WHERE i*5 < len(ws)),
        |banned AS (SELECT line FROM lines GROUP BY line
        |           HAVING COUNT(*) > 1),
        |kept AS (SELECT doc_id, pos, line FROM lines
        |         WHERE line NOT IN (SELECT line FROM banned))
        |SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS clean_text,
        |       COUNT(*) AS n_lines_kept
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // exact substring-span dedup: 8-token windows repeated corpus-wide
    // are cut from every doc, docs reassembled from surviving tokens.
    // Raw-string window keys so DuckDB replays the identical relation
    // (production default hashes them to 8 bytes — same rows, narrower
    // shuffle); pure string/window arithmetic → full oracle.
    QuerySpec("dd9_span_dedup", (s, d) =>
      Dedup.spanDedup(fanOut(documents(s, d)), "doc_id", "text",
          spanTokens = 8, maxOccurrences = 1, hashKeys = false)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |idx AS (SELECT unnest(generate_series(0,
        |          (SELECT CAST(MAX(len(ws)) AS BIGINT) FROM t))) AS i),
        |win AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(ws[(i+1):(i+8)], ' ') AS gram
        |  FROM t, idx WHERE i + 8 <= len(ws)),
        |dup AS (SELECT gram FROM win GROUP BY gram HAVING COUNT(*) > 1),
        |marked AS (SELECT w.doc_id, w.pos FROM win w JOIN dup USING (gram)),
        |cov AS (SELECT DISTINCT doc_id, pos + j.j AS i
        |        FROM marked, (SELECT unnest(generate_series(0, 7)) AS j) j),
        |tok AS (SELECT doc_id, i, ws[i+1] AS tok FROM t, idx
        |        WHERE i < len(ws)),
        |kept AS (SELECT k.doc_id, k.i, k.tok FROM tok k
        |         WHERE NOT EXISTS (SELECT 1 FROM cov c
        |           WHERE c.doc_id = k.doc_id AND c.i = k.i))
        |SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
        |       COUNT(*) AS n_tokens_kept
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // duplicate clusters: transitive closure over the gram-sharing pair
    // graph (3-gram buckets blocked by (lang, source), df cap 64 — the
    // dd5 candidate blocking) via iterative min-label propagation. The
    // edge relation is the STAR form ([[Dedup.gramStarEdges]]): CC only
    // needs connectivity, so each bucket ships k−1 edges instead of the
    // k(k−1)/2 clique — same components, up to 32× fewer shuffled pair
    // rows at the df cap. The fixpoint (per-component min doc_id) is
    // unique → deterministic → full oracle (DuckDB recursive CTE over
    // the CLIQUE edge set — components are identical by construction).
    QuerySpec("dd10_dup_clusters", (s, d) => {
      val pairs = Dedup.gramStarEdges(fanOut(documents(s, d)),
        "doc_id", "text", Seq("lang", "source"), 3, maxDocFreq = 64)
      Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .orderBy(col("id"))
    },
      Some("""WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, source,
        |         string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |hot AS (
        |  SELECT lang, source, gram FROM grams
        |  GROUP BY lang, source, gram HAVING COUNT(*) > 64),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM grams a JOIN grams b
        |    ON a.gram = b.gram AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |    WHERE h.lang = a.lang AND h.source = a.source
        |      AND h.gram = a.gram)),
        |edges AS (SELECT src, dst FROM pairs
        |          UNION ALL SELECT dst, src FROM pairs),
        |reach AS (
        |  SELECT src AS id, src AS m FROM edges
        |  UNION
        |  SELECT e.dst AS id, r.m AS m
        |  FROM reach r JOIN edges e ON e.src = r.id)
        |SELECT id, MIN(m) AS component
        |FROM reach GROUP BY id ORDER BY id""".stripMargin)),

    // the composed near-dup dedup a curation run actually executes:
    // deterministic similar pairs (3-gram jaccard ≥ 0.5) → transitive
    // clusters → drop everything but each cluster's min-id
    // representative → corpus accounting. Full oracle end to end.
    QuerySpec("dd12_neardup_dedup", (s, d) => {
      val docs = fanOut(documents(s, d))
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          Seq("lang", "source"), 3, 0.5, maxDocFreq = 64)
        .select(col("doc_a"), col("doc_b"))
      val dropIds = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      docs.join(dropIds, Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    },
      Some("""WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, source,
        |         string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams
        |          GROUP BY doc_id),
        |hot AS (
        |  SELECT lang, source, gram FROM grams
        |  GROUP BY lang, source, gram HAVING COUNT(*) > 64),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ix
        |  FROM grams a JOIN grams b
        |    ON a.gram = b.gram AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |    WHERE h.lang = a.lang AND h.source = a.source
        |      AND h.gram = a.gram)
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM inter
        |  JOIN sizes sa ON doc_a = sa.doc_id
        |  JOIN sizes sb ON doc_b = sb.doc_id
        |  WHERE ix * 1.0 / (sa.sz + sb.sz - ix) >= 0.5),
        |edges AS (SELECT src, dst FROM pairs
        |          UNION ALL SELECT dst, src FROM pairs),
        |reach AS (
        |  SELECT src AS id, src AS m FROM edges
        |  UNION
        |  SELECT e.dst AS id, r.m AS m
        |  FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, MIN(m) AS component FROM reach GROUP BY id),
        |drops AS (SELECT id FROM comp WHERE id <> component)
        |SELECT COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM drops)""".stripMargin)),

    // quality-aware cluster resolution: dd10's gram-sharing clusters,
    // but each cluster keeps its HIGHEST-quality member (tie → smallest
    // id) instead of the arbitrary min id — what a production dedup
    // actually keeps. Star edges like dd10 (the resolve is CC + argmax —
    // connectivity is all it reads). Deterministic (4-dp quality) →
    // full oracle.
    QuerySpec("dd16_quality_dedup", (s, d) => {
      // both the quality scoring and the gram pair generation scan the
      // fanned-out corpus — persist so the scan+repartition runs once
      val docs = fanOut(documents(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val counts = TextOps.rawCounts(col("text")).map { case (n, c) =>
        c.as(n)
      }
      val scored = docs.select(col("doc_id") +: counts: _*)
        .withColumn("quality", TextOps.qualityScoreFromCounts(
          col("n_chars"), col("n_words"), col("n_punct"), col("n_stops")))
        .select(col("doc_id"), col("quality"))
      val pairs = Dedup.gramStarEdges(docs, "doc_id", "text",
        Seq("lang", "source"), 3, maxDocFreq = 64)
      Dedup.resolveClustersByScore(pairs, scored, "doc_id", "quality")
        .select(col("component"), col("keep_id"), col("n_members"),
          round(col("keep_score"), 4).as("keep_quality"))
        .orderBy(col("component"))
    },
      Some("""WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, source,
        |         string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |hot AS (
        |  SELECT lang, source, gram FROM grams
        |  GROUP BY lang, source, gram HAVING COUNT(*) > 64),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM grams a JOIN grams b
        |    ON a.gram = b.gram AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |    WHERE h.lang = a.lang AND h.source = a.source
        |      AND h.gram = a.gram)),
        |edges AS (SELECT src, dst FROM pairs
        |          UNION ALL SELECT dst, src FROM pairs),
        |reach AS (
        |  SELECT src AS id, src AS m FROM edges
        |  UNION
        |  SELECT e.dst AS id, r.m AS m
        |  FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, MIN(m) AS component FROM reach GROUP BY id),
        |f AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    len(string_split_regex(text, '\s+')) AS n_words,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|a|of|and|is|to|in)\b')) AS n_stops,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |  FROM documents),
        |lab AS (SELECT doc_id,
        |  ROUND((LEAST(n_words / 50.0, 1.0)
        |       + LEAST((n_stops * 1.0 / n_words) * 5.0, 1.0)
        |       + GREATEST(1.0 - (n_punct * 1.0 / n_chars) * 10.0, 0.0))
        |       / 3.0, 4) AS quality
        |  FROM f),
        |j AS (SELECT c.component, c.id, l.quality
        |      FROM comp c JOIN lab l ON l.doc_id = c.id),
        |g AS (SELECT component, COUNT(*) AS n_members,
        |             ROUND(MAX(quality), 4) AS keep_quality
        |      FROM j GROUP BY component),
        |k AS (SELECT component, id AS keep_id FROM (
        |        SELECT component, id,
        |          ROW_NUMBER() OVER (PARTITION BY component
        |            ORDER BY quality DESC, id) AS rk
        |        FROM j) WHERE rk = 1)
        |SELECT g.component, k.keep_id, g.n_members, g.keep_quality
        |FROM g JOIN k USING (component)
        |ORDER BY g.component""".stripMargin)),

    // corpus snapshot diff: v2 deletes every 7th doc, edits every 11th
    // surviving doc, and adds a re-keyed copy of every 13th — the diff
    // classifies all of it in one id-keyed full outer join. Raw-text
    // comparison so the oracle replays exactly (production default
    // hashes content to 8 bytes; same rows).
    QuerySpec("dd13_snapshot_diff", (s, d) => {
      val docs = fanOut(documents(s, d))
      val base = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      val added = docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      Dedup.snapshotDiff(docs, base.unionByName(added), "doc_id", "text",
          hashContent = false)
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
        .orderBy(col("status"))
    },
      Some("""WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 7 <> 0),
        |added AS (
        |  SELECT doc_id + 10000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 13 = 0),
        |now_t AS (SELECT * FROM base UNION ALL SELECT * FROM added),
        |d AS (
        |  SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
        |              WHEN n.doc_id IS NULL THEN 'removed'
        |              WHEN o.text <> n.text THEN 'changed'
        |              ELSE 'unchanged' END AS status
        |  FROM documents o FULL OUTER JOIN now_t n
        |    ON o.doc_id = n.doc_id)
        |SELECT status, COUNT(*) AS n FROM d
        |GROUP BY status ORDER BY status""".stripMargin)),

    // the composed MinHash→LSH→estimate→clusters→representatives dedup —
    // the full fuzzy-dedup pass a crawl curation run executes (dd12 is
    // the deterministic-gram analogue with a full oracle; this one is
    // hash-seeded → self-checking instead). A re-keyed copy of every
    // 10th doc injects known exact duplicates; the ENFORCED verdict is
    // the method's guarantee that exact dupes cannot be missed:
    // identical text → identical signature → identical bands → est 1.0
    // → one component. equal=false withholds the dump (Verify).
    QuerySpec("dd15_minhash_dedup", (s, d) => {
      val docs = fanOut(documents(s, d)).select(col("doc_id"), col("text"))
      // corpus feeds the signature pipeline and the hashed accounting
      // relation — persist so the scan+union runs once, not per reference
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 5000000L).as("doc_id"), col("text")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // signatures are the expensive stage (shingle + 64 hashes per doc)
      // and feed THREE consumers — the band build and both sides of the
      // estimate join — so they materialize once (~24 B × 64 per doc,
      // far smaller than the corpus), not three times. persist alone is
      // the compute-once mechanism here; the r14 barrier() on top of it
      // was redundant (its 65-column first()-sort-agg + exchange ran
      // BEFORE the cache, costing ~0.6 s per run at sf0.1 for nothing —
      // barrier is for plan-level reuse in ops that must stay cache-free,
      // e.g. dd2/dd5's returned plans)
      val sig = Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 64)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bands = Dedup.lshBands(sig, "doc_id", 16, 4)
      val edges = Dedup.estimateJaccard(
          Dedup.lshCandidatePairs(bands, "doc_id"), sig, "doc_id", 64)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"))
      val comps = Dedup.connectedComponents(edges, "id_a", "id_b")
      // the exact-group census keys on an 8-byte content hash, not the
      // raw text: identical text → identical hash, so the verdict is
      // unchanged (64-bit collisions are the usual negligible risk), and
      // the groupBy shuffles 24-byte rows instead of whole documents —
      // the persisted relation is equally narrow, so the three accounting
      // aggregates below re-read kilobytes, not the corpus
      val withComp = corpus
        .select(col("doc_id"), xxhash64(col("text")).as("text_h"))
        .join(comps.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("component",
          coalesce(col("component"), col("doc_id")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val groups = withComp.groupBy(col("text_h"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("component")).as("nc"))
        .filter(col("n") > 1)
      groups
        .agg(count(lit(1)).as("n_exact_groups"),
          sum(when(col("nc") === 1, 1L).otherwise(0L)).as("n_merged"))
        // one fused census pass (r15): n_docs and n_dropped come from the
        // SAME scan of withComp — the r14 form ran a second filtered agg
        // + a second crossJoin for n_dropped (one more cache pass + AQE
        // stage round-trip per run, same rows out)
        // coalesce: sum() over an empty relation is NULL where the r14
        // filtered count returned 0 — unreachable on a non-empty corpus,
        // preserved for the empty edge (ADVICE r15)
        .crossJoin(withComp.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(when(col("doc_id") =!= col("component"), 1L)
            .otherwise(0L)), lit(0L)).as("n_dropped")))
        .select(col("n_docs"), col("n_dropped"), col("n_exact_groups"),
          col("n_merged"),
          (col("n_exact_groups") === col("n_merged") &&
            col("n_exact_groups") > 0).as("equal"))
    }),

    // PPJoin-style prefix-filtered set-similarity join: candidates come
    // only from the rarest-token prefixes (df-ascending global order), so
    // hot tokens never generate pairs — the structural alternative to
    // dd5's capped gram buckets. Re-keyed copies of every 10th doc
    // guarantee Jaccard-1.0 pairs; exact Jaccard replays in SQL → full
    // oracle.
    QuerySpec("dd25_prefix_pairs", (s, d) => {
      val docs = fanOut(documents(s, d)).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 9000000L).as("doc_id"), col("text")))
      Dedup.prefixFilteredPairs(corpus, "doc_id", "text", 0.6)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 9000000, text FROM documents
        |  WHERE doc_id % 10 = 0),
        |toks AS (SELECT doc_id,
        |           string_split_regex(lower(text), '\s+') AS t
        |         FROM corpus),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM toks),
        |mm AS (SELECT doc_id, COUNT(*) AS m FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM grams a JOIN grams b
        |    ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b,
        |       ROUND(CAST(i.i AS DOUBLE)
        |         / (ma.m + mb.m - i.i), 6) AS jaccard
        |FROM inter i JOIN mm ma ON ma.doc_id = i.doc_a
        |     JOIN mm mb ON mb.doc_id = i.doc_b
        |WHERE CAST(i.i AS DOUBLE) / (ma.m + mb.m - i.i) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // dedup threshold-survival curve — the tuning artifact run BEFORE
    // committing to a similarity cutoff (sim15's pattern applied to
    // dedup): from one prefix-filtered pair relation, how many pairs and
    // how many distinct docs a cutoff of 0.6..1.0 would implicate. The
    // 5-row threshold relation broadcasts against the rounded-jaccard
    // pairs; everything downstream is census-sized.
    QuerySpec("dd26_threshold_curve", (s, d) => {
      import s.implicits._
      val docs = fanOut(documents(s, d)).select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 9000000L).as("doc_id"), col("text")))
      // prefixFilteredPairs returns a scratch-parquet-materialized
      // relation (zero cache entries), so both consumers below re-scan
      // the small pair file, never the join — no extra persist
      val pairs = Dedup.prefixFilteredPairs(corpus, "doc_id", "text", 0.6)
      val th = Seq(0.6, 0.7, 0.8, 0.9, 1.0).toDF("t")
      val nPairs = pairs.join(broadcast(th), col("jaccard") >= col("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("n_pairs"))
      val nDocs = pairs
        .select(col("jaccard"),
          explode(array(col("doc_a"), col("doc_b"))).as("doc"))
        .join(broadcast(th), col("jaccard") >= col("t"))
        .groupBy(col("t")).agg(countDistinct(col("doc")).as("n_docs"))
      nPairs.join(nDocs, "t")
        .select(round(col("t"), 1).as("threshold"), col("n_pairs"),
          col("n_docs"))
        .orderBy(col("threshold"))
    },
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 9000000, text FROM documents
        |  WHERE doc_id % 10 = 0),
        |toks AS (SELECT doc_id,
        |           string_split_regex(lower(text), '\s+') AS t
        |         FROM corpus),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM toks),
        |mm AS (SELECT doc_id, COUNT(*) AS m FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM grams a JOIN grams b
        |    ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT i.doc_a, i.doc_b,
        |    ROUND(CAST(i.i AS DOUBLE) / (ma.m + mb.m - i.i), 6) AS j
        |  FROM inter i JOIN mm ma ON ma.doc_id = i.doc_a
        |       JOIN mm mb ON mb.doc_id = i.doc_b
        |  WHERE CAST(i.i AS DOUBLE) / (ma.m + mb.m - i.i) >= 0.6),
        |th AS (SELECT unnest([0.6, 0.7, 0.8, 0.9, 1.0]) AS t),
        |np AS (SELECT th.t, COUNT(*) AS n_pairs
        |       FROM th JOIN pairs p ON p.j >= th.t GROUP BY th.t),
        |nd AS (SELECT th.t, COUNT(DISTINCT e.doc) AS n_docs
        |       FROM th JOIN pairs p ON p.j >= th.t,
        |            (SELECT unnest([1, 2]) AS side) s,
        |            LATERAL (SELECT CASE WHEN s.side = 1 THEN p.doc_a
        |                                 ELSE p.doc_b END AS doc) e
        |       GROUP BY th.t)
        |SELECT ROUND(np.t, 1) AS threshold, np.n_pairs, nd.n_docs
        |FROM np JOIN nd ON np.t = nd.t
        |ORDER BY threshold""".stripMargin)),

    // canonicalization-aware exact dedup: every 10th doc gets an
    // uppercased, extra-punctuated re-keyed copy injected — raw-byte
    // dedup misses all of them, the canonical key catches every one.
    // Pure string normalization → full oracle on the duplicate groups.
    QuerySpec("dd17_canonical_dedup", (s, d) => {
      val docs = fanOut(documents(s, d)).select(col("doc_id"), col("text"))
      val variants = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 7000000L).as("doc_id"),
          concat(upper(col("text")), lit("!!")).as("text"))
      Dedup.canonicalDedup(docs.unionByName(variants), "doc_id", "text")
        .filter(col("n_dupes") > 1)
        .select(col("rep_id"), col("n_dupes"))
        .orderBy(col("rep_id"))
    },
      Some("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 7000000, upper(text) || '!!'
        |  FROM documents WHERE doc_id % 10 = 0),
        |keyed AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
        |      AS ckey
        |  FROM corpus)
        |SELECT MIN(doc_id) AS rep_id, COUNT(*) AS n_dupes
        |FROM keyed GROUP BY ckey HAVING COUNT(*) > 1
        |ORDER BY rep_id""".stripMargin)),

    // SemDeDup: deterministic k-means clusters (the sim5 trainer) as
    // candidate blocks, exact within-cluster cosine pairs ≥ 0.35, keep
    // the smallest id per near-dup group. Unrolled Lloyd's + in-cluster
    // pair join replay exactly in DuckDB → full oracle.
    QuerySpec("dd14_semdedup", (s, d) =>
      Dedup.semanticDedup(embeddings(s, d), "vec_id", "embedding",
          k = 10, iters = 2, threshold = 0.35)
        .orderBy(col("vec_id")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster,
        |              v AS centroid
        |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 10)),
        |a1 AS (SELECT vec_id, v, cluster FROM (
        |         SELECT e.vec_id, e.v, c.cluster,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |             ORDER BY ROUND(list_cosine_similarity(e.v, c.centroid),
        |                            6) DESC, c.cluster) AS rk
        |         FROM e, c0 c) WHERE rk = 1),
        |c1 AS (SELECT cluster, list(cavg ORDER BY i) AS centroid FROM (
        |         SELECT cluster, i, avg(v[i]) AS cavg FROM (
        |           SELECT cluster, unnest(generate_series(1, len(v))) AS i, v
        |           FROM a1) GROUP BY cluster, i) GROUP BY cluster),
        |a2 AS (SELECT vec_id, v, cluster FROM (
        |         SELECT e.vec_id, e.v, c.cluster,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |             ORDER BY ROUND(list_cosine_similarity(e.v, c.centroid),
        |                            6) DESC, c.cluster) AS rk
        |         FROM e, c1 c) WHERE rk = 1),
        |c2 AS (SELECT cluster, list(cavg ORDER BY i) AS centroid FROM (
        |         SELECT cluster, i, avg(v[i]) AS cavg FROM (
        |           SELECT cluster, unnest(generate_series(1, len(v))) AS i, v
        |           FROM a2) GROUP BY cluster, i) GROUP BY cluster),
        |fin AS (SELECT vec_id, v, cluster FROM (
        |         SELECT e.vec_id, e.v, c.cluster,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |             ORDER BY ROUND(list_cosine_similarity(e.v, c.centroid),
        |                            6) DESC, c.cluster) AS rk
        |         FROM e, c2 c) WHERE rk = 1),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id FROM fin a JOIN fin b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.v, b.v) >= 0.35)
        |SELECT f.vec_id, f.cluster, (d.vec_id IS NULL) AS kept
        |FROM fin f LEFT JOIN dropped d USING (vec_id)
        |ORDER BY f.vec_id""".stripMargin)),

    // incremental ingestion dedup: the doc_id%10==0 slice plays the new
    // crawl snapshot, the rest the accumulated corpus. The Bloom
    // pre-filter routes definitely-new rows around the anti-join shuffle;
    // the raw-key anti join restores exactness for the might-contain
    // residue → full oracle.
    QuerySpec("dd11_incremental", (s, d) => {
      val docs = fanOut(documents(s, d))
      Dedup.incrementalDedup(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "text", expectedItems = 100000L, fpp = 0.01)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      Some("""SELECT b.doc_id, b.n_chars
        |FROM documents b
        |WHERE b.doc_id % 10 = 0
        |  AND NOT EXISTS (SELECT 1 FROM documents e
        |    WHERE e.doc_id % 10 <> 0 AND e.text = b.text)
        |ORDER BY b.doc_id""".stripMargin)),

    // benchmark decontamination: docs sharing any word 3-gram with the
    // held-out slice (doc_id % 97 = 0 plays the eval suite), with the
    // count of distinct shared grams. Exact string grams → full oracle.
    QuerySpec("tc1_decontam_report", (s, d) => {
      val docs = fanOut(documents(s, d))
      Dedup.contaminationReport(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", 3)
        .orderBy(col("doc_id"))
    },
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
        |SELECT g.doc_id, COUNT(*) AS n_shared_grams
        |FROM grams g JOIN bench b USING (gram)
        |WHERE g.doc_id % 97 <> 0
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),

    // SEMANTIC decontamination: label-0 embeddings play the eval suite,
    // the rest the training corpus — per train vector, max cosine to any
    // eval vector (4dp), nearest eval id, count over the 0.4 threshold,
    // and the contamination flag. Catches the paraphrase leakage the
    // verbatim gram/span audits (tc1/tc3) structurally miss; eval side
    // broadcast, train side one scan + map-side-combinable agg.
    // The r13 grid's crossover (brute is exact but linear in
    // train × eval: exp 1.02, 117 s at the 100× decade vs the screen's
    // 0.47 / ~8 s) is now an AUTO-DISPATCH GATE, not a doc note
    // (VERDICT r14): semanticContaminationAuto brutes below ~4·10⁶ dot
    // products per core — every harness SF and the 10× decade, so the
    // oracle replays the exact audit — and IVF-screens past it (the
    // 30×/100× decades), where screen stats are the documented
    // sound-but-probe-restricted trade.
    QuerySpec("tc6_semantic_decontam", (s, d) => {
      val emb = embeddings(s, d)
      Similarity.semanticContaminationAuto(
          emb.filter(col("label") =!= 0), emb.filter(col("label") === 0),
          "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("vec_id"))
    },
      Some("""WITH ev AS (SELECT vec_id AS eval_id, embedding::DOUBLE[] AS e
        |           FROM embeddings WHERE label = 0),
        |tr AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |       FROM embeddings WHERE label <> 0),
        |p AS (SELECT tr.vec_id, ev.eval_id,
        |        ROUND(list_cosine_similarity(v, e), 4) AS sim
        |      FROM tr, ev),
        |a AS (SELECT vec_id, MAX(sim) AS max_sim,
        |        CAST(SUM(CASE WHEN sim >= 0.4 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_over
        |      FROM p GROUP BY vec_id),
        |nn AS (SELECT p.vec_id, MIN(p.eval_id) AS nearest_eval
        |       FROM p JOIN a ON p.vec_id = a.vec_id AND p.sim = a.max_sim
        |       GROUP BY p.vec_id)
        |SELECT a.vec_id, a.max_sim, nn.nearest_eval, a.n_over,
        |       a.max_sim >= 0.4 AS contaminated
        |FROM a JOIN nn USING (vec_id) ORDER BY a.vec_id""".stripMargin)),

    // the same audit through the IVF SCREEN — tc6's scan-fraction scale
    // path for when the eval suite itself is big: deterministic k-means
    // (k=16, 2 Lloyd's rounds, sim5's machinery) clusters the eval side
    // once, every train vector exact-cosines only its 2 nearest clusters'
    // members (k + |eval|/8 dots per row instead of |eval|). Stats are
    // probe-restricted (max_sim ≤ brute force, no false positives);
    // everything deterministic → the full oracle replays the unrolled
    // k-means, the probe ranks, and the screen aggregate.
    QuerySpec("tc7_semantic_screen", (s, d) => {
      val emb = embeddings(s, d)
      val eval = emb.filter(col("label") === 0)
        .select(col("vec_id"), col("embedding"))
      val members = eval.join(
        Similarity.kmeansAssign(eval, "vec_id", "embedding", 16, 2),
        Seq("vec_id"))
      Similarity.semanticContaminationScreen(
          emb.filter(col("label") =!= 0), members,
          "vec_id", "embedding", "cluster", threshold = 0.4, nprobe = 2)
        .orderBy(col("vec_id"))
    },
      // unrolled 2-iteration Lloyd's on the eval slice (sim5's replay
      // pattern, k=16), final member assignment + final centroids, probe
      // rank <= 2 per train vector, screen aggregate over probed members
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |ev AS (SELECT vec_id, v FROM e WHERE label = 0),
        |tr AS (SELECT vec_id, v FROM e WHERE label <> 0),
        |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster,
        |              v AS centroid
        |       FROM (SELECT vec_id, v FROM ev ORDER BY vec_id LIMIT 16)),
        |a1 AS (SELECT vec_id, v, cluster FROM (
        |         SELECT ev.vec_id, ev.v, c.cluster,
        |           ROW_NUMBER() OVER (PARTITION BY ev.vec_id
        |             ORDER BY ROUND(list_cosine_similarity(ev.v, c.centroid),
        |                            6) DESC, c.cluster) AS rk
        |         FROM ev, c0 c) WHERE rk = 1),
        |c1 AS (SELECT cluster, list(cavg ORDER BY i) AS centroid FROM (
        |         SELECT cluster, i, avg(v[i]) AS cavg FROM (
        |           SELECT cluster, unnest(generate_series(1, len(v))) AS i, v
        |           FROM a1) GROUP BY cluster, i) GROUP BY cluster),
        |a2 AS (SELECT vec_id, v, cluster FROM (
        |         SELECT ev.vec_id, ev.v, c.cluster,
        |           ROW_NUMBER() OVER (PARTITION BY ev.vec_id
        |             ORDER BY ROUND(list_cosine_similarity(ev.v, c.centroid),
        |                            6) DESC, c.cluster) AS rk
        |         FROM ev, c1 c) WHERE rk = 1),
        |c2 AS (SELECT cluster, list(cavg ORDER BY i) AS centroid FROM (
        |         SELECT cluster, i, avg(v[i]) AS cavg FROM (
        |           SELECT cluster, unnest(generate_series(1, len(v))) AS i, v
        |           FROM a2) GROUP BY cluster, i) GROUP BY cluster),
        |afin AS (SELECT vec_id, v, cluster FROM (
        |         SELECT ev.vec_id, ev.v, c.cluster,
        |           ROW_NUMBER() OVER (PARTITION BY ev.vec_id
        |             ORDER BY ROUND(list_cosine_similarity(ev.v, c.centroid),
        |                            6) DESC, c.cluster) AS rk
        |         FROM ev, c2 c) WHERE rk = 1),
        |cfin AS (SELECT cluster, list(cavg ORDER BY i) AS centroid FROM (
        |         SELECT cluster, i, avg(v[i]) AS cavg FROM (
        |           SELECT cluster, unnest(generate_series(1, len(v))) AS i, v
        |           FROM afin) GROUP BY cluster, i) GROUP BY cluster),
        |probe AS (SELECT vec_id, v, cluster FROM (
        |         SELECT t.vec_id, t.v, c.cluster,
        |           ROW_NUMBER() OVER (PARTITION BY t.vec_id
        |             ORDER BY ROUND(list_cosine_similarity(t.v, c.centroid),
        |                            6) DESC, c.cluster) AS rk
        |         FROM tr t, cfin c) WHERE rk <= 2),
        |cand AS (SELECT p.vec_id, m.vec_id AS eval_id,
        |           ROUND(list_cosine_similarity(p.v, m.v), 4) AS sim
        |         FROM probe p JOIN afin m ON m.cluster = p.cluster),
        |a AS (SELECT vec_id, MAX(sim) AS max_sim,
        |        CAST(SUM(CASE WHEN sim >= 0.4 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_over
        |      FROM cand GROUP BY vec_id),
        |nn AS (SELECT c.vec_id, MIN(c.eval_id) AS nearest_eval
        |       FROM cand c JOIN a ON c.vec_id = a.vec_id
        |        AND c.sim = a.max_sim
        |       GROUP BY c.vec_id)
        |SELECT a.vec_id, a.max_sim, nn.nearest_eval, a.n_over,
        |       a.max_sim >= 0.4 AS contaminated
        |FROM a JOIN nn USING (vec_id) ORDER BY a.vec_id""".stripMargin)),

    // span-level decontamination: training docs sharing a VERBATIM
    // 8-token window with the benchmark slice — the contiguous-overlap
    // criterion (gram overlap flags idioms; spans flag real leakage).
    // Raw-string window keys → the oracle replays the identical
    // relation; production hashes them to 8 bytes.
    QuerySpec("tc3_span_decontam", (s, d) => {
      val docs = fanOut(documents(s, d))
      Dedup.spanContaminationReport(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", spanTokens = 8, hashKeys = false)
        .orderBy(col("doc_id"))
    },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |idx AS (SELECT unnest(generate_series(0,
        |          (SELECT CAST(MAX(len(ws)) AS BIGINT) FROM t))) AS i),
        |win AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(ws[(i+1):(i+8)], ' ') AS gram
        |  FROM t, idx WHERE i + 8 <= len(ws)),
        |bench AS (SELECT DISTINCT gram FROM win WHERE doc_id % 7 = 0),
        |hits AS (SELECT w.doc_id, w.pos FROM win w JOIN bench USING (gram)
        |         WHERE w.doc_id % 7 <> 0),
        |cov AS (SELECT DISTINCT doc_id, pos + j.j AS i
        |        FROM hits, (SELECT unnest(generate_series(0, 7)) AS j) j),
        |c AS (SELECT doc_id, COUNT(*) AS n_covered_tokens FROM cov
        |      GROUP BY doc_id)
        |SELECT h.doc_id, COUNT(*) AS n_shared_spans, c.n_covered_tokens
        |FROM hits h JOIN c USING (doc_id)
        |GROUP BY h.doc_id, c.n_covered_tokens
        |ORDER BY h.doc_id""".stripMargin)),

    // split-aware decontamination: the held-out val/test splits (tp16's
    // hash assignment) play the benchmark — per-lang counts of train docs
    // sharing a 3-gram with ANY held-out doc. The cross-split leakage
    // audit every hash-partitioned corpus needs before its eval numbers
    // mean anything; splits relation persisted (three consumers), gram
    // machinery inherited from tc1.
    QuerySpec("tc5_split_decontam", (s, d) => {
      val splits = Sampling.hashSplit(fanOut(documents(s, d)), "doc_id")
        .select(col("doc_id"), col("lang"), col("text"), col("split"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val train = splits.filter(col("split") === "train")
      val held = splits.filter(col("split") =!= "train")
      val shared = Dedup.contaminationReport(train, held,
        "doc_id", "text", 3)
      train.join(shared, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_train_docs"),
          count(col("n_shared_grams")).as("n_contaminated"),
          sum(coalesce(col("n_shared_grams"), lit(0L))).as("total_shared"))
        .orderBy(col("lang"))
    },
      Some("""WITH s AS (SELECT doc_id, lang, text,
        |    CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90
        |           THEN 'train'
        |         WHEN (doc_id * 2654435761) % 4294967296 % 100 < 95
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |toks AS (SELECT doc_id, split, lang,
        |    string_split_regex(lower(text), '\s+') AS t FROM s),
        |grams AS (
        |  SELECT DISTINCT doc_id, split, lang,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE split <> 'train'),
        |shared AS (
        |  SELECT g.doc_id, COUNT(*) AS n_shared
        |  FROM grams g JOIN bench b USING (gram)
        |  WHERE g.split = 'train' GROUP BY g.doc_id)
        |SELECT lang, COUNT(*) AS n_train_docs,
        |       COUNT(sh.n_shared) AS n_contaminated,
        |       CAST(SUM(COALESCE(sh.n_shared, 0)) AS BIGINT)
        |         AS total_shared
        |FROM s LEFT JOIN shared sh USING (doc_id)
        |WHERE s.split = 'train'
        |GROUP BY lang ORDER BY lang""".stripMargin)),

    // the span-decontaminated corpus: docs with zero verbatim 8-token
    // benchmark windows survive — the doc-drop criterion eval hygiene
    // actually applies. Accounting totals prove the anti join.
    QuerySpec("tc4_span_decontam_clean", (s, d) => {
      val docs = fanOut(documents(s, d))
      Dedup.spanDecontaminate(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", spanTokens = 8, hashKeys = false)
        .agg(count(lit(1)).as("n_clean"),
          sum(col("n_chars")).as("clean_chars"))
    },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |idx AS (SELECT unnest(generate_series(0,
        |          (SELECT CAST(MAX(len(ws)) AS BIGINT) FROM t))) AS i),
        |win AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(ws[(i+1):(i+8)], ' ') AS gram
        |  FROM t, idx WHERE i + 8 <= len(ws)),
        |bench AS (SELECT DISTINCT gram FROM win WHERE doc_id % 7 = 0),
        |hit AS (SELECT DISTINCT w.doc_id FROM win w JOIN bench USING (gram)
        |        WHERE w.doc_id % 7 <> 0)
        |SELECT COUNT(*) AS n_clean,
        |       CAST(SUM(n_chars) AS BIGINT) AS clean_chars
        |FROM documents
        |WHERE doc_id % 7 <> 0
        |  AND doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin)),

    // the cleaned training corpus after decontamination, as accounting
    // totals (proves the anti join preserves full rows)
    QuerySpec("tc2_decontam_clean", (s, d) => {
      val docs = fanOut(documents(s, d))
      Dedup.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0),
          "doc_id", "text", 3)
        .agg(count(lit(1)).as("n_clean"),
          sum(col("n_chars")).as("clean_chars"))
    },
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
        |contaminated AS (
        |  SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)
        |  WHERE g.doc_id % 97 <> 0)
        |SELECT COUNT(*) AS n_clean,
        |       CAST(SUM(n_chars) AS BIGINT) AS clean_chars
        |FROM documents
        |WHERE doc_id % 97 <> 0
        |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)"""
        .stripMargin)),

    // training-data curation, composed end-to-end: exact-dedup to
    // representatives -> language gate -> quality floor -> corpus
    // accounting. One shuffle for the dedup groupBy, one for the rep join,
    // everything between is row-local codegen — the shape of a real
    // corpus-curation pass at 100 TB.
    QuerySpec("tp1_curation", (s, d) => {
      val docs = fanOut(documents(s, d))
      val reps = Dedup.exact(docs, "text", "doc_id")
        .select(col("rep_id").as("doc_id"))
      val counts = TextOps.rawCounts(col("text")).map { case (n, c) =>
        c.as(n)
      }
      docs.join(reps, Seq("doc_id"))
        .filter(TextOps.languageId(col("text")) === "en")
        .select(col("doc_id") +: counts: _*)
        .withColumn("quality", TextOps.qualityScoreFromCounts(
          col("n_chars"), col("n_words"), col("n_punct"), col("n_stops")))
        .filter(col("quality") >= 0.5)
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_words"),
          round(avg(col("quality")), 4).as("avg_quality"))
    },
      Some("""WITH dedup AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
        |d AS (SELECT doc_id, text FROM documents
        |      WHERE doc_id IN (SELECT doc_id FROM dedup)),
        |s AS (SELECT doc_id, text,
        |  len(regexp_extract_all(lower(text),
        |      '\b(the|a|of|and|is)\b')) AS s_en,
        |  len(regexp_extract_all(lower(text),
        |      '\b(le|la|et|les|des)\b')) AS s_fr,
        |  len(regexp_extract_all(lower(text),
        |      '\b(el|los|las|y|que)\b')) AS s_es
        |  FROM d),
        |en AS (SELECT doc_id, text FROM s
        |       WHERE s_en > 0 AND s_en >= s_fr AND s_en >= s_es),
        |f AS (SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split_regex(text, '\s+')) AS n_words,
        |  len(regexp_extract_all(lower(text),
        |      '\b(the|a|of|and|is|to|in)\b')) AS n_stops,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |  FROM en),
        |q AS (SELECT doc_id, n_words,
        |  ROUND((LEAST(n_words / 50.0, 1.0)
        |       + LEAST((n_stops * 1.0 / n_words) * 5.0, 1.0)
        |       + GREATEST(1.0 - (n_punct * 1.0 / n_chars) * 10.0, 0.0))
        |       / 3.0, 4) AS quality
        |  FROM f)
        |SELECT COUNT(*) AS n_docs,
        |  CAST(SUM(n_words) AS BIGINT) AS total_words,
        |  ROUND(AVG(quality), 4) AS avg_quality
        |FROM q WHERE quality >= 0.5""".stripMargin)),

    // corpus accounting report: per-(lang, source) doc counts, token
    // mass, quality stats and corpus share — the summary page every
    // curation run publishes. Pure arithmetic over one pass → full
    // oracle; ONE shuffle (the group-by), the corpus total broadcast
    // back for the share column.
    QuerySpec("tp2_corpus_report", (s, d) => {
      val docs = fanOut(documents(s, d))
      val counts = TextOps.rawCounts(col("text")).map { case (n, c) =>
        c.as(n)
      }
      val scored = docs
        .select(col("lang") +: col("source") +: counts: _*)
        .withColumn("quality", TextOps.qualityScoreFromCounts(
          col("n_chars"), col("n_words"), col("n_punct"), col("n_stops")))
      // quality mass as exact basis points: per-doc quality is already
      // 4-dp, so round(q*10000) is an exact integer and the SUM is
      // cross-engine exact — a rounded AVG lands on half-up boundaries
      // where Spark (BigDecimal of the double) and DuckDB (shortest
      // decimal repr) disagree in the last digit. min/max stay doubles:
      // selection-only, no arithmetic.
      scored.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("total_words"),
          sum(round(col("quality") * 10000).cast("long"))
            .as("sum_quality_bp"),
          round(min(col("quality")), 4).as("min_quality"),
          round(max(col("quality")), 4).as("max_quality"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_corpus"))))
        .withColumn("share_pct",
          round(col("n_docs") * lit(100.0) / col("n_corpus"), 4))
        .drop("n_corpus")
        .orderBy(col("lang"), col("source"))
    },
      Some("""WITH f AS (
        |  SELECT lang, source,
        |    length(text) AS n_chars,
        |    len(string_split_regex(text, '\s+')) AS n_words,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|a|of|and|is|to|in)\b')) AS n_stops,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |  FROM documents),
        |q AS (SELECT lang, source, n_words,
        |  ROUND((LEAST(n_words / 50.0, 1.0)
        |       + LEAST((n_stops * 1.0 / n_words) * 5.0, 1.0)
        |       + GREATEST(1.0 - (n_punct * 1.0 / n_chars) * 10.0, 0.0))
        |       / 3.0, 4) AS quality
        |  FROM f),
        |n AS (SELECT COUNT(*) AS n_corpus FROM documents)
        |SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_words) AS BIGINT) AS total_words,
        |  CAST(SUM(CAST(ROUND(quality * 10000) AS BIGINT)) AS BIGINT)
        |    AS sum_quality_bp,
        |  ROUND(MIN(quality), 4) AS min_quality,
        |  ROUND(MAX(quality), 4) AS max_quality,
        |  ROUND(COUNT(*) * 100.0 / MIN(n.n_corpus), 4) AS share_pct
        |FROM q CROSS JOIN n
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    // ---- text analysis -----------------------------------------------------
    QuerySpec("ts1_lang_id", (s, d) =>
      fanOut(documents(s, d))
        .withColumn("predicted_lang", TextOps.languageId(col("text")))
        .select(col("doc_id"), col("lang"), col("predicted_lang"))
        .orderBy(col("doc_id")),
      Some("""WITH s AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|a|of|and|is)\b')) AS s_en,
        |    len(regexp_extract_all(lower(text),
        |        '\b(le|la|et|les|des)\b')) AS s_fr,
        |    len(regexp_extract_all(lower(text),
        |        '\b(el|los|las|y|que)\b')) AS s_es
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN s_en > 0 AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        |       WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
        |       WHEN s_es > 0 THEN 'es'
        |       ELSE 'und' END AS predicted_lang
        |FROM s ORDER BY doc_id""".stripMargin)),

    // two-stage select: the regex/split passes land once in the first
    // projection (rawCounts); every feature + the score derive
    // arithmetically from those columns in the second
    QuerySpec("ts2_quality", (s, d) => {
      val counts = TextOps.rawCounts(col("text")).map { case (n, c) =>
        c.as(n)
      }
      val (ch, w, pu, st) =
        (col("n_chars"), col("n_words"), col("n_punct"), col("n_stops"))
      val feats = TextOps.qualityFeaturesFromCounts(ch, w, pu, st)
        .map { case (n, c) => c.as(n) }
      fanOut(documents(s, d))
        .select(col("doc_id") +: counts: _*)
        .select((col("doc_id") +: ch.as("n_chars_q") +: w +: feats :+
          TextOps.qualityScoreFromCounts(ch, w, pu, st).as("quality")): _*)
        .orderBy(col("doc_id"))
    },
      Some("""WITH f AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars_q,
        |    len(string_split_regex(text, '\s+')) AS n_words,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|a|of|and|is|to|in)\b')) AS n_stops,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |  FROM documents)
        |SELECT doc_id, n_chars_q, n_words,
        |  ROUND(n_chars_q * 1.0 / n_words, 4) AS avg_word_len,
        |  ROUND(n_stops * 1.0 / n_words, 4) AS stopword_ratio,
        |  ROUND(n_punct * 1.0 / n_chars_q, 4) AS punct_ratio,
        |  ROUND((LEAST(n_words / 50.0, 1.0)
        |       + LEAST((n_stops * 1.0 / n_words) * 5.0, 1.0)
        |       + GREATEST(1.0 - (n_punct * 1.0 / n_chars_q) * 10.0, 0.0))
        |       / 3.0, 4) AS quality
        |FROM f ORDER BY doc_id""".stripMargin)),

    QuerySpec("ts3_token_count", (s, d) =>
      fanOut(documents(s, d))
        .select(col("doc_id"),
          TextOps.wordCount(col("text")).cast("long").as("ws_tokens"),
          TextOps.regexTokenCount(col("text")).cast("long").as("re_tokens"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        |  len(string_split_regex(text, '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))
        |    AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QuerySpec("ts4_fingerprint", (s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          TextOps.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, md5(text) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // exact corpus TF-IDF over whitespace tokens — arithmetic is
    // deterministic, so the full (doc, term) relation is oracle-compared
    QuerySpec("ts6_tfidf", (s, d) =>
      TextOps.tfidf(fanOut(documents(s, d)), "doc_id", "text")
        .orderBy(col("doc_id"), col("term")),
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+'))
        |    AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |       FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df
        |          FROM toks GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT t.doc_id, t.term,
        |  ROUND(t.tf * ln(n.n * 1.0 / d.df), 4) AS tfidf
        |FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
        |ORDER BY doc_id, term""".stripMargin)),

    // per-document keyword extraction: top-3 TF-IDF terms per doc. The
    // per-doc rank is a row_number window Spark executes as
    // WindowGroupLimit (partial top-k BELOW the shuffle — each task keeps
    // 3 rows per doc before anything moves; PlansSpec locks it). Ties
    // break on the term so the cut is deterministic → full oracle.
    QuerySpec("ts20_keywords", (s, d) => {
      val scored = TextOps.tfidf(fanOut(documents(s, d)), "doc_id", "text")
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy(col("doc_id"), col("rank"))
    },
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+'))
        |    AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |       FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df
        |          FROM toks GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term,
        |    ROUND(t.tf * ln(n.n * 1.0 / d.df), 4) AS tfidf
        |  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tfidf, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin)),

    // corpus novelty profile: per doc, the fraction of its distinct
    // 3-grams whose FIRST corpus occurrence (min doc id) is this doc —
    // the repeated-boilerplate-vs-fresh-content census run before
    // deciding dedup aggressiveness. Per-doc distinct gram arrays build
    // row-local ([[Dedup.docShingles]]); the only shuffles are the
    // gram-keyed min aggregate (map-side combined, AQE-splittable on hot
    // grams) and its join-back — the tfidf df layout. Integer counts +
    // one exact division → full oracle.
    QuerySpec("ts21_ngram_novelty", (s, d) => {
      // gram keys hashed before the shuffle (the dd10/dd12 idiom):
      // novelty only needs gram IDENTITY, and the string-keyed form
      // shuffled 1.1 GB of text at the 100x decade and built a 1.2 GB
      // single-task hash map at 30x (AQE's SMJ->SHJ conversion over the
      // string build side — measured, not coalescing). A single 64-bit
      // key is NOT collision-free at the deep end — birthday bound
      // ~n^2/2^65 is a few percent at 10^9 distinct grams and
      // near-certain at the 10^12 grams a 100 TB corpus holds, and one
      // collision merges two grams and skews the novelty census — so the
      // key is TWO independently-seeded xxhash64 columns (128 bits,
      // ~4e-15 at 10^12 grams): one extra row-local hash and 8 more
      // bytes per shuffled row, still ~an order below the string key.
      // The DuckDB oracle keys by the raw strings; counts replay exactly.
      // repartition FIRST so one exchange serves both consumers: the
      // min-aggregate's distribution is satisfied (no second shuffle of
      // ~the same rows — (doc, gram) pairs are per-doc-distinct, so
      // map-side combine on the agg exchange saved almost nothing) and
      // the join-back is co-located. Without this the shingle fan-out is
      // COMPUTED TWICE (agg build + probe) and shuffled twice; with it,
      // once each, and the round-10 AQE finding (re-planning forgoing
      // the exchange reuse, 439 MB vs 84 MB peak at 30x) is moot because
      // both consumers read the SAME materialized shuffle stage.
      val grams = Dedup.docShingles(fanOut(documents(s, d)),
          "doc_id", "text", 3)
        .select(col("doc_id"), xxhash64(col("shingle")).as("g1"),
          xxhash64(lit(1), col("shingle")).as("g2"))
        .repartition(col("g1"), col("g2"))
      val first = grams.groupBy(col("g1"), col("g2"))
        .agg(min(col("doc_id")).as("first_doc"))
      grams.join(first, Seq("g1", "g2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams"), 4)
            .as("novelty"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |first AS (SELECT gram, MIN(doc_id) AS first_doc
        |          FROM grams GROUP BY 1)
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  ROUND(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
        |    * 1.0 / COUNT(*), 4) AS novelty
        |FROM grams JOIN first USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Gopher/MassiveText repetition filters: duplicate-line and top-bigram
    // coverage per doc — entirely row-local (zero shuffles), full oracle
    QuerySpec("ts7_repetition", (s, d) =>
      TextOps.repetitionSignals(fanOut(documents(s, d)), "doc_id", "text",
          lineWords = 5)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, length(text) AS n_chars,
        |                  string_split(text, ' ') AS ws FROM documents),
        |idx AS (SELECT unnest(generate_series(0,
        |          (SELECT MAX(len(ws)) // 5 FROM t))) AS i),
        |lines AS (
        |  SELECT doc_id, array_to_string(ws[(i*5+1):(i*5+5)], ' ') AS line
        |  FROM t, idx WHERE i*5 < len(ws)),
        |line_stats AS (
        |  SELECT doc_id, COUNT(*) AS n_lines,
        |         COUNT(*) - COUNT(DISTINCT line) AS n_dup_lines,
        |         SUM(length(line)) AS line_chars
        |  FROM lines GROUP BY doc_id),
        |dupc AS (
        |  SELECT doc_id,
        |         SUM(CASE WHEN c > 1 THEN c * ln ELSE 0 END) AS dup_chars
        |  FROM (SELECT doc_id, line, COUNT(*) AS c, length(line) AS ln
        |        FROM lines GROUP BY doc_id, line)
        |  GROUP BY doc_id),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1,
        |           len(ws) - 1), i -> ws[i] || ' ' || ws[i+1])) AS gram
        |  FROM t),
        |top AS (
        |  SELECT doc_id, gram AS top_bigram, c AS top_bigram_count FROM (
        |    SELECT doc_id, gram, COUNT(*) AS c,
        |           ROW_NUMBER() OVER (PARTITION BY doc_id
        |             ORDER BY COUNT(*) DESC, gram) AS rk
        |    FROM grams GROUP BY doc_id, gram) WHERE rk = 1)
        |SELECT s.doc_id, s.n_lines, s.n_dup_lines,
        |  ROUND(s.n_dup_lines * 1.0 / s.n_lines, 4) AS dup_line_frac,
        |  ROUND(d.dup_chars * 1.0 / s.line_chars, 4)
        |    AS dup_line_char_frac,
        |  p.top_bigram, p.top_bigram_count,
        |  ROUND(p.top_bigram_count * length(p.top_bigram) * 1.0
        |        / t.n_chars, 4) AS top_bigram_char_frac
        |FROM line_stats s
        |JOIN dupc d USING (doc_id)
        |JOIN top p USING (doc_id)
        |JOIN t USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // CCNet-style LM fluency scoring: corpus-trained unigram LM (pruned
    // vocab broadcast), per-doc average negative log-prob. vocabSize=20
    // leaves real OOV mass on this corpus so both paths are exercised.
    QuerySpec("lm1_lm_score", (s, d) =>
      TextOps.lmScore(fanOut(documents(s, d)), "doc_id", "text",
          vocabSize = 20)
        .orderBy(col("doc_id")),
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+'))
        |    AS term
        |  FROM documents),
        |vocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
        |          ORDER BY cnt DESC, term LIMIT 20),
        |tot AS (SELECT (SELECT COUNT(*) FROM toks) AS t_total,
        |               (SELECT COUNT(*) FROM vocab) AS v_size)
        |SELECT t.doc_id,
        |  ROUND(AVG(-ln((COALESCE(v.cnt, 0) + 1) * 1.0
        |    / (tot.t_total + tot.v_size + 1))), 4) AS avg_nll,
        |  COUNT(*) AS n_tokens
        |FROM toks t LEFT JOIN vocab v USING (term) CROSS JOIN tot
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    // order-2 LM fluency: corpus-trained bigram model (vocab-pruned,
    // add-one smoothed, broadcast — bigrams built row-locally from the
    // token array, no positional self-join), per-doc average conditional
    // negative log-prob → full (doc, avg_nll, n_bigrams) oracle.
    QuerySpec("ts17_bigram_lm", (s, d) =>
      TextOps.bigramLmScore(fanOut(documents(s, d)), "doc_id", "text",
          vocabSize = 20)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(text), '\s+') AS ws FROM documents),
        |toks AS (SELECT doc_id, unnest(ws) AS term FROM t),
        |vocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
        |          ORDER BY cnt DESC, term LIMIT 20),
        |bg AS (SELECT doc_id,
        |    split_part(gram, ' ', 1) AS prev,
        |    split_part(gram, ' ', 2) AS cur
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(generate_series(1, len(ws) - 1),
        |            i -> ws[i] || ' ' || ws[i + 1])) AS gram
        |        FROM t WHERE len(ws) >= 2)),
        |model AS (SELECT prev, cur, COUNT(*) AS c2 FROM bg
        |  WHERE prev IN (SELECT term FROM vocab)
        |    AND cur IN (SELECT term FROM vocab)
        |  GROUP BY prev, cur),
        |tot AS (SELECT (SELECT COUNT(*) FROM vocab) AS v_size)
        |SELECT b.doc_id,
        |  ROUND(AVG(CASE WHEN vp.cnt IS NOT NULL
        |    THEN -ln((COALESCE(m.c2, 0) + 1) * 1.0
        |              / (vp.cnt + tot.v_size + 1))
        |    ELSE -ln(1.0 / (tot.v_size + 1)) END), 4) AS avg_nll,
        |  COUNT(*) AS n_bigrams
        |FROM bg b LEFT JOIN vocab vp ON b.prev = vp.term
        |LEFT JOIN model m ON b.prev = m.prev AND b.cur = m.cur
        |CROSS JOIN tot
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)),

    // sentence segmentation + per-doc sentence-length stats: maximal
    // [^.!?]+[.!?]* runs (lookbehind-free → replays on RE2), row-local
    // array algebra end to end — zero shuffles, integer-exact averages.
    QuerySpec("ts22_sentence_stats", (s, d) =>
      TextOps.sentenceStats(fanOut(documents(s, d)), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH s AS (SELECT doc_id,
        |    list_filter(regexp_extract_all(text, '[^.!?]+[.!?]*'),
        |                x -> trim(x) <> '') AS sents
        |  FROM documents),
        |w AS (SELECT doc_id, len(sents) AS n_sentences,
        |    list_transform(sents,
        |      x -> len(string_split_regex(trim(x), '\s+'))) AS wc
        |  FROM s WHERE len(sents) > 0)
        |SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
        |  CAST(list_aggregate(wc, 'sum') AS BIGINT) AS total_words,
        |  ROUND(CAST(list_aggregate(wc, 'sum') AS DOUBLE) / n_sentences,
        |        4) AS avg_words,
        |  CAST(list_aggregate(wc, 'max') AS BIGINT) AS max_words
        |FROM w ORDER BY doc_id""".stripMargin)),

    // production-grade LM smoothing: interpolated Kneser-Ney (fixed
    // D=0.75) over the same vocab — discounted seen-bigram mass backs off
    // through CONTINUATION counts, not uniform pseudo-counts. Closed-vocab
    // scoring keeps every denominator ≥ 1 → bit-exact full oracle.
    QuerySpec("lm2_kneser_ney", (s, d) =>
      TextOps.kneserNeyScore(fanOut(documents(s, d)), "doc_id", "text",
          vocabSize = 20, discount = 0.75)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |    string_split_regex(lower(text), '\s+') AS ws FROM documents),
        |toks AS (SELECT doc_id, unnest(ws) AS term FROM t),
        |vocab AS (SELECT term FROM (
        |    SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
        |    ORDER BY cnt DESC, term LIMIT 20)),
        |bg AS (SELECT doc_id,
        |    split_part(gram, ' ', 1) AS prev,
        |    split_part(gram, ' ', 2) AS cur
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(generate_series(1, len(ws) - 1),
        |            i -> ws[i] || ' ' || ws[i + 1])) AS gram
        |        FROM t WHERE len(ws) >= 2)),
        |vb AS (SELECT doc_id, prev, cur FROM bg
        |  WHERE prev IN (SELECT term FROM vocab)
        |    AND cur IN (SELECT term FROM vocab)),
        |model AS (SELECT prev, cur, COUNT(*) AS c2 FROM vb
        |          GROUP BY prev, cur),
        |ctx AS (SELECT prev, SUM(c2) AS c1v, COUNT(*) AS n_fwd
        |        FROM model GROUP BY prev),
        |cont AS (SELECT cur, COUNT(*) AS n_bwd FROM model GROUP BY cur),
        |tt AS (SELECT COUNT(*) AS t_types FROM model)
        |SELECT b.doc_id,
        |  ROUND(AVG(-ln((GREATEST(m.c2 - 0.75, 0.0)
        |      + 0.75 * x.n_fwd * (c.n_bwd * 1.0 / tt.t_types))
        |    / x.c1v)), 4) AS avg_nll,
        |  COUNT(*) AS n_scored
        |FROM vb b JOIN model m ON b.prev = m.prev AND b.cur = m.cur
        |JOIN ctx x ON b.prev = x.prev
        |JOIN cont c ON b.cur = c.cur
        |CROSS JOIN tt
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin)),

    // domain rebalancing: every lang deterministically downsampled to the
    // smallest lang's size (integer-exact mod sampling → full oracle)
    QuerySpec("tp3_domain_rebalance", (s, d) => {
      val docs = fanOut(documents(s, d))
      val kept = Sampling.rebalanceToMin(docs, "lang", "doc_id")
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
        .join(kept.groupBy(col("lang")).agg(count(lit(1)).as("n_after")),
          Seq("lang"))
        .orderBy(col("lang"))
    },
      Some("""WITH counts AS (
        |  SELECT lang, COUNT(*) AS grp_n FROM documents GROUP BY lang),
        |m AS (SELECT MIN(grp_n) AS min_n FROM counts),
        |kept AS (
        |  SELECT d.lang FROM documents d JOIN counts c USING (lang)
        |  CROSS JOIN m
        |  WHERE (d.doc_id % 10000) * c.grp_n < m.min_n * 10000)
        |SELECT c.lang, c.grp_n AS n_before, k.n_after
        |FROM counts c
        |JOIN (SELECT lang, COUNT(*) AS n_after FROM kept GROUP BY lang) k
        |  USING (lang)
        |ORDER BY c.lang""".stripMargin)),

    // LM training-sequence chunking: 32-token windows every 24 tokens
    // (8-token overlap), tails truncated — deterministic starts → the
    // full (doc, seq) relation is oracle-compared
    QuerySpec("ts8_sequence_chunks", (s, d) =>
      TextOps.sequenceChunks(fanOut(documents(s, d)), "doc_id", "text",
          seqLen = 32, stride = 24)
        .orderBy(col("doc_id"), col("seq_no")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |idx AS (SELECT unnest(generate_series(0,
        |          (SELECT MAX(len(ws)) // 24 FROM t))) AS i),
        |seqs AS (
        |  SELECT doc_id, i AS seq_no, ws[(i*24+1):(i*24+32)] AS toks
        |  FROM t, idx WHERE i*24 < len(ws))
        |SELECT doc_id, seq_no, len(toks) AS n_tokens,
        |       array_to_string(toks, ' ') AS seq_text
        |FROM seqs ORDER BY doc_id, seq_no""".stripMargin)),

    // BPE tokenizer training: 16 merge rounds over the corpus
    // word-frequency relation (rounds run on the VOCABULARY, not the
    // corpus — one corpus scan total). Deterministic argmax (count desc,
    // then lexicographic) → the merge table is exactly reproducible, but
    // no single SQL statement can replay an iterative train → no DuckDB
    // oracle; instead the batched-round production path is compared to
    // Bpe.referenceTrain (textbook one-merge-at-a-time greedy on the
    // driver, vocab-capped — the brute-force oracle pattern) and the
    // ENFORCED per-rank `equal` verdict asserts the two merge tables are
    // identical — the greedy-equivalence proof in Bpe.train's batch
    // acceptance rule, checked on the live corpus every run (BpeSpec pins
    // batched ≡ sequential ≡ reference on known corpora besides).
    QuerySpec("ts11_bpe_train", (s, d) => {
      import s.implicits._
      val docs = fanOut(documents(s, d))
      // engine train + independent oracle share ONE materialized word
      // table (the corpus scan is paid once); the verdict compares the
      // batched distributed train against the textbook driver-side
      // sequential greedy — more independent than re-running the same
      // distributed machinery at batchCap=1, and free of its ~150 ms/
      // merge driver round-trip overhead
      val words = Bpe.wordTable(docs, "text").localCheckpoint(true)
      val batched = Bpe.trainFromWords(words, numMerges = 16)
      val sequential = Bpe.referenceTrain(words, numMerges = 16)
      batched.zip(sequential).map { case (b, q) =>
        (b._1, b._2, b._3, b._4, b == q)
      }.toDF("rank", "left", "right", "pair_count", "equal")
        .select(col("rank").cast("long").as("rank"), col("left"),
          col("right"), col("pair_count"),
          (col("equal") && lit(batched.size == sequential.size))
            .as("equal"))
        .orderBy(col("rank"))
    }),

    // BPE application self-check: segmenting the corpus with the trained
    // merges must preserve every word's concatenation (the merge
    // invariant) while strictly compressing the symbol stream — a false
    // verdict means merge application corrupted a word.
    QuerySpec("ts12_bpe_segment", (s, d) => {
      val docs = fanOut(documents(s, d))
      val words = Bpe.wordTable(docs, "text").localCheckpoint(true)
      val merges = Bpe.trainFromWords(words, numMerges = 16)
      Bpe.segmentWords(words, merges)
        .agg(
          sum(col("cnt") * size(col("syms"))).as("n_tokens"),
          sum(col("cnt") * length(col("w"))).as("n_chars"),
          sum(when(array_join(col("syms"), "") =!= col("w"), col("cnt"))
            .otherwise(0L)).as("n_broken"))
        .select(col("n_tokens"), col("n_chars"), col("n_broken"),
          round(col("n_chars").cast("double") / col("n_tokens"), 4)
            .as("chars_per_token"),
          (col("n_broken") === 0 && col("n_tokens") < col("n_chars"))
            .as("equal"))
    }),

    // the composed quality gate: heuristic score + trained NB classifier
    // + unigram-LM fluency voted into one keep decision, accounted
    // per lang — all three scorers rounded once on both engines → the
    // whole ensemble carries a full oracle.
    QuerySpec("tp8_quality_ensemble", (s, d) => {
      // docs feeds the heuristic scorer AND the LM scorer; scored feeds
      // the NB trainer AND the final vote join — persist both so the
      // corpus scan and the regex counting each run once
      val docs = fanOut(documents(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val counts = TextOps.rawCounts(col("text")).map { case (n, c) =>
        c.as(n)
      }
      val scored = docs
        .select(col("doc_id") +: col("lang") +: col("text") +: counts: _*)
        .withColumn("quality", TextOps.qualityScoreFromCounts(
          col("n_chars"), col("n_words"), col("n_punct"), col("n_stops")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nb = TextOps.nbQualityScore(scored, "doc_id", "text",
          col("quality") >= 0.5, vocabSize = 1000)
        .select(col("doc_id"), col("score"))
      val lm = TextOps.lmScore(docs, "doc_id", "text", vocabSize = 20)
        .select(col("doc_id"), col("avg_nll"))
      scored.join(nb, Seq("doc_id"), "left").join(lm, Seq("doc_id"))
        .withColumn("keep",
          col("quality") >= 0.5 &&
            coalesce(col("score"), lit(0.0)) > 0 &&
            col("avg_nll") <= 5.6)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("lang"))
    },
      Some("""WITH f AS (
        |  SELECT doc_id, lang, text,
        |    length(text) AS n_chars,
        |    len(string_split_regex(text, '\s+')) AS n_words,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|a|of|and|is|to|in)\b')) AS n_stops,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |  FROM documents),
        |lab AS (SELECT doc_id, lang, text,
        |  ROUND((LEAST(n_words / 50.0, 1.0)
        |       + LEAST((n_stops * 1.0 / n_words) * 5.0, 1.0)
        |       + GREATEST(1.0 - (n_punct * 1.0 / n_chars) * 10.0, 0.0))
        |       / 3.0, 4) AS quality
        |  FROM f),
        |toks AS (
        |  SELECT doc_id, quality >= 0.5 AS pos,
        |         unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM lab),
        |vocab AS (
        |  SELECT term, COUNT(*) AS cnt,
        |         SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS pos_cnt
        |  FROM toks GROUP BY term
        |  ORDER BY cnt DESC, term LIMIT 1000),
        |v2 AS (SELECT term, pos_cnt, cnt - pos_cnt AS neg_cnt FROM vocab),
        |vtot AS (SELECT CAST(SUM(pos_cnt) AS DOUBLE) AS pos_toks,
        |                CAST(SUM(neg_cnt) AS DOUBLE) AS neg_toks,
        |                COUNT(*) AS v
        |         FROM v2),
        |dt AS (SELECT SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END)
        |              AS pos_docs,
        |              COUNT(*) AS n_docs FROM lab),
        |llr AS (
        |  SELECT t.doc_id,
        |    ln((v2.pos_cnt + 1) / (vtot.pos_toks + vtot.v + 1))
        |      - ln((v2.neg_cnt + 1)
        |           / (vtot.neg_toks + vtot.v + 1)) AS llr
        |  FROM toks t JOIN v2 USING (term) CROSS JOIN vtot),
        |nb AS (
        |  SELECT s.doc_id,
        |    ROUND(ln(dt.pos_docs * 1.0 / (dt.n_docs - dt.pos_docs))
        |      + SUM(s.llr), 4) AS score
        |  FROM llr s CROSS JOIN dt
        |  GROUP BY s.doc_id, dt.pos_docs, dt.n_docs),
        |lmvocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
        |            ORDER BY cnt DESC, term LIMIT 20),
        |lmtot AS (SELECT (SELECT COUNT(*) FROM toks) AS t_total,
        |                 (SELECT COUNT(*) FROM lmvocab) AS v_size),
        |lm AS (
        |  SELECT t.doc_id,
        |    ROUND(AVG(-ln((COALESCE(v.cnt, 0) + 1) * 1.0
        |      / (lmtot.t_total + lmtot.v_size + 1))), 4) AS avg_nll
        |  FROM toks t LEFT JOIN lmvocab v USING (term) CROSS JOIN lmtot
        |  GROUP BY t.doc_id),
        |joined AS (
        |  SELECT l.lang,
        |    (l.quality >= 0.5 AND COALESCE(nb.score, 0) > 0
        |      AND lm.avg_nll <= 5.6) AS keep
        |  FROM lab l
        |  LEFT JOIN nb USING (doc_id)
        |  JOIN lm USING (doc_id))
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept
        |FROM joined GROUP BY lang ORDER BY lang""".stripMargin)),

    // DSIR importance weights: every doc scored by its per-token average
    // ln p_target(t) − ln p_raw(t) — target LM trained on the English
    // slice, raw LM on the whole corpus. Pure count arithmetic → full
    // oracle.
    QuerySpec("tp9_dsir_weights", (s, d) => {
      val docs = fanOut(documents(s, d))
      TextOps.dsirWeights(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+'))
        |    AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
        |       GROUP BY doc_id, term),
        |rawc AS (SELECT term, SUM(tf) AS raw_cnt FROM tf GROUP BY term),
        |tgtc AS (SELECT t.term, COUNT(*) AS tgt_cnt FROM toks t
        |         JOIN documents d USING (doc_id) WHERE d.lang = 'en'
        |         GROUP BY t.term),
        |tot AS (SELECT (SELECT SUM(raw_cnt) FROM rawc) AS raw_total,
        |               (SELECT COUNT(*) FROM rawc) AS v,
        |               (SELECT SUM(tgt_cnt) FROM tgtc) AS tgt_total)
        |SELECT f.doc_id,
        |  ROUND(SUM(f.tf *
        |      (ln((COALESCE(g.tgt_cnt, 0) + 1) * 1.0
        |          / (tot.tgt_total + tot.v + 1))
        |       - ln((r.raw_cnt + 1) * 1.0
        |           / (tot.raw_total + tot.v + 1))))
        |    / SUM(f.tf), 4) + 0.0 AS dsir_weight,
        |  CAST(SUM(f.tf) AS BIGINT) AS n_tokens
        |FROM tf f JOIN rawc r USING (term) LEFT JOIN tgtc g USING (term)
        |CROSS JOIN tot
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin)),

    // CCNet perplexity bucketing: per-lang head/middle/tail split at the
    // exact score terciles — percentile CUT POINTS (an aggregate +
    // broadcast-sized join-back), not a single-task-per-lang ntile
    // window. vocabSize 20 = the lm1 oracle's pruned LM.
    QuerySpec("tp10_ppl_buckets", (s, d) => {
      val docs = fanOut(documents(s, d))
      TextOps.perplexityBuckets(docs, "doc_id", "text", "lang",
          vocabSize = 20)
        .orderBy(col("lang"), col("bucket"))
    },
      Some("""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+'))
        |    AS term
        |  FROM documents),
        |vocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
        |          ORDER BY cnt DESC, term LIMIT 20),
        |tot AS (SELECT (SELECT COUNT(*) FROM toks) AS t_total,
        |               (SELECT COUNT(*) FROM vocab) AS v_size),
        |scored AS (
        |  SELECT t.doc_id,
        |    ROUND(AVG(-ln((COALESCE(v.cnt, 0) + 1) * 1.0
        |      / (tot.t_total + tot.v_size + 1))), 4) AS avg_nll,
        |    COUNT(*) AS n_toks
        |  FROM toks t LEFT JOIN vocab v USING (term) CROSS JOIN tot
        |  GROUP BY t.doc_id),
        |sl AS (SELECT s.doc_id, s.avg_nll, s.n_toks, d.lang
        |       FROM scored s JOIN documents d USING (doc_id)),
        |cuts AS (SELECT lang,
        |           ROUND(quantile_cont(avg_nll, 1.0/3), 6) AS c1,
        |           ROUND(quantile_cont(avg_nll, 2.0/3), 6) AS c2
        |         FROM sl GROUP BY lang)
        |SELECT sl.lang,
        |  CASE WHEN avg_nll <= c1 THEN 'head'
        |       WHEN avg_nll <= c2 THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        |  ROUND(AVG(avg_nll), 4) AS mean_nll
        |FROM sl JOIN cuts USING (lang)
        |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin)),

    // balanced shard assignment: snake-deal every doc to one of 8
    // training shards by token count (distributed rank — no single-task
    // sort), so shard token masses come out near-equal. Per-shard
    // accounting; unique (weight, id) order → deterministic → full oracle.
    QuerySpec("tp12_shard_balance", (s, d) => {
      val docs = fanOut(documents(s, d))
      Sampling.snakeShards(docs, "doc_id",
          size(split(col("text"), "\\s+")).cast("long"), 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("weight")).as("n_tokens"))
        .orderBy(col("shard"))
    },
      Some("""WITH t AS (SELECT doc_id,
        |             len(string_split_regex(text, '\s+')) AS w
        |           FROM documents),
        |r AS (SELECT doc_id, w,
        |        ROW_NUMBER() OVER (ORDER BY w DESC, doc_id) - 1 AS rk
        |      FROM t),
        |sh AS (SELECT doc_id, w,
        |         CASE WHEN rk % 16 < 8 THEN rk % 16
        |              ELSE 15 - (rk % 16) END AS shard
        |       FROM r)
        |SELECT shard, COUNT(*) AS n_docs,
        |       CAST(SUM(w) AS BIGINT) AS n_tokens
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin)),

    // winsorized per-lang length profile: clip token counts at the exact
    // per-lang [p05, p95] percentile cuts (aggregate + broadcast, never a
    // per-group window sort) and report the clipped mean + clip counts.
    // Cuts rounded once, mean summed in integer micro-units → full oracle.
    QuerySpec("tp13_winsorize", (s, d) =>
      TextOps.winsorizedLengthStats(fanOut(documents(s, d)), "text", "lang")
        .orderBy(col("lang")),
      Some("""WITH b AS (SELECT lang,
        |             len(string_split_regex(text, '\s+')) AS n_words
        |           FROM documents),
        |c AS (SELECT lang,
        |        ROUND(quantile_cont(n_words, 0.05), 6) AS lo_cut,
        |        ROUND(quantile_cont(n_words, 0.95), 6) AS hi_cut
        |      FROM b GROUP BY lang)
        |SELECT b.lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN n_words < lo_cut THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_clipped_low,
        |  CAST(SUM(CASE WHEN n_words > hi_cut THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_clipped_high,
        |  MAX(lo_cut) AS lo_cut, MAX(hi_cut) AS hi_cut,
        |  ROUND(CAST(SUM(CAST(ROUND(LEAST(GREATEST(n_words * 1e6,
        |                lo_cut * 1e6), hi_cut * 1e6)) AS BIGINT))
        |          AS DOUBLE) / 1e6 / COUNT(*), 4) AS win_mean_words
        |FROM b JOIN c USING (lang)
        |GROUP BY b.lang ORDER BY b.lang""".stripMargin)),

    // cross-source score calibration: per-source percent rank of the
    // heuristic quality — rank-normalization that makes heterogeneous
    // sources comparable ("top decile of its own source"). Ties broken by
    // doc_id → exact replay; one per-source window sort.
    QuerySpec("tp23_quantile_calibration", (s, d) => {
      val docs = fanOut(documents(s, d))
      val counts = TextOps.rawCounts(col("text")).map { case (n, c) =>
        c.as(n)
      }
      val scored = docs
        .select(col("doc_id") +: col("source") +: counts: _*)
        .withColumn("quality", TextOps.qualityScoreFromCounts(
          col("n_chars"), col("n_words"), col("n_punct"), col("n_stops")))
      Sampling.quantileCalibrate(scored, "quality", "source", "doc_id")
        .orderBy(col("doc_id"))
    },
      Some("""WITH f AS (
        |  SELECT doc_id, source,
        |    length(text) AS n_chars,
        |    len(string_split_regex(text, '\s+')) AS n_words,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|a|of|and|is|to|in)\b')) AS n_stops,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |  FROM documents),
        |q AS (SELECT doc_id, source,
        |    ROUND((LEAST(n_words / 50.0, 1.0)
        |         + LEAST((n_stops * 1.0 / n_words) * 5.0, 1.0)
        |         + GREATEST(1.0 - (n_punct * 1.0 / n_chars) * 10.0, 0.0))
        |         / 3.0, 4) AS quality
        |  FROM f)
        |SELECT doc_id, source, quality,
        |  ROUND(PERCENT_RANK() OVER (PARTITION BY source
        |          ORDER BY quality, doc_id), 6) AS calibrated
        |FROM q ORDER BY doc_id""".stripMargin)),

    // per-lang top-p (nucleus) selection: keep the best docs until 80% of
    // the char mass is covered — p as a rational (4/5) and integer
    // weights make the keep predicate integer-exact. The mass-targeted
    // complement of tp14's threshold sweep.
    QuerySpec("tp24_top_p_selection", (s, d) => {
      val docs = fanOut(documents(s, d))
      val counts = TextOps.rawCounts(col("text")).map { case (n, c) =>
        c.as(n)
      }
      val scored = docs
        .select(col("doc_id") +: col("lang") +: counts: _*)
        .withColumn("quality", TextOps.qualityScoreFromCounts(
          col("n_chars"), col("n_words"), col("n_punct"), col("n_stops")))
        .localCheckpoint(true) // two consumers: the kept side + totals
      val kept = Sampling.topP(scored, "lang", "doc_id", "quality",
        "n_chars", pNum = 4, pDen = 5)
      scored.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .join(kept.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_chars")).as("kept_chars")), Seq("lang"))
        .orderBy(col("lang"))
    },
      Some("""WITH f AS (
        |  SELECT doc_id, lang,
        |    length(text) AS n_chars,
        |    len(string_split_regex(text, '\s+')) AS n_words,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|a|of|and|is|to|in)\b')) AS n_stops,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |  FROM documents),
        |q AS (SELECT doc_id, lang, n_chars,
        |    ROUND((LEAST(n_words / 50.0, 1.0)
        |         + LEAST((n_stops * 1.0 / n_words) * 5.0, 1.0)
        |         + GREATEST(1.0 - (n_punct * 1.0 / n_chars) * 10.0, 0.0))
        |         / 3.0, 4) AS quality
        |  FROM f),
        |w AS (SELECT doc_id, lang, n_chars,
        |    COALESCE(SUM(n_chars) OVER (PARTITION BY lang
        |        ORDER BY quality DESC, doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before,
        |    SUM(n_chars) OVER (PARTITION BY lang) AS grp_total
        |  FROM q),
        |k AS (SELECT * FROM w WHERE cum_before * 5 < grp_total * 4)
        |SELECT t.lang, t.n_docs, t.total_chars, kk.n_kept, kk.kept_chars
        |FROM (SELECT lang, COUNT(*) AS n_docs,
        |        CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |      FROM q GROUP BY lang) t
        |JOIN (SELECT lang, COUNT(*) AS n_kept,
        |        CAST(SUM(n_chars) AS BIGINT) AS kept_chars
        |      FROM k GROUP BY lang) kk USING (lang)
        |ORDER BY t.lang""".stripMargin)),

    // per-source frequency cap (the Common-Crawl domain cap): at most 10
    // docs per source survive, best heuristic quality first (ties →
    // doc_id), with the per-source before/after census and surviving char
    // mass. The rank filter compiles to WindowGroupLimit — each map task
    // keeps its local top-10 per source BEFORE the shuffle, so a skewed
    // mega-domain costs its scan, never a fat exchange. Quality rounds
    // once (tp23's rule) → full oracle.
    QuerySpec("tp25_source_cap", (s, d) => {
      val docs = fanOut(documents(s, d))
      val counts = TextOps.rawCounts(col("text")).map { case (n, c) =>
        c.as(n)
      }
      val scored = docs
        .select(col("doc_id") +: col("source") +: counts: _*)
        .withColumn("quality", TextOps.qualityScoreFromCounts(
          col("n_chars"), col("n_words"), col("n_punct"), col("n_stops")))
        .localCheckpoint(true) // two consumers: kept side + before-census
      val kept = Sampling.groupCap(scored, "source", "doc_id",
        col("quality"), cap = 10)
      scored.groupBy(col("source"))
        .agg(count(lit(1)).as("n_before"),
          sum(col("n_chars")).as("chars_before"))
        .join(kept.groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_chars")).as("chars_kept"),
            min(col("quality")).as("min_kept_quality")), Seq("source"))
        .orderBy(col("source"))
    },
      Some("""WITH f AS (
        |  SELECT doc_id, source,
        |    length(text) AS n_chars,
        |    len(string_split_regex(text, '\s+')) AS n_words,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|a|of|and|is|to|in)\b')) AS n_stops,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |  FROM documents),
        |q AS (SELECT doc_id, source, n_chars,
        |    ROUND((LEAST(n_words / 50.0, 1.0)
        |         + LEAST((n_stops * 1.0 / n_words) * 5.0, 1.0)
        |         + GREATEST(1.0 - (n_punct * 1.0 / n_chars) * 10.0, 0.0))
        |         / 3.0, 4) AS quality
        |  FROM f),
        |r AS (SELECT source, doc_id, n_chars, quality,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY quality DESC, doc_id) AS rk
        |  FROM q)
        |SELECT source, COUNT(*) AS n_before,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars_before,
        |  COUNT(*) FILTER (WHERE rk <= 10) AS n_kept,
        |  CAST(SUM(n_chars) FILTER (WHERE rk <= 10) AS BIGINT)
        |    AS chars_kept,
        |  MIN(quality) FILTER (WHERE rk <= 10) AS min_kept_quality
        |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // quality-vs-quantity survival curve: bucket the rounded heuristic
    // quality into 20 cells and report the doc/token mass surviving each
    // keep-≥-threshold cut — the table a curation run picks its quality
    // cutoff from. Bucket agg is map-side combined; cumsums run on the
    // ≤20-row bucket relation, never the corpus → full oracle.
    QuerySpec("tp14_quality_pareto", (s, d) => {
      val docs = fanOut(documents(s, d))
      val counts = TextOps.rawCounts(col("text")).map { case (n, c) =>
        c.as(n)
      }
      val scored = docs.select(col("doc_id") +: counts: _*)
        .withColumn("quality", TextOps.qualityScoreFromCounts(
          col("n_chars"), col("n_words"), col("n_punct"), col("n_stops")))
      Sampling.qualityPareto(scored, "quality", col("n_words"))
        .orderBy(col("threshold"))
    },
      Some("""WITH f AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    len(string_split_regex(text, '\s+')) AS n_words,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|a|of|and|is|to|in)\b')) AS n_stops,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |  FROM documents),
        |q AS (SELECT n_words,
        |        ROUND((LEAST(n_words / 50.0, 1.0)
        |             + LEAST((n_stops * 1.0 / n_words) * 5.0, 1.0)
        |             + GREATEST(1.0 - (n_punct * 1.0 / n_chars) * 10.0,
        |                        0.0)) / 3.0, 4) AS quality
        |      FROM f),
        |b AS (SELECT LEAST(CAST(FLOOR(quality * 20) AS BIGINT), 19)
        |               AS bucket,
        |        COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT)
        |          AS n_tokens
        |      FROM q GROUP BY 1)
        |SELECT ROUND(bucket * 1.0 / 20, 4) AS threshold, n_docs, n_tokens,
        |  CAST(SUM(n_docs) OVER (ORDER BY bucket DESC) AS BIGINT)
        |    AS surviving_docs,
        |  CAST(SUM(n_tokens) OVER (ORDER BY bucket DESC) AS BIGINT)
        |    AS surviving_tokens
        |FROM b ORDER BY threshold""".stripMargin)),

    // data-constrained epoch schedule: 2× the corpus token mass spread
    // evenly across langs, ≤4 epochs per lang — how many repeats each
    // domain serves, and the capped groups' deficit. Tiny group relation
    // arithmetic, epochs rounded once → full oracle.
    QuerySpec("tp15_epoch_schedule", (s, d) =>
      Sampling.epochSchedule(fanOut(documents(s, d)), "lang",
          size(split(col("text"), "\\s+")).cast("long"))
        .orderBy(col("lang")),
      Some("""WITH t AS (SELECT lang,
        |             len(string_split_regex(text, '\s+')) AS w
        |           FROM documents),
        |g AS (SELECT lang, CAST(SUM(w) AS BIGINT) AS t_tokens
        |      FROM t GROUP BY lang),
        |tot AS (SELECT SUM(t_tokens) AS total, COUNT(*) AS n_groups
        |        FROM g),
        |e AS (SELECT lang, t_tokens,
        |        CAST(FLOOR(2.0 * total / n_groups) AS BIGINT)
        |          AS target_tokens
        |      FROM g CROSS JOIN tot)
        |SELECT lang, t_tokens, target_tokens,
        |  ROUND(LEAST(4.0, target_tokens * 1.0 / t_tokens), 4) AS epochs,
        |  CAST(ROUND(ROUND(LEAST(4.0, target_tokens * 1.0 / t_tokens), 4)
        |             * t_tokens) AS BIGINT) AS served_tokens
        |FROM e ORDER BY lang""".stripMargin)),

    // GPT-style sequence packing: ts8's chunks laid end to end per shard
    // and cut into 512-token bins (concatenate-then-cut). The window
    // partitions by shard — no global sort task; deterministic offsets →
    // full oracle on per-(shard, bin) fill accounting.
    QuerySpec("tp7_sequence_packing", (s, d) => {
      val chunks = TextOps.sequenceChunks(fanOut(documents(s, d)),
        "doc_id", "text", seqLen = 32, stride = 24)
      TextOps.packSequences(chunks, "doc_id", "seq_no", "n_tokens",
          binTokens = 512, nShards = 8)
        .orderBy(col("shard"), col("bin"))
    },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |idx AS (SELECT unnest(generate_series(0,
        |          (SELECT MAX(len(ws)) // 24 FROM t))) AS i),
        |seqs AS (
        |  SELECT doc_id, i AS seq_no,
        |         len(ws[(i*24+1):(i*24+32)]) AS n_tokens
        |  FROM t, idx WHERE i*24 < len(ws)),
        |off AS (
        |  SELECT doc_id % 8 AS shard, doc_id, seq_no, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY doc_id % 8
        |      ORDER BY doc_id, seq_no) - n_tokens AS start_off
        |  FROM seqs)
        |SELECT shard, CAST(FLOOR(start_off / 512) AS BIGINT) AS bin,
        |       COUNT(*) AS n_seqs, CAST(SUM(n_tokens) AS BIGINT)
        |         AS n_tokens
        |FROM off GROUP BY shard, bin ORDER BY shard, bin""".stripMargin)),

    // packing-efficiency report over tp7's bins — the batch-utilization
    // artifact a training run watches (wasted pad tokens = wasted
    // compute): per shard, bins / sequences / packed tokens and the
    // floor-div fill rate against the 512-token bin capacity. Bins-sized
    // input → census-sized everything.
    QuerySpec("tp22_pack_efficiency", (s, d) => {
      val chunks = TextOps.sequenceChunks(fanOut(documents(s, d)),
        "doc_id", "text", seqLen = 32, stride = 24)
      TextOps.packSequences(chunks, "doc_id", "seq_no", "n_tokens",
          binTokens = 512, nShards = 8)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_bins"),
          sum(col("n_seqs")).as("n_seqs"),
          sum(col("n_tokens")).as("n_tokens"))
        .select(col("shard"), col("n_bins"), col("n_seqs"),
          col("n_tokens"),
          floor(col("n_tokens").cast("double") * 10000 /
            (col("n_bins") * 512)).cast("long").as("fill_bp"))
        .orderBy(col("shard"))
    },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |idx AS (SELECT unnest(generate_series(0,
        |          (SELECT MAX(len(ws)) // 24 FROM t))) AS i),
        |seqs AS (
        |  SELECT doc_id, i AS seq_no,
        |         len(ws[(i*24+1):(i*24+32)]) AS n_tokens
        |  FROM t, idx WHERE i*24 < len(ws)),
        |off AS (
        |  SELECT doc_id % 8 AS shard, doc_id, seq_no, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY doc_id % 8
        |      ORDER BY doc_id, seq_no) - n_tokens AS start_off
        |  FROM seqs),
        |bins AS (
        |  SELECT shard, CAST(FLOOR(start_off / 512) AS BIGINT) AS bin,
        |         COUNT(*) AS n_seqs, CAST(SUM(n_tokens) AS BIGINT)
        |           AS n_tokens
        |  FROM off GROUP BY shard, bin)
        |SELECT shard, COUNT(*) AS n_bins,
        |       CAST(SUM(n_seqs) AS BIGINT) AS n_seqs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |       CAST(FLOOR(CAST(SUM(n_tokens) AS DOUBLE) * 10000
        |         / (COUNT(*) * 512)) AS BIGINT) AS fill_bp
        |FROM bins GROUP BY shard ORDER BY shard""".stripMargin)),

    // corpus-trained Naive-Bayes quality scorer: weak labels from the
    // heuristic quality gate (≥ 0.5), vocab-restricted log-likelihood-
    // ratio scoring — the fasttext-style classifier pass after the
    // heuristics. Deterministic vocab (count desc, term) → full oracle.
    QuerySpec("ts10_nb_quality", (s, d) => {
      val docs = fanOut(documents(s, d))
      val counts = TextOps.rawCounts(col("text")).map { case (n, c) =>
        c.as(n)
      }
      val labeled = docs
        .select(col("doc_id") +: col("text") +: counts: _*)
        .withColumn("quality", TextOps.qualityScoreFromCounts(
          col("n_chars"), col("n_words"), col("n_punct"), col("n_stops")))
      TextOps.nbQualityScore(labeled, "doc_id", "text",
          col("quality") >= 0.5, vocabSize = 1000)
        .orderBy(col("doc_id"))
    },
      Some("""WITH f AS (
        |  SELECT doc_id, text,
        |    length(text) AS n_chars,
        |    len(string_split_regex(text, '\s+')) AS n_words,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|a|of|and|is|to|in)\b')) AS n_stops,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |  FROM documents),
        |lab AS (SELECT doc_id, text,
        |  (ROUND((LEAST(n_words / 50.0, 1.0)
        |       + LEAST((n_stops * 1.0 / n_words) * 5.0, 1.0)
        |       + GREATEST(1.0 - (n_punct * 1.0 / n_chars) * 10.0, 0.0))
        |       / 3.0, 4) >= 0.5) AS pos
        |  FROM f),
        |toks AS (
        |  SELECT doc_id, pos,
        |         unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM lab),
        |vocab AS (
        |  SELECT term, COUNT(*) AS cnt,
        |         SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS pos_cnt
        |  FROM toks GROUP BY term
        |  ORDER BY cnt DESC, term LIMIT 1000),
        |v2 AS (SELECT term, pos_cnt, cnt - pos_cnt AS neg_cnt FROM vocab),
        |tot AS (SELECT CAST(SUM(pos_cnt) AS DOUBLE) AS pos_toks,
        |               CAST(SUM(neg_cnt) AS DOUBLE) AS neg_toks,
        |               COUNT(*) AS v
        |        FROM v2),
        |d AS (SELECT SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS pos_docs,
        |             COUNT(*) AS n_docs FROM lab),
        |s AS (
        |  SELECT t.doc_id,
        |    ln((v2.pos_cnt + 1) / (tot.pos_toks + tot.v + 1))
        |      - ln((v2.neg_cnt + 1) / (tot.neg_toks + tot.v + 1)) AS llr
        |  FROM toks t JOIN v2 USING (term) CROSS JOIN tot)
        |SELECT s.doc_id, COUNT(*) AS n_vocab_tokens,
        |  ROUND(ln(d.pos_docs * 1.0 / (d.n_docs - d.pos_docs))
        |        + SUM(s.llr), 4) AS score
        |FROM s CROSS JOIN d
        |GROUP BY s.doc_id, d.pos_docs, d.n_docs
        |ORDER BY s.doc_id""".stripMargin)),

    // Zipf rank-frequency fit over the top-100 terms: distributed top-K
    // (TakeOrderedAndProject, no vocab-wide sort), integer micro-unit
    // least squares (order-insensitive exact sums) → full oracle on the
    // one-row (n_terms, slope, intercept) diagnostic.
    QuerySpec("ts14_zipf_fit", (s, d) =>
      TextOps.zipfFit(fanOut(documents(s, d)), "text", topK = 100),
      Some("""WITH tf AS (
        |  SELECT t AS term, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS t
        |        FROM documents)
        |  GROUP BY 1),
        |top AS (SELECT term, freq FROM tf
        |        ORDER BY freq DESC, term LIMIT 100),
        |xy AS (
        |  SELECT CAST(ROUND(ln(ROW_NUMBER() OVER (
        |           ORDER BY freq DESC, term)) * 1e6) AS BIGINT) AS x,
        |         CAST(ROUND(ln(freq) * 1e6) AS BIGINT) AS y
        |  FROM top),
        |s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |        SUM(x * y) AS sxy, SUM(x * x) AS sxx
        |      FROM xy)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  ROUND((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx), 4)
        |    AS zipf_slope,
        |  ROUND((sy / 1e6 - ((n * sxy - sx * sy) * 1.0
        |      / (n * sxx - sx * sx)) * (sx / 1e6)) / n, 4)
        |    AS zipf_intercept
        |FROM s""".stripMargin)),

    // type-token ratio: row-local lexical-diversity signal (templated
    // docs sit near 0) — zero shuffles → full oracle.
    QuerySpec("ts15_lexical_diversity", (s, d) =>
      TextOps.lexicalDiversity(fanOut(documents(s, d)), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |             string_split_regex(lower(text), '\s+') AS ws
        |           FROM documents)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
        |       ROUND(len(list_distinct(ws)) * 1.0 / len(ws), 4) AS ttr
        |FROM t ORDER BY doc_id""".stripMargin)),

    // Flesch / Flesch–Kincaid readability: three row-local regex counts
    // and two ratios — zero shuffles, codegen'd → full per-doc oracle.
    QuerySpec("ts16_readability", (s, d) =>
      TextOps.readability(fanOut(documents(s, d)), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id,
        |    GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS n_sentences,
        |    len(string_split_regex(text, '\s+')) AS n_words,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS n_syllables
        |  FROM documents)
        |SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
        |  CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_syllables AS BIGINT) AS n_syllables,
        |  ROUND(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
        |        - 84.6 * (n_syllables * 1.0 / n_words), 4) AS flesch,
        |  ROUND(0.39 * (n_words * 1.0 / n_sentences)
        |        + 11.8 * (n_syllables * 1.0 / n_words) - 15.59, 4)
        |    AS fk_grade
        |FROM t ORDER BY doc_id""".stripMargin)),

    // deterministic train/val/test split: Knuth multiplicative hash of
    // doc_id → stable split membership under corpus growth (no RNG, no
    // reshuffle when new docs arrive — held-out eval stays held out
    // across snapshots). Row-local assignment; the only shuffle is the
    // accounting groupBy → integer-exact full oracle.
    QuerySpec("tp16_hash_split", (s, d) =>
      Sampling.hashSplit(fanOut(documents(s, d)), "doc_id")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), "\\s+")).cast("long"))
            .as("n_tokens"))
        .orderBy(col("split"), col("lang")),
      Some("""WITH b AS (SELECT lang, text,
        |    (doc_id * 2654435761) % 4294967296 % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 90 THEN 'train'
        |            WHEN bucket < 95 THEN 'val'
        |            ELSE 'test' END AS split,
        |  lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT)
        |    AS n_tokens
        |FROM b GROUP BY split, lang ORDER BY split, lang""".stripMargin)),

    // Z-order layout audit: orders clustered on (order-date bucket,
    // customer hash bucket) via Morton interleave — the
    // OPTIMIZE-ZORDER-BY layout a lakehouse table maintains so filters on
    // EITHER dimension skip files. The key is row-local bit arithmetic
    // (codegen, no shuffle); only the 64-row per-file zone-map audit
    // aggregates. Date buckets are range-preserving (locality), the
    // customer dimension is modulo-bucketed (hash-dim pattern). Full
    // oracle: the same interleave expression replays in SQL.
    QuerySpec("tp19_zorder_layout", (s, d) => {
      val bx = least(floor(
        datediff(col("o_orderdate"), lit("1995-01-01")) / 16), lit(255))
        .cast("long")
      val by = (col("o_custkey") % 256).cast("long")
      Layout.zOrderAudit(orders(s, d), bx, by, bits = 8, fileShift = 10)
        .orderBy(col("file_id"))
    },
      Some(s"""WITH b AS (
         |  SELECT LEAST(CAST(FLOOR(date_diff('day',
         |           TIMESTAMP '1995-01-01', o_orderdate) / 16)
         |           AS BIGINT), 255) AS b1,
         |         o_custkey % 256 AS b2
         |  FROM orders),
         |z AS (SELECT b1, b2, ($mortonInterleave) AS zv FROM b)
         |SELECT CAST(zv >> 10 AS BIGINT) AS file_id,
         |       COUNT(*) AS n_rows,
         |       CAST(MIN(b1) AS BIGINT) AS min_x,
         |       CAST(MAX(b1) AS BIGINT) AS max_x,
         |       CAST(MIN(b2) AS BIGINT) AS min_y,
         |       CAST(MAX(b2) AS BIGINT) AS max_y
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),

    // file-skipping effectiveness report — the proof tp19's layout BUYS
    // something: the same orders relation laid out z-ordered vs sorted on
    // the date dimension alone, 16 point probes per dimension evaluated
    // against each layout's per-file zone maps. The z-order layout reads
    // a balanced fraction for probes on EITHER dimension; the 1-d sort
    // reads ~1 file for its sort key and nearly everything for the other.
    // Stats are one row per file, so everything past the two audits is
    // metadata-scale arithmetic.
    QuerySpec("tp20_skipping_report", (s, d) => {
      val bx = least(floor(
        datediff(col("o_orderdate"), lit("1995-01-01")) / 16), lit(255))
        .cast("long")
      val by = (col("o_custkey") % 256).cast("long")
      val dims = orders(s, d).select(bx.as("bx"), by.as("by"))
      val tagged = dims
        .select(lit("zorder").as("layout"),
          shiftright(Layout.zOrderKey(col("bx"), col("by"), 8), 10)
            .cast("long").as("file_id"), col("bx"), col("by"))
        .unionByName(dims.select(lit("linear").as("layout"),
          shiftright(col("bx"), 2).cast("long").as("file_id"),
          col("bx"), col("by")))
      val stats = tagged.groupBy(col("layout"), col("file_id"))
        .agg(min(col("bx")).as("min_x"), max(col("bx")).as("max_x"),
          min(col("by")).as("min_y"), max(col("by")).as("max_y"))
      val probes = dims.sparkSession.range(16)
        .select((col("id") * 16 + 8).as("probe"))
      stats.crossJoin(probes)
        .groupBy(col("layout"))
        .agg(sum(when(col("probe").between(col("min_x"), col("max_x")),
            1L).otherwise(0L)).as("files_read_x"),
          sum(when(col("probe").between(col("min_y"), col("max_y")),
            1L).otherwise(0L)).as("files_read_y"))
        .orderBy(col("layout"))
    },
      Some(s"""WITH b AS (
         |  SELECT LEAST(CAST(FLOOR(date_diff('day',
         |           TIMESTAMP '1995-01-01', o_orderdate) / 16)
         |           AS BIGINT), 255) AS b1,
         |         o_custkey % 256 AS b2
         |  FROM orders),
         |t AS (
         |  SELECT 'zorder' AS layout,
         |         CAST(($mortonInterleave) >> 10 AS BIGINT) AS file_id, b1, b2
         |  FROM b
         |  UNION ALL
         |  SELECT 'linear', CAST(b1 >> 2 AS BIGINT), b1, b2 FROM b),
         |stats AS (
         |  SELECT layout, file_id,
         |         MIN(b1) AS min_x, MAX(b1) AS max_x,
         |         MIN(b2) AS min_y, MAX(b2) AS max_y
         |  FROM t GROUP BY 1, 2),
         |p AS (SELECT unnest(generate_series(8, 248, 16)) AS probe)
         |SELECT layout,
         |  CAST(SUM(CASE WHEN probe BETWEEN min_x AND max_x
         |           THEN 1 ELSE 0 END) AS BIGINT) AS files_read_x,
         |  CAST(SUM(CASE WHEN probe BETWEEN min_y AND max_y
         |           THEN 1 ELSE 0 END) AS BIGINT) AS files_read_y
         |FROM stats, p GROUP BY layout ORDER BY layout""".stripMargin)),

    // seeded weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    // A-ES): key = u^(1/w) with u a deterministic md5-derived uniform and
    // w = n_chars, global top-50 by key — longer docs are
    // proportionally likelier but nothing is guaranteed in, the exact
    // distributional contract quality-weighted corpus subsampling needs.
    // The top-k plans as TakeOrdered (distributed heap, never a global
    // sort); ranks attach post-limit over 50 rows. Deterministic u →
    // full oracle.
    QuerySpec("tp21_weighted_sample", (s, d) => {
      val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
          lit("-wsamp"))), 1, 8), 16, 10).cast("double") + 0.5) /
        lit(4294967296.0)
      val scored = fanOut(documents(s, d))
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          pow(u, lit(1.0) / col("n_chars").cast("double")).as("wkey"))
      scored.orderBy(col("wkey").desc, col("doc_id")).limit(50)
        .withColumn("smp_rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("wkey").desc, col("doc_id"))).cast("long"))
        .select(col("smp_rank"), col("doc_id"), col("source"),
          col("n_chars"))
        .orderBy(col("smp_rank"))
    },
      Some("""WITH sc AS (
        |  SELECT doc_id, source, n_chars,
        |    POW((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
        |           || '-wsamp'), 1, 8) AS BIGINT) + 0.5) / 4294967296.0,
        |        1.0 / n_chars) AS wkey
        |  FROM documents WHERE n_chars > 0),
        |top AS (SELECT * FROM sc ORDER BY wkey DESC, doc_id LIMIT 50)
        |SELECT ROW_NUMBER() OVER (ORDER BY wkey DESC, doc_id)
        |         AS smp_rank,
        |       doc_id, source, n_chars
        |FROM top ORDER BY smp_rank""".stripMargin)),

    // contiguous id assignment: dense 1..N row ids in global key order
    // WITHOUT a corpus-wide single-task window — range partition + local
    // sort, per-partition counts, broadcast running offsets, partition-
    // local row_number (PlansSpec locks the partitioned window).
    QuerySpec("tp18_assign_ids", (s, d) =>
      Sampling.contiguousIds(
          fanOut(documents(s, d)).select(col("doc_id"), col("lang")),
          "doc_id")
        .select(col("doc_id"), col("lang"), col("row_id"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang,
        |       ROW_NUMBER() OVER (ORDER BY doc_id) AS row_id
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // deterministic training order: the epoch-shuffle at corpus scale is
    // a SORT by a multiplicative id-hash (no RNG state, reproducible
    // across runs/engines) — and a bounded preview of it plans as one
    // distributed TakeOrderedAndProject, never a global single-task sort.
    QuerySpec("tp17_train_order", (s, d) => {
      val key = (col("doc_id") * lit(2654435761L)) % lit(4294967296L)
      fanOut(documents(s, d))
        .select(col("doc_id"), key.as("sort_key"))
        .orderBy(col("sort_key"), col("doc_id"))
        .limit(100)
    },
      Some("""SELECT doc_id,
        |       (doc_id * 2654435761) % 4294967296 AS sort_key
        |FROM documents ORDER BY sort_key, doc_id LIMIT 100""".stripMargin)),

    // triangle census of the dup-candidate graph (dd10's edge relation):
    // triangle-dense neighborhoods are genuine boilerplate families,
    // triangle-free stars are hot-shingle false positives — the structure
    // check run before trusting transitive-closure merges. Degree-oriented
    // wedge join, exactly-once counting.
    QuerySpec("dd20_triangle_count", (s, d) =>
      Dedup.triangleCount(
        Dedup.gramCandidatePairs(fanOut(documents(s, d)),
          "doc_id", "text", Seq("lang", "source"), 3, maxDocFreq = 64),
        "doc_a", "doc_b"),
      Some("""WITH toks AS (
        |  SELECT doc_id, lang, source,
        |         string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |hot AS (
        |  SELECT lang, source, gram FROM grams
        |  GROUP BY lang, source, gram HAVING COUNT(*) > 64),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM grams a JOIN grams b
        |    ON a.gram = b.gram AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |    WHERE h.lang = a.lang AND h.source = a.source
        |      AND h.gram = a.gram))
        |SELECT COUNT(*) AS n_triangles
        |FROM pairs e1
        |JOIN pairs e2 ON e2.src = e1.dst
        |JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst"""
        .stripMargin)),

    // PageRank over the dup-candidate graph (dd20's edge relation) —
    // importance-ranks boilerplate families by centrality in the
    // duplicate structure. Five Pregel-shaped rounds (rank-keyed join +
    // dst-keyed partial agg over a persisted degree-annotated edge
    // relation); 6dp round absorbs cross-engine sum-order ulp noise.
    QuerySpec("dd24_pagerank", (s, d) =>
      Dedup.pageRank(
        Dedup.gramCandidatePairs(fanOut(documents(s, d)),
          "doc_id", "text", Seq("lang", "source"), 3, maxDocFreq = 64),
        "doc_a", "doc_b", iters = 5, damping = 0.85)
        .select(col("node").as("doc_id"), col("deg"), col("rank"))
        .orderBy(col("doc_id")),
      Some("""WITH toks AS (
        |  SELECT doc_id, lang, source,
        |         string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |hot AS (
        |  SELECT lang, source, gram FROM grams
        |  GROUP BY lang, source, gram HAVING COUNT(*) > 64),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM grams a JOIN grams b
        |    ON a.gram = b.gram AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |    WHERE h.lang = a.lang AND h.source = a.source
        |      AND h.gram = a.gram)),
        |edges AS (SELECT src, dst FROM pairs
        |          UNION ALL SELECT dst AS src, src AS dst FROM pairs),
        |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |nn AS (SELECT COUNT(*) AS n FROM deg),
        |r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank
        |       FROM deg),
        |r1 AS (SELECT e.dst AS node,
        |         (SELECT 0.15 / n FROM nn)
        |           + 0.85 * SUM(r.rank / d.deg) AS rank
        |       FROM edges e JOIN r0 r ON r.node = e.src
        |            JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT e.dst AS node,
        |         (SELECT 0.15 / n FROM nn)
        |           + 0.85 * SUM(r.rank / d.deg) AS rank
        |       FROM edges e JOIN r1 r ON r.node = e.src
        |            JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT e.dst AS node,
        |         (SELECT 0.15 / n FROM nn)
        |           + 0.85 * SUM(r.rank / d.deg) AS rank
        |       FROM edges e JOIN r2 r ON r.node = e.src
        |            JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r4 AS (SELECT e.dst AS node,
        |         (SELECT 0.15 / n FROM nn)
        |           + 0.85 * SUM(r.rank / d.deg) AS rank
        |       FROM edges e JOIN r3 r ON r.node = e.src
        |            JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst),
        |r5 AS (SELECT e.dst AS node,
        |         (SELECT 0.15 / n FROM nn)
        |           + 0.85 * SUM(r.rank / d.deg) AS rank
        |       FROM edges e JOIN r4 r ON r.node = e.src
        |            JOIN deg d ON d.src = e.src
        |       GROUP BY e.dst)
        |SELECT r5.node AS doc_id, deg.deg, ROUND(r5.rank, 6) AS rank
        |FROM r5 JOIN deg ON deg.src = r5.node
        |ORDER BY doc_id""".stripMargin)),

    // Synchronous label propagation over the same dup-candidate graph —
    // the community view between dd10's components (merge anything
    // touching) and dd24's ranks (score, don't group). Deterministic:
    // plurality label, smallest-label tie-break, 3 fixed synchronous
    // rounds; integer labels → bit-exact full oracle (3 chained CTEs).
    QuerySpec("dd27_label_propagation", (s, d) =>
      Dedup.labelPropagation(
        Dedup.gramCandidatePairs(fanOut(documents(s, d)),
          "doc_id", "text", Seq("lang", "source"), 3, maxDocFreq = 64),
        "doc_a", "doc_b", rounds = 3)
        .select(col("node").as("doc_id"), col("label").as("community"))
        .orderBy(col("doc_id")),
      Some("""WITH toks AS (
        |  SELECT doc_id, lang, source,
        |         string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |hot AS (
        |  SELECT lang, source, gram FROM grams
        |  GROUP BY lang, source, gram HAVING COUNT(*) > 64),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM grams a JOIN grams b
        |    ON a.gram = b.gram AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |    WHERE h.lang = a.lang AND h.source = a.source
        |      AND h.gram = a.gram)),
        |edges AS (SELECT src, dst FROM pairs
        |          UNION ALL SELECT dst AS src, src AS dst FROM pairs),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
        |c1 AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
        |       FROM edges e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (
        |         SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |           ORDER BY c DESC, label) AS rn FROM c1) WHERE rn = 1),
        |c2 AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
        |       FROM edges e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (
        |         SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |           ORDER BY c DESC, label) AS rn FROM c2) WHERE rn = 1),
        |c3 AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
        |       FROM edges e JOIN l2 l ON l.node = e.src GROUP BY 1, 2),
        |l3 AS (SELECT node, label FROM (
        |         SELECT node, label, ROW_NUMBER() OVER (PARTITION BY node
        |           ORDER BY c DESC, label) AS rn FROM c3) WHERE rn = 1)
        |SELECT node AS doc_id, label AS community FROM l3
        |ORDER BY doc_id""".stripMargin)),

    // directional gram-set containment join: the asymmetric near-dup
    // predicate Jaccard misses — an excerpt wholly contained in a longer
    // doc scores near-1 containment, near-0 Jaccard. Same inverted-index
    // buckets/blocking/stop-gram cutoff as dd5; both directions fan out
    // row-locally after the size join. Full oracle.
    QuerySpec("dd29_containment", (s, d) =>
      Dedup.containmentPairs(fanOut(documents(s, d)), "doc_id", "text",
          Seq("lang", "source"), 3, minContainment = 0.5, maxDocFreq = 64)
        .orderBy(col("src_doc"), col("dst_doc")),
      Some("""WITH toks AS (
        |  SELECT doc_id, lang, source,
        |         string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
        |hot AS (
        |  SELECT lang, source, gram FROM grams
        |  GROUP BY lang, source, gram HAVING COUNT(*) > 64),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ix
        |  FROM grams a JOIN grams b
        |    ON a.gram = b.gram AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |    WHERE h.lang = a.lang AND h.source = a.source
        |      AND h.gram = a.gram)
        |  GROUP BY 1, 2),
        |dir AS (
        |  SELECT i.doc_a AS src_doc, i.doc_b AS dst_doc,
        |         i.ix * 1.0 / sa.sz AS c
        |  FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
        |  UNION ALL
        |  SELECT i.doc_b, i.doc_a, i.ix * 1.0 / sb.sz
        |  FROM inter i JOIN sizes sb ON i.doc_b = sb.doc_id)
        |SELECT src_doc, dst_doc, ROUND(c, 4) AS containment
        |FROM dir WHERE c >= 0.5 ORDER BY src_doc, dst_doc""".stripMargin)),

    // corpus-level overlap: MinHash-estimated Jaccard between the two
    // doc_id-parity slices' 3-shingle sets — each corpus sketched
    // independently (per-doc sigs are row-local; the slice signature is a
    // 128-cell component-wise-min fold), the two sketches compared without
    // ever joining the corpora. The cross-dump audit ("how much of crawl
    // N−1 did crawl N re-collect?") at 100 TB. Hash-seeded → no SQL
    // oracle; the ENFORCED `equal` verdict checks the estimate against
    // the exact set Jaccard (computed in-entry) at ±0.15 (>3σ for 128
    // hashes).
    QuerySpec("dd30_corpus_overlap", (s, d) =>
      Dedup.corpusJaccard(fanOut(documents(s, d)), "doc_id", "text",
        id => pmod(id, lit(2)), k = 3, numHashes = 128)),

    // 2-core of the dup-candidate graph — peel-to-fixpoint. FULL oracle
    // since round 14: the peel is order-independent (confluent), so a
    // recursive CTE replays it round by round (see the oracle's comment).
    // The ENFORCED structural verdict stays on top: per node, the
    // within-core degree is INDEPENDENTLY recomputed from the raw edge
    // relation, and `equal` asserts the defining property both ways —
    // core nodes keep ≥ k core neighbors, peeled nodes would not.
    QuerySpec("dd28_kcore", (s, d) => {
      val pairs = Dedup.gramCandidatePairs(fanOut(documents(s, d)),
          "doc_id", "text", Seq("lang", "source"), 3, maxDocFreq = 64)
        .localCheckpoint(true) // two consumers: the peel and the audit
      val core = Dedup.kCore(pairs, "doc_a", "doc_b", k = 2)
      val und = pairs.select(
          least(col("doc_a"), col("doc_b")).as("a"),
          greatest(col("doc_a"), col("doc_b")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val edges = und.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      val inCoreDeg = edges
        .join(core.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      edges.select(col("src").as("doc_id")).distinct()
        .join(inCoreDeg.select(col("src").as("doc_id"), col("core_deg")),
          Seq("doc_id"), "left")
        .join(core.select(col("node").as("doc_id"), lit(true).as("in_core")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("core_deg"), lit(0L)).as("core_deg"),
          coalesce(col("in_core"), lit(false)).as("in_core"))
        .withColumn("equal",
          (col("in_core") && col("core_deg") >= 2) ||
            (!col("in_core") && col("core_deg") < 2))
        .orderBy(col("doc_id"))
    },
      // dd28 graduated from no_oracle in round 14: the parallel peel is a
      // deterministic, order-independent fixpoint, so a recursive CTE
      // replays it round by round (the dd10 pattern). With UNION ALL the
      // recursive term sees only the PREVIOUS round's rows (every row
      // carries its round number, so that delta IS the full survivor set),
      // each round keeps nodes with >= 2 neighbors among the round's
      // survivors, and the count guard stops the recursion at the first
      // unchanged round (survivors are always a subset, so count equality
      // is set equality). The one extra peel applied to the final round in
      // `incore` covers the empty-fixpoint exit, where the guard stops
      // BEFORE recording the empty set: peel(stable set) = itself, so the
      // extra round is the identity everywhere else. The Spark entry's
      // structural `equal` verdict stays enforced on top.
      Some("""WITH RECURSIVE toks AS (
        |  SELECT doc_id, lang, source,
        |         string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |hot AS (
        |  SELECT lang, source, gram FROM grams
        |  GROUP BY lang, source, gram HAVING COUNT(*) > 64),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM grams a JOIN grams b
        |    ON a.gram = b.gram AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |    WHERE h.lang = a.lang AND h.source = a.source
        |      AND h.gram = a.gram)),
        |edges AS (SELECT src, dst FROM pairs
        |          UNION ALL SELECT dst AS src, src AS dst FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |peel AS (
        |  SELECT 0 AS r, node FROM nodes
        |  UNION ALL
        |  SELECT * FROM (
        |    WITH surv AS (
        |      SELECT w.r + 1 AS r, e.src AS node
        |      FROM peel w JOIN edges e ON e.src = w.node
        |      JOIN peel w2 ON w2.node = e.dst AND w2.r = w.r
        |      GROUP BY w.r, e.src
        |      HAVING COUNT(*) >= 2)
        |    SELECT r, node FROM surv
        |    WHERE (SELECT COUNT(*) FROM surv) <
        |          (SELECT COUNT(*) FROM peel))),
        |lastr AS (SELECT COALESCE(MAX(r), 0) AS mr FROM peel),
        |cand AS (SELECT node FROM peel, lastr WHERE r = mr),
        |incore AS (
        |  SELECT e.src AS node FROM edges e
        |  JOIN cand a ON a.node = e.src
        |  JOIN cand b ON b.node = e.dst
        |  GROUP BY e.src HAVING COUNT(*) >= 2),
        |cdeg AS (
        |  SELECT e.src AS node, COUNT(*) AS core_deg
        |  FROM edges e JOIN incore i ON i.node = e.dst
        |  GROUP BY e.src)
        |SELECT n.node AS doc_id,
        |  COALESCE(d.core_deg, 0) AS core_deg,
        |  (i.node IS NOT NULL) AS in_core,
        |  ((i.node IS NOT NULL AND COALESCE(d.core_deg, 0) >= 2) OR
        |   (i.node IS NULL AND COALESCE(d.core_deg, 0) < 2)) AS equal
        |FROM nodes n
        |LEFT JOIN cdeg d ON d.node = n.node
        |LEFT JOIN incore i ON i.node = n.node
        |ORDER BY doc_id""".stripMargin)),

    // k-anonymity audit over quasi-identifiers: every (lang, source,
    // length-bucket) equivalence class is sized, and classes below k=5
    // are the re-identification risk a corpus release report must carry.
    // One corpus scan + two small-key aggregates (class sizes, then the
    // four-number report); fixed-width 200-char buckets capped at 9 keep
    // the bucketing data-independent, so the report replays bit-exact.
    QuerySpec("a12_k_anonymity", (s, d) => {
      val docs = fanOut(documents(s, d))
        .select(col("lang"), col("source"),
          (least(floor(col("n_chars") / lit(200)), lit(9)))
            .cast("long").as("len_bucket"))
      val classes = docs.groupBy(col("lang"), col("source"),
          col("len_bucket"))
        .agg(count(lit(1)).as("class_size"))
      classes.agg(
          count(lit(1)).as("n_classes"),
          min(col("class_size")).as("min_class_size"),
          sum(when(col("class_size") < 5, 1L).otherwise(0L))
            .as("classes_below_k5"),
          sum(when(col("class_size") < 5, col("class_size"))
            .otherwise(0L)).as("rows_at_risk"))
    },
      Some("""WITH c AS (
        |  SELECT lang, source,
        |         LEAST(CAST(FLOOR(n_chars / 200) AS BIGINT), 9)
        |           AS len_bucket,
        |         COUNT(*) AS class_size
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |       CAST(MIN(class_size) AS BIGINT) AS min_class_size,
        |       CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS classes_below_k5,
        |       CAST(SUM(CASE WHEN class_size < 5 THEN class_size
        |                     ELSE 0 END) AS BIGINT) AS rows_at_risk
        |FROM c""".stripMargin)),

    // join-key skew diagnostic — the census run BEFORE picking a shuffle
    // strategy (salting factor, AQE skew thresholds, broadcast cutoff):
    // per-key cardinalities aggregate map-side, then one keys-sized pass
    // yields the quantile profile and the hottest key's share. Integer
    // counts + exact-interpolation percentiles (identical p·(n−1) rule in
    // both engines) + integer-division basis points → full oracle.
    QuerySpec("a13_skew_report", (s, d) => {
      val cnt = events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
      cnt.agg(
          count(lit(1)).as("n_keys"),
          sum(col("n")).as("total_rows"),
          max(col("n")).as("max_cnt"),
          round(percentile(col("n"), lit(0.5)), 4).as("p50_cnt"),
          round(percentile(col("n"), lit(0.9)), 4).as("p90_cnt"),
          round(percentile(col("n"), lit(0.99)), 4).as("p99_cnt"))
        .select(col("n_keys"), col("total_rows"), col("max_cnt"),
          col("p50_cnt"), col("p90_cnt"), col("p99_cnt"),
          expr("max_cnt * 10000L div total_rows").as("top1_share_bp"))
    },
      Some("""WITH c AS (SELECT user_id, COUNT(*) AS n
        |           FROM events GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |       CAST(SUM(n) AS BIGINT) AS total_rows,
        |       CAST(MAX(n) AS BIGINT) AS max_cnt,
        |       ROUND(quantile_cont(n, 0.5), 4) AS p50_cnt,
        |       ROUND(quantile_cont(n, 0.9), 4) AS p90_cnt,
        |       ROUND(quantile_cont(n, 0.99), 4) AS p99_cnt,
        |       CAST(MAX(n) * 10000 // SUM(n) AS BIGINT) AS top1_share_bp
        |FROM c""".stripMargin)),

    // column-profile drift between two corpus versions — the Deequ-style
    // data-contract report a release pipeline runs before swapping
    // snapshots: per column, row count / null count / distinct count for
    // both versions plus the null-rate delta in integer basis points.
    // Each version profiles in ONE scan (all 11 aggregates in a single
    // pass, map-side combined), the one-row result reshapes row-local
    // (explode of a literal struct array — columns-sized), and the diff
    // join is columns × columns. v2 derives deterministically from the
    // same table (id-mod drop + a source-conditional lang null) so the
    // oracle replays it exactly.
    QuerySpec("a15_profile_drift", (s, d) => {
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      def profile(df: DataFrame, tag: String): DataFrame = {
        val aggs = count(lit(1)).as("n") +: cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          count_distinct(col(c)).as(s"${c}_distinct")))
        df.agg(aggs.head, aggs.tail: _*)
          .select(col("n"), explode(array(cols.map(c =>
            struct(lit(c).as("column"),
              col(s"${c}_nulls").as("n_nulls"),
              col(s"${c}_distinct").as("n_distinct"))): _*)).as("m"))
          .select(col("m.column").as("column"), col("n").as(s"n_$tag"),
            col("m.n_nulls").as(s"nulls_$tag"),
            col("m.n_distinct").as(s"distinct_$tag"))
      }
      val v1 = documents(s, d)
      val v2 = v1.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        .withColumn("lang", when(col("source") === "src3", lit(null))
          .otherwise(col("lang")))
      profile(v1, "v1").join(profile(v2, "v2"), Seq("column"))
        .select(col("column"), col("n_v1"), col("nulls_v1"),
          col("distinct_v1"), col("n_v2"), col("nulls_v2"),
          col("distinct_v2"),
          (expr("nulls_v2 * 10000L div n_v2") -
            expr("nulls_v1 * 10000L div n_v1")).as("null_rate_delta_bp"))
        .orderBy(col("column"))
    },
      Some("""WITH v1 AS (SELECT * FROM documents),
        |v2 AS (SELECT doc_id, text,
        |         CASE WHEN source = 'src3' THEN NULL ELSE lang END
        |           AS lang,
        |         source, n_chars
        |       FROM documents WHERE doc_id % 97 <> 0),
        |p1 AS (
        |  SELECT 'doc_id' AS c, COUNT(*) AS n,
        |    SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS nu,
        |    COUNT(DISTINCT doc_id) AS di FROM v1
        |  UNION ALL SELECT 'text', COUNT(*),
        |    SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT text) FROM v1
        |  UNION ALL SELECT 'lang', COUNT(*),
        |    SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT lang) FROM v1
        |  UNION ALL SELECT 'source', COUNT(*),
        |    SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT source) FROM v1
        |  UNION ALL SELECT 'n_chars', COUNT(*),
        |    SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT n_chars) FROM v1),
        |p2 AS (
        |  SELECT 'doc_id' AS c, COUNT(*) AS n,
        |    SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS nu,
        |    COUNT(DISTINCT doc_id) AS di FROM v2
        |  UNION ALL SELECT 'text', COUNT(*),
        |    SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT text) FROM v2
        |  UNION ALL SELECT 'lang', COUNT(*),
        |    SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT lang) FROM v2
        |  UNION ALL SELECT 'source', COUNT(*),
        |    SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT source) FROM v2
        |  UNION ALL SELECT 'n_chars', COUNT(*),
        |    SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END),
        |    COUNT(DISTINCT n_chars) FROM v2)
        |SELECT p1.c AS "column",
        |  CAST(p1.n AS BIGINT) AS n_v1, CAST(p1.nu AS BIGINT) AS nulls_v1,
        |  CAST(p1.di AS BIGINT) AS distinct_v1,
        |  CAST(p2.n AS BIGINT) AS n_v2, CAST(p2.nu AS BIGINT) AS nulls_v2,
        |  CAST(p2.di AS BIGINT) AS distinct_v2,
        |  CAST(p2.nu * 10000 // p2.n - p1.nu * 10000 // p1.n AS BIGINT)
        |    AS null_rate_delta_bp
        |FROM p1 JOIN p2 ON p1.c = p2.c
        |ORDER BY p1.c""".stripMargin)),

    // sketch twin of a13 — the 100 TB serving path: at scale the per-key
    // count relation is itself huge, and approx_percentile's mergeable
    // sketch replaces the exact sort-based percentile (the a5b/a7b twin
    // convention). At harness accuracy the sketch is exact, so the oracle
    // compares against DuckDB's discrete quantile (both pick actual data
    // values, no interpolation).
    QuerySpec("a13b_skew_approx", (s, d) => {
      val cnt = events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
      cnt.agg(
        count(lit(1)).as("n_keys"),
        round(expr("approx_percentile(n, 0.5, 1000000)").cast("double"),
          4).as("p50_cnt"),
        round(expr("approx_percentile(n, 0.9, 1000000)").cast("double"),
          4).as("p90_cnt"),
        round(expr("approx_percentile(n, 0.99, 1000000)").cast("double"),
          4).as("p99_cnt"))
    },
      Some("""WITH c AS (SELECT user_id, COUNT(*) AS n
        |           FROM events GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |       ROUND(CAST(quantile_disc(n, 0.5) AS DOUBLE), 4)
        |         AS p50_cnt,
        |       ROUND(CAST(quantile_disc(n, 0.9) AS DOUBLE), 4)
        |         AS p90_cnt,
        |       ROUND(CAST(quantile_disc(n, 0.99) AS DOUBLE), 4)
        |         AS p99_cnt
        |FROM c""".stripMargin)),

    // melt/unpivot — the inverse of A2's pivot: a wide per-lang metrics
    // row unpivots to tidy (lang, metric, value) rows via the native
    // Dataset.unpivot (Expand under the hood — row-local, no shuffle
    // beyond the producing aggregate). The wide aggregate is
    // groups-sized, so the melt is metadata-scale regardless of corpus
    // size.
    QuerySpec("a14_unpivot", (s, d) => {
      val wide = fanOut(documents(s, d)).groupBy(col("lang"))
        .agg(count(lit(1)).cast("double").as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          count_distinct(col("source")).cast("double").as("n_sources"))
      wide.unpivot(Array(col("lang")),
          Array(col("n_docs"), col("avg_chars"), col("n_sources")),
          "metric", "value")
        .orderBy(col("lang"), col("metric"))
    },
      Some("""WITH wide AS (
        |  SELECT lang, CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |         ROUND(AVG(n_chars), 4) AS avg_chars,
        |         CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_sources
        |  FROM documents GROUP BY lang)
        |SELECT lang, metric, value FROM (
        |  SELECT lang, 'n_docs' AS metric, n_docs AS value FROM wide
        |  UNION ALL
        |  SELECT lang, 'avg_chars', avg_chars FROM wide
        |  UNION ALL
        |  SELECT lang, 'n_sources', n_sources FROM wide)
        |ORDER BY lang, metric""".stripMargin)),

    // constraint audit (Deequ-style expectations): every rule evaluated in
    // ONE scan as conditional partial aggregates, then unpivoted to a
    // (rule, n) report row per expectation — the data-contract gate a
    // 100 TB ingest runs before publishing a snapshot.
    QuerySpec("a11_constraint_audit", (s, d) =>
      lineitem(s, d).agg(
          count(lit(1)).as("rows_total"),
          sum(when(col("l_quantity") <= 0 || col("l_quantity") > 45, 1L)
            .otherwise(0L)).as("qty_out_of_range"),
          sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L))
            .as("price_nonpos"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 0.05, 1L)
            .otherwise(0L)).as("discount_gt5pct"),
          sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
            .as("shipdate_null"),
          sum(when(not(col("l_returnflag").isin("A", "N", "R")), 1L)
            .otherwise(0L)).as("returnflag_invalid"))
        .select(expr("stack(6, 'rows_total', rows_total, " +
          "'qty_out_of_range', qty_out_of_range, " +
          "'price_nonpos', price_nonpos, " +
          "'discount_gt5pct', discount_gt5pct, " +
          "'shipdate_null', shipdate_null, " +
          "'returnflag_invalid', returnflag_invalid) AS (rule, n)"))
        .orderBy(col("rule")),
      Some("""WITH a AS (SELECT COUNT(*) AS rows_total,
        |    COUNT(*) FILTER (l_quantity <= 0 OR l_quantity > 45)
        |      AS qty_out_of_range,
        |    COUNT(*) FILTER (l_extendedprice <= 0) AS price_nonpos,
        |    COUNT(*) FILTER (l_discount < 0 OR l_discount > 0.05)
        |      AS discount_gt5pct,
        |    COUNT(*) FILTER (l_shipdate IS NULL) AS shipdate_null,
        |    COUNT(*) FILTER (l_returnflag NOT IN ('A', 'N', 'R'))
        |      AS returnflag_invalid
        |  FROM lineitem)
        |SELECT rule, n FROM (
        |  SELECT 'rows_total' AS rule, rows_total AS n FROM a
        |  UNION ALL SELECT 'qty_out_of_range', qty_out_of_range FROM a
        |  UNION ALL SELECT 'price_nonpos', price_nonpos FROM a
        |  UNION ALL SELECT 'discount_gt5pct', discount_gt5pct FROM a
        |  UNION ALL SELECT 'shipdate_null', shipdate_null FROM a
        |  UNION ALL SELECT 'returnflag_invalid', returnflag_invalid FROM a)
        |ORDER BY rule""".stripMargin)),

    // CDC compaction (latest-version resolution): each (user, event_type)
    // keeps only its newest record — row_number over a key-partitioned
    // desc-time window, which Spark executes as WindowGroupLimit (partial
    // top-1 below the shuffle, the upsert-compaction shape a lakehouse
    // MERGE runs at every ingest). Ties broken by event_id desc.
    QuerySpec("dd19_latest_version", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("latest_ts"),
          round(col("value"), 4).as("value"))
        .orderBy(col("user_id"), col("event_type"))
    },
      Some("""WITH r AS (SELECT user_id, event_type, event_id, ts, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts::TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id,
        |       strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS latest_ts,
        |       ROUND(value, 4) AS value
        |FROM r WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin)),

    // SCD2 history build — dd19's sibling: instead of compacting to the
    // latest version, every (user, type) observation becomes a validity
    // interval [valid_from, valid_to) via lead() over the change stream,
    // with the open tail marked current — the slowly-changing-dimension
    // type-2 table a lakehouse serves point-in-time joins from. One
    // window shuffle keyed by the dimension key, row-local everything
    // else; interval assembly never re-scans history.
    QuerySpec("dd23_scd2_history", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      events(s, d)
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_type"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          coalesce(date_format(col("next_ts"), "yyyy-MM-dd HH:mm:ss"),
            lit("9999-12-31 00:00:00")).as("valid_to"),
          col("next_ts").isNull.as("is_current"),
          round(col("value"), 4).as("value"))
        .orderBy(col("user_id"), col("event_type"), col("valid_from"),
          col("event_id"))
    },
      Some("""WITH r AS (SELECT user_id, event_type, event_id, ts, value,
        |    LEAD(ts) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS next_ts
        |  FROM events)
        |SELECT user_id, event_type, event_id,
        |       strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |       COALESCE(strftime(next_ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S'),
        |                '9999-12-31 00:00:00') AS valid_to,
        |       next_ts IS NULL AS is_current,
        |       ROUND(value, 4) AS value
        |FROM r
        |ORDER BY user_id, event_type, valid_from, event_id""".stripMargin)),

    // incremental aggregate maintenance: the corpus splits into a base
    // snapshot and a delta batch, each aggregated independently, and the
    // REFRESH is a merge of the two partial states (sum-of-counts,
    // sum-of-sums) — never a recompute over base. The oracle aggregates
    // the full corpus directly, so the hash match proves merge ≡
    // recompute (decomposability), the property incremental view
    // maintenance at 100 TB rests on.
    QuerySpec("a10_incremental_agg", (s, d) => {
      val docs = fanOut(documents(s, d))
      val aggOf = (df: DataFrame) => df.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      aggOf(docs.filter(col("doc_id") % 10 =!= 0))
        .unionByName(aggOf(docs.filter(col("doc_id") % 10 === 0)))
        .groupBy(col("lang"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("chars")).as("chars"))
        .orderBy(col("lang"))
    },
      Some("""SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // OOV rate against the corpus's own top-K vocabulary — the tokenizer
    // health check run before committing to a vocab size: tokens outside
    // the head get byte-split by a subword tokenizer, so per-doc OOV rate
    // predicts token inflation. The vocab is a distributed top-K
    // (orderBy+limit plans as TakeOrdered — never a driver collect) and
    // joins back as a broadcast; the frequency→term tie-break makes the
    // cut deterministic → full oracle.
    QuerySpec("ts19_oov_rate", (s, d) => {
      val docs = fanOut(documents(s, d))
      val toks = docs.select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("term"))
      val vocab = toks.groupBy(col("term"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("term"))
        .limit(16)
        .select(col("term"), lit(1).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
            .as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 4))
        .orderBy(col("doc_id"))
    },
      Some("""WITH toks AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |v AS (SELECT term FROM toks GROUP BY term
        |      ORDER BY COUNT(*) DESC, term LIMIT 16)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_oov,
        |  ROUND(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |    / COUNT(*), 4) AS oov_rate
        |FROM toks LEFT JOIN v ON toks.term = v.term
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // fuzzy matching (record linkage): q-gram-filtered edit-distance
    // pairs over part names with deterministic injected typos — the
    // candidate index is char-2-gram buckets, exact levenshtein runs only
    // on candidates, and the q-gram bound makes the result EXACT (the
    // all-pairs DuckDB oracle agrees).
    QuerySpec("dd18_fuzzy_pairs", (s, d) => {
      val p = part(s, d).select(col("p_partkey").cast("long").as("id"),
        col("p_name").as("name"))
      val typos = p.filter(col("id") % 50 === 0)
        .select((col("id") + 1000000L).as("id"),
          concat(lit("x"), substring(col("name"), 2, 100000)).as("name"))
      // total order via width-pinned range partitioning + in-task sort
      // (≡ orderBy: contiguous ranges, sorted within): the pair OUTPUT
      // is the workload (~325M rows at the 100× decade), and a global
      // sort at the harness's 32 shuffle partitions put ~10M rows
      // through each sort task (~23 GB spilled at the 100× decade).
      // Width-scale the sort from the ESTIMATED pair output (sim17's
      // slot-estimate recipe): same-string groups dominate the relation
      // (~3×10⁶ of ~3.25×10⁶ rows at 1×), so one group-count agg —
      // the op's own editDistancePairEstimate, run ONCE here and handed
      // back in via pairsEst so op and sort share one sizing job and
      // one eligibility rule — bounds it as Σ n(n−1)/2, sized at ≈32 MB
      // of 24 B pair rows per sort task: ~230 partitions at 100×, and
      // the rule keeps holding at 1000× where any static multiplier
      // resumes spilling. The range sampler prices the same second
      // child pass an orderBy would.
      val corpus = p.unionByName(typos)
      val pairEst = Dedup.editDistancePairEstimate(corpus, "id", "name",
        maxDist = 2)
      val par = s.sparkContext.defaultParallelism
      val sortParts = math.max(par.toLong,
        math.min(4096L, pairEst * 24 / (32L << 20))).toInt
      Dedup.editDistancePairs(corpus, "id", "name", maxDist = 2,
          pairsEst = Some(pairEst))
        .repartitionByRange(sortParts, col("id_a"), col("id_b"))
        .sortWithinPartitions(col("id_a"), col("id_b"))
    },
      Some("""WITH base AS (
        |  SELECT p_partkey AS id, p_name AS name FROM part
        |  UNION ALL
        |  SELECT p_partkey + 1000000, 'x' || substr(p_name, 2)
        |  FROM part WHERE p_partkey % 50 = 0),
        |e AS (SELECT id, name FROM base WHERE length(name) >= 6)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        |FROM e a JOIN e b
        |  ON a.id < b.id
        | AND abs(length(a.name) - length(b.name)) <= 2
        | AND levenshtein(a.name, b.name) <= 2
        |ORDER BY id_a, id_b""".stripMargin)),

    // dd18 on a PATHOLOGICALLY skewed corpus: every even partkey's name
    // is overwritten with ONE shared hot title (per ScaleUp replica — the
    // "-ii-ii-ii" tag construction keeps distinct replicas' hot titles
    // ≥ 3 edits apart, so hot groups stay per-replica and the N× corpus
    // carries exactly N× the hot pairs), making HALF the corpus one
    // duplicate group (sf0.1: 10,200 ids → 52M id pairs from a single
    // string). This is the skew case the salted expansion exists for: an
    // unsalted self-join keys that entire quadratic emission to one hash
    // slot / one task. The result is folded to a checksum row because the
    // pair relation itself is the (deliberately huge) workload, not the
    // answer; the mod-sum checksums pin its exact content against the
    // brute-force oracle without sorting 10⁸⁺ rows per decade.
    QuerySpec("dd18b_skew_pairs", (s, d) => {
      val p = part(s, d).select(col("p_partkey").cast("long").as("id"),
        col("p_name").as("name"))
      val rep = lpad(((col("id") / 10000000L).cast("long")).cast("string"),
        2, "0")
      val skewed = p.withColumn("name",
        when(col("id") % 2 === 0,
          concat(lit("zqx hot duplicated part title-"),
            rep, lit("-"), rep, lit("-"), rep))
          .otherwise(col("name")))
      Dedup.editDistancePairs(skewed, "id", "name", maxDist = 2)
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("dist") === 0, 1L).otherwise(0L)).as("n_exact"),
          sum(pmod(col("id_a"), lit(1000003L))).as("ck_a"),
          sum(pmod(col("id_b"), lit(1000003L))).as("ck_b"))
    },
      Some("""WITH tagged AS (
        |  SELECT p_partkey AS id, p_name,
        |         lpad(CAST(p_partkey // 10000000 AS VARCHAR), 2, '0') AS r
        |  FROM part),
        |base AS (
        |  SELECT id,
        |         CASE WHEN id % 2 = 0
        |              THEN 'zqx hot duplicated part title-' || r || '-'
        |                   || r || '-' || r
        |              ELSE p_name END AS name
        |  FROM tagged),
        |e AS (SELECT id, name FROM base WHERE length(name) >= 6),
        |pr AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |         levenshtein(a.name, b.name) AS dist
        |  FROM e a JOIN e b
        |    ON a.id < b.id
        |   AND abs(length(a.name) - length(b.name)) <= 2
        |   AND levenshtein(a.name, b.name) <= 2)
        |SELECT COUNT(*) AS n_pairs,
        |       CAST(SUM(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_exact,
        |       CAST(SUM(id_a % 1000003) AS BIGINT) AS ck_a,
        |       CAST(SUM(id_b % 1000003) AS BIGINT) AS ck_b
        |FROM pr""".stripMargin)),

    // Jaro-Winkler record linkage: every 40th part name gets a re-keyed
    // copy with its last two chars transposed — the transposition typo
    // Jaro-Winkler is built for (levenshtein distance 2, so dd18's ≤2
    // band barely holds it; JW scores it ≈0.99). Char-2-gram blocking +
    // the native codegen scorer; the oracle replays the SAME blocking and
    // DuckDB's own jaro_winkler_similarity, bit-aligned with the native
    // expression (JaroWinklerAlgo pins the float op order).
    QuerySpec("dd21_jw_linkage", (s, d) => {
      val p = part(s, d).select(col("p_partkey").cast("long").as("id"),
        col("p_name").as("name"))
      val typos = p.filter(col("id") % 40 === 0)
        .select((col("id") + 2000000L).as("id"),
          expr("concat(substr(name, 1, length(name) - 2), " +
            "reverse(substr(name, length(name) - 1, 2)))").as("name"))
      Dedup.jaroWinklerPairs(p.unionByName(typos), "id", "name",
          minSim = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    },
      Some("""WITH base AS (
        |  SELECT p_partkey AS id, p_name AS name FROM part
        |  UNION ALL
        |  SELECT p_partkey + 2000000,
        |         substr(p_name, 1, length(p_name) - 2)
        |           || reverse(substr(p_name, length(p_name) - 1, 2))
        |  FROM part WHERE p_partkey % 40 = 0),
        |e AS (SELECT id, name FROM base WHERE length(name) >= 6),
        |g AS (SELECT id, unnest(list_distinct(list_transform(
        |        range(1, length(name)), i -> substr(name, i, 2))))
        |        AS gram FROM e),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |         FROM g a JOIN g b ON a.gram = b.gram AND a.id < b.id)
        |SELECT id_a, id_b,
        |       ROUND(jaro_winkler_similarity(ea.name, eb.name), 4) AS jw
        |FROM cand
        |JOIN e ea ON id_a = ea.id
        |JOIN e eb ON id_b = eb.id
        |WHERE jaro_winkler_similarity(ea.name, eb.name) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin)),

    // degree census of the dup-candidate graph: the structural profile
    // read BEFORE trusting transitive-closure dedup — a heavy tail of
    // high-degree nodes means hub grams are stitching unrelated docs into
    // one giant component (over-merge), while a flat low-degree profile
    // says clusters are genuine. Two small aggregates over dd10's edge
    // relation; the histogram is tiny by construction.
    QuerySpec("dd22_degree_profile", (s, d) => {
      val pairs = Dedup.gramCandidatePairs(fanOut(documents(s, d)),
        "doc_id", "text", Seq("lang", "source"), 3, maxDocFreq = 64)
      val ends = pairs.select(col("doc_a").as("id"))
        .unionByName(pairs.select(col("doc_b").as("id")))
      ends.groupBy(col("id")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    },
      Some("""WITH toks AS (
        |  SELECT doc_id, lang, source,
        |         string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS gram
        |  FROM toks),
        |hot AS (
        |  SELECT lang, source, gram FROM grams
        |  GROUP BY lang, source, gram HAVING COUNT(*) > 64),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM grams a JOIN grams b
        |    ON a.gram = b.gram AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM hot h
        |    WHERE h.lang = a.lang AND h.source = a.source
        |      AND h.gram = a.gram)),
        |deg AS (
        |  SELECT id, COUNT(*) AS degree FROM (
        |    SELECT src AS id FROM pairs
        |    UNION ALL SELECT dst FROM pairs)
        |  GROUP BY id)
        |SELECT degree, COUNT(*) AS n_nodes
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin)),

    // encoding-noise gate: the corpus is synthetically clean, so a
    // deterministic mojibake tail (U+FFFD pair every 7th doc, a BEL
    // control char every 11th) is appended before the scan — the oracle
    // replays the injection, and the organic non-ASCII of the fr/es docs
    // exercises the ratio path. Row-local, zero shuffles.
    QuerySpec("ts18_encoding_quality", (s, d) => {
      val noisy = fanOut(documents(s, d)).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" �bad�"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit("\u0007"))
            .otherwise(lit(""))))
      TextOps.encodingSignals(noisy, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      Some("""WITH noisy AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 7 = 0 THEN ' �bad�'
        |                 ELSE '' END
        |         || CASE WHEN doc_id % 11 = 0 THEN chr(7)
        |                 ELSE '' END AS text
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '�')) AS BIGINT)
        |      AS n_replacement,
        |    CAST(len(regexp_extract_all(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS n_ctrl,
        |    CAST(len(regexp_extract_all(text, '[^\x00-\x7F]')) AS BIGINT)
        |      AS n_nonascii
        |  FROM noisy)
        |SELECT doc_id, n_chars, n_replacement, n_ctrl, n_nonascii,
        |       (n_replacement = 0 AND n_ctrl = 0
        |        AND n_nonascii * 10 <= n_chars * 3) AS is_clean
        |FROM c ORDER BY doc_id""".stripMargin)),

    // PII scrubbing: the corpus carries no organic PII, so a
    // deterministic synthetic tail (email every doc, phone every 3rd,
    // IPv4 every 5th) is appended before the scrub — the oracle replays
    // the same augmentation, so counts and redacted text compare exactly
    QuerySpec("ts9_redact_pii", (s, d) => {
      val docs = fanOut(documents(s, d))
      val augmented = docs.select(col("doc_id"),
        concat(col("text"),
          lit(" reach user"), col("doc_id").cast("string"),
          lit("@example.com"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" or 555-867-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" from 10.0."),
              (col("doc_id") % 256).cast("string"), lit("."),
              (col("doc_id") % 250).cast("string")))
            .otherwise(lit(""))).as("text"))
      TextOps.redactPii(augmented, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      Some("""WITH aug AS (
        |  SELECT doc_id,
        |    text || ' reach user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com'
        |      || CASE WHEN doc_id % 3 = 0 THEN ' or 555-867-' ||
        |           lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         ELSE '' END
        |      || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' ||
        |           CAST(doc_id % 256 AS VARCHAR) || '.' ||
        |           CAST(doc_id % 250 AS VARCHAR)
        |         ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS n_email,
        |  len(regexp_extract_all(text,
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS n_phone,
        |  len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
        |    AS redacted_text
        |FROM aug ORDER BY doc_id""".stripMargin)),

    // the whole prep pipeline in ONE plan: C4 heuristic line gate →
    // exact dedup to min-id representatives → strided sequence chunking
    // → per-shard packing. Proves the stages COMPOSE (each is also
    // covered alone: ts13/dd1/ts8/tp7); output is per-(shard, bin) fill
    // accounting — all integers, zero FP risk → full oracle.
    QuerySpec("tp11_prep_pipeline", (s, d) => {
      val docs = fanOut(documents(s, d))
      val cleaned = TextOps.heuristicClean(docs, "doc_id", "text",
          lineWords = 5, badWords = Seq("slow", "dup"), minLineWords = 3,
          minLinesKept = 2)
        .select(col("doc_id"), col("clean_text").as("text"))
      val reps = Dedup.exact(cleaned, "text", "doc_id")
        .select(col("rep_id").as("doc_id"))
      val corpus = cleaned.join(reps, Seq("doc_id"))
      val chunks = TextOps.sequenceChunks(corpus, "doc_id", "text",
        seqLen = 32, stride = 24)
      TextOps.packSequences(chunks, "doc_id", "seq_no", "n_tokens",
          binTokens = 512, nShards = 8)
        .orderBy(col("shard"), col("bin"))
    },
      Some("""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS ws
        |            FROM documents),
        |idx AS (SELECT unnest(generate_series(0,
        |          (SELECT CAST(MAX(len(ws)) AS BIGINT) FROM t0))) AS i),
        |lines AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(ws[(i*5+1):(i*5+5)], ' ') AS line
        |  FROM t0, idx WHERE i*5 < len(ws)),
        |k AS (SELECT doc_id, pos, line FROM lines
        |      WHERE len(string_split(line, ' ')) >= 3
        |        AND NOT list_has_any(
        |              list_transform(string_split(line, ' '),
        |                             w -> lower(w)),
        |              ['slow', 'dup'])),
        |cleaned AS (
        |  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text
        |  FROM k GROUP BY doc_id HAVING COUNT(*) >= 2),
        |reps AS (SELECT MIN(doc_id) AS doc_id FROM cleaned
        |         GROUP BY text),
        |corpus AS (SELECT c.doc_id, string_split(c.text, ' ') AS ws
        |           FROM cleaned c JOIN reps USING (doc_id)),
        |seqs AS (
        |  SELECT doc_id, i AS seq_no,
        |         len(ws[(i*24+1):(i*24+32)]) AS n_tokens
        |  FROM corpus, idx WHERE i*24 < len(ws)),
        |off AS (
        |  SELECT doc_id % 8 AS shard, doc_id, seq_no, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY doc_id % 8
        |      ORDER BY doc_id, seq_no) - n_tokens AS start_off
        |  FROM seqs)
        |SELECT shard, CAST(FLOOR(start_off / 512) AS BIGINT) AS bin,
        |       COUNT(*) AS n_seqs, CAST(SUM(n_tokens) AS BIGINT)
        |         AS n_tokens
        |FROM off GROUP BY shard, bin ORDER BY shard, bin""".stripMargin)),

    // C4-style heuristic line cleaning: drop short (< 3-word) lines and
    // lines containing blocklisted terms, reassemble, drop docs left
    // with < 2 lines — the rule-based gate ahead of any corpus-frequency
    // pass. Entirely row-local (zero shuffles) → full oracle.
    QuerySpec("ts13_c4_clean", (s, d) =>
      TextOps.heuristicClean(fanOut(documents(s, d)), "doc_id", "text",
          lineWords = 5, badWords = Seq("slow", "dup"), minLineWords = 3,
          minLinesKept = 2)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |idx AS (SELECT unnest(generate_series(0,
        |          (SELECT MAX(len(ws)) // 5 FROM t))) AS i),
        |lines AS (
        |  SELECT doc_id, i AS pos,
        |         array_to_string(ws[(i*5+1):(i*5+5)], ' ') AS line
        |  FROM t, idx WHERE i*5 < len(ws)),
        |k AS (SELECT doc_id, pos, line FROM lines
        |      WHERE len(string_split(line, ' ')) >= 3
        |        AND NOT list_has_any(
        |              list_transform(string_split(line, ' '),
        |                             w -> lower(w)),
        |              ['slow', 'dup'])),
        |n AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines
        |      GROUP BY doc_id)
        |SELECT k.doc_id,
        |       string_agg(k.line, ' ' ORDER BY k.pos) AS clean_text,
        |       COUNT(*) AS n_lines_kept,
        |       n.n_lines - COUNT(*) AS n_lines_dropped
        |FROM k JOIN n USING (doc_id)
        |GROUP BY k.doc_id, n.n_lines
        |HAVING COUNT(*) >= 2
        |ORDER BY k.doc_id""".stripMargin)),

    // temperature-flattened mixture (α = 0.5): per-lang before/after —
    // keep-slot arithmetic is one pow on two broadcast integers, rounded
    // once → cross-engine exact, full oracle
    QuerySpec("tp4_temperature_mix", (s, d) => {
      val docs = fanOut(documents(s, d))
      val kept = Sampling.temperatureRebalance(docs, "lang", "doc_id",
        alpha = 0.5)
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
        .join(kept.groupBy(col("lang")).agg(count(lit(1)).as("n_after")),
          Seq("lang"))
        .orderBy(col("lang"))
    },
      Some("""WITH counts AS (
        |  SELECT lang, COUNT(*) AS grp_n FROM documents GROUP BY lang),
        |m AS (SELECT MIN(grp_n) AS min_n FROM counts),
        |kept AS (
        |  SELECT d.lang FROM documents d JOIN counts c USING (lang)
        |  CROSS JOIN m
        |  WHERE (d.doc_id % 10000) <
        |    CAST(ROUND(POW(m.min_n * 1.0 / c.grp_n, 0.5) * 10000)
        |         AS BIGINT))
        |SELECT c.lang, c.grp_n AS n_before, k.n_after
        |FROM counts c
        |JOIN (SELECT lang, COUNT(*) AS n_after FROM kept GROUP BY lang) k
        |  USING (lang)
        |ORDER BY c.lang""".stripMargin)),

    // per-source quality quota: keep the 20 best-quality docs per source
    // (deterministic doc_id tie-break) — the batch form of st7's ingest
    // quota, ranked by the corpus quality score. Executes as a rank
    // window that Spark 3.5+ runs with WindowGroupLimit: per-partition
    // partial top-k BELOW the shuffle, so the corpus is never globally
    // sorted (PlansSpec locks the plan).
    QuerySpec("tp5_source_topk", (s, d) => {
      val docs = fanOut(documents(s, d))
      val counts = TextOps.rawCounts(col("text")).map { case (n, c) =>
        c.as(n)
      }
      val scored = docs
        .select(col("doc_id") +: col("source") +: counts: _*)
        .withColumn("quality", TextOps.qualityScoreFromCounts(
          col("n_chars"), col("n_words"), col("n_punct"), col("n_stops")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("quality").desc, col("doc_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20)
        .select(col("source"), col("rk").cast("long").as("rk"),
          col("doc_id"), col("quality"))
        .orderBy(col("source"), col("rk"))
    },
      Some("""WITH f AS (
        |  SELECT doc_id, source,
        |    length(text) AS n_chars,
        |    len(string_split_regex(text, '\s+')) AS n_words,
        |    len(regexp_extract_all(lower(text),
        |        '\b(the|a|of|and|is|to|in)\b')) AS n_stops,
        |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
        |  FROM documents),
        |q AS (SELECT doc_id, source,
        |  ROUND((LEAST(n_words / 50.0, 1.0)
        |       + LEAST((n_stops * 1.0 / n_words) * 5.0, 1.0)
        |       + GREATEST(1.0 - (n_punct * 1.0 / n_chars) * 10.0, 0.0))
        |       / 3.0, 4) AS quality
        |  FROM f),
        |r AS (SELECT source, doc_id, quality,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY quality DESC, doc_id) AS rk
        |  FROM q)
        |SELECT source, rk, doc_id, quality FROM r WHERE rk <= 20
        |ORDER BY source, rk""".stripMargin)),

    // token-budget mixture: each lang downsampled so its token mass
    // lands at an equal share of 40% of the corpus tokens — the static
    // data-mixing step before chunking. Keep-slots are one rounded
    // double per group from two broadcast scalars → cross-engine exact,
    // full oracle on per-lang before/after token mass.
    QuerySpec("tp6_token_budget_mix", (s, d) => {
      val docs = fanOut(documents(s, d))
      val nToks = size(split(col("text"), "\\s+")).cast("long")
      val withToks = docs.withColumn("n_toks", nToks)
      val kept = Sampling.tokenBudgetSample(withToks, "lang", "doc_id",
        col("n_toks"), budgetFrac = 0.4)
      withToks.groupBy(col("lang"))
        .agg(sum(col("n_toks")).as("tokens_before"))
        .join(kept.groupBy(col("lang"))
          .agg(sum(col("n_toks")).as("tokens_after")), Seq("lang"))
        .orderBy(col("lang"))
    },
      Some("""WITH t AS (
        |  SELECT doc_id, lang,
        |         len(string_split_regex(text, '\s+')) AS n_toks
        |  FROM documents),
        |g AS (SELECT lang, SUM(n_toks) AS grp_toks FROM t GROUP BY lang),
        |tot AS (SELECT CAST(SUM(n_toks) AS DOUBLE) AS total,
        |               (SELECT COUNT(*) FROM g) AS n_groups
        |        FROM t),
        |slots AS (
        |  SELECT g.lang,
        |    CAST(ROUND(LEAST(1.0,
        |      (0.4 * tot.total / tot.n_groups) / g.grp_toks) * 10000)
        |      AS BIGINT) AS s
        |  FROM g CROSS JOIN tot),
        |kept AS (
        |  SELECT t.lang, t.n_toks FROM t JOIN slots USING (lang)
        |  WHERE (t.doc_id % 10000) < slots.s)
        |SELECT g.lang, CAST(g.grp_toks AS BIGINT) AS tokens_before,
        |       k.tokens_after
        |FROM g
        |JOIN (SELECT lang, CAST(SUM(n_toks) AS BIGINT) AS tokens_after
        |      FROM kept GROUP BY lang) k USING (lang)
        |ORDER BY g.lang""".stripMargin)),

    // winnowing-style rolling-hash fingerprint (xxhash64-seeded → no oracle)
    // rolling-hash fingerprints are hash-seeded (no SQL replay), so the
    // entry carries an ENFORCED purity verdict in dd2's style: the
    // fingerprint is a pure function of the text, so every exact-text
    // group (the corpus has planted duplicates) must share ONE
    // fingerprint, and no fingerprint may be null
    QuerySpec("ts5_rolling_fp", (s, d) => {
      val fp = fanOut(documents(s, d))
        .select(col("doc_id"), col("text"),
          TextOps.rollingMinHash(col("text")).as("fp_roll"))
      val groups = fp.groupBy(col("text"))
        .agg(countDistinct(col("fp_roll")).as("nfp"))
      fp.join(groups, Seq("text"))
        .select(col("doc_id"), col("fp_roll"),
          (col("nfp") === 1 && col("fp_roll").isNotNull).as("equal"))
        .orderBy(col("doc_id"))
    }),

    // ---- similarity search -------------------------------------------------
    // exact brute-force top-5 per query vector
    QuerySpec("sim1_cosine_topk", (s, d) => {
      val emb = embeddings(s, d)
      Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .select(col("query_id"), col("rnk"), col("neighbor_id"), col("sim"))
        .orderBy(col("query_id"), col("rnk"))
    },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT query_id, e.vec_id AS neighbor_id,
        |        ROUND(list_cosine_similarity(qv, e.embedding::DOUBLE[]), 4)
        |          AS sim
        |      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY sim DESC, neighbor_id) AS rnk
        |      FROM s)
        |SELECT query_id, rnk, neighbor_id, sim FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin)),

    // contrastive pair mining for embedding training: each anchor gets
    // its nearest neighbor as the positive and its rank-50 neighbor as
    // the hard negative (mid-ranked, not random — the negative that
    // actually teaches the margin). One corpus scan against a broadcast
    // anchor sample, one per-anchor window; at 100 TB the anchor set is
    // the small side by construction and the ranking is per-partition.
    QuerySpec("sim16_contrastive_pairs", (s, d) => {
      val emb = embeddings(s, d)
      val topk = Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") % 20 === 0), "vec_id", "embedding",
        50)
      val pos = topk.filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("pos_id"),
          col("sim").as("pos_sim"))
      val neg = topk.filter(col("rank") === 50)
        .select(col("query_id"), col("neighbor_id").as("neg_id"),
          col("sim").as("neg_sim"))
      pos.join(neg, "query_id")
        .select(col("query_id"), col("pos_id"), col("pos_sim"),
          col("neg_id"), col("neg_sim"),
          round(col("pos_sim") - col("neg_sim"), 4).as("margin"))
        .orderBy(col("query_id"))
    },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 20 = 0),
        |s AS (SELECT query_id, e.vec_id AS neighbor_id,
        |        ROUND(list_cosine_similarity(qv, e.embedding::DOUBLE[]), 4)
        |          AS sim
        |      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY sim DESC, neighbor_id) AS rnk
        |      FROM s)
        |SELECT p.query_id, p.neighbor_id AS pos_id, p.sim AS pos_sim,
        |       n.neighbor_id AS neg_id, n.sim AS neg_sim,
        |       ROUND(p.sim - n.sim, 4) AS margin
        |FROM r p JOIN r n ON p.query_id = n.query_id
        |WHERE p.rnk = 1 AND n.rnk = 50
        |ORDER BY p.query_id""".stripMargin)),

    // ANN-backed contrastive mining — sim16's scale path: the anchor
    // sweep rides ivfTopK's cluster-pruned probe (a seeded k-means
    // coarse quantizer, nprobe 3 of nlist 10) instead of a full
    // brute-force scan, so each anchor scores ~3 clusters and the
    // anchor set is FIXED (base-replica ids only) — the serving shape
    // where a bounded query batch mines hard negatives from a growing
    // corpus. ANN shortlists are probe-sensitive → no fixed SQL oracle;
    // the ENFORCED verdict replays a fixed 25-anchor probe set against
    // brute force and requires recall@5 ≥ 0.5 on every returned row.
    // The floor is calibrated to this corpus's geometry: the synthetic
    // embeddings are near-isotropic (no organic cluster structure), so
    // probing 30% of a trained quantizer's lists measures recall@5
    // 0.58-0.70 across the 1×-100× decades (label-IVF gets 0.46 —
    // labels are not geometric — and blind 30% probing would floor at
    // ~0.3); 0.5 enforces "the quantizer routes meaningfully better
    // than its probed fraction" without betting on structure the data
    // does not have. Production embeddings cluster; the same machinery
    // at the same nprobe fraction sits far higher there (the sim15
    // curve on its seed-centered query set reaches 0.92+).
    QuerySpec("sim16b_ann_contrastive", (s, d) => {
      val emb = embeddings(s, d)
      val anchors = emb.filter(col("vec_id") % 20 === 0 &&
        col("vec_id") < 20000)
      val clusters = Similarity.kmeansAssign(emb, "vec_id", "embedding",
        k = 10, iters = 2)
      // the shortlist feeds three consumers (positive pick, negative
      // pick, probe-set recall) — scratch-materialize it once
      val ann = Scratch.materialize(
        Similarity.ivfTopK(emb.join(clusters, "vec_id"), anchors,
          "vec_id", "embedding", "cluster", k = 50, nprobe = 3),
        "sim16b_ann")
      val pos = ann.filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("pos_id"),
          col("sim").as("pos_sim"))
      val neg = ann.filter(col("rank") === 50)
        .select(col("query_id"), col("neighbor_id").as("neg_id"),
          col("sim").as("neg_sim"))
      val pairs = pos.join(neg, "query_id")
        .select(col("query_id"), col("pos_id"), col("pos_sim"),
          col("neg_id"), col("neg_sim"),
          round(col("pos_sim") - col("neg_sim"), 4).as("margin"))
      val probeIds = emb.filter(col("vec_id") % 20 === 0 &&
        col("vec_id") < 500)
      val bf = Similarity.bruteForceTopK(emb, probeIds, "vec_id",
        "embedding", 5)
      val hits = bf.select(col("query_id"), col("neighbor_id"))
        .join(ann.filter(col("rank") <= 5)
            .select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
      val verdict = bf.agg(count(lit(1)).as("n_bf"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(round(col("n_hit") / col("n_bf"), 4).as("recall5"),
          (col("n_hit") / col("n_bf") >= 0.5).as("recall_ok"))
      pairs.crossJoin(verdict).orderBy(col("query_id"))
    }),

    // all pairs above threshold: LSH-bucketed candidates + exact cosine
    // verification — same result set as an all-pairs scan, cross-join-free
    QuerySpec("sim2_threshold_pairs", (s, d) =>
      Similarity.thresholdPairs(
          embeddings(s, d).filter(col("vec_id") < 300),
          "vec_id", "embedding", 0.3, dim = 64)
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings WHERE vec_id < 300)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
        |FROM e a, e b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.v, b.v) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin)),

    // signed-random-projection LSH (Charikar) with DERANDOMIZED ±1
    // hyperplanes — a fixed seed-searched 128×64 sign table embedded in
    // both engines — so the exact candidate set replays in SQL: the one
    // LSH entry with a FULL oracle rather than a recall-floor self-check.
    // 128 bits in 16 bands of 8; candidates ∩ cosine ≥ 0.4 is the
    // standard LSH contract (recall < 1 by design; more bands = more
    // recall). The 30× rehearsal retired the earlier affine sign formula:
    // its correlated planes collapsed 21% of any corpus into one bucket
    // (see Similarity.srpCandidatePairs).
    QuerySpec("sim17_srp_lsh", (s, d) =>
      Similarity.srpCandidatePairs(embeddings(s, d), "vec_id",
          "embedding", dim = 64, threshold = 0.4, nBits = 128, bandBits = 8)
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |signs AS (SELECT [
        |    8662188719499160259,-4353858177683018779,2598320418218638666,798157634096183985,
        |    -917402836281507927,-8573822588641797642,-5321695084132473288,2575011224247964891,
        |    -337307038369704444,610875658412463198,1118191882204332296,4264319363445084007,
        |    -4936832465116258083,-8742476688671125996,3780272573231542655,-7506322039816298176,
        |    2179449586745484792,-4238178203237696404,-2072140391354278985,6300176219860595955,
        |    3798695383556734387,7230010512846563413,-7436681793523565175,4548290608728524424,
        |    -5091773892753074686,7680076269836859110,-6221649150996639370,1107781761454125334,
        |    951178407954645370,3318389318148680522,2485525089282576719,2723201397606581893,
        |    -3762000149197409686,6943577248329738020,1588501011835015004,-8647218131037850074,
        |    8092228408170024482,-3525652300172243032,3832137978988617962,7976198333057047073,
        |    6778658401495113372,6099309317312063435,-3342137225355652990,8893068527085053031,
        |    4858806668606706231,5411781828036313372,-7897081444309697283,8888083698607137603,
        |    -6442379387067020055,5836117722786656947,3932043701783186428,-4625284494873108976,
        |    1758098567137225126,-4196979954506566786,-1910529837107607163,-8118668342616531036,
        |    -1181286883289845075,-2982725244219111515,5443272873301836839,3201967302902885659,
        |    530485473279918343,-3802048262147946711,6912573887799929392,-792778336253011419,
        |    -6095294032748202949,5253914635986282347,5636913162775944996,-2965673244356870757,
        |    -2123671413043952032,2102835994924914836,3737328277751973534,6159952501495858074,
        |    7432809879688336381,895204353335774102,-5275790790083593710,4938050692447711575,
        |    -2340720887716690090,-6693845614814978922,-723583460651060045,3709754706851070772,
        |    2994817779964610783,-181815505992725427,2801529470595732247,1069128636030162772,
        |    -7164134026024412591,-9001388371056589367,-2575621212530336760,-341995586912411001,
        |    9043611109639802373,-7550529134718377936,-2683055959294649644,8954466175042803203,
        |    -3739157222604705223,-7263180252977692162,9180195807345982188,-3150933822600599983,
        |    453465918878356648,9034373415132696507,-4028048028887170198,8667683034820712703,
        |    4379985732740320228,1785199677706936051,-7698054652502444128,8224340693440739967,
        |    -126582662665747691,2437633569784012910,-7984367094903449210,-7123295589906964992,
        |    -1413638375880260250,-2087142786533170575,-3893699354030136462,-983870182256730726,
        |    -2462538578176301705,-5731219047287531623,-8218155972891302400,-8143791031063600209,
        |    -8976177729474446618,-5356526022105893228,-9159877912422859109,4186295541279363258,
        |    3590319312808147891,-7110579631193606934,5690425687398648745,-3333908364042314583,
        |    6012827673783865245,6854334296760908862,-8805882360246807198,6398368236260976470
        |  ]::BIGINT[] AS s),
        |bits AS (
        |  SELECT vec_id, j,
        |    CASE WHEN list_aggregate(list_transform(
        |        generate_series(1, 64),
        |        d -> v[d] * (CASE WHEN ((s[j+1] >> (d-1)) & 1) = 1
        |                     THEN 1.0 ELSE -1.0 END)), 'sum') >= 0
        |    THEN 1 ELSE 0 END AS bit
        |  FROM e, signs, (SELECT unnest(generate_series(0, 127)) AS j)),
        |bands AS (
        |  SELECT vec_id, j // 8 AS band_idx,
        |    SUM(bit << (7 - (j % 8))) AS band_val
        |  FROM bits GROUP BY vec_id, j // 8),
        |kept AS (
        |  SELECT vec_id, band_idx, band_val,
        |    ROW_NUMBER() OVER (PARTITION BY band_idx, band_val
        |                       ORDER BY vec_id) AS rn
        |  FROM bands),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM kept a JOIN kept b
        |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |   AND a.vec_id < b.vec_id
        |  WHERE a.rn <= 512 AND b.rn <= 512),
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    ROUND(list_cosine_similarity(ea.v, eb.v), 4) AS sim
        |  FROM cand c JOIN e ea ON ea.vec_id = c.id_a
        |              JOIN e eb ON eb.vec_id = c.id_b)
        |SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.4
        |ORDER BY id_a, id_b""".stripMargin)),

    // IVF-blocked pair mining: exact cosine restricted to same-cluster
    // pairs (equi-join on the deterministic label column → full oracle) —
    // the cluster-partitioned alternative to sim2's LSH candidates
    QuerySpec("sim4_clustered_pairs", (s, d) =>
      Similarity.clusteredThresholdPairs(
          embeddings(s, d), "vec_id", "embedding", "label", 0.3)
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |       ROUND(list_cosine_similarity(a.v, b.v), 4) AS sim
        |FROM e a JOIN e b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin)),

    // seeded k-means training (Lloyd's, deterministic init = vectors of
    // the k smallest ids) — the self-contained IVF path for unlabeled
    // corpora. The FULL final assignment relation is oracle-checked
    // against an unrolled Lloyd's in DuckDB (same init, same rounded
    // tie-breaks), proving the training itself, not just its shape.
    QuerySpec("sim5_kmeans_train", (s, d) =>
      Similarity.kmeansAssign(embeddings(s, d), "vec_id", "embedding",
          k = 10, iters = 2)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
        .orderBy(col("vec_id")),
      // unrolled 2-iteration Lloyd's with the same deterministic init and
      // the same rounded tie-break as Similarity.kmeansAssign
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster,
        |              v AS centroid
        |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 10)),
        |a1 AS (SELECT vec_id, v, cluster FROM (
        |         SELECT e.vec_id, e.v, c.cluster,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |             ORDER BY ROUND(list_cosine_similarity(e.v, c.centroid),
        |                            6) DESC, c.cluster) AS rk
        |         FROM e, c0 c) WHERE rk = 1),
        |c1 AS (SELECT cluster, list(cavg ORDER BY i) AS centroid FROM (
        |         SELECT cluster, i, avg(v[i]) AS cavg FROM (
        |           SELECT cluster, unnest(generate_series(1, len(v))) AS i, v
        |           FROM a1) GROUP BY cluster, i) GROUP BY cluster),
        |a2 AS (SELECT vec_id, v, cluster FROM (
        |         SELECT e.vec_id, e.v, c.cluster,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |             ORDER BY ROUND(list_cosine_similarity(e.v, c.centroid),
        |                            6) DESC, c.cluster) AS rk
        |         FROM e, c1 c) WHERE rk = 1),
        |c2 AS (SELECT cluster, list(cavg ORDER BY i) AS centroid FROM (
        |         SELECT cluster, i, avg(v[i]) AS cavg FROM (
        |           SELECT cluster, unnest(generate_series(1, len(v))) AS i, v
        |           FROM a2) GROUP BY cluster, i) GROUP BY cluster),
        |fin AS (SELECT vec_id, cluster FROM (
        |         SELECT e.vec_id, c.cluster,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |             ORDER BY ROUND(list_cosine_similarity(e.v, c.centroid),
        |                            6) DESC, c.cluster) AS rk
        |         FROM e, c2 c) WHERE rk = 1)
        |SELECT vec_id, cluster FROM fin ORDER BY vec_id""".stripMargin)),

    // end-to-end self-contained ANN: train clusters with k-means, probe
    // with ivfTopK, score recall@5 against in-entry brute force. Approx
    // recall is hash-free but float-tie-sensitive → self-checking
    // rows-only entry: the `recall_ok` column asserts the quality floor.
    QuerySpec("sim6_kmeans_ivf", (s, d) => {
      val emb = embeddings(s, d)
      val clusters = Similarity.kmeansAssign(emb, "vec_id", "embedding",
        k = 10, iters = 2)
      val clustered = emb.join(clusters, "vec_id")
      val queries = emb.filter(col("vec_id") < 10)
      val ivf = Similarity.ivfTopK(clustered, queries, "vec_id",
        "embedding", "cluster", 5, 2)
      val bf = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 5)
      val hits = bf.select(col("query_id"), col("neighbor_id"))
        .join(ivf.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
      bf.agg(count(lit(1)).as("n_bf"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(col("n_bf"), col("n_hit"),
          round(col("n_hit") / col("n_bf"), 4).as("recall"),
          (col("n_hit") / col("n_bf") >= 0.8).as("recall_ok"))
    }),

    // product-quantization ANN (ADC): train sub-codebooks, score the
    // 8-byte codes, exact-rerank a 100-deep shortlist fetched by id join —
    // the compressed-scan path (codes ~32× narrower than the float
    // vectors). Corpus is L2-normalized so the PQ's L2 geometry matches
    // the cosine ground truth; recall@5 vs brute force is the
    // self-check (rows-only by design — PQ is float-tie-sensitive).
    QuerySpec("sim7_pq_topk", (s, d) => {
      val emb = embeddings(s, d)
      val nrm = sqrt(aggregate(col("embedding"),
        lit(0.0), (a, x) => a + x.cast("double") * x.cast("double")))
      val corpus = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / nrm)
          .as("embedding"))
      val books = Similarity.pqTrain(corpus, "vec_id", "embedding",
        m = 8, ksub = 16, iters = 2)
      val queries = corpus.filter(col("vec_id") < 10)
      val pq = Similarity.pqTopK(corpus, queries, "vec_id", "embedding",
        books, 5, shortlist = 100)
      val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id",
        "embedding", 5)
      val hits = bf.select(col("query_id"), col("neighbor_id"))
        .join(pq.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
      bf.agg(count(lit(1)).as("n_bf"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(col("n_bf"), col("n_hit"),
          round(col("n_hit") / col("n_bf"), 4).as("recall"),
          (col("n_hit") / col("n_bf") >= 0.75).as("recall_ok"))
    }),

    // the full self-contained billion-scale ANN stack composed end to
    // end: k-means coarse clusters (scan ÷ nlist) × PQ codes (bytes ÷
    // ~32) × exact rerank — recall@5 self-check vs brute force
    QuerySpec("sim8_ivfpq_topk", (s, d) => {
      val emb = embeddings(s, d)
      val nrm = sqrt(aggregate(col("embedding"),
        lit(0.0), (a, x) => a + x.cast("double") * x.cast("double")))
      val base = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / nrm)
          .as("embedding"))
      val clusters = Similarity.kmeansAssign(base, "vec_id", "embedding",
        k = 10, iters = 2)
      val corpus = base.join(clusters, "vec_id")
      val books = Similarity.pqTrain(base, "vec_id", "embedding",
        m = 8, ksub = 16, iters = 2)
      val queries = base.filter(col("vec_id") < 10)
      val ivfpq = Similarity.ivfPqTopK(corpus, queries, "vec_id",
        "embedding", "cluster", books, 5, nprobe = 4, shortlist = 100)
      val bf = Similarity.bruteForceTopK(base, queries, "vec_id",
        "embedding", 5)
      val hits = bf.select(col("query_id"), col("neighbor_id"))
        .join(ivfpq.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
      bf.agg(count(lit(1)).as("n_bf"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(col("n_bf"), col("n_hit"),
          round(col("n_hit") / col("n_bf"), 4).as("recall"),
          (col("n_hit") / col("n_bf") >= 0.7).as("recall_ok"))
    }),

    // the 100 TB ANN SERVING path: the trained index is not rebuilt per
    // query — clusters, PQ codes, centroids and full vectors round-trip
    // through a lake layout (codes partitioned BY CLUSTER, the
    // Load.partitionedParquet shape), and the probe joins the read-back
    // index on the partition column so unprobed clusters are dynamically
    // pruned (zero bytes read — SimilaritySpec locks the pruned plan).
    // Same probe params as sim8 → same recall floor self-check.
    //
    // Build and serve are SPLIT, as in production: the index (plus the
    // brute-force recall baseline — the CHECK, not the serving path) is
    // built once per JVM per corpus and memoized ([[AnnServing]]), so in
    // the bench the warmup run pays k-means + PQ train + 3 lake writes
    // and every TIMED run measures what serving actually costs — read
    // the persisted index, probe, rerank, recall-check. Before the
    // split, each timed run re-ran the whole build+verify harness and
    // the headline number (18.6 s min, 43.6 s worst) said nothing about
    // the DPP probe it exists to prove.
    QuerySpec("sim9_persisted_ann", (s, d) => {
      val emb = embeddings(s, d)
      val nrm = sqrt(aggregate(col("embedding"),
        lit(0.0), (a, x) => a + x.cast("double") * x.cast("double")))
      val base = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / nrm)
          .as("embedding"))
      val built = AnnServing.get(d) {
        val tmp = Scratch.dir("ann_index")
        val clusters = Similarity.kmeansAssign(base, "vec_id",
          "embedding", k = 10, iters = 2)
        val books = Similarity.pqTrain(base, "vec_id", "embedding",
          m = 8, ksub = 16, iters = 2)
        graft.etl.Load.partitionedParquet(
          Similarity.pqEncode(base, "vec_id", "embedding", books)
            .join(clusters, "vec_id")
            .select(col("cluster"), col("vec_id").as("neighbor_id"),
              col("codes")),
          s"$tmp/index", Seq("cluster"))
        graft.etl.Load.parquet(
          Similarity.centroids(base.join(clusters, "vec_id"), "cluster",
            "embedding"), s"$tmp/centroids")
        graft.etl.Load.parquet(
          base.select(col("vec_id").as("neighbor_id"),
            col("embedding").as("c_vec")), s"$tmp/vectors")
        val bf = Similarity.bruteForceTopK(base,
          base.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        AnnServing.Built(tmp, books, bf.collect().toSeq, bf.schema)
      }
      val ann = Similarity.ivfPqProbe(
        s.read.parquet(s"${built.dir}/index"),
        s.read.parquet(s"${built.dir}/centroids"),
        s.read.parquet(s"${built.dir}/vectors"),
        base.filter(col("vec_id") < 10), "vec_id", "embedding",
        built.books, 5, nprobe = 4, shortlist = 100)
      val bf = s.createDataFrame(
        new java.util.ArrayList(
          scala.jdk.CollectionConverters.SeqHasAsJava(built.bfRows)
            .asJava),
        built.bfSchema)
      val hits = bf.select(col("query_id"), col("neighbor_id"))
        .join(ann.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
      bf.agg(count(lit(1)).as("n_bf"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(col("n_bf"), col("n_hit"),
          round(col("n_hit") / col("n_bf"), 4).as("recall"),
          (col("n_hit") / col("n_bf") >= 0.7).as("recall_ok"))
    }),

    // filtered vector search: an attribute gate (label = 3 plays the
    // metadata predicate) applied BEFORE index build and probe —
    // PRE-filtering, the strategy that holds up under selective
    // predicates: at 100 TB the gate prunes the scan and the ANN scores
    // only survivors, where post-filtering over-fetches from the full
    // index and starves recall. Recall floor checked against brute force
    // over the SAME filtered corpus (float-tie-sensitive → self-check).
    QuerySpec("sim10_filtered_ann", (s, d) => {
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("label") === 3)
      val clusters = Similarity.kmeansAssign(corpus, "vec_id", "embedding",
        k = 5, iters = 2)
      val queries = emb.filter(col("vec_id") < 10)
      val ann = Similarity.ivfTopK(corpus.join(clusters, "vec_id"),
        queries, "vec_id", "embedding", "cluster", 5, 3)
      val bf = Similarity.bruteForceTopK(corpus, queries, "vec_id",
        "embedding", 5)
      val hits = bf.select(col("query_id"), col("neighbor_id"))
        .join(ann.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
      bf.agg(count(lit(1)).as("n_bf"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(col("n_bf"), col("n_hit"),
          round(col("n_hit") / col("n_bf"), 4).as("recall"),
          (col("n_hit") / col("n_bf") >= 0.8).as("recall_ok"))
    }),

    // IVF-style ANN probe — approximate vs brute force, but deterministic
    // (clusters = label column, no RNG) → fully oracle-checked
    QuerySpec("sim3_ivf_topk", (s, d) => {
      val emb = embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", 5, 2)
        .withColumn("rnk", col("rank").cast("long")).drop("rank")
        .orderBy(col("query_id"), col("rnk"))
    },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |pos AS (SELECT label, unnest(generate_series(1, len(v))) AS i, v
        |        FROM e),
        |cent AS (
        |  SELECT label AS cluster, list(cavg ORDER BY i) AS centroid
        |  FROM (SELECT label, i, avg(v[i]) AS cavg FROM pos GROUP BY label, i)
        |  GROUP BY label),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |assigned AS (
        |  SELECT query_id, qv, cluster FROM (
        |    SELECT q.query_id, q.qv, c.cluster,
        |           ROW_NUMBER() OVER (PARTITION BY q.query_id
        |             ORDER BY ROUND(list_cosine_similarity(q.qv, c.centroid),
        |                            6) DESC, c.cluster) AS crank
        |    FROM q, cent c)
        |  WHERE crank <= 2),
        |probe AS (
        |  SELECT a.query_id, e.vec_id AS neighbor_id,
        |         ROUND(list_cosine_similarity(a.qv, e.v), 4) AS sim,
        |         e.label AS cluster
        |  FROM assigned a JOIN e ON e.label = a.cluster
        |  WHERE e.vec_id <> a.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim, cluster,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM probe)
        |SELECT query_id, neighbor_id, sim, cluster, rnk
        |FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)),

    // centroid drift between the even/odd snapshot halves — the
    // staleness monitor that triggers IVF re-training; integer
    // micro-unit distance → full oracle.
    QuerySpec("sim12_centroid_drift", (s, d) => {
      val emb = embeddings(s, d)
      Similarity.centroidDrift(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1), "label", "embedding")
        .select(col("cluster").cast("long").as("cluster"), col("l2_drift"))
        .orderBy(col("cluster"))
    },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |a AS (SELECT label, i, AVG(v[i]) AS m
        |      FROM (SELECT label, unnest(generate_series(1, len(v))) AS i,
        |                   v
        |            FROM e WHERE vec_id % 2 = 0)
        |      GROUP BY 1, 2),
        |b AS (SELECT label, i, AVG(v[i]) AS m
        |      FROM (SELECT label, unnest(generate_series(1, len(v))) AS i,
        |                   v
        |            FROM e WHERE vec_id % 2 = 1)
        |      GROUP BY 1, 2),
        |d AS (SELECT a.label,
        |        CAST(ROUND((ROUND(a.m, 6) - ROUND(b.m, 6)) * 1e6)
        |             AS BIGINT) AS dm
        |      FROM a JOIN b USING (label, i))
        |SELECT CAST(label AS BIGINT) AS cluster,
        |       ROUND(SQRT(CAST(SUM(dm * dm) AS DOUBLE)) / 1e6, 4)
        |         AS l2_drift
        |FROM d GROUP BY label ORDER BY cluster""".stripMargin)),

    // k-NN label propagation: every vec_id%10==7 vector plays the
    // unlabeled query set, classified by the majority label of its 5
    // nearest cosine neighbors (the semi-supervised spread of a small
    // labeled quality/domain set over a corpus). Deterministic vote
    // (ties → smallest label), integer-only output → full oracle.
    QuerySpec("sim11_knn_classify", (s, d) => {
      val emb = embeddings(s, d)
      Similarity.knnClassify(emb, emb.filter(col("vec_id") % 10 === 7),
          "vec_id", "embedding", "label", 5)
        .select(col("query_id"),
          col("pred_label").cast("long").as("pred_label"), col("n_votes"))
        .orderBy(col("query_id"))
    },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 10 = 7),
        |s AS (SELECT query_id, e.vec_id AS neighbor_id, e.label,
        |        ROUND(list_cosine_similarity(qv, e.embedding::DOUBLE[]), 4)
        |          AS sim
        |      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, label,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY sim DESC, neighbor_id) AS rnk
        |      FROM s),
        |v AS (SELECT query_id, label, COUNT(*) AS n_votes
        |      FROM r WHERE rnk <= 5 GROUP BY 1, 2),
        |p AS (SELECT query_id, label, n_votes,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |                           ORDER BY n_votes DESC, label) AS pr
        |      FROM v)
        |SELECT query_id, CAST(label AS BIGINT) AS pred_label,
        |       CAST(n_votes AS BIGINT) AS n_votes
        |FROM p WHERE pr = 1 ORDER BY query_id""".stripMargin)),

    // int8 scalar quantization (SQ8): per-dim min/max stats pass, then a
    // row-local affine encode to [0,255] — floor-based so the integer code
    // relation replays bit-exact in DuckDB (per-vector code sum/min/max as
    // the full-oracle projection of the 4×-compressed ANN corpus).
    QuerySpec("sim13_scalar_quantize", (s, d) =>
      Similarity.scalarQuantize(fanOut(embeddings(s, d)), "vec_id",
          "embedding")
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
          array_min(col("codes")).as("code_min"),
          array_max(col("codes")).as("code_max"))
        .orderBy(col("vec_id")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |x AS (SELECT vec_id, unnest(generate_series(1, len(v))) AS i, v
        |      FROM e),
        |dims AS (SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
        |         FROM x GROUP BY i),
        |codes AS (SELECT vec_id,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE LEAST(CAST(FLOOR((v[i] - mn) * 255.0 / (mx - mn))
        |                         AS BIGINT), 255) END AS code
        |  FROM x JOIN dims USING (i))
        |SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum,
        |       MIN(code) AS code_min, MAX(code) AS code_max
        |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // IVF tuning telemetry: recall@5 vs nprobe ∈ {1, 2, 4} against the
    // brute-force truth — the scan-fraction/recall trade an operator reads
    // before fixing nprobe on a 100 TB deployment. The enforced verdict is
    // STRUCTURAL, not a flaky floor: widening the probe set can only add
    // candidates, so recall must be non-decreasing in nprobe (and the
    // curve is emitted for the report).
    QuerySpec("sim15_nprobe_curve", (s, d) => {
      val emb = embeddings(s, d)
      val clustered = emb.join(
        Similarity.kmeansAssign(emb, "vec_id", "embedding",
          k = 10, iters = 2), "vec_id")
      val queries = emb.filter(col("vec_id") < 10)
      val bf = Similarity.bruteForceTopK(emb, queries, "vec_id",
          "embedding", 5)
        .select(col("query_id"), col("neighbor_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nBf = bf.count().toDouble
      val recalls = Seq(1, 2, 4).map { np =>
        val ivf = Similarity.ivfTopK(clustered, queries, "vec_id",
          "embedding", "cluster", 5, np)
        val nHit = bf.join(ivf.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi").count()
        np -> nHit / nBf
      }
      import s.implicits._
      recalls.map { case (np, r) =>
        (np, BigDecimal(r).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      }.toDF("nprobe", "recall")
        .withColumn("monotone_ok",
          lit(recalls.sliding(2).forall(w => w(0)._2 <= w(1)._2 + 1e-9)))
        .withColumn("equal", col("monotone_ok"))
        .orderBy(col("nprobe"))
    }),

    // SQ8 ADC serving path: corpus scanned as int8 codes (4× narrower),
    // scored by midpoint reconstruction against exact float queries
    // (asymmetric distance), recall@5 vs brute force as the enforced
    // self-check — the compressed-scan complement of sim7's PQ.
    QuerySpec("sim14_sq_adc", (s, d) => {
      val emb = embeddings(s, d)
      val stats = Similarity.quantStats(emb, "embedding")
      val approx = emb.select(col("vec_id"),
        Similarity.sqDecode(
          Similarity.sqEncode(col("embedding"), stats), stats)
          .as("embedding"))
      val queries = emb.filter(col("vec_id") < 10)
      val adc = Similarity.bruteForceTopK(approx, queries, "vec_id",
        "embedding", 5)
      val bf = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", 5)
      val hits = bf.select(col("query_id"), col("neighbor_id"))
        .join(adc.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
      bf.agg(count(lit(1)).as("n_bf"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
        .select(col("n_bf"), col("n_hit"),
          round(col("n_hit") / col("n_bf"), 4).as("recall"),
          (col("n_hit") / col("n_bf") >= 0.8).as("recall_ok"))
    }),

    // ---- multimodal plumbing ----------------------------------------------
    // binary + metadata: a REAL BMP is synthesized per doc and the decode
    // reads the actual header bytes back (magic + LE size field); the
    // oracle replays the size/header arithmetic from the text byte length,
    // so the hash match proves the encoded header is bit-exact.
    QuerySpec("mm1_binary_meta", (s, d) => {
      val media = Multimodal.synthesizeBmp(
        s, fanOut(documents(s, d)), "doc_id", "text")
      Multimodal.decodeImageFeatures(s, media).toDF()
        .select(col("doc_id"), col("byte_len").cast("long").as("byte_len"),
          col("header_hex"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH b AS (SELECT doc_id,
        |             octet_length(encode(text)) AS tb
        |           FROM documents),
        |g AS (SELECT doc_id, 64 + (tb % 193) AS w,
        |             64 + ((tb * 31) % 129) AS h FROM b),
        |s AS (SELECT doc_id,
        |        54 + ((3 * w + 3) // 4) * 4 * h AS sz FROM g)
        |SELECT doc_id, sz AS byte_len,
        |  '424d' || printf('%02x', sz % 256)
        |         || printf('%02x', (sz // 256) % 256)
        |         || printf('%02x', (sz // 65536) % 256)
        |         || printf('%02x', (sz // 16777216) % 256)
        |         || '0000' AS header_hex
        |FROM s ORDER BY doc_id""".stripMargin)),

    // frame sampling over the real encoded payload length
    QuerySpec("mm2_frame_sample", (s, d) => {
      val media = Multimodal.synthesizeBmp(
        s, fanOut(documents(s, d)), "doc_id", "text")
      Multimodal.sampleFrames(media, "doc_id", 64, 5)
        .orderBy(col("doc_id"), col("frame_no"))
    },
      Some("""WITH b AS (SELECT doc_id,
        |             octet_length(encode(text)) AS tb
        |           FROM documents),
        |g AS (SELECT doc_id, 64 + (tb % 193) AS w,
        |             64 + ((tb * 31) % 129) AS h FROM b),
        |s AS (SELECT doc_id,
        |        54 + ((3 * w + 3) // 4) * 4 * h AS sz FROM g)
        |SELECT doc_id, unnest(gs) AS frame_no,
        |       unnest(list_transform(gs, i -> i * 64)) AS byte_offset
        |FROM (SELECT doc_id,
        |        generate_series(0, LEAST((sz - 1) // 64, 4)) AS gs
        |      FROM s)
        |ORDER BY doc_id, frame_no""".stripMargin)),

    // REAL nearest-neighbor resize: decode BMP → keep every 4th pixel →
    // re-encode a valid BMP; both lengths are real encoded sizes (the
    // oracle replays the stride arithmetic)
    QuerySpec("mm3_resize", (s, d) => {
      val media = Multimodal.synthesizeBmp(
        s, fanOut(documents(s, d)), "doc_id", "text")
      Multimodal.resizeImage(s, media, 4).toDF()
        .select(col("doc_id"), col("orig_len").cast("long").as("orig_len"),
          col("new_len").cast("long").as("new_len"))
        .orderBy(col("doc_id"))
    },
      Some("""WITH b AS (SELECT doc_id,
        |             octet_length(encode(text)) AS tb
        |           FROM documents),
        |g AS (SELECT doc_id, 64 + (tb % 193) AS w,
        |             64 + ((tb * 31) % 129) AS h FROM b),
        |r AS (SELECT doc_id, w, h,
        |        (w + 3) // 4 AS nw, (h + 3) // 4 AS nh FROM g)
        |SELECT doc_id,
        |  54 + ((3 * w + 3) // 4) * 4 * h AS orig_len,
        |  54 + ((3 * nw + 3) // 4) * 4 * nh AS new_len
        |FROM r ORDER BY doc_id""".stripMargin)),

    // ViT patch-grid accounting from dims READ FROM THE BMP HEADER — the
    // packing planner's budget input. The oracle replays the dims formula
    // the synthesizer used; the engine's numbers come from the bytes.
    QuerySpec("mm4_vit_patches", (s, d) => {
      val media = Multimodal.synthesizeBmp(
        s, fanOut(documents(s, d)), "doc_id", "text")
      Multimodal.patchGrid(
          Multimodal.decodeDims(s, media).toDF(), "doc_id", 16)
        .orderBy(col("doc_id"))
    },
      // mm oracles replay the BMP/WAV size arithmetic the synthesizer used
      // (dims from the text byte length, 24-bpp stride padding, 54-byte
      // header; 16-bit mono PCM + 44-byte canonical header) — the engine
      // reads the same numbers back from the ACTUAL encoded bytes, so a
      // hash match proves the codec round trip.
      Some("""WITH b AS (SELECT doc_id,
        |             octet_length(encode(text)) AS tb
        |           FROM documents),
        |g AS (SELECT doc_id,
        |        64 + (tb % 193) AS width,
        |        64 + ((tb * 31) % 129) AS height
        |      FROM b)
        |SELECT doc_id,
        |       54 + ((3 * width + 3) // 4) * 4 * height AS byte_len,
        |       width, height,
        |       width // 16 AS grid_w, height // 16 AS grid_h,
        |       (width // 16) * (height // 16) AS n_patches,
        |       (width // 16) * (height // 16) + 1 AS n_tokens
        |FROM g ORDER BY doc_id""".stripMargin)),

    // audio frame-window accounting (mm4's sibling for speech): a real
    // RIFF/WAVE payload is synthesized and the sample count comes from
    // walking its chunk list — the framing math stays row-local.
    QuerySpec("mm5_audio_windows", (s, d) => {
      val media = Multimodal.synthesizeWav(
        s, fanOut(documents(s, d)), "doc_id", "text")
      Multimodal.audioWindows(
          Multimodal.decodeWavMeta(s, media).toDF()
            .select(col("doc_id"), col("n_samples")),
          "doc_id")
        .orderBy(col("doc_id"))
    },
      Some("""WITH s AS (SELECT doc_id,
        |             octet_length(encode(text)) AS n_samples
        |           FROM documents)
        |SELECT doc_id, CAST(n_samples AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN n_samples >= 400
        |            THEN (n_samples - 400) // 160 + 1 ELSE 0 END
        |       AS BIGINT) AS n_frames,
        |  CAST((n_samples * 1000) // 16000 AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN n_samples >= 400
        |            THEN ((n_samples - 400) // 160) * 160 END
        |       AS BIGINT) AS last_frame_start
        |FROM s ORDER BY doc_id""".stripMargin)),

    // ---- stream-shaped aggregation ----------------------------------------
    QuerySpec("st1_hourly_window", (s, d) =>
      StreamingOps.hourlyAgg(events(s, d))
        .orderBy(col("window_start"), col("event_type")),
      Some("""SELECT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP),
        |         '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, COUNT(*) AS n_events,
        |       ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin)),

    QuerySpec("st2_sessionize", (s, d) =>
      StreamingOps.sessionize(events(s, d), "10 minutes")
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH o AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts,
        |    CASE WHEN LAG(ts::TIMESTAMP) OVER w IS NULL
        |           OR ts::TIMESTAMP - LAG(ts::TIMESTAMP) OVER w
        |              >= INTERVAL '10 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),

    // concurrent-session census via the interval-OVERLAP join: st2's
    // sessions (as [start, last+gap) epoch-micros intervals) bucketed
    // into 1-hour cells and equi-joined on the cell id — pairs emit once
    // in their first shared bucket (no distinct, no pair re-shuffle),
    // overlap is a row-local residual. Per user: how many other users
    // were ever online simultaneously, and how many session pairs
    // collided. Integer micros end to end → full oracle (DuckDB replays
    // the overlap join as a plain theta self-join).
    QuerySpec("j13_session_overlap", (s, d) => {
      val sess = events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "10 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
      val a = sess.select(col("user_id").as("user_a"),
        unix_micros(col("sw.start")).as("lo_a"),
        unix_micros(col("sw.end")).as("hi_a"))
      val b = sess.select(col("user_id").as("user_b"),
        unix_micros(col("sw.start")).as("lo_b"),
        unix_micros(col("sw.end")).as("hi_b"))
      val pairs = Joins.intervalOverlapJoin(a, b,
          "lo_a", "hi_a", "lo_b", "hi_b", bucketWidth = 3600000000L)
        .filter(col("user_a") < col("user_b"))
        .select(col("user_a"), col("user_b"))
        // lazy persist, not an eager checkpoint (the plan holds the
        // bucket join — the dd25 AQE rule); both direction legs below
        // read the cache after the first materializes it
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pairs.select(col("user_a").as("user_id"), col("user_b").as("other"))
        .unionByName(pairs.select(col("user_b").as("user_id"),
          col("user_a").as("other")))
        .groupBy(col("user_id"))
        .agg(countDistinct(col("other")).as("n_peers"),
          count(lit(1)).as("n_overlaps"))
        .orderBy(col("user_id"))
    },
      Some("""WITH o AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts,
        |    CASE WHEN LAG(ts::TIMESTAMP) OVER w IS NULL
        |           OR ts::TIMESTAMP - LAG(ts::TIMESTAMP) OVER w
        |              >= INTERVAL '10 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o),
        |sess AS (
        |  SELECT user_id, epoch_us(MIN(ts)) AS lo,
        |         epoch_us(MAX(ts) + INTERVAL '10 minutes') AS hi
        |  FROM s GROUP BY user_id, sid),
        |p AS (
        |  SELECT a.user_id AS ua, b.user_id AS ub
        |  FROM sess a JOIN sess b
        |    ON a.user_id < b.user_id AND a.lo < b.hi AND b.lo < a.hi)
        |SELECT user_id, COUNT(DISTINCT other) AS n_peers,
        |       COUNT(*) AS n_overlaps
        |FROM (SELECT ua AS user_id, ub AS other FROM p
        |      UNION ALL SELECT ub AS user_id, ua AS other FROM p)
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // the BUILT-IN session_window operator (st2's sibling): same
    // 10-minute gap semantics as the custom sessionizer, but planned by
    // Catalyst's native SessionWindow aggregation — one user-keyed
    // shuffle, sessions assembled inside the aggregate. Oracled against
    // the same gaps-and-islands SQL, so the entry pins the built-in's
    // semantics to the custom path's.
    QuerySpec("st13_session_window_builtin", (s, d) =>
      events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "10 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"),
          date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH o AS (
        |  SELECT user_id, ts::TIMESTAMP AS ts, value,
        |    CASE WHEN LAG(ts::TIMESTAMP) OVER w IS NULL
        |           OR ts::TIMESTAMP - LAG(ts::TIMESTAMP) OVER w
        |              >= INTERVAL '10 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),

    // weekly cohort retention: the product-analytics staple — users are
    // cohorted by first-active week and counted per week offset. The
    // (user, week) activity distinct, the per-user cohort min, and the
    // join-back all shuffle on user_id — ONE partitioning reused across
    // all three — and only the tiny (cohort, offset) census leaves it.
    // Week truncation is engine-neutral (ISO Monday in both), offsets are
    // exact day multiples of 7 → full oracle.
    QuerySpec("ev1_cohort_retention", (s, d) => {
      val activity = events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      val cohort = activity.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort"))
      activity.join(cohort, "user_id")
        .groupBy(
          date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
          (datediff(col("wk"), col("cohort")) / 7).cast("long")
            .as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
      Some("""WITH a AS (SELECT DISTINCT user_id,
        |    date_trunc('week', ts::TIMESTAMP) AS wk FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort FROM a GROUP BY 1)
        |SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort_week,
        |       CAST(date_diff('day', c.cohort, a.wk) / 7 AS BIGINT)
        |         AS week_offset,
        |       COUNT(DISTINCT a.user_id) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // inter-arrival gaps per (user, event_type) stream: one user-keyed
    // window shuffle computes every lag delta in integer microseconds,
    // then a small per-type census (count/min/max/sum — all exact
    // integers, no floating aggregates to drift). The (ts, event_id)
    // tie-broken ordering makes the lag deterministic under equal
    // timestamps → full oracle.
    QuerySpec("ev2_interarrival", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("us"), col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_us")).as("min_gap_us"),
          max(col("gap_us")).as("max_gap_us"),
          sum(col("gap_us")).as("sum_gap_us"))
        .orderBy(col("event_type"))
    },
      Some("""WITH g AS (SELECT event_type,
        |    epoch_us(ts::TIMESTAMP) - LAG(epoch_us(ts::TIMESTAMP)) OVER
        |      (PARTITION BY user_id, event_type
        |       ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n_gaps,
        |  CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
        |  CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
        |  CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // exact DAU / rolling-7-day WAU: sliding-window DISTINCT is not
    // additive, so the scale-correct exact form works on the (user, day)
    // distinct relation (orders of magnitude smaller than the log) and
    // fans each activity day out to the ≤7 window ends it can serve —
    // explode + second distinct + count, all map-side combinable. No
    // per-day re-scan of the log, no approximate sketch.
    QuerySpec("ev3_active_users", (s, d) => {
      val ud = events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6)))
            .as("wday"))
        .distinct()
        .groupBy(col("wday")).agg(count(lit(1)).as("wau"))
      dau.join(wau, col("day") === col("wday"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("dau"), col("wau"))
        .orderBy(col("day"))
    },
      Some("""WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(ts::TIMESTAMP AS DATE) AS day FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
        |w AS (SELECT DISTINCT user_id, day + CAST(x AS INTEGER) AS wday
        |      FROM ud, (SELECT unnest(generate_series(0, 6)) AS x)),
        |wau AS (SELECT wday, COUNT(*) AS wau FROM w GROUP BY 1)
        |SELECT strftime(dau.day, '%Y-%m-%d') AS day,
        |       dau.dau AS dau, wau.wau AS wau
        |FROM dau JOIN wau ON dau.day = wau.wday
        |ORDER BY day""".stripMargin)),

    // weekly growth accounting — the new/retained/resurrected/churned
    // census. Everything derives from the (user, week) distinct relation
    // (orders of magnitude smaller than the log): per-user first week
    // classifies new, a self-join against the 7-day-shifted copy
    // classifies retained vs resurrected, and the shifted copy's
    // anti-join classifies churn — never a per-week log re-scan. All
    // outputs are exact integer counts; week truncation is ISO Monday in
    // both engines → full oracle.
    QuerySpec("ev4_growth_accounting", (s, d) => {
      val uw = events(s, d)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct()
        // user-week grain, read four ways below — persist so the log is
        // scanned once (the tp9/q11 cached-relation pattern)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val fw = uw.groupBy(col("user_id")).agg(min(col("wk")).as("first_wk"))
      val prev = uw.select(col("user_id"),
        date_add(col("wk"), 7).as("wk"), lit(1L).as("was_prev"))
      val status = uw.join(fw, "user_id")
        .join(prev, Seq("user_id", "wk"), "left")
        .groupBy(col("wk"))
        .agg(
          sum(when(col("wk") === col("first_wk"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("wk") =!= col("first_wk") &&
            col("was_prev").isNotNull, 1L).otherwise(0L)).as("n_retained"),
          sum(when(col("wk") =!= col("first_wk") &&
            col("was_prev").isNull, 1L).otherwise(0L)).as("n_resurrected"))
      // churned in week w = active in w-1 but not w, reported only for
      // weeks the log actually contains (the week after the last
      // observed week is unknowable, not zero)
      val weeks = uw.select(col("wk")).distinct()
      val churn = uw
        .select(col("user_id"), date_add(col("wk"), 7).as("wk"))
        .join(uw, Seq("user_id", "wk"), "left_anti")
        .join(broadcast(weeks), Seq("wk"))
        .groupBy(col("wk")).agg(count(lit(1)).as("n_churned"))
      status.join(churn, Seq("wk"), "left")
        .select(date_format(col("wk"), "yyyy-MM-dd").as("week"),
          col("n_new"), col("n_retained"), col("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy(col("week"))
    },
      Some("""WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts::TIMESTAMP) AS DATE) AS wk
        |  FROM events),
        |fw AS (SELECT user_id, MIN(wk) AS first_wk FROM uw GROUP BY 1),
        |status AS (
        |  SELECT uw.wk,
        |    SUM(CASE WHEN uw.wk = fw.first_wk THEN 1 ELSE 0 END) AS n_new,
        |    SUM(CASE WHEN uw.wk <> fw.first_wk AND p.user_id IS NOT NULL
        |        THEN 1 ELSE 0 END) AS n_retained,
        |    SUM(CASE WHEN uw.wk <> fw.first_wk AND p.user_id IS NULL
        |        THEN 1 ELSE 0 END) AS n_resurrected
        |  FROM uw JOIN fw USING (user_id)
        |  LEFT JOIN uw p ON p.user_id = uw.user_id
        |    AND p.wk + 7 = uw.wk
        |  GROUP BY uw.wk),
        |churn AS (
        |  SELECT c.wk + 7 AS wk, COUNT(*) AS n_churned
        |  FROM uw c
        |  WHERE NOT EXISTS (SELECT 1 FROM uw n
        |                    WHERE n.user_id = c.user_id
        |                      AND n.wk = c.wk + 7)
        |    AND EXISTS (SELECT 1 FROM uw w2 WHERE w2.wk = c.wk + 7)
        |  GROUP BY 1)
        |SELECT strftime(status.wk, '%Y-%m-%d') AS week,
        |  CAST(n_new AS BIGINT) AS n_new,
        |  CAST(n_retained AS BIGINT) AS n_retained,
        |  CAST(n_resurrected AS BIGINT) AS n_resurrected,
        |  CAST(COALESCE(churn.n_churned, 0) AS BIGINT) AS n_churned
        |FROM status LEFT JOIN churn ON status.wk = churn.wk
        |ORDER BY week""".stripMargin)),

    // event-type transition matrix — the Markov-chain census over each
    // user's (ts, event_id)-ordered stream: one user-keyed window shuffle
    // emits every (prev, next) bigram, the pair counts aggregate
    // map-side, and row probabilities come off a broadcast join with the
    // per-source totals (|event_types|² cells — metadata-sized). The
    // probability is one double division of exact integers → identical
    // on both engines → full oracle.
    QuerySpec("ev5_transition_matrix", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      val pairs = events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("src", lag(col("event_type"), 1).over(w))
        .filter(col("src").isNotNull)
        .groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy(col("src"))
        .agg(sum(col("n")).as("src_total"))
      pairs.join(broadcast(totals), Seq("src"))
        .select(col("src"), col("dst"), col("n"),
          round(col("n").cast("double") / col("src_total"), 4).as("p"))
        .orderBy(col("src"), col("dst"))
    },
      Some("""WITH o AS (SELECT user_id, event_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS src
        |  FROM events),
        |pairs AS (SELECT src, event_type AS dst, COUNT(*) AS n
        |          FROM o WHERE src IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT src, SUM(n) AS src_total FROM pairs GROUP BY 1)
        |SELECT pairs.src, dst, CAST(n AS BIGINT) AS n,
        |       ROUND(CAST(n AS DOUBLE) / src_total, 4) AS p
        |FROM pairs JOIN tot ON pairs.src = tot.src
        |ORDER BY pairs.src, dst""".stripMargin)),

    // daily-volume anomaly detection: per event type, z-score every day's
    // count against that type's mean/variance. The variance comes from
    // EXACT integer sums (count, Σn, Σn², all map-side combined — never a
    // floating stddev aggregate, whose incremental update order differs
    // between engines) so the one double evaluation is bit-identical on
    // both sides and the |z| > 2 flag can't flip. Stats are
    // types-sized and broadcast back onto the daily census.
    QuerySpec("ev7_volume_anomalies", (s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val stats = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("s1"),
          sum(col("n") * col("n")).as("s2"))
        .select(col("event_type"),
          (col("s1").cast("double") / col("n_days").cast("double"))
            .as("mean"),
          ((col("s2").cast("double") -
            col("s1").cast("double") * col("s1").cast("double") /
              col("n_days").cast("double")) /
            (col("n_days") - 1).cast("double")).as("variance"))
      daily.join(broadcast(stats), Seq("event_type"))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
          round((col("n").cast("double") - col("mean")) /
            sqrt(col("variance")), 4).as("z"),
          (abs((col("n").cast("double") - col("mean")) /
            sqrt(col("variance"))) > 2).as("is_anomaly"))
        .orderBy(col("event_type"), col("day"))
    },
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(ts::TIMESTAMP AS DATE) AS day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type,
        |    CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean,
        |    (CAST(SUM(n * n) AS DOUBLE)
        |      - CAST(SUM(n) AS DOUBLE) * CAST(SUM(n) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE))
        |      / CAST(COUNT(*) - 1 AS DOUBLE) AS variance
        |  FROM daily GROUP BY 1)
        |SELECT daily.event_type, strftime(day, '%Y-%m-%d') AS day,
        |  CAST(n AS BIGINT) AS n,
        |  ROUND((CAST(n AS DOUBLE) - mean) / SQRT(variance), 4) AS z,
        |  ABS((CAST(n AS DOUBLE) - mean) / SQRT(variance)) > 2
        |    AS is_anomaly
        |FROM daily JOIN stats ON daily.event_type = stats.event_type
        |ORDER BY daily.event_type, day""".stripMargin)),

    // exponential time-decay activity score — the freshness-weighted
    // engagement metric (7-day half-life-style kernel against a fixed
    // reference instant). Because the kernel is anchored at max(ts)
    // rather than chained row-to-row, the weighted sum is
    // order-independent and map-side combinable: one broadcast scalar,
    // one per-user shuffle, no window state — the shape an EWMA-style
    // score needs to survive a 100 TB event log. Both engines read the
    // same micros-exact epoch doubles, so only sub-ulp libm noise
    // remains, absorbed by the 4dp round.
    QuerySpec("ev8_decay_score", (s, d) => {
      val ev = events(s, d)
      val ref = ev.agg(max(col("ts").cast("double")).as("ref_epoch"))
      ev.crossJoin(broadcast(ref))
        .select(col("user_id"),
          (col("value") *
            exp((col("ts").cast("double") - col("ref_epoch")) /
              lit(86400.0 * 7))).as("w"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("w")), 4).as("decay_score"))
        .orderBy(col("user_id"))
    },
      Some("""WITH ref AS (SELECT MAX(epoch(ts::TIMESTAMP)) AS ref_epoch
        |             FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |       ROUND(SUM(value * exp((epoch(ts::TIMESTAMP) - ref.ref_epoch)
        |                             / (86400.0 * 7))), 4) AS decay_score
        |FROM events, ref
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // robust (MAD) twin of ev7's z-score anomalies: median / median-
    // absolute-deviation replace mean / stddev, so a burst day cannot
    // drag the baseline toward itself — the Iglewicz-Hoaglin modified
    // z-score (0.6745·(n−med)/MAD, flag |z|>3.5). Two percentile passes
    // over the tiny (type, day) relation, broadcast back; exact-
    // interpolation percentiles match across engines (the a13 rule);
    // MAD=0 types yield null scores rather than ±inf.
    QuerySpec("ev9_mad_anomalies", (s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val med = daily.groupBy(col("event_type"))
        .agg(percentile(col("n"), lit(0.5)).as("med"))
      val mad = daily.join(broadcast(med), "event_type")
        .groupBy(col("event_type"))
        .agg(percentile(abs(col("n") - col("med")), lit(0.5)).as("mad"))
      val z = (lit(0.6745) * (col("n") - col("med")) / col("mad"))
      daily.join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
          when(col("mad") > 0, round(z, 4)).as("robust_z"),
          when(col("mad") > 0, abs(z) > 3.5).as("is_anomaly"))
        .orderBy(col("event_type"), col("day"))
    },
      Some("""WITH daily AS (
        |  SELECT event_type, CAST(ts::TIMESTAMP AS DATE) AS day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, quantile_cont(n, 0.5) AS med
        |        FROM daily GROUP BY 1),
        |mad AS (SELECT d.event_type,
        |          quantile_cont(abs(d.n - m.med), 0.5) AS mad
        |        FROM daily d JOIN med m USING (event_type) GROUP BY 1)
        |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.n,
        |  CASE WHEN mad.mad > 0
        |       THEN ROUND(0.6745 * (d.n - med.med) / mad.mad, 4)
        |  END AS robust_z,
        |  CASE WHEN mad.mad > 0
        |       THEN abs(0.6745 * (d.n - med.med) / mad.mad) > 3.5
        |  END AS is_anomaly
        |FROM daily d JOIN med USING (event_type)
        |     JOIN mad USING (event_type)
        |ORDER BY event_type, day""".stripMargin)),

    // gap-filled resample: each user's event log regularized onto a dense
    // daily grid spanning their own activity — empty days materialize with
    // n_events=0 and the last observed daily value FORWARD-FILLS across
    // the gap (`last(…, ignoreNulls)` over the per-user order). The
    // time-series regularization every downstream model needs before
    // rolling features. Scale shape: the grid derives from a per-user
    // min/max agg + row-local sequence-explode (grid size = active span,
    // never calendar × users), and the fill window partitions by user —
    // no global sort. Daily sums round once (tp10's rule) → full oracle.
    QuerySpec("ev10_gapfill_resample", (s, d) => {
      val daily = events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("day_value"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val grid = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("n_events").isNull.as("is_gap"),
          last(col("day_value"), ignoreNulls = true).over(w)
            .as("carried_value"))
        .orderBy(col("user_id"), col("day"))
    },
      Some("""WITH daily AS (
        |  SELECT user_id, CAST(ts::TIMESTAMP AS DATE) AS day,
        |         COUNT(*) AS n_events, ROUND(SUM(value), 4) AS day_value
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
        |         FROM daily GROUP BY 1),
        |grid AS (SELECT user_id,
        |    CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        |      AS day
        |  FROM span)
        |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
        |  COALESCE(dl.n_events, 0) AS n_events,
        |  dl.n_events IS NULL AS is_gap,
        |  LAST_VALUE(dl.day_value IGNORE NULLS)
        |    OVER (PARTITION BY g.user_id ORDER BY g.day) AS carried_value
        |FROM grid g LEFT JOIN daily dl
        |  ON g.user_id = dl.user_id AND g.day = dl.day
        |ORDER BY g.user_id, g.day""".stripMargin)),

    // RFM segmentation — recency/frequency/monetary quartile buckets, the
    // classic customer-value census. Per-user aggregates reduce the log
    // once (map-side combined); the nine quartile cut points come from
    // ONE exact-percentile pass over that users-sized relation and ride
    // back as a broadcast row; bucket labels are row-local comparisons
    // and the output is the integer (r, f, m)-cell census. Monetary
    // rounds to 4dp BEFORE bucketing so per-user double-sum ulp noise
    // can't flip a boundary user between engines (the tp10 rule).
    QuerySpec("ev6_rfm_segments", (s, d) => {
      val ev = events(s, d)
      val maxTs = ev.agg(max(to_date(col("ts"))).as("global_max"))
      val per = ev.groupBy(col("user_id"))
        .agg(max(to_date(col("ts"))).as("last_day"),
          count(lit(1)).as("freq"),
          round(sum(col("value")), 4).as("monetary"))
        .crossJoin(broadcast(maxTs))
        .select(col("user_id"),
          datediff(col("global_max"), col("last_day")).cast("long")
            .as("recency"),
          col("freq"), col("monetary"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cuts = per.agg(
        percentile(col("recency"), lit(0.25)).as("r1"),
        percentile(col("recency"), lit(0.5)).as("r2"),
        percentile(col("recency"), lit(0.75)).as("r3"),
        percentile(col("freq"), lit(0.25)).as("f1"),
        percentile(col("freq"), lit(0.5)).as("f2"),
        percentile(col("freq"), lit(0.75)).as("f3"),
        percentile(col("monetary"), lit(0.25)).as("m1"),
        percentile(col("monetary"), lit(0.5)).as("m2"),
        percentile(col("monetary"), lit(0.75)).as("m3"))
      def bucket(v: org.apache.spark.sql.Column, c1: String, c2: String,
          c3: String) =
        when(v <= col(c1), 1L).when(v <= col(c2), 2L)
          .when(v <= col(c3), 3L).otherwise(4L)
      per.crossJoin(broadcast(cuts))
        .select(
          bucket(col("recency"), "r1", "r2", "r3").as("r_bucket"),
          bucket(col("freq"), "f1", "f2", "f3").as("f_bucket"),
          bucket(col("monetary"), "m1", "m2", "m3").as("m_bucket"))
        .groupBy(col("r_bucket"), col("f_bucket"), col("m_bucket"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("r_bucket"), col("f_bucket"), col("m_bucket"))
    },
      Some("""WITH mx AS (SELECT MAX(CAST(ts::TIMESTAMP AS DATE)) AS gmax
        |            FROM events),
        |per AS (
        |  SELECT user_id,
        |    datediff('day', MAX(CAST(ts::TIMESTAMP AS DATE)),
        |             (SELECT gmax FROM mx)) AS recency,
        |    COUNT(*) AS freq,
        |    ROUND(SUM(value), 4) AS monetary
        |  FROM events GROUP BY user_id),
        |cuts AS (
        |  SELECT quantile_cont(recency, 0.25) AS r1,
        |         quantile_cont(recency, 0.5) AS r2,
        |         quantile_cont(recency, 0.75) AS r3,
        |         quantile_cont(freq, 0.25) AS f1,
        |         quantile_cont(freq, 0.5) AS f2,
        |         quantile_cont(freq, 0.75) AS f3,
        |         quantile_cont(monetary, 0.25) AS m1,
        |         quantile_cont(monetary, 0.5) AS m2,
        |         quantile_cont(monetary, 0.75) AS m3
        |  FROM per),
        |b AS (
        |  SELECT
        |    CASE WHEN recency <= r1 THEN 1 WHEN recency <= r2 THEN 2
        |         WHEN recency <= r3 THEN 3 ELSE 4 END AS r_bucket,
        |    CASE WHEN freq <= f1 THEN 1 WHEN freq <= f2 THEN 2
        |         WHEN freq <= f3 THEN 3 ELSE 4 END AS f_bucket,
        |    CASE WHEN monetary <= m1 THEN 1 WHEN monetary <= m2 THEN 2
        |         WHEN monetary <= m3 THEN 3 ELSE 4 END AS m_bucket
        |  FROM per CROSS JOIN cuts)
        |SELECT CAST(r_bucket AS BIGINT) AS r_bucket,
        |       CAST(f_bucket AS BIGINT) AS f_bucket,
        |       CAST(m_bucket AS BIGINT) AS m_bucket,
        |       COUNT(*) AS n_users
        |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // funnel conversion over the event log: per user, the earliest view,
    // the earliest click strictly after it, the earliest purchase strictly
    // after that — three conditional-min window passes over ONE user-keyed
    // exchange (same partitioning reused), then a per-user stage verdict
    // and a tiny stage-count rollup. Integer microsecond comparisons →
    // bit-exact oracle.
    QuerySpec("st11_funnel_conversion", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
      val us = unix_micros(col("ts"))
      events(s, d)
        .select(col("user_id"), col("event_type"), us.as("us"))
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("us"))).over(w))
        .withColumn("t_click",
          min(when(col("event_type") === "click" &&
            col("us") > col("t_view"), col("us"))).over(w))
        .withColumn("t_purchase",
          min(when(col("event_type") === "purchase" &&
            col("us") > col("t_click"), col("us"))).over(w))
        .groupBy(col("user_id"))
        .agg(min(col("t_view")).as("tv"), min(col("t_click")).as("tc"),
          min(col("t_purchase")).as("tp"))
        .select(when(col("tp").isNotNull, "3_purchased")
          .when(col("tc").isNotNull, "2_clicked")
          .when(col("tv").isNotNull, "1_viewed")
          .otherwise("0_none").as("stage"))
        .groupBy(col("stage")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("stage"))
    },
      Some("""WITH e AS (SELECT user_id, event_type,
        |    epoch_us(ts::TIMESTAMP) AS us FROM events),
        |f AS (SELECT *,
        |    MIN(CASE WHEN event_type = 'view' THEN us END)
        |      OVER (PARTITION BY user_id) AS t_view FROM e),
        |g AS (SELECT *,
        |    MIN(CASE WHEN event_type = 'click' AND us > t_view
        |             THEN us END)
        |      OVER (PARTITION BY user_id) AS t_click FROM f),
        |h AS (SELECT *,
        |    MIN(CASE WHEN event_type = 'purchase' AND us > t_click
        |             THEN us END)
        |      OVER (PARTITION BY user_id) AS t_purchase FROM g),
        |u AS (SELECT user_id, MIN(t_view) AS tv, MIN(t_click) AS tc,
        |             MIN(t_purchase) AS tp
        |      FROM h GROUP BY user_id)
        |SELECT CASE WHEN tp IS NOT NULL THEN '3_purchased'
        |            WHEN tc IS NOT NULL THEN '2_clicked'
        |            WHEN tv IS NOT NULL THEN '1_viewed'
        |            ELSE '0_none' END AS stage,
        |       COUNT(*) AS n_users
        |FROM u GROUP BY stage ORDER BY stage""".stripMargin)),

    // behavioral-sequence construction: per-user gap-sessionized
    // event-type sequences — the logs→training-examples step of a
    // next-event-prediction dataset. lag/cumsum session numbering and the
    // ordered string_agg are all user-partitioned windows (no global
    // window, no corpus-wide sort); ties broken by event_id everywhere so
    // the sequence strings replay exactly.
    QuerySpec("st5_user_sequences", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val us = unix_micros(col("ts"))
      val prev = lag(us, 1).over(w)
      val newSess = when(prev.isNull || us - prev > 600000000L, 1L)
        .otherwise(0L)
      events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          us.as("us"), newSess.as("nf"))
        .withColumn("session_seq", sum(col("nf")).over(
          Window.partitionBy(col("user_id")).orderBy(col("us"),
            col("event_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("us")) - min(col("us"))).as("duration_us"),
          array_join(transform(
            array_sort(collect_list(struct(col("us"), col("event_id"),
              col("event_type")))),
            x => x("event_type")), ">").as("events_str"))
        .orderBy(col("user_id"), col("session_seq"))
    },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(ts::TIMESTAMP) AS us FROM events),
        |f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |        OR us - lag(us) OVER w > 600000000 THEN 1 ELSE 0 END AS nf
        |      FROM e WINDOW w AS (PARTITION BY user_id
        |                          ORDER BY us, event_id)),
        |g AS (SELECT *, SUM(nf) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |      FROM f)
        |SELECT user_id, CAST(sess AS BIGINT) AS session_seq,
        |       COUNT(*) AS n_events,
        |       MAX(us) - MIN(us) AS duration_us,
        |       string_agg(event_type, '>' ORDER BY us, event_id)
        |         AS events_str
        |FROM g GROUP BY user_id, sess
        |ORDER BY user_id, session_seq""".stripMargin)),

    // event-time interval join — batch mode of the watermarked
    // stream-stream join: each click picks up the same user's views from
    // the preceding 10 minutes
    QuerySpec("st4_interval_join", (s, d) => {
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      StreamingOps.intervalJoin(clicks, views, "user_id", "ts",
          "10 minutes")
        .select(col("event_id").as("click_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("r_event_id").as("view_id"),
          date_format(col("r_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
          col("r_value").as("view_value"))
        .orderBy(col("click_id"), col("view_id"))
    },
      Some("""SELECT c.event_id AS click_id, c.user_id,
        |  strftime(c.ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  v.event_id AS view_id,
        |  strftime(v.ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS view_ts,
        |  v.value AS view_value
        |FROM events c JOIN events v
        |  ON c.user_id = v.user_id
        | AND v.ts::TIMESTAMP >= c.ts::TIMESTAMP - INTERVAL '10 minutes'
        | AND v.ts::TIMESTAMP <= c.ts::TIMESTAMP
        |WHERE c.event_type = 'click' AND v.event_type = 'view'
        |ORDER BY click_id, view_id""".stripMargin)),

    // st4's driver-visible streaming proof (the st2b pattern applied to
    // the interval join): clicks and views land in TWO zones written in
    // event-time order, both sides stream with watermarks, and the
    // watermarked stream-stream join must emit EXACTLY the batch st4
    // result — no DuckDB oracle can run a stream-stream join, so the
    // entry carries its own `equal` verdict (enforced by Verify).
    // stream-static enrichment proof: the event stream broadcast-joins a
    // static user-tier dimension per micro-batch, aggregated Complete —
    // must equal the batch join + aggregate exactly (doubles rounded
    // once on both sides; no watermark state → landing-zone order is
    // irrelevant). Self-checking `equal` verdict.
    // streaming Count-Min: a18's sketch build is one commutative cell
    // count, so the SAME CountMin.sketch code runs as a complete-mode
    // streaming aggregation — per-micro-batch cell folding with
    // O(depth·width) state forever, the always-on frequency monitor.
    // Counting is order-blind (no watermark, no late-data concern), so
    // the ENFORCED `equal` verdict demands the streamed cells be
    // BIT-EQUAL to the batch sketch — no tolerance.
    QuerySpec("st14_stream_sketch", (s, d) => {
      val tag = java.util.UUID.randomUUID().toString.take(8)
      // landing zone built once per JVM (input staging, not result
      // caching — Scratch.fixture's scaladoc carries the rationale);
      // the streamed query below runs from scratch every invocation
      val tmp = Scratch.fixture(s"cms:$d") { p =>
        val raw = Tables.parquet(s, s"$d/events.parquet")
        for (i <- 0 until 3) {
          raw.filter(col("event_id") % 3 === i)
            .coalesce(1).write.mode("append").parquet(s"$p/events")
        }
      }
      val streamed = StreamingOps.streamCountMin(
        s, s"$tmp/events", "user_id", 4, 64, s"st14_$tag")
      val batch = graft.functions.CountMin.sketch(
        events(s, d).select(col("user_id")), "user_id", 4, 64)
      streamed.exceptAll(batch).agg(count(lit(1)).as("only_stream"))
        .crossJoin(batch.exceptAll(streamed)
          .agg(count(lit(1)).as("only_batch")))
        .crossJoin(batch.agg(count(lit(1)).as("n_cells"),
          sum(col("c")).as("cell_mass")))
        .select(col("n_cells"), col("cell_mass"), col("only_stream"),
          col("only_batch"),
          (col("only_stream") === 0 && col("only_batch") === 0 &&
            col("n_cells") > 0).as("equal"))
    }),

    QuerySpec("st9_stream_static_enrich", (s, d) => {
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val raw = Tables.parquet(s, s"$d/events.parquet")
      // once-per-JVM input staging (see Scratch.fixture)
      val tmp = Scratch.fixture(s"enrich:$d") { p =>
        for (i <- 0 until 3) {
          raw.filter(col("event_id") % 3 === i)
            .coalesce(1).write.mode("append").parquet(s"$p/events")
        }
      }
      val dim = raw.select(col("user_id")).distinct()
        .withColumn("tier", (col("user_id") % 5).cast("long"))
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.select(col("tier"), col("event_type"), col("n"),
          round(col("total_value"), 4).as("total_value"))
      val streamed = shape(StreamingOps.streamStaticEnrich(
        s, s"$tmp/events", dim, "user_id", "tier", s"st9_$tag"))
      val ev = events(s, d)
      val batch = shape(ev.join(broadcast(dim), Seq("user_id"), "left")
        .groupBy(col("tier"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value")))
      streamed.exceptAll(batch).agg(count(lit(1)).as("only_stream"))
        .crossJoin(batch.exceptAll(streamed)
          .agg(count(lit(1)).as("only_batch")))
        .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
        .crossJoin(streamed.agg(count(lit(1)).as("n_stream")))
        .select(col("n_batch"), col("n_stream"), col("only_stream"),
          col("only_batch"),
          (col("only_stream") === 0 && col("only_batch") === 0 &&
            col("n_batch") > 0).as("equal"))
    }),

    // ingest-time decontamination: the training stream lands in 3 file
    // batches and docs sharing any 3-gram with the static benchmark set
    // are dropped in-flight by a stateless row-local gate; the verdict
    // proves the streamed survivors equal the batch decontaminate pass
    // (tc2's machinery) exactly. equal=false withholds the dump.
    QuerySpec("st10_stream_decontam", (s, d) => {
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val docs = documents(s, d)
      val train = docs.filter(col("doc_id") % 97 =!= 0)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      // once-per-JVM input staging (see Scratch.fixture)
      val tmp = Scratch.fixture(s"sdecon:$d") { p =>
        for (i <- 0 until 3) {
          train.filter(col("doc_id") % 3 === i)
            .coalesce(1).write.mode("append").parquet(s"$p/docs")
        }
      }
      val streamed = StreamingOps.streamDecontaminate(
        s, s"$tmp/docs", bench, "doc_id", "text", 3, s"st10_$tag")
      val batch = Dedup.decontaminate(train, bench, "doc_id", "text", 3)
        .select(col("doc_id"))
      streamed.exceptAll(batch).agg(count(lit(1)).as("only_stream"))
        .crossJoin(batch.exceptAll(streamed)
          .agg(count(lit(1)).as("only_batch")))
        .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
        .crossJoin(streamed.agg(count(lit(1)).as("n_stream")))
        .select(col("n_batch"), col("n_stream"), col("only_stream"),
          col("only_batch"),
          (col("only_stream") === 0 && col("only_batch") === 0 &&
            col("n_batch") > 0).as("equal"))
    }),

    QuerySpec("st4b_interval_join_stream_equiv", (s, d) => {
      val tag = java.util.UUID.randomUUID().toString.take(8)
      // once-per-JVM input staging (see Scratch.fixture); mtime order
      // is baked into the zone at build time
      val root = Scratch.fixture(s"ssjoin:$d") { p =>
        val raw = Tables.parquet(s, s"$d/events.parquet")
        // one global event-time sextiling drives BOTH zones so the two
        // sources advance through event time together (the join's
        // watermark is the min across inputs)
        val withB = raw.withColumn("_b",
          ntile(6).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("ts"))))
        for (i <- 1 to 6) {
          val b = withB.filter(col("_b") === i).drop("_b")
          b.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts"))
            .coalesce(1).write.mode("append").parquet(s"$p/clicks")
          b.filter(col("event_type") === "view")
            .select(col("user_id"), col("event_id"), col("ts"),
              col("value"))
            .coalesce(1).write.mode("append").parquet(s"$p/views")
          Thread.sleep(20)  // distinct mtimes → deterministic file order
        }
      }
      val (clicksDir, viewsDir) = (s"$root/clicks", s"$root/views")
      val shaped = StreamingOps.streamIntervalJoin(s, clicksDir, viewsDir,
          "user_id", "ts", "10 minutes", "2 hours", s"st4b_$tag")
        .select(col("event_id").as("click_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("r_event_id").as("view_id"),
          date_format(col("r_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
          col("r_value").as("view_value"))
      val ev = events(s, d)
      val batch = StreamingOps.intervalJoin(
          ev.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "view")
            .select(col("user_id"), col("event_id"), col("ts"),
              col("value")),
          "user_id", "ts", "10 minutes")
        .select(col("event_id").as("click_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
          col("r_event_id").as("view_id"),
          date_format(col("r_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
          col("r_value").as("view_value"))
      shaped.exceptAll(batch).agg(count(lit(1)).as("only_stream"))
        .crossJoin(batch.exceptAll(shaped)
          .agg(count(lit(1)).as("only_batch")))
        .crossJoin(batch.agg(count(lit(1)).as("n_batch")))
        .crossJoin(shaped.agg(count(lit(1)).as("n_stream")))
        .select(col("n_batch"), col("n_stream"), col("only_stream"),
          col("only_batch"),
          (col("only_stream") === 0 && col("only_batch") === 0)
            .as("equal"))
    }),

    // S4/S6 driver-visible proof: run the TRUE streaming paths (file
    // source, maxFilesPerTrigger=1, watermark, AvailableNow) over a
    // multi-file landing zone and check them against the batch results in
    // one self-checking row. hourly agg (complete mode) must EQUAL the
    // batch result exactly; the stateful sessionizer's CLOSED sessions
    // must be a subset of batch sessions with only still-open tails
    // (each user's last session) allowed to be missing — no DuckDB
    // oracle can run a watermark, so the entry carries its own `equal`
    // verdict (rows-only check by design).
    QuerySpec("st2b_stream_batch_equiv", (s, d) => {
      val tag = java.util.UUID.randomUUID().toString.take(8)
      // a time-ordered landing zone: six sequential appends (one per ts
      // sextile) give strictly increasing file modification times, and the
      // file stream source processes oldest-first — so micro-batches
      // arrive in event-time order, watermarks advance monotonically and
      // nothing is late. (A single multi-file write does NOT guarantee
      // discovery order: all parts share one mtime.) Built once per JVM
      // (input staging — see Scratch.fixture).
      val tmp = Scratch.fixture(s"landing:$d") { p =>
        val raw = Tables.parquet(s, s"$d/events.parquet")
        val withB = raw.withColumn("_b",
          ntile(6).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("ts"))))
        for (i <- 1 to 6) {
          withB.filter(col("_b") === i).drop("_b")
            .coalesce(1).write.mode("append").parquet(p)
          Thread.sleep(20)  // ensure distinct mtimes at fs resolution
        }
      }

      val hq = StreamingOps.streamingHourlyAgg(s, tmp, s"st2b_h_$tag")
      hq.awaitTermination()
      // the frame keeps the memory sink's plan; the view can go
      val hStream = s.table(s"st2b_h_$tag")
      s.catalog.dropTempView(s"st2b_h_$tag")
      val hBatch = StreamingOps.hourlyAgg(events(s, d))

      val closed = StreamingOps.streamClosedSessions(s, tmp, "10 minutes",
        s"st2b_s_$tag")
      val cN = closed.select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"))
      val bSess = StreamingOps.sessionize(events(s, d), "10 minutes")
      val lastPerUser = bSess.withColumn("rk",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))
            .orderBy(col("session_start").desc)))
        .filter(col("rk") === 1).drop("rk")

      hStream.exceptAll(hBatch).agg(count(lit(1)).as("h_only_stream"))
        .crossJoin(hBatch.exceptAll(hStream)
          .agg(count(lit(1)).as("h_only_batch")))
        .crossJoin(cN.exceptAll(bSess)
          .agg(count(lit(1)).as("sess_not_in_batch")))
        .crossJoin(bSess.exceptAll(cN).exceptAll(lastPerUser)
          .agg(count(lit(1)).as("sess_missing_nonlast")))
        .crossJoin(bSess.agg(count(lit(1)).as("n_batch_sessions")))
        .crossJoin(cN.agg(count(lit(1)).as("n_closed_stream")))
        .select(col("n_batch_sessions"), col("n_closed_stream"),
          col("h_only_stream"), col("h_only_batch"),
          col("sess_not_in_batch"), col("sess_missing_nonlast"),
          (col("h_only_stream") === 0 && col("h_only_batch") === 0 &&
            col("sess_not_in_batch") === 0 &&
            col("sess_missing_nonlast") === 0).as("equal"))
    }),

    // streaming ingest dedup: the landing zone is written TWICE (each
    // sextile file duplicated back-to-back — an at-least-once feed where
    // every event is redelivered in the adjacent micro-batch);
    // dropDuplicatesWithinWatermark must reduce it to exactly-once —
    // checked as full per-ROW set equality against the batch relation
    // (the st10 exceptAll pattern; duplicates are bit-identical rows, so
    // whichever arrival survives, the deduped multiset must equal the
    // source exactly — aggregate counts alone could hide a dropped event
    // masked by a double-admitted one). Self-checking rows-only entry.
    QuerySpec("st6_stream_dedup", (s, d) => {
      val tag = java.util.UUID.randomUUID().toString.take(8)
      // once-per-JVM input staging (see Scratch.fixture)
      val tmp = Scratch.fixture(s"dedup_feed:$d") { p =>
        val raw = Tables.parquet(s, s"$d/events.parquet")
        val withB = raw.withColumn("_b",
          ntile(6).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("ts"))))
        for (i <- 1 to 6; _ <- 1 to 2) {
          withB.filter(col("_b") === i).drop("_b")
            .coalesce(1).write.mode("append").parquet(p)
          Thread.sleep(20)
        }
      }
      val deduped = StreamingOps.streamDedup(s, tmp, "event_id",
        s"st6_$tag")
      val ev = events(s, d)
      def shape(df: DataFrame) = df.select(col("event_id"),
        col("user_id"), col("event_type"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
      val sStream = shape(deduped)
      val sBatch = shape(ev)
      sStream.exceptAll(sBatch).agg(count(lit(1)).as("only_stream"))
        .crossJoin(sBatch.exceptAll(sStream)
          .agg(count(lit(1)).as("only_batch")))
        .crossJoin(sBatch.agg(count(lit(1)).as("n_batch")))
        .crossJoin(sStream.agg(count(lit(1)).as("n_stream")))
        .select(col("n_stream"), col("n_batch"), col("only_stream"),
          col("only_batch"),
          (col("only_stream") === 0 && col("only_batch") === 0 &&
            col("n_batch") > 0).as("equal"))
    }),

    // per-source ingestion quota on the NEW arbitrary-state API
    // (transformWithState + RocksDB state store): at most 15 docs per
    // source admitted across all micro-batches. Which docs survive
    // depends on arrival order (inherently so), but the per-source
    // admitted COUNT is exact: least(batch_count, quota) — checked for
    // every source — and the admitted rows themselves must be a
    // MULTISET subset of the batch relation (exceptAll, the st10
    // pattern): a fabricated (source, doc_id) or a doc admitted twice
    // leaves a phantom row that the count checks alone could mask.
    QuerySpec("st7_per_source_quota", (s, d) => {
      val tag = java.util.UUID.randomUUID().toString.take(8)
      val docs = documents(s, d)
      // once-per-JVM input staging (see Scratch.fixture)
      val tmp = Scratch.fixture(s"docs_feed:$d") { p =>
        val withB = docs.withColumn("_b",
          ntile(6).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("doc_id"))))
        for (i <- 1 to 6) {
          withB.filter(col("_b") === i).drop("_b")
            .coalesce(1).write.mode("append").parquet(p)
          Thread.sleep(20)
        }
      }
      val admitted = StreamingOps.streamPerKeyQuota(s, tmp, 15L,
        s"st7_$tag")
      val got = admitted.groupBy(col("source"))
        .agg(count(lit(1)).as("n_admitted"))
      val want = docs.groupBy(col("source"))
        .agg(least(count(lit(1)), lit(15L)).as("n_expected"))
      val joined = want.join(got, Seq("source"), "left")
      val phantom = admitted.select(col("source"), col("doc_id"))
        .exceptAll(docs.select(col("source"), col("doc_id")))
      joined.agg(count(lit(1)).as("n_sources"),
          sum(when(col("n_admitted").isNull ||
            col("n_admitted") =!= col("n_expected"), 1L).otherwise(0L))
            .as("n_bad"))
        .crossJoin(admitted.agg(count(lit(1)).as("n_admitted_total")))
        .crossJoin(phantom.agg(count(lit(1)).as("n_phantom")))
        .select(col("n_sources"), col("n_admitted_total"), col("n_bad"),
          col("n_phantom"),
          (col("n_bad") === 0 && col("n_phantom") === 0).as("equal"))
    }),

    // S6 driver-visible proof: chunked incremental load — stream the
    // landing zone file-by-file through foreachBatch appends into a
    // parquet sink (the reference's chunked to_sql loop, challenge.py:
    // 317-325), then compare the landed rows to the source. Progress
    // accounting prints per batch; the self-check row proves no batch
    // was lost or double-landed.
    QuerySpec("st8_chunked_load", (s, d) => {
      // input zone staged once per JVM (see Scratch.fixture); the OUTPUT
      // dir stays fresh per invocation — the chunked load is the work
      val tmpOut = Scratch.dir("load_out") + "/out"
      val raw = Tables.parquet(s, s"$d/events.parquet")
      val tmpIn = Scratch.fixture(s"load_in:$d") { p =>
        val withB = raw.withColumn("_b",
          ntile(6).over(org.apache.spark.sql.expressions.Window
            .orderBy(col("ts"))))
        for (i <- 1 to 6) {
          withB.filter(col("_b") === i).drop("_b")
            .coalesce(1).write.mode("append").parquet(p)
          Thread.sleep(20)
        }
      }
      StreamingOps.chunkedLoad(s, tmpIn, tmpOut).awaitTermination()
      val landed = s.read.parquet(tmpOut)
      landed.agg(count(lit(1)).as("n_landed"),
          sum(col("value")).as("v_landed"))
        .crossJoin(raw.agg(count(lit(1)).as("n_src"),
          sum(col("value")).as("v_src")))
        .select(col("n_landed"), col("n_src"),
          (col("n_landed") === col("n_src") &&
            abs(col("v_landed") - col("v_src")) < 1e-6).as("equal"))
    }),

    // custom keyed state (mapGroupsWithState) — batch mode of the streaming
    // running-totals accumulator; oracle = the equivalent group-by
    QuerySpec("st3_user_totals", (s, d) =>
      StreamingOps.runningUserTotals(events(s, d))
        .toDF()
        .select(col("user_id"), col("n_events"),
          round(col("total_value"), 2).as("total_value"),
          date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id, COUNT(*) AS n_events,
        |  ROUND(SUM(value), 2) AS total_value,
        |  strftime(MAX(ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin))
  )
}

/** Process-scoped memo for the sim9 serving entry: one ANN index build
  * (k-means + PQ train + the 3 lake writes) and one brute-force recall
  * baseline per (corpus dir) per JVM — the production build/serve split.
  * The index lives under the [[Scratch]] root (reaped by the shutdown
  * hook); the baseline rides as collected rows (10 queries × k = 50 —
  * a bounded driver pull) so serving invocations recreate it as a local
  * relation with no recompute and no cached-plan residue. The build is
  * seeded/deterministic (kmeansAssign min-id init, pqTrain id-ordered
  * init), so memoization cannot change any result.
  */
private[graft] object AnnServing {
  final case class Built(dir: String, books: Seq[Seq[Seq[Double]]],
      bfRows: Seq[org.apache.spark.sql.Row],
      bfSchema: org.apache.spark.sql.types.StructType)
  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, Built]()
  def get(key: String)(build: => Built): Built =
    built.computeIfAbsent(key, _ => build)
}
