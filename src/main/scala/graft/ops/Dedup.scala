package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators for a training-data pipeline:
  * exact (hash-groupBy), MinHash+LSH banding, SimHash, and n-gram Jaccard via
  * an inverted-index join. All are built from shuffle-conscious primitives:
  *   - candidate generation is bucket-join based (never an O(n²) cross join);
  *   - per-doc signatures are single-pass `groupBy(doc).agg(min...)`, which
  *     map-side-combines before the shuffle;
  *   - hashing uses xxhash64 (codegen'd Catalyst expression, seedable).
  * At 100 TB the only shuffles are by doc-id (signature build) and by
  * band-hash (bucketing) — both key-balanced unless the corpus has massive
  * exact dupes, which exact-dedup removes first.
  */
object Dedup {

  /** Exact dedup: deterministic representative (min id) per distinct key. */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_dupes"))

  /** CCNet-style canonical text key: lowercase, every non-alphanumeric
    * run collapsed to one space, trimmed — the normalization applied
    * BEFORE hashing/grouping so case and punctuation variants of the same
    * content dedup together (raw-byte exact dedup misses them). One
    * codegen'd regex pass, row-local.
    */
  def canonicalKey(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Exact dedup on the CANONICALIZED text ([[canonicalKey]] →
    * [[exact]]): case/punctuation variants land in one group. The groupBy
    * key here is the canonical string itself so the op replays verbatim
    * in an oracle; a production run narrows the shuffle key to
    * `xxhash64(canonicalKey)` first (8 bytes vs document-length strings —
    * the [[spanDedup]] `hashKeys` argument), which changes no group
    * membership.
    */
  def canonicalDedup(df: DataFrame, idCol: String, textCol: String)
  : DataFrame =
    exact(df.withColumn("ckey", canonicalKey(col(textCol))), "ckey", idCol)

  /** Aggregation barrier: forces a per-key relation to be evaluated once
    * and exchange-reused wherever referenced. Catalyst inlines projections
    * into every consumer branch (both sides of a self-join, generators —
    * where they re-evaluate per OUTPUT row), so an expensive derivation
    * (minhash/simhash signatures, gram arrays) referenced N times runs
    * N+ times. Aggregate outputs cannot be collapsed into, and identical
    * exchange subtrees are deduplicated by ReuseExchange. A plain
    * `repartition` is NOT a barrier — ColumnPruning moves the projection
    * above the exchange to cut shuffle bytes, re-collapsing it downstream.
    * Cost: one keyed shuffle; apply only where a relation is multi-referenced
    * (single-use pipelines should stay barrier-free). `keyCol` must be
    * unique per row (`first` picks the per-key survivor).
    *
    * The `first(array/string)` buffers are not hash-mutable, so this agg
    * runs as SortAggregateExec — deliberately: the input is ONE narrow
    * row per key (not a pair fan-out — the tc6 pathology does not apply),
    * the per-partition sort is the whole extra cost, and no
    * hash-combinable encoding exists for array payloads (ObjectHash
    * first() would fall back to sort past its ~128-key threshold anyway
    * on unique keys). PlanAudit classifies these as `barrier:` rows.
    */
  def barrier(df: DataFrame, keyCol: String): DataFrame = {
    val others = df.columns.filter(_ != keyCol)
    if (others.isEmpty) df.distinct()  // degenerate: key-only relation
    else df.groupBy(col(keyCol))
      .agg(first(col(others.head)).as(others.head),
        others.tail.map(c => first(col(c)).as(c)): _*)
  }

  /** Width for an iteratively re-joined LOOP relation, derived from its
    * measured row count (the sim17 sizing idiom, pointed the other way):
    * ~32 MB of ~`rowBytes` rows per task, clamped below at 1 and above at
    * max(4096, 128 × defaultParallelism). The pair generators upstream
    * shuffle at ≥ defaultParallelism partitions, so a KB-scale graph
    * would otherwise pay 64+ map tasks per round, every round — per-round
    * fixed cost (task launch, AQE stage scheduling) dominates far below
    * one task-chunk of data. Deliberately FLOORED AT 1, not at
    * parallelism: a loop body over less than one chunk is overhead-bound,
    * not compute-bound, and the width re-crosses parallelism on its own
    * once the relation carries ≥ 32 MB × cores (at 32 cores, ~1 GB of
    * edges — far below any scale where the loop's per-round compute could
    * use the extra cores). Applied with `coalesce` (narrow, never a
    * shuffle) over the already-persisted relation, so rounds read the
    * cache through a handful of tasks.
    *
    * The CAP is cluster-derived, not a constant (VERDICT r15 item 4): a
    * fixed 4096 would force a multi-TB edge relation through ≤4096 tasks
    * (multi-GB per task — the spill shape the 32 MB/task rule exists to
    * avoid) on a cluster wide enough to hold one. 128 tasks/core keeps
    * per-round waves bounded (the cap only engages past ~128 GB of loop
    * relation at 32 cores) while letting genuinely huge graphs keep
    * 32 MB tasks on any cluster that can address them.
    */
  private[ops] def loopParts(nRows: Long, rowBytes: Long): Int =
    loopParts(nRows, rowBytes,
      org.apache.spark.sql.SparkSession.active.sparkContext
        .defaultParallelism)

  private[ops] def loopParts(nRows: Long, rowBytes: Long,
      parallelism: Int): Int = {
    val cap = math.max(4096L, 128L * math.max(1, parallelism))
    math.max(1L, math.min(cap, nRows * rowBytes / (32L << 20))).toInt
  }

  /** Whitespace tokens, lowercased. */
  def tokens(c: Column): Column = split(lower(c), "\\s+")

  /** Word k-grams of a token array — since r16 the fused
    * [[graft.functions.GramStrings]] expression (one compiled pass per
    * row). The builtin formulation it replays bit-exact is
    * `BuiltinReferences.wordGramsChain` in test scope (the semantic
    * reference, and what the DuckDB oracle re-derives): zip_with-ing k
    * shifted slices, docs shorter than k yielding their whole text as the
    * single gram. The chain's `zip_with`s (+ per-element lambda `concat`) are
    * CodegenFallback — interpreted per element — and each of its k
    * `slice` steps rewalks the array; the fused pass measured 1.6–3.5×
    * cheaper per evaluation at sf0.1 (numbers in GramStrings' scaladoc),
    * growing with k.
    */
  def wordGrams(toks: Column, k: Int): Column =
    graft.functions.GramStrings(toks, k)

  /** Distinct word k-shingles per doc as an ARRAY column — stays row-local
    * (no explode), so everything built on it is shuffle-free. The
    * gram build + `array_distinct` run fused ([[graft.functions
    * .GramStrings]] `distinct = true` — first occurrence kept, as the
    * builtin dedups).
    */
  def shingleArray(df: DataFrame, idCol: String, textCol: String, k: Int)
  : DataFrame =
    df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol),
        graft.functions.GramStrings(col("toks"), k, distinct = true)
          .as("shingles"))

  /** (doc_id, shingle) pairs, distinct — the inverted-index base relation
    * (for exact intersection counting; signature building uses the
    * shuffle-free [[shingleArray]] instead). Distinctness holds BY
    * CONSTRUCTION: [[shingleArray]] array_distincts per doc before the
    * explode, so no global DISTINCT (which would shuffle the whole
    * exploded gram relation on the skew-prone gram value) is ever run —
    * the relation is row-local all the way.
    */
  def docShingles(df: DataFrame, idCol: String, textCol: String, k: Int)
  : DataFrame =
    shingleArray(df, idCol, textCol, k)
      .select(col(idCol), explode(col("shingles")).as("shingle"))

  /** MinHash signatures: one row per doc, columns h0..h{n-1}, where
    * h_i = min over shingles of xxhash64(base_hash(shingle), i).
    *
    * Computed PER ROW over the shingle array (`transform` + `array_min`
    * builtin higher-order functions — no UDF, no shuffle; NB. HOFs are
    * CodegenFallback, row-interpreted inside the stage) — embarrassingly
    * parallel, unlike the classic explode+groupBy formulation whose
    * doc-keyed shuffle dominates at corpus scale. Each shingle is
    * string-hashed ONCE; the n permutation hashes re-hash only the fixed
    * 8-byte base value (affine a*h+b would be cheaper still, but ANSI mode
    * rejects wraparound multiplication).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame = {
    // two fused native expressions end to end (r15): GramHashes does the
    // gram building + string hashing in one compiled loop (the builtin
    // slice/zip_with/array_distinct/transform chain is CodegenFallback —
    // interpreted per element, measured 2-4 ms/doc ≈ 13-25 CPU-s per
    // 5,500-doc evaluation), MinHashSigs carries all numHashes running
    // minima through one traversal. GramHashes skips array_distinct
    // (min over a multiset = min over its support — DedupSpec asserts
    // bit parity against the builtin chain, which keeps the distinct).
    // The sig array lands in its own projection (non-cheap,
    // multi-referenced → CollapseProject keeps it apart), the h_i columns
    // are cheap element_at extractions.
    val sh = df.select(col(idCol), tokens(col(textCol)).as("toks"))
      .withColumn("sig", graft.functions.MinHashSigs(
        graft.functions.GramHashes(col("toks"), k), numHashes))
    // NOTE: intentionally barrier-free (zero shuffles, embarrassingly
    // parallel). Compositions that reference the signatures more than once
    // (LSH band self-joins + estimate joins) should wrap the result in
    // [[barrier]] — or, once reduced to a small relation, eager
    // `localCheckpoint(true)` (the corpusJaccard fix: filters on a
    // grouping key push BELOW an aggregate, so even an aggregate output
    // re-evaluates per reference unless it is a leaf) — or the pipeline
    // is re-evaluated per reference.
    sh.select(col(idCol) +: (0 until numHashes).map(i =>
      element_at(col("sig"), i + 1).as(s"h$i")): _*)
  }

  /** LSH band hashes: numHashes = bands × rowsPerBand; band j hashes
    * signature slots [j*r, (j+1)*r). Output: (id, band, band_hash), one row
    * per (doc, band) — the bucketing relation.
    */
  def lshBands(sig: DataFrame, idCol: String, bands: Int, rowsPerBand: Int)
  : DataFrame = {
    val bandCols = (0 until bands).map { j =>
      val slots = (j * rowsPerBand until (j + 1) * rowsPerBand)
        .map(i => col(s"h$i"))
      struct(lit(j).as("band"), xxhash64(slots: _*).as("band_hash"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"),
        col("bb.band_hash").as("band_hash"))
  }

  /** Candidate pairs from LSH buckets: docs sharing any (band, band_hash)
    * bucket, deduplicated. The join key is the bucket, so cost is
    * sum(bucket_size²) — near-linear when dupes are rare. `maxBucket` guards
    * against degenerate buckets (constant text at web scale): oversized
    * buckets are dropped, trading recall for a hard cost bound.
    */
  def lshCandidatePairs(bandsDf: DataFrame, idCol: String,
      maxBucket: Int = 1000): DataFrame = {
    // one groupBy on the bucket key, pairs emitted in-task from the
    // collected bucket (the same shape as [[ngramJaccardPairs]]) — the
    // window-count alternative pays a sort inside the band exchange for
    // nothing. The collection is the native [[graft.functions
    // .BoundedCollect]] aggregate: its buffer stops at maxBucket+1
    // elements, so a degenerate bucket (constant text at web scale) costs
    // bounded memory IN the aggregate, not just after the size filter —
    // the filter then reads the overflow off `size > maxBucket` as before
    bandsDf.groupBy(col("band"), col("band_hash"))
      .agg(graft.functions.BoundedCollect(col(idCol), maxBucket).as("docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= maxBucket)
      .select(explode(expr(
        "filter(flatten(transform(docs, a -> transform(docs, " +
          "b -> struct(a AS id_a, b AS id_b)))), " +
          "p -> p.id_a < p.id_b)")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /** Estimated Jaccard for candidate pairs from their signatures: fraction of
    * matching minhash slots.
    */
  def estimateJaccard(pairs: DataFrame, sig: DataFrame, idCol: String,
      numHashes: Int): DataFrame = {
    val sa = sig.toDF(sig.columns.map(c => s"a_$c"): _*)
    val sb = sig.toDF(sig.columns.map(c => s"b_$c"): _*)
    val matches = (0 until numHashes)
      .map(i => when(col(s"a_h$i") === col(s"b_h$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(sa, col("id_a") === col(s"a_$idCol"))
      .join(sb, col("id_b") === col(s"b_$idCol"))
      .select(col("id_a"), col("id_b"),
        (matches.cast("double") / numHashes).as("est_jaccard"))
  }

  /** 64-bit SimHash over whitespace tokens: per bit, sum +1/-1 weighted by
    * token-hash bit, sign → fingerprint bit.
    *
    * Computed PER ROW: token hashes are materialized once per doc
    * (`transform` + xxhash64), then the fingerprint is ONE pass over the
    * hash array via the native [[graft.functions.SimHash64]] expression
    * (64 counters in a single codegen'd loop) — zero shuffles vs the
    * classic explode + 64-agg groupBy, and none of the 64-fold builtin
    * chain's repeated array passes / codegen blow-up (see
    * `BuiltinReferences.simhash64Chain` in test scope, kept as the
    * equivalence reference).
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // GramHashes at k=1 IS transform(toks, t => xxhash64(t)) — the token
    // hashing runs in one compiled loop instead of the interpreted
    // CodegenFallback transform (r15; DedupSpec asserts the chain parity)
    df.select(col(idCol),
      graft.functions.SimHash64(
        graft.functions.GramHashes(tokens(col(textCol)), 1)).as("simhash"))

  /** Exact n-gram Jaccard similarity for doc pairs within the same blocking
    * group, via inverted-index buckets (gram → docs), never a cross join.
    * Blocking columns bound bucket sizes; intersection counts come from the
    * bucket pairs, union sizes from the per-doc gram-set sizes that ride
    * through the buckets ([[gramIntersections]]).
    *
    * `maxDocFreq` is the document-frequency cutoff that bounds bucket cost:
    * a gram appearing in more than `maxDocFreq` docs of a block (a
    * stop-gram) would alone contribute |bucket|² pair structs — quadratic in
    * the block on hot grams — while carrying near-zero discriminative
    * signal. Such grams are excluded from intersection counting (they still
    * count in each doc's union size), so reported jaccard is a lower bound
    * for pairs sharing hot grams: the trade is bounded cost
    * (Σ|bucket|² ≤ maxDocFreq · Σ|bucket|, linear in the gram relation) for
    * conservative similarity on stop-gram-heavy pairs — mirroring
    * [[lshCandidatePairs]]'s maxBucket guard.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int, minJaccard: Double,
      maxDocFreq: Int = 1000): DataFrame =
    gramIntersections(df, idCol, textCol, blockCols, n, maxDocFreq)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 4).as("jaccard"))

  /** Directional gram-set CONTAINMENT join: emits (src_doc, dst_doc, c)
    * where c = |grams(src) ∩ grams(dst)| / |grams(src)| ≥ `minContainment`
    * — the asymmetric predicate Jaccard structurally misses: a short quote
    * or excerpt wholly CONTAINED in a long document scores near-1
    * containment but near-0 Jaccard (the union is dominated by the long
    * side), and excerpt-inclusion is exactly the dedup case quote-heavy
    * web text creates. Same inverted-index buckets, blocking, and
    * `maxDocFreq` stop-gram cutoff as [[ngramJaccardPairs]] (intersections
    * exclude hot grams, sizes keep them → reported containment is the same
    * conservative lower bound); each unordered bucket pair fans out to its
    * two directions row-locally.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int, minContainment: Double,
      maxDocFreq: Int = 1000): DataFrame =
    gramIntersections(df, idCol, textCol, blockCols, n, maxDocFreq)
      .select(explode(array(
        struct(col("doc_a").as("src_doc"), col("doc_b").as("dst_doc"),
          (col("inter").cast("double") / col("sz_a")).as("c")),
        struct(col("doc_b").as("src_doc"), col("doc_a").as("dst_doc"),
          (col("inter").cast("double") / col("sz_b")).as("c")))).as("e"))
      .select(col("e.src_doc").as("src_doc"), col("e.dst_doc").as("dst_doc"),
        col("e.c").as("containment"))
      .filter(col("containment") >= minContainment)
      .select(col("src_doc"), col("dst_doc"),
        round(col("containment"), 4).as("containment"))

  /** (doc_a, doc_b, sz_a, sz_b, inter) for every doc pair (doc_a < doc_b)
    * sharing a non-hot gram bucket: `inter` counts the shared non-hot
    * grams, `sz` is a doc's distinct gram count (hot grams included; block
    * cols are constant per doc, so it is the count the oracles take over
    * the raw gram strings). The
    * size is computed next to the doc's gram array and carried into the
    * bucket with the id, so the pair aggregation groups by
    * (doc_a, doc_b, sz_a, sz_b) — the same groups as (doc_a, doc_b), sizes
    * being per-doc — and nothing joins sizes back: the gram array has one
    * consumer, is built once per row, and needs no [[barrier]].
    */
  private def gramIntersections(df: DataFrame, idCol: String,
      textCol: String, blockCols: Seq[String], n: Int, maxDocFreq: Int)
  : DataFrame =
    gramBuckets(df, idCol, textCol, blockCols, n, maxDocFreq,
        struct(col(idCol).as("id"), col("sz").as("sz")))
      .select(explode(expr(
        "filter(flatten(transform(docs, a -> transform(docs, b -> " +
          "struct(a.id AS doc_a, b.id AS doc_b, a.sz AS sz_a, " +
          "b.sz AS sz_b)))), p -> p.doc_a < p.doc_b)")).as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.sz_a").as("sz_a"), col("p.sz_b").as("sz_b"))
      .agg(count(lit(1)).as("inter"))

  /** Gram buckets (bk, docs) holding 2..`maxDocFreq` docs, `doc` collected
    * once per doc in the bucket — the inverted index under every gram-pair
    * operator here. Rows are [[blockedGramKeys]]'s (id, sz, bk).
    */
  private def gramBuckets(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int, maxDocFreq: Int, doc: Column)
  : DataFrame =
    blockedGramKeys(df, idCol, textCol, blockCols, n)
      .groupBy(col("bk"))
      .agg(graft.functions.BoundedCollect(doc, maxDocFreq).as("docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= maxDocFreq)

  /** Per-doc distinct (id, sz, bk) gram-key rows — sz the doc's distinct
    * gram count — for the bucket-pair generators: the block columns and
    * the raw gram string are FOLDED into one 64-bit xxhash64 key before
    * the shuffle, so the bucket exchange ships (long, long) rows instead
    * of block strings plus a gram key. Width is a measured trade, not an
    * oversight: a 64-bit key collides with probability ~n²/2⁶⁵ over n
    * distinct (block, gram) triples — negligible through 10⁹, ~27k
    * expected merges at the 10¹² a 100 TB corpus holds — and a merge
    * creates spurious candidate pairs (for CC consumers, a spurious
    * component merge; for Jaccard, one extra intersecting gram), i.e.
    * ~10⁴ mis-clustered docs among 10⁹+, orders below the gram-sharing
    * heuristic's own false-positive rate. Widening to the two-seed
    * 128-bit form (ts21's census-exact pattern) was measured at +20-27%
    * COMPRESSED shuffle and +10-20% wall on the five gram-bucket
    * headliners: the second seed is 8 incompressible random bytes per
    * row, while the block strings it displaces compress to almost
    * nothing — candidate generation keeps the narrow key, ts21 keeps the
    * wide one because its novelty COUNTS replay an exact census. DuckDB
    * oracles key the same buckets by the raw strings; at verification
    * scales the bucket partition is identical.
    *
    * `explode_outer` + an explicit `bk IS NOT NULL` filter, not
    * `explode`: a plain explode of the named array (named because `sz`
    * reads it too) makes Spark infer `size(grams) > 0` and push it, as
    * `size(GramHashes(..)) > 0`, below the caller's `fanOut` RoundRobin
    * exchange into the single scan task, which then builds every doc's
    * grams once more. A filter on the generator's output stays above it,
    * so the array is built once per row, after the exchange (PlansSpec).
    */
  private def blockedGramKeys(df: DataFrame, idCol: String,
      textCol: String, blockCols: Seq[String], n: Int): DataFrame = {
    // fused gram hashing (r15): xxhash64 chains children left to right,
    // so seeding the per-gram hash with xxhash64(blockCols...) is
    // bit-identical to the old array_distinct(transform(wordGrams(toks),
    // g => xxhash64(blockCols..., g))) — which ran INTERPRETED per
    // element (every HOF is CodegenFallback; see GramHashes). distinct
    // = true replays the array_distinct over the hash values.
    val seed =
      if (blockCols.isEmpty) lit(42L) else xxhash64(blockCols.map(col): _*)
    df.select((col(idCol) +: blockCols.map(col) :+
        tokens(col(textCol)).as("toks")): _*)
      .select(col(idCol), graft.functions.GramHashes(
        col("toks"), n, seed, distinct = true).as("grams"))
      .select(col(idCol), size(col("grams")).as("sz"),
        explode_outer(col("grams")).as("bk"))
      .filter(col("bk").isNotNull)
  }

  /** Candidate doc pairs sharing at least one non-hot gram — the
    * inverted-index bucket pairs of [[ngramJaccardPairs]] WITHOUT the
    * similarity arithmetic, for consumers that only need the edge
    * relation (duplicate-cluster resolution): one bucket-keyed shuffle
    * ([[gramBuckets]] — block cols folded into the key, never shipped)
    * and the in-task upper-triangle emission, `maxDocFreq`-capped like
    * every bucket op here.
    */
  def gramCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int, maxDocFreq: Int = 1000)
  : DataFrame =
    gramBuckets(df, idCol, textCol, blockCols, n, maxDocFreq, col(idCol))
      .select(explode(expr(
        "filter(flatten(transform(docs, a -> transform(docs, " +
          "b -> struct(a AS doc_a, b AS doc_b)))), " +
          "p -> p.doc_a < p.doc_b)")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** Connectivity-equivalent replacement for [[gramCandidatePairs]] when
    * the pairs feed ONLY a connected-components pass (dd10, dd16): each
    * gram bucket emits a STAR — min doc → every other doc, k−1 edges —
    * instead of the full k(k−1)/2 clique. Any two docs sharing a gram are
    * joined through the bucket's min doc, so components and membership
    * are IDENTICAL to the clique relation's (the star-contraction
    * observation behind MapReduce CC formulations, e.g. Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14), while the
    * exploded row count drops up to (k−1)/2× per bucket — at maxDocFreq
    * 64 that is a 32× cap on the worst bucket, and near-dup corpora sit
    * near the cap because duplicates share MOST of their grams. NOT valid
    * for consumers that read the graph's structure (triangles, PageRank,
    * label propagation, k-core, degree profiles): a star has no
    * triangles and hub-degree k−1, so those stay on the clique relation.
    * Bucket selection (hot-gram cap, ≥2 docs) is byte-identical to
    * [[gramCandidatePairs]]; DuckDB oracles that compare component
    * output replay unchanged.
    */
  def gramStarEdges(df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int, maxDocFreq: Int = 1000)
  : DataFrame =
    gramBuckets(df, idCol, textCol, blockCols, n, maxDocFreq, col(idCol))
      .select(explode(expr(
        "filter(transform(docs, b -> " +
          "struct(array_min(docs) AS doc_a, b AS doc_b)), " +
          "p -> p.doc_a < p.doc_b)")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** Degree-oriented triangle counting over a pair relation — the
    * clustering-structure probe for near-dup graphs (triangle-dense
    * components are boilerplate families; triangle-free stars are hub
    * false-positives from a hot shingle). Each undirected edge is oriented
    * from its lower-(degree, id) endpoint, so every triangle is counted
    * exactly once at its minimum vertex and per-vertex out-degrees are
    * bounded by graph arboricity — the classic trick that keeps the wedge
    * join near-linear on skewed (power-law) graphs where id-ordering alone
    * would square the hub buckets. Three equi-joins total (two degree
    * attachments, one wedge self-join, one closing LEFT SEMI); the
    * normalized edge set is persisted (three consumers), the oriented set
    * too (self-joined).
    */
  def triangleCount(pairs: DataFrame, aCol: String, bCol: String)
  : DataFrame = {
    val und = pairs.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the 1-row count while the caches are live, then drop
    // them — the pageRank idiom; without it every invocation in a
    // long-lived session leaks two MEMORY_AND_DISK relations forever
    val out = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(least(col("e1.dst"), col("e2.dst")).as("a"),
        greatest(col("e1.dst"), col("e2.dst")).as("b"))
      .join(und, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
      .localCheckpoint(true)
    und.unpersist()
    oriented.unpersist()
    out
  }

  /** Fixed-iteration PageRank over the (undirected) dup-candidate graph —
    * the importance signal that ranks boilerplate families by how central
    * they are in the duplicate structure (a hub template outranks a
    * two-doc near-pair at equal degree). Each undirected edge contributes
    * both directions; every node in the edge relation has out-degree ≥ 1,
    * so the simple (no dangling-mass) update
    * `r' = (1-d)/N + d·Σ r_src/deg_src` is mass-conserving here.
    *
    * Scale shape: the edge relation (with its degree) is persisted once
    * and re-joined per iteration — each of the `iters` rounds is one
    * rank-keyed join plus one dst-keyed partial aggregate, the same two
    * shuffles a 100-TB Pregel step costs; no driver-side state beyond the
    * node count (one scalar, the documented bench-parameter pattern).
    */
  def pageRank(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int = 5, damping: Double = 0.85): DataFrame = {
    val und = pairs.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // the edge relation roots in the expensive candidate-pair build and
    // feeds deg + the annotated join — persist it (2·|pairs| narrow rows)
    // so pair generation runs exactly once; deg additionally feeds the
    // rank init and the final join-back (nodes-sized)
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withDeg = edges.join(deg, "src")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = deg.count()
    // LOOP-WIDTH the per-round edge side (r15, the connectedComponents
    // rationale): deg.count() above already materialized the edge cache,
    // so this count is a cheap cached scan; coalesce narrows the five
    // rank-join rounds from inherited-width task fan-out to ~32 MB/task.
    val withDegLoop = withDeg.coalesce(loopParts(edges.count(), 40))
    var ranks = deg.select(col("src").as("node"),
      lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      ranks = withDegLoop
        .join(ranks, withDegLoop("src") === ranks("node"))
        .groupBy(col("dst"))
        .agg(sum(col("rank") / col("deg")).as("m"))
        .select(col("dst").as("node"),
          (lit((1.0 - damping) / n) + lit(damping) * col("m")).as("rank"))
        // LAZY per-round checkpoint, mirroring connectedComponents: the
        // plan seen by round i+1 is a leaf, not i nested join+agg rounds —
        // without it the final plan carries O(iters) exchanges and a
        // 50-iteration production run would drown the optimizer before it
        // drowned the cluster. Lazy (not eager) so the whole chain still
        // computes in ONE job at the materialization below, each round's
        // partitions checkpointing as the side effect of computing them.
        .localCheckpoint(false)
    }
    // materialize the node-sized result while the cached relations are
    // still live, then drop them — otherwise every invocation leaks three
    // MEMORY_AND_DISK relations for the session's lifetime
    val out = ranks
      .join(deg.select(col("src").as("node"), col("deg")), "node")
      .select(col("node"), col("deg"), round(col("rank"), 6).as("rank"))
      .localCheckpoint(true)
    edges.unpersist()
    deg.unpersist()
    withDeg.unpersist()
    out
  }

  /** Set-similarity join via PPJoin-style prefix filtering over word
    * k-shingle sets: for Jaccard ≥ t, two sets of sizes m_a, m_b must
    * overlap in their first `m − ⌈t·m⌉ + 1` elements under ANY shared
    * global element order (pigeonhole on the ordered sets) — so candidate
    * pairs come from joining only the short, RAREST-gram prefixes (global
    * order = ascending document frequency, gram tie-break), with the
    * PPJoin length and positional filters pruning further inside the
    * join. That is the structural win over the all-gram join: hot grams
    * sit at the END of the order and never generate candidates, so bucket
    * sizes shrink with df by construction instead of by a cap. Exact
    * Jaccard then runs row-locally on the candidates' shingle arrays
    * (the dd5 barrier-once layout) — never a gram×gram re-join. The
    * oracle brute-forces the truth set independently, so completeness is
    * driver-checked, not assumed.
    *
    * Output: (doc_a, doc_b, jaccard) for pairs with gram-set Jaccard ≥
    * `threshold`, complete by the prefix-filter guarantee.
    */
  def prefixFilteredPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 3): DataFrame = {
    val spill = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // set elements are word k-SHINGLES, not raw tokens: on a small word
    // vocabulary (this corpus: 31 words, df ≈ corpus size) every token
    // is hot and a token-prefix join degenerates to all-pairs; k-gram
    // df collapses (sf0.1: 27k grams, max df 25) and gram-set Jaccard is
    // the meaningful near-dup signal
    // gram build + array_distinct + sort_array fused into ONE compiled
    // pass (GramStrings distinct+sorted; the zip_with gram chain ran
    // interpreted and each post-step rewalked the array — r16)
    val sets = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        graft.functions.GramStrings(col("toks"), k, distinct = true,
          sorted = true).as("ts"))
      .select(col("doc_id"), col("ts"),
        size(col("ts")).cast("long").as("m"))
      .persist(spill)
    // width-scale every gram-relation exchange from the measured shingle
    // count (one cheap agg over the already-persisted sets — the sim17
    // sizing idiom): at the harness's pinned 32 shuffle partitions the
    // 100× decade put ~3.4M of the ~110M gram rows through each task's
    // df-join and df-rank-window sorts (~170 MB each) and spilled
    // ~18 GB; ≈32 MB of gram rows per task fits every stage, and a
    // pinned REPARTITION_BY_NUM exchange on tok doubles as the ONE
    // shared exchange for the frequency aggregate and the join probe
    // (the ts21 lesson — the explode then runs once, not per consumer).
    // coalesce: SUM/MAX over zero rows are null — an empty input must
    // size as zero grams (wide=false) and fall through to the empty pair
    // relation, not NPE in the sizing job (the Similarity.scala stats job
    // guards the same way via isNullAt)
    // the same ONE stats job also fetches the id bounds that gate the
    // packed-key candidate dedup below (sim17's sizing idiom: never a
    // second pass over the data for a plan decision)
    val idT = sets.schema("doc_id").dataType
    val idIntegral = idT match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    val idBound: Column =
      if (idIntegral) col("doc_id").cast("long") else lit(null)
    val stRow = sets.agg(coalesce(sum(col("m")), lit(0L)),
      coalesce(max(col("m")), lit(0L)),
      min(idBound), max(idBound)).head()
    val nTok = stRow.getLong(0)
    val maxM = stRow.getLong(1)
    // pack the (doc_a, doc_b) candidate key into ONE long where ids
    // permit (integral, non-negative, < 2³¹): a 1-long key row is 16
    // bytes in the dedup exchange against 24 for the 2-long row — a
    // third less shuffle on the dominant candidate relation — and the
    // distinct's hash map keys on a single word (the sim17 packed-key
    // trick). Ids outside the gate keep the 2-column key.
    val packable = idIntegral && !stRow.isNullAt(2) && !stRow.isNullAt(3) &&
      stRow.getLong(2) >= 0L && stRow.getLong(3) < (1L << 31)
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val gramParts = math.max(parallelism.toLong,
      math.min(2048L, nTok * 80 / (32L << 20))).toInt
    // widening is GATED on the width rule actually wanting more than the
    // default: below the crossover the gram relation is broadcast-sized
    // and AQE's adaptive broadcasts beat any forced shuffle (an ungated
    // draft repartitioned unconditionally and measured dd25/dd26 2.6×
    // SLOWER at 1×, where the old plan shuffled nothing); past it the
    // broadcast path is dead anyway and the explicit exchanges both
    // bound every per-task sort and let the frequency aggregate and the
    // join probe share one exchange (the ts21 lesson — the explode runs
    // once, not per consumer).
    val wide = gramParts > parallelism
    def byTok(d: DataFrame): DataFrame =
      if (wide) d.repartition(gramParts, col("tok")) else d
    def byDoc(d: DataFrame): DataFrame =
      if (wide) d.repartition(gramParts, col("doc_id")) else d
    val toks = byTok(sets.select(col("doc_id"), col("m"),
      explode(col("ts")).as("tok")))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))
    // the window needs doc_id clustering (width-pinned so the per-doc
    // rank sort fits in-task at every decade), and the surviving
    // prefixes re-cluster by tok so BOTH self-join sides read the
    // persisted relation already distributed on the join key
    // the per-doc prefix bound m − ⌈t·m⌉ + 1 is NON-constant, so the rank
    // filter alone cannot plan as WindowGroupLimit (the rule needs a
    // literal bound). Conjoin the CONSTANT corpus-wide cap — the bound at
    // maxM, which dominates every per-doc bound (monotone in m) — so a
    // WindowGroupLimit plans ABOVE the byDoc exchange, pruning each
    // group to its top-kCap between the (width-bounded) sort and the
    // window evaluation. The exchange itself still carries all m gram
    // rows per doc: the tp5-style map-side PARTIAL below the shuffle is
    // unreachable here by choice — it needs the doc exchange to be
    // EnsureRequirements-inserted, which would put its width back on
    // the static shuffle-partitions conf, the exact sort-spill shape
    // the pinned byDoc width exists to prevent (PlansSpec's AQE twin
    // carries the same rationale). The exact per-doc filter runs above.
    val kCap = math.max(1L,
      maxM - math.ceil(threshold * maxM).toLong + 1L)
    val prefix = byTok(byDoc(toks.join(freq, "tok"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= lit(kCap) && col("rn") <=
        col("m") - ceil(lit(threshold) * col("m")) + 1)
      .select(col("doc_id"), col("tok"), col("m"), col("rn")))
      // both sides of the self-join read this relation — persist so the
      // df-rank window runs once, not per side
      .persist(spill)
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id") &&
          // PPJoin length filter: J ≥ t ⇒ t·max(m_a,m_b) ≤ min(m_a,m_b)
          col("b.m") >= lit(threshold) * col("a.m") &&
          col("a.m") >= lit(threshold) * col("b.m") &&
          // PPJoin positional filter: past this shared token, at most
          // 1 + min(remaining suffix) elements can still overlap, and
          // J ≥ t needs overlap ≥ ⌈t/(1+t)·(m_a+m_b)⌉
          (lit(1L) + least(col("a.m") - col("a.rn"),
            col("b.m") - col("b.rn"))) >=
            ceil(lit(threshold / (1 + threshold)) *
              (col("a.m") + col("b.m"))))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // the candidate dedup and the verify joins ride the same width rule
    // (gated like the gram exchanges): at 100× the verify SMJs attach
    // each candidate's full ~220-shingle array (~5 KB/row) and sort the
    // widened intermediate — at the pinned 32 partitions those sorts,
    // not the gram window, carried most of the decade's ~18 GB spill
    val candW =
      if (wide && packable) {
        // doc_a < doc_b by the join condition, both in [0, 2³¹) by the
        // gate — the pack is a bijection and unpacks losslessly. The
        // column is named cpk (not sim17's pk) so the PlansSpec AQE twin
        // can keep scoping each op's exchanges by key columns alone.
        // WIDE-ONLY, like the exchanges it narrows: the win is 16 B vs
        // 24 B candidate rows through the width-pinned dedup exchange —
        // dominant at the deep decades; below the gate the relation is
        // broadcast-sized and the extra pack/unpack projections around
        // AQE's plan measured dd25 3.2→5.9 s at sf0.1 for nothing saved.
        cand.select(shiftleft(col("doc_a").cast("long"), 32)
            .bitwiseOR(col("doc_b").cast("long")).as("cpk"))
          .repartition(gramParts, col("cpk"))
          .distinct()
          .select(shiftright(col("cpk"), 32).cast(idT).as("doc_a"),
            col("cpk").bitwiseAND(lit(0xFFFFFFFFL)).cast(idT).as("doc_b"))
      }
      else if (wide) cand.repartition(gramParts, col("doc_a"), col("doc_b"))
        .distinct()
      else cand.distinct()
    // materialize the (small, post-threshold) pair relation while
    // sets/prefix are still cached, then drop both — repeated invocations
    // (bench rounds, the full verify sweep) must not accumulate cached
    // blocks. [[graft.Scratch.materialize]] carries the full rationale
    // (AQE-planned write vs eager localCheckpoint's 17x penalty, zero
    // cache registrations vs persist+count's unpersistable return) —
    // this site is where that lesson was measured, round 12.
    val withA =
      (if (wide) candW.repartition(gramParts, col("doc_a")) else candW)
      .join(sets.select(col("doc_id").as("doc_a"), col("ts").as("ta"),
        col("m").as("ma")), "doc_a")
    val out =
      (if (wide) withA.repartition(gramParts, col("doc_b")) else withA)
      .join(sets.select(col("doc_id").as("doc_b"), col("ts").as("tb"),
        col("m").as("mb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb")))
        .cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("ma") + col("mb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6)
        .as("jaccard"))
    val mat = graft.Scratch.materialize(out, "ppjoin_pairs")
    sets.unpersist()
    prefix.unpersist()
    mat
  }

  /** Edit-distance pair matching (record linkage / fuzzy title dedup) via
    * Ed-Join-style PREFIX-FILTERED q-gram candidates (Xiao, Wang & Lin,
    * "Ed-Join", VLDB'08): each string emits only its q·k+1 globally
    * RAREST 2-grams (df-ascending order, ties on the gram), candidates
    * come from a self-join of those prefixes, and the exact `levenshtein`
    * runs ONLY on candidates — never all pairs.
    *
    * Completeness is the classic q-gram count bound: k edits destroy at
    * most q·k gram occurrences, so strings within distance k share
    * ≥ (m−1) − q·k gram occurrences (m = length), and by the prefix-filter
    * theorem their (q·k+1)-prefixes under ONE global order must share a
    * gram. The `length ≥ 2·maxDist + 2` floor (applied to both sides —
    * shorter strings are out of scope, symmetrically with the oracle)
    * keeps the bound meaningful. A |len_a − len_b| ≤ k length filter
    * prunes inside the join (edit distance ≥ length difference).
    *
    * The operator COMPOSES exact dedup with the fuzzy matcher instead of
    * leaving that to the caller: ids are first grouped by their exact
    * string, the prefix-filtered gram machinery and every levenshtein run
    * over the DISTINCT-string relation only, and id pairs are expanded
    * back at the end (same-string groups emit their distance-0 pairs
    * directly; cross-string matches fan out group_a × group_b). On
    * low-entropy data this is the difference between feasible and not:
    * TPC-H part names at sf0.1 are 20,400 rows over 64 distinct strings —
    * the duplicate-blind round-12 draft ground 4.7×10⁷ candidate pairs
    * (200 CPU-s, 6.6 GB spill; the pre-prefix-filter inverted index was
    * 19+ min) where the distinct-string core is 2,016 string pairs, and
    * the remaining cost is the output itself (~3×10⁶ id pairs, which no
    * scheme can shrink — it is the answer). On high-entropy data the
    * groupBy collapses nothing and costs one hash aggregate. The prefix
    * filter then bounds the distinct-side join: hot grams sort to the END
    * of the df order and never enter a prefix unless a string has nothing
    * rarer.
    *
    * The same-string expansion is SALTED (round 13): group sizes ride a
    * window over the pinned byS exchange, groups past √T ≈ 10³ ids split
    * into B = ⌈n/10³⌉ ≤ 64 id-hash blocks, and the distance-0 self-join
    * keys on (s, lo, hi) block pairs — one hot duplicate string (10⁵ ids
    * on skewed real data) spreads its n²/2-pair emission over B(B+1)/2
    * hash slots instead of serializing onto one task (dd18b_skew_pairs
    * measures exactly this corpus). Balanced data degenerates to B = 1 —
    * the old single-slot join.
    *
    * The expansion exchanges are WIDTH-SCALED (round 14) from the
    * estimated pair output Σ n(n−1)/2 (one cheap group-count agg over the
    * eligible rows — the sim17 sizing idiom; the cross-string term is
    * negligible next to the same-string quadratic and rides the same
    * margin): the emission stages run `expParts ≈ pairs · 24 B / 32 MB`
    * tasks, so whatever consumes the pair relation next — a range-sort
    * shuffle write, a downstream exchange — buffers ~32 MB per task
    * instead of output/32. At the pinned defaultParallelism the 100×
    * rehearsal's final sort spilled 15.7 GB on its MAP side alone: 32
    * writers × ~350 MB of pair rows sorted by partition id in the
    * shuffle writer; width-scaling the producer stage is the only place
    * that spill can be prevented, because the writer inherits the
    * producer's task count, not the sort's.
    *
    * The returned plan carries zero cache registrations and at most one
    * driver-side sizing job — the vocabulary-sized group-count agg of
    * [[editDistancePairEstimate]], skipped when the caller hands the
    * estimate in via `pairsEst` (the dd18 entry shares one estimate
    * between this op and its output-sort width): the
    * (id, string) projection is consumed by several subtrees, each of
    * which re-reads it — a plain scan+filter, which a columnar source
    * serves cheaply in parallel (and the distinct-string subtrees are
    * vocabulary-sized). A caller whose input is itself an expensive
    * computed relation should materialize THAT before calling, exactly as
    * it would for any multi-consumer plan.
    */
  /** The same-string pair estimate [[editDistancePairs]] sizes its
    * expansion from — Σ n(n−1)/2 over exact-string groups of the
    * ELIGIBLE rows (the op's own length/null filter, derived from
    * `maxDist`, so the estimate and the expansion always agree on the
    * row set). Public so a caller that also needs the output size (e.g.
    * to width a downstream sort) can run the vocabulary-sized job ONCE
    * and hand the result back via `pairsEst`.
    */
  def editDistancePairEstimate(df: DataFrame, idCol: String,
      strCol: String, maxDist: Int = 2): Long =
    df.select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(length(col("s")) >= 2 * maxDist + 2 && col("id").isNotNull)
      .groupBy(col("s")).agg(count(lit(1)).as("n"))
      // integral DIV, not `/` (Divide plans as double arithmetic and
      // loses exactness past 2^53 pairs — ADVICE r14): n·(n−1) is even,
      // so the long division is exact at any group size
      .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L))
        .cast("long"))
      .head().getLong(0)

  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int = 2, pairsEst: Option[Long] = None): DataFrame = {
    val q = 2
    val pfxLen = q * maxDist + 1
    // null ids are dropped HERE, not left to the joins: the same-string
    // self-join pushes isnotnull(id) into its exchange subtree anyway
    // (id < id), and if the fan-out probes' subtrees lack that filter the
    // two plans stop being canonically equal — the pinned expansion
    // exchange then materializes TWICE (one per consumer family, double
    // shuffle write) instead of once + ReusedExchange. One explicit
    // filter makes all four consumers share one canonical subtree
    // (PlansSpec locks this); a null-id row means nothing in a pair
    // relation either way.
    val eligible = df
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(length(col("s")) >= 2 * maxDist + 2 && col("id").isNotNull)
    val strings = eligible.select(col("s")).distinct()
      .withColumn("len", length(col("s")))
    // BAG grams (no distinct): the q-gram count bound and the prefix
    // theorem are stated on gram occurrences
    val grams = strings.select(col("s"), col("len"),
      explode(expr(
        "transform(sequence(1, length(s) - 1), i -> substr(s, i, 2))"))
        .as("gram"))
    val freq = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col("df"), col("gram"))
    val prefix = grams.join(freq, "gram")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= pfxLen)
      .select(col("s"), col("len"), col("gram"))
    // near-pairs over DISTINCT strings (dist ≥ 1; s_a < s_b dedupes the
    // unordered pair), levenshtein only on prefix-sharing candidates
    val nearStrings = prefix.as("a").join(prefix.as("b"),
        col("a.gram") === col("b.gram") &&
          col("a.s") < col("b.s") &&
          // length filter: edit distance ≥ |len_a − len_b|
          abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.s").as("s_a"), col("b.s").as("s_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDist)
    // expansion: same-string groups are the distance-0 pairs; each
    // near-string pair fans out to all id combinations of its two groups.
    // Plain joins, deliberately: an in-task variant (collect_list the ids
    // per string, nested-transform the combinations, explode) was tried
    // and measured SLOWER — it materializes a groupA×groupB struct array
    // per row before exploding, where the join streams its output out of
    // codegen row by row.
    //
    // The explicit keyed repartition is load-bearing: these joins EXPLODE
    // (a few-MB id/string input emits tens of millions of pair rows), and
    // AQE's partition coalescing sizes stages on their shuffle INPUT — it
    // folded the self-join to ~1 partition and ran the entire explosion
    // single-threaded (77 s vs 5.5 s for the same relation under a
    // count(), which never materializes writer rows; dd18 at 10× caught
    // it). A user-specified partition count is exempt from AQE
    // coalescing, and the one exchange serves the group-count window and
    // the two fan-out probes (ReusedExchange — the ts21 lesson).
    // width-scale the expansion from the estimated pair output (see
    // scaladoc): ≈32 MB of 24 B pair rows per emission task, floored at
    // the user parallelism (balanced corpora stay at the old width),
    // capped at 4096 (a 5×10⁹-pair skew corpus caps at ~1.4M pairs/task)
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val est = pairsEst.getOrElse(
      editDistancePairEstimate(df, idCol, strCol, maxDist))
    val expParts = math.max(parallelism.toLong,
      math.min(4096L, est * 24 / (32L << 20))).toInt
    val byS = eligible.repartition(expParts, col("s"))
    // SALTED same-string expansion: a plain self-join on s keys a
    // group's entire quadratic id-pair emission to ONE hash slot, so one
    // hot duplicate string (10⁵ ids on skewed real data) serializes its
    // n²/2 pairs onto a single task no matter how many partitions the
    // exchange pins. Split each group into B ≈ ⌈n/√T⌉ id-hash blocks
    // (T ≈ 10⁶ target pairs per block-pair, B capped at 64) and join
    // block×block instead: the left side replicates each row to block
    // pairs (blk, hi ≥ blk), the right side to (lo ≤ blk, blk), and the
    // join key (s, lo, hi) spreads a single group over B(B+1)/2
    // independent hash slots. A pair with blocks (bx ≤ by) meets exactly
    // once at key (s, bx, by) — on the bx = by diagonal the id order
    // dedupes — and for the common n ≤ √T group B = 1 degenerates to the
    // old single-slot join at one replica per side. The sides are built
    // as two disjoint explodes with their own pinned exchanges (a shared
    // side-TAGGED relation was tried first: the side filters push below
    // the shared repartition and split it anyway, with the tag riding
    // every row for nothing); total shuffled volume is identical, and
    // the group-count window rides the byS exchange — already clustered
    // by s, no extra shuffle — which all four subtrees still share.
    val nOver = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("s")))
    val blocked = byS
      .withColumn("nb", greatest(lit(1),
        least(lit(64), ceil(nOver / lit(1000.0)).cast("int"))))
      .withColumn("blk", pmod(hash(col("id")), col("nb")))
    val leftBlocks = blocked.select(col("s"), col("id"), col("blk"),
      explode(sequence(col("blk"), col("nb") - 1)).as("hi"))
      .select(col("s"), col("id"), col("blk").as("lo"), col("hi"))
      .repartition(expParts, col("s"), col("lo"), col("hi"))
    val rightBlocks = blocked.select(col("s"), col("id"), col("blk"),
      explode(sequence(lit(0), col("blk"))).as("lo"))
      .select(col("s"), col("id"), col("lo"), col("blk").as("hi"))
      .repartition(expParts, col("s"), col("lo"), col("hi"))
    val zero = leftBlocks.as("a").join(rightBlocks.as("b"),
        col("a.s") === col("b.s") && col("a.lo") === col("b.lo") &&
          col("a.hi") === col("b.hi") &&
          // off-diagonal block pairs (lo < hi) pair every a×b id combo;
          // the lo = hi diagonal orders ids so each pair emits once
          (col("a.lo") < col("a.hi") || col("a.id") < col("b.id")))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        lit(0L).as("dist"))
    val cross = broadcast(nearStrings)
      .join(byS.select(col("s").as("s_a"), col("id").as("ia")), "s_a")
      .join(byS.select(col("s").as("s_b"), col("id").as("ib")), "s_b")
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        col("dist").cast("long").as("dist"))
    zero.unionByName(cross)
  }

  /** Jaro-Winkler record linkage over char-2-gram blocking: candidate
    * pairs share at least one 2-gram (the same inverted-index bucket
    * machinery as [[editDistancePairs]], `maxBucket`-capped), scored with
    * the native [[graft.functions.JaroWinkler]] expression and kept at
    * `minSim`. Unlike the q-gram count bound for edit distance, 2-gram
    * blocking carries no completeness guarantee for a similarity RATIO —
    * blocking here is part of the operator's CONTRACT (as in every
    * production linkage system), and the oracle replays the SAME blocking
    * in SQL, so the relation is exactly reproducible. Scale shape:
    * explode → capped bucket groupBy → in-task pair emission → two id
    * joins; the scorer itself is row-local codegen.
    */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
      minSim: Double = 0.9, minLen: Int = 6, maxBucket: Int = 100000)
  : DataFrame = {
    val eligible = df
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(length(col("s")) >= minLen)
    val grams = eligible.select(col("id"),
      explode(array_distinct(expr(
        "transform(sequence(1, length(s) - 1), i -> substr(s, i, 2))")))
        .as("gram"))
    val pairs = grams
      .groupBy(col("gram"))
      .agg(graft.functions.BoundedCollect(col("id"), maxBucket).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(expr(
        "filter(flatten(transform(ids, a -> transform(ids, " +
          "b -> struct(a AS id_a, b AS id_b)))), " +
          "p -> p.id_a < p.id_b)")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
    pairs
      .join(eligible.select(col("id").as("id_a"), col("s").as("s_a")),
        "id_a")
      .join(eligible.select(col("id").as("id_b"), col("s").as("s_b")),
        "id_b")
      .withColumn("jw",
        graft.functions.JaroWinkler(col("s_a"), col("s_b")))
      .filter(col("jw") >= minSim)
      .select(col("id_a"), col("id_b"), round(col("jw"), 4).as("jw"))
  }

  /** Non-overlapping chunks of `w` space-separated words as an array
    * column — the "line" unit for line-level ops on newline-free corpora.
    * One compiled pass per row ([[graft.functions.WordChunks]], which
    * states the exact semantics).
    */
  def wordChunks(text: Column, w: Int): Column =
    graft.functions.WordChunks(text, w)

  /** C4/RefinedWeb-style line-level dedup: drop every line whose
    * corpus-wide occurrence count exceeds `maxOccurrences`, then reassemble
    * each document from its surviving lines in original order. Real corpora
    * split lines on '\n'; this corpus has none, so a "line" is a fixed
    * non-overlapping chunk of `lineWords` whitespace tokens — the machinery
    * (explode with position, corpus-frequency blacklist, anti join, ordered
    * reassembly) is the production shape either way.
    *
    * Scale: the exploded line relation feeds BOTH the blacklist build and
    * the anti-join probe side, so it is persisted (spillable) — the corpus
    * is tokenized and exploded exactly once (the same reuse pattern as
    * [[TextOps.tfidf]]'s tf relation). The blacklist itself is NOT small by
    * construction: it holds every line repeated more than `maxOccurrences`
    * times, which on a boilerplate-heavy web corpus is billions of rows —
    * so the anti join is size-GATED, not hint-forced. The blacklist is
    * counted (one job over the already-persisted lines; the count aggregate
    * is map-side combined) and broadcast only when it fits
    * `broadcastMaxLines`; past the gate the anti join runs shuffled on the
    * line key, where AQE's skew handling covers hot lines. Two linear
    * passes over the persisted lines (count, anti join) plus one doc-keyed
    * shuffle — the classic two-pass C4 layout. Documents whose every line
    * is banned disappear from the output (dropping now-empty docs is the
    * curation intent).
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      lineWords: Int = 5, maxOccurrences: Long = 1,
      broadcastMaxLines: Long = 100000L,
      cacheLines: Boolean = true): DataFrame = {
    val w = lineWords
    val lines0 = docs.select(col(idCol),
      posexplode(wordChunks(col(textCol), w)).as(Seq("pos", "line")))
    // same trade as TextOps.tfidf's cacheTf: persist (spillable) so the
    // corpus is tokenized+exploded once across the blacklist build, the
    // gate count and the anti join; pass false where cache memory is
    // scarcer than a re-scan
    val lines = if (cacheLines)
      lines0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else lines0
    val banned = lines.groupBy(col("line"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > maxOccurrences)
      .select(col("line"))
    // counted gate: under it, the explicit hint skips the planner's (poor)
    // post-filter cardinality estimate; over it, NO hint — the planner/AQE
    // size the join and a multi-GB blacklist never lands on the driver
    val probe = if (banned.count() <= broadcastMaxLines) broadcast(banned)
    else banned
    lines.join(probe, Seq("line"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            p => p("line")), " ").as("clean_text"),
        count(lit(1)).as("n_lines_kept"))
  }

  /** Exact substring-span dedup (the "Deduplicating Training Data Makes
    * Language Models Better" method, re-expressed relationally): every
    * `spanTokens`-token window occurring more than `maxOccurrences` times
    * corpus-wide is removed from EVERY document (all covered tokens cut,
    * C4-style — including the first occurrence), and documents are
    * reassembled from their surviving tokens in order. Docs shorter than
    * `spanTokens` generate no windows and pass through untouched; docs
    * whose every token is covered drop out (the curation intent, as in
    * [[lineDedup]]).
    *
    * The suffix-array formulation is a single-machine algorithm; this is
    * the shuffle-conscious equivalent built from keyed relations only:
    *   - rolling windows come from [[wordGrams]] (one O(n·L) row-local
    *     pass, no self-join chain), persisted once for both consumers;
    *   - the duplicated-window key set is size-GATED exactly like
    *     [[lineDedup]]'s blacklist (counted broadcast vs shuffled
    *     left_semi — it is corpus-frequency-derived and NOT bounded);
    *   - covered token indices explode marked spans (|marks|·L rows) and
    *     anti-join the token relation on (doc, index) — no distinct
    *     needed: anti join semantics absorb overlap duplication;
    *   - reassembly is one doc-keyed groupBy (sorted in-task).
    * Every join is equi-keyed; nothing is quadratic at any corpus shape.
    * `hashKeys` (default true) shuffles 8-byte xxhash64 window keys
    * instead of L-token strings — the 100 TB setting; the raw-string form
    * is what the DuckDB oracle replays (identical relation, wider key).
    */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, maxOccurrences: Long = 1,
      broadcastMaxSpans: Long = 100000L, hashKeys: Boolean = true)
  : DataFrame = {
    val L = spanTokens
    val ws = split(col(textCol), " ")
    // hashKeys: hash the windows WITHOUT materializing gram strings —
    // GramHashes(ws, L) is transform(wordGrams(ws, L), xxhash64)
    // element-exact (order preserved, so `pos` is unchanged), one
    // compiled pass instead of the interpreted slice/zip_with/concat
    // chain plus a per-row xxhash64 of each L-token string (r16)
    val gramArr =
      if (hashKeys) when(size(ws) >= L, graft.functions.GramHashes(ws, L))
        .otherwise(array().cast("array<bigint>"))
      else when(size(ws) >= L, wordGrams(ws, L))
        .otherwise(array().cast("array<string>"))
    val windows = docs
      .select(col(idCol), posexplode(gramArr).as(Seq("pos", "key")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupKeys = windows.groupBy(col("key"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > maxOccurrences)
      .select(col("key"))
    val probe = if (dupKeys.count() <= broadcastMaxSpans) broadcast(dupKeys)
    else dupKeys
    val covered = windows.join(probe, Seq("key"), "left_semi")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (L - 1))).as("i"))
    docs.select(col(idCol), posexplode(ws).as(Seq("i", "tok")))
      .join(covered, Seq(idCol, "i"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("i"), col("tok")))),
            p => p("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_tokens_kept"))
  }

  /** Incremental corpus dedup: rows of `batch` whose `keyCol` does not
    * already occur in `existing` — the every-crawl-snapshot ingestion pass
    * (new batch vs the accumulated corpus). Semantically a plain left anti
    * join; the scale problem is that the anti join shuffles the ENTIRE
    * batch even though, on a typical snapshot, most rows are new and match
    * nothing. A Bloom filter of the existing keys fixes that: rows the
    * filter rejects are DEFINITELY new (Bloom has no false negatives) and
    * skip the shuffle entirely, row-local; only the might-contain residue
    * (true dupes + the fpp% false positives) goes through the exact
    * shuffled anti join. The result is exact regardless of fpp or of
    * xxhash64 collisions — the final anti join compares the raw key.
    *
    * The filter is built by one aggregate job (map-side merged sketches,
    * like the HLL/GK twins) and lands on the driver as one binary scalar —
    * `optimalNumOfBits(expectedItems, fpp)/8` bytes, e.g. ~1.2 GB for 10⁹
    * keys at 1% — so it is size-GATED like [[lineDedup]]'s blacklist: past
    * `maxBloomBytes` the pre-filter is skipped and the plain shuffled anti
    * join runs (AQE-sized). Reuse across snapshots would persist the
    * sketch; here it is rebuilt per call.
    */
  def incrementalDedup(batch: DataFrame, existing: DataFrame,
      keyCol: String, expectedItems: Long = 1000000L, fpp: Double = 0.01,
      maxBloomBytes: Long = 256L << 20): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val existingKeys = existing.select(col(keyCol))
    if (numBits / 8 > maxBloomBytes)
      batch.join(existingKeys, Seq(keyCol), "left_anti")
    else {
      val bloom = existingKeys
        .select(Bridge.column(new BloomFilterAggregate(
            Bridge.expression(xxhash64(col(keyCol))),
            Literal(expectedItems), Literal(numBits))
          .toAggregateExpression()).as("bf"))
        .head.getAs[Array[Byte]](0)
      // BloomFilterAggregate evals to NULL over an EMPTY existing
      // corpus, and might_contain(NULL, _) is NULL — without this guard
      // both filter branches would drop every batch row
      if (bloom == null) batch
      else {
        val mightContain = Bridge.column(BloomFilterMightContain(
          Bridge.expression(lit(bloom)),
          Bridge.expression(xxhash64(col(keyCol)))))
        batch.filter(!mightContain)
          .unionByName(
            batch.filter(mightContain)
              .join(existingKeys, Seq(keyCol), "left_anti"))
      }
    }
  }

  /** Corpus snapshot diff: classify every doc id across two corpus
    * versions as added / removed / changed / unchanged — the accounting
    * every dataset release publishes next to its version bump. One full
    * outer join on the id key with content compared by xxhash64 (changed
    * = both sides present, hashes differ); at 100 TB both sides shuffle
    * once on the id — with `hashContent` (the default) no content
    * strings cross the wire, only 8-byte hashes ride along the join.
    * `hashContent = false` compares the raw content column — the form
    * the DuckDB oracle replays exactly (same rows, wider shuffle), as
    * with [[spanDedup]]'s `hashKeys`.
    */
  def snapshotDiff(old: DataFrame, now: DataFrame, idCol: String,
      contentCol: String, hashContent: Boolean = true): DataFrame = {
    val key: Column => Column =
      if (hashContent) xxhash64(_) else identity
    val o = old.select(col(idCol), key(col(contentCol)).as("o_hash"))
    val n = now.select(col(idCol), key(col(contentCol)).as("n_hash"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("o_hash").isNull, "added")
          .when(col("n_hash").isNull, "removed")
          .when(col("o_hash") =!= col("n_hash"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Connected components over an undirected pair relation — the step that
    * turns near-dup PAIRS into duplicate CLUSTERS (transitive closure), so
    * one representative per cluster can be kept. Output: (id, component),
    * component = the component's minimum id, both in the input id type;
    * only nodes appearing in `pairs` are emitted (singletons are not
    * duplicates by definition).
    *
    * Min-label propagation over the symmetrized edges, every node starting
    * as its own label. Each round begins by counting the CROSS-LABEL edges
    * (ends with different labels, taken once: label(src) < label(dst)):
    *   - none: every component carries its minimum id → done;
    *   - at most 2^20: the driver collects them as (label, label) pairs,
    *     closes them with union-find (root = smaller label, in Spark's
    *     ordering of the id type) and relabels each node through the
    *     broadcast (label → root) map → done;
    *   - more, after `maxIters` rounds: throws, naming the rounds run and
    *     the edges left — never a non-converged result;
    *   - otherwise each dst node adopts the minimum src label over its
    *     cross edges, and the next round begins.
    * The driver finish is exact: a label is always the id of a node in the
    * same component, and a component's minimum id is its own label from
    * the start, so the smallest label of each connected set of labels is
    * the minimum id of its component — the fixpoint the rounds would reach.
    *
    * The first count runs on identity labels (no join) and materializes the
    * symmetrized edges (lazy `localCheckpoint`: the caller's pair plan runs
    * once). A graph within the bound thus runs no round at all — one count,
    * one collect, the relabel pass; a larger one runs rounds on the cluster
    * only until its contracted edges fit, skipping the slow tail of rounds
    * and the confirming one. A round is two edges × labels equi-joins, a
    * dst-keyed min aggregate and the label join-back over [[loopParts]]-wide
    * edges; labels and cross edges are lazily checkpointed (lineage one
    * round deep, both materialized by the count, freed by the
    * ContextCleaner once unreachable). The bound is a constant driver-memory
    * budget: 2^20 id pairs are 16 MB as longs, on the order of 200 MB of
    * heap as boxed rows plus the union-find map and its broadcast copy.
    *
    * `jump` adds a pointer-jumping step per round (label ← label's label, a
    * labels×labels equi-join): O(log diameter) rounds instead of
    * O(diameter) at ~1.5× the per-round cost; same result (DedupSpec).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 25, jump: Boolean = false): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIters, jump, 1L << 20)

  /** [[connectedComponents]] with the driver-finish bound exposed, so
    * tests can force the distributed rounds. */
  private[ops] def connectedComponents(pairs: DataFrame, aCol: String,
      bCol: String, maxIters: Int, jump: Boolean, driverEdges: Long)
  : DataFrame = {
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"),
        col("src").as("dst")))
      .localCheckpoint(false)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    var cross = edges.filter(col("src") < col("dst"))
      .select(col("dst"), col("src").as("ls"), col("dst").as("ld"))
    // one job: a Dataset count would add a shuffle stage for its global sum
    def rows(d: DataFrame): Long = d.queryExecution.toRdd.count()
    var left = rows(cross)
    val loopEdges = edges.coalesce(loopParts(2 * left, 32))
    var rounds = 0
    while (left > driverEdges) {
      if (rounds == maxIters) throw new IllegalStateException(
        s"connectedComponents did not converge: $left cross-label edges " +
          s"left after $rounds rounds (maxIters = $maxIters)")
      val prop = labels
        .join(cross.groupBy(col("dst").as("id")).agg(min("ls").as("nbr")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("nbr"), col("label")).as("label"))
      labels = (if (!jump) prop
        else prop // labels only shrink, so label's label ≤ label
          .join(prop.select(col("id").as("label"), col("label").as("ll")),
            Seq("label"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("ll"), col("label")))
              .as("label")))
        .localCheckpoint(false)
      cross = loopEdges
        .join(labels.select(col("id").as("src"), col("label").as("ls")),
          "src")
        .join(labels.select(col("id").as("dst"), col("label").as("ld")),
          "dst")
        .filter(col("ls") < col("ld"))
        .select(col("dst"), col("ls"), col("ld"))
        .localCheckpoint(false)
      left = rows(cross)
      rounds += 1
    }
    if (left == 0) labels.select(col("id"), col("label").as("component"))
    else {
      val ord = org.apache.spark.sql.graft.Bridge.ordering(
        labels.schema("label").dataType)
      val parent = scala.collection.mutable.HashMap.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.contains(r)) r = parent(r)
        var y = x
        while (y != r) { val up = parent(y); parent(y) = r; y = up }
        r
      }
      cross.select("ls", "ld").collect().foreach { e =>
        val (a, b) = (find(e.get(0)), find(e.get(1)))
        if (a != b) { if (ord.lt(a, b)) parent(b) = a else parent(a) = b }
      }
      // map-side lookup through a broadcast variable: a broadcast join
      // would spend one more job collecting its build side
      val roots = pairs.sparkSession.sparkContext.broadcast(
        parent.keys.toSeq.map(k => k -> find(k)).toMap)
      labels.map { r =>
          Row(r.get(0), roots.value.getOrElse(r.get(1), r.get(1)))
        }(Encoders.row(labels.schema))
        .toDF("id", "component")
    }
  }

  /** Quality-aware duplicate-cluster resolution: given a near-dup pair
    * relation and a per-doc score, keep each cluster's HIGHEST-scoring
    * member (ties → smallest id) — what production curation actually does
    * (min-id keeps an arbitrary member; a quality-aware pass keeps the
    * best copy of the boilerplate family). Output: one row per duplicate
    * cluster (component, keep_id, n_members, keep_score).
    *
    * Scale shape: [[connectedComponents]] for the transitive closure, one
    * id-keyed score join, one component-keyed aggregate (map-side
    * combined). `scoreCol` must be deterministic/rounded for
    * cross-engine argmax stability.
    *
    * The argmax is a plain `max` over a packed long, not
    * `max_by(id, struct(score, -id))` — a struct ordering buffer is not
    * hash-aggregable, so max_by would demote the whole per-component
    * pass to SortAggregateExec and externally sort every (doc, score)
    * row (the tc6 lesson, [[graft.ops.Similarity.semanticContamination]]).
    * Packing contract (raise_error-guarded): score is 4dp-rounded with
    * |score| < 104 (quality/cosine domains), ids in [0, 2⁴²) — 4.4e12
    * ids, ample for any per-corpus doc-id space this engine assigns.
    */
  def resolveClustersByScore(pairs: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val idMask = (1L << 42) - 1
    val scoreKey = round(col(scoreCol) * 10000).cast("long") + (1L << 20)
    val pk = when(
        scoreKey.between(0L, (1L << 21) - 1) &&
          col(idCol).between(0L, idMask),
        scoreKey * (idMask + 1) + (lit(idMask) - col(idCol).cast("long")))
      .otherwise(raise_error(concat(
        lit(s"resolveClustersByScore: $scoreCol/$idCol outside the " +
          "packed-argmax domain (|score| < 104 at 4dp, 0 <= id < 2^42): "),
        col(scoreCol).cast("string"), lit("/"), col(idCol).cast("string"))))
    connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
      .join(scores, Seq(idCol))
      .groupBy(col("component"))
      .agg(
        max(pk).as("pk"),
        count(lit(1)).as("n_members"),
        max(col(scoreCol)).as("keep_score"))
      .select(col("component"),
        (lit(idMask) - col("pk").bitwiseAND(idMask)).as("keep_id"),
        col("n_members"), col("keep_score"))
  }

  /** Benchmark decontamination report: for each training doc sharing at
    * least one word n-gram with the held-out benchmark set, the count of
    * distinct shared grams. The benchmark gram set is SMALL by nature (eval
    * suites are thousands of docs, not billions) → built distinct and
    * broadcast, so the train-side gram relation joins map-side — no shuffle
    * keyed on the (skew-prone) gram value anywhere; the only shuffle is the
    * per-doc count aggregate, doc-keyed and partial-aggregated. This is the
    * standard n-gram-overlap decontamination pass run before training.
    */
  def contaminationReport(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val benchGrams = broadcast(
      docShingles(bench, idCol, textCol, n).select(col("shingle")).distinct())
    docShingles(train, idCol, textCol, n)
      .join(benchGrams, "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Exact-substring decontamination report — the span-level upgrade of
    * [[contaminationReport]]: instead of ANY shared n-gram (which flags
    * idiom-level overlap), a training doc is reported only for sharing a
    * full `spanTokens`-token VERBATIM window with the benchmark set (the
    * contiguous-overlap criterion modern eval hygiene uses). Output:
    * (doc, n_shared_spans, n_covered_tokens) where coverage counts the
    * distinct training-doc token indices under any shared window —
    * pure window arithmetic, fully oracle-replayable.
    *
    * Scale shape mirrors [[spanDedup]]: rolling windows from one
    * row-local [[wordGrams]] pass per side; the benchmark window-key set
    * is distinct + size-gated (counted broadcast under
    * `broadcastMaxSpans`, shuffled left_semi past it — bench suites are
    * small, but the gate keeps the op safe when "bench" is itself a
    * corpus); the train side joins map-side in the broadcast regime.
    * `hashKeys` narrows the key to 8 bytes at scale; raw strings replay
    * in DuckDB.
    */
  def spanContaminationReport(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, spanTokens: Int,
      broadcastMaxSpans: Long = 100000L, hashKeys: Boolean = true)
  : DataFrame = {
    val L = spanTokens
    def windows(df: DataFrame): DataFrame = {
      val ws = split(col(textCol), " ")
      // hashKeys: fused GramHashes, element-exact to hashing the gram
      // strings — see [[spanDedup]] (same shape, same r16 rationale)
      val gramArr =
        if (hashKeys) when(size(ws) >= L, graft.functions.GramHashes(ws, L))
          .otherwise(array().cast("array<bigint>"))
        else when(size(ws) >= L, wordGrams(ws, L))
          .otherwise(array().cast("array<string>"))
      df.select(col(idCol), posexplode(gramArr).as(Seq("pos", "key")))
    }
    val benchKeys = windows(bench).select(col("key")).distinct()
    val probe = if (benchKeys.count() <= broadcastMaxSpans)
      broadcast(benchKeys)
    else benchKeys
    // hits feeds BOTH aggregates below → persist (spillable) so the
    // train side is windowed and joined once, as with lineDedup's lines
    val hits = windows(train).join(probe, Seq("key"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val covered = hits
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (L - 1))).as("i"))
      .distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_covered_tokens"))
    hits.groupBy(col(idCol)).agg(count(lit(1)).as("n_shared_spans"))
      .join(covered, Seq(idCol))
  }

  /** The cleaned corpus: training docs with NO benchmark n-gram overlap
    * (all columns preserved). Contaminated ids come from
    * [[contaminationReport]]; the removal is a doc-id-keyed left anti join.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    train.join(
      contaminationReport(train, bench, idCol, textCol, n).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** Span-level decontamination removal — the doc drop that follows
    * [[spanContaminationReport]]: training docs sharing NO verbatim
    * `spanTokens`-token window with the benchmark set survive with all
    * columns. Same id-keyed anti join as [[decontaminate]]; the span
    * criterion (contiguous leakage, not idiom-level gram overlap) is the
    * one modern eval hygiene drops documents on.
    */
  def spanDecontaminate(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, spanTokens: Int,
      broadcastMaxSpans: Long = 100000L, hashKeys: Boolean = true)
  : DataFrame =
    train.join(
      spanContaminationReport(train, bench, idCol, textCol, spanTokens,
        broadcastMaxSpans, hashKeys).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** Embedding-cosine near-dup: rows whose embedding cosine ≥ threshold are
    * duplicates; each duplicate maps to its smallest near-duplicate id as
    * representative (one-pass min-neighbor contraction — the id to keep is
    * any id NOT appearing in doc_id). Pair generation is the bucketed
    * [[Similarity.thresholdPairs]] (hyperplane-LSH candidates + exact
    * verification — no cross join at any scale); `dim` = embedding length.
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int): DataFrame =
    Similarity.thresholdPairs(df, idCol, vecCol, threshold, dim)
      .groupBy(col("id_b").as("doc_id"))
      .agg(min(col("id_a")).as("rep_id"), count(lit(1)).as("n_near_dups"))

  /** SemDeDup (Abbas et al. 2023): semantic deduplication over an embedding
    * column — cluster the corpus with deterministic k-means, mine exact
    * cosine pairs WITHIN each cluster, and keep one representative per
    * near-dup group (the smallest id; any row with a smaller-id in-cluster
    * neighbor at ≥ `threshold` is dropped). Output: (id, cluster, kept) for
    * every input row — the audit relation a curation run persists before
    * physically filtering.
    *
    * Scale shape: clustering is [[Similarity.kmeansAssign]] (row-local
    * literal argmax at small k·dim, broadcast centroid relation past the
    * literal budget); pair mining is [[Similarity.clusteredThresholdPairs]]
    * — an equi-join on the cluster id, cost Σ|cluster|², REUSING the IVF
    * partitioning instead of hashing fresh LSH signatures (exactly why
    * SemDeDup clusters first: the cluster IS the candidate block). The
    * keep-mask join is id-keyed. Nothing is quadratic beyond the
    * within-cluster term, which nlist controls (k ≈ n/avg_cluster bounds
    * per-task pair work); cross-cluster near-dups are never examined — the
    * standard partitioned-ANN recall trade, accepted by the method itself.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, threshold: Double): DataFrame = {
    val assigned = Similarity.kmeansAssign(df, idCol, vecCol, k, iters)
    val withVec = df.select(col(idCol), col(vecCol)).join(assigned, Seq(idCol))
    val dropped = Similarity
      .clusteredThresholdPairs(withVec, idCol, vecCol, "cluster", threshold)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("dropped", lit(true))
    assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(!col("dropped"), lit(true)).as("kept"))
  }

  /** SimHash near-dup pairs: 64-bit fingerprints banded into four 16-bit
    * chunks; docs sharing any chunk are candidates (pigeonhole: complete for
    * Hamming distance ≤ 3), verified with an exact popcount of the XOR.
    * Pairs are emitted in-task from the collected (chunk_idx, chunk)
    * bucket — one groupBy on the bucket key, the same shape as
    * [[lshCandidatePairs]], replacing the earlier two-sided self-join
    * (whose pair emission was quadratic in bucket size with no bound).
    * `maxBucket` caps degenerate buckets: a near-dup-heavy corpus
    * concentrates fingerprints into hot 16-bit chunks, and an over-cap
    * bucket would alone emit |bucket|² pairs — it is dropped instead,
    * trading recall on mass-duplicated boilerplate (which exact/line dedup
    * removes first) for a hard cost bound, mirroring [[lshCandidatePairs]]
    * and [[ngramJaccardPairs]].
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // fingerprints are consumed once (the bucket groupBy) → no barrier;
    // simhash64 is row-local, so the only shuffle is the bucket key
    val chunked = simhash64(df, idCol, textCol)
      .select(col(idCol), col("simhash"),
        posexplode(array((0 until 4).map(j =>
          shiftright(col("simhash"), j * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("chunk_idx", "chunk")))
    chunked.groupBy(col("chunk_idx"), col("chunk"))
      .agg(graft.functions.BoundedCollect(
          struct(col(idCol).as("id"), col("simhash").as("fp")), maxBucket)
        .as("docs"))
      .filter(size(col("docs")) > 1 && size(col("docs")) <= maxBucket)
      .select(explode(expr(
        "filter(flatten(transform(docs, a -> transform(docs, " +
          "b -> struct(a.id AS id_a, a.fp AS fp_a, " +
          "b.id AS id_b, b.fp AS fp_b)))), " +
          "p -> p.id_a < p.id_b)")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        bit_count(col("p.fp_a").bitwiseXOR(col("p.fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** k-core of the dup-candidate graph: the maximal subgraph in which
    * every node keeps ≥ k neighbors — the standard "dense template family
    * vs incidental overlap" separator (a node surviving the 2-core sits in
    * real duplicate structure; pendant nodes hanging off one hot shingle
    * peel away). Computed by the classic peel: drop every node whose
    * degree among the still-alive set is < k, repeat to fixpoint — the
    * result is ORDER-INDEPENDENT (peeling is confluent), so no
    * tie-breaking is needed for determinism.
    *
    * Scale shape: DELTA peeling — full degrees are aggregated ONCE, then
    * each round subtracts only the removed FRONTIER's incident edges
    * (edges ⋈ frontier, a broadcast-sized join once peeling starts) from
    * the node-sized degree relation. Per-round shuffle work tracks the
    * frontier, not the surviving graph — the naive form (recompute
    * degrees among alive every round: two membership joins + a full
    * degree aggregate over all surviving edges) re-shuffles O(E) per
    * round and measured 2.3× slower at 10× scale. Each edge f–x is
    * subtracted exactly once (the round f leaves), so the maintained
    * degree equals the naive alive-degree at every round — confluence
    * keeps the result identical. Rounds are bounded by the peel depth,
    * with the round's degree relation lazily checkpointed — the
    * connectedComponents loop discipline. When `maxIters` rounds still
    * leave nodes below k it throws `IllegalStateException`, as
    * connectedComponents does, rather than return a non-core.
    *
    * Returns (node, deg) for surviving nodes, deg = within-core degree.
    */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int,
      maxIters: Int = 50): DataFrame = {
    val und = pairs.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val cached = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one full-degree aggregate — the only all-edges shuffle in the op
      var deg = cached.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("node"), col("deg"))
        .localCheckpoint(true)
      // LOOP-WIDTH the cached edge relation (r15, the connectedComponents
      // rationale): the degree job above materialized the cache, the count
      // is a cached scan, and the peel rounds re-join edges up to maxIters
      // times — at inherited width that is 64+ map tasks per round of pure
      // overhead on a KB-scale graph.
      val edges = cached.coalesce(loopParts(cached.count(), 32))
      // the frontier leaves this round; referenced twice (emptiness probe
      // + decrement join) — eager checkpoint of a node-sized filter
      def frontierOf(d: DataFrame) =
        d.filter(col("deg") < k).localCheckpoint(true)
      var frontier = frontierOf(deg)
      var iters = 0
      while (!frontier.isEmpty) {
        if (iters == maxIters) throw new IllegalStateException(
          s"kCore did not converge: nodes below degree $k left after " +
            s"$iters rounds (maxIters = $maxIters)")
        val dec = edges
          .join(frontier.select(col("node").as("src")), Seq("src"))
          .groupBy(col("dst")).agg(count(lit(1)).as("dec"))
        deg = deg.filter(col("deg") >= k)
          .join(dec.select(col("dst").as("node"), col("dec")),
            Seq("node"), "left")
          .select(col("node"),
            (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"))
          .localCheckpoint(false)
        frontier = frontierOf(deg)
        iters += 1
      }
      // an empty frontier: every row left is in the core
      deg.localCheckpoint(true)
    } finally cached.unpersist()
  }

  /** Synchronous label propagation over the dup-candidate graph — the
    * community detector that groups boilerplate FAMILIES (templates that
    * share phrasing without pairwise-exceeding a dedup threshold), where
    * connectedComponents merges anything touching and PageRank only ranks.
    * Classic LPA is run-order-dependent; this is the deterministic
    * synchronous variant: every round, every node adopts the label held by
    * the plurality of its neighbors, ties broken by SMALLEST label, all
    * updates computed from the previous round's labels. Fixed `rounds`
    * (no convergence test) keeps the replay bit-exact — synchronous LPA
    * can 2-cycle on bipartite structure, so "run to convergence" is not
    * well-defined for it anyway.
    *
    * Scale shape: one persisted degree-less edge relation re-joined per
    * round; each round is a label-keyed join + a (dst, label)-keyed count
    * + a dst-keyed packed-long plurality pick — two partial-aggregate
    * HASH shuffles, no window sort, no sort agg. Per-round `localCheckpoint` truncates
    * lineage exactly like [[pageRank]]; the final node-sized result is
    * materialized before the edge cache drops.
    */
  def labelPropagation(pairs: DataFrame, aCol: String, bCol: String,
      rounds: Int = 3): DataFrame = {
    val lpMask = (1L << 41) - 1
    val und = pairs.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val cached = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = cached.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // LOOP-WIDTH the cached edge relation (r15, the connectedComponents
    // rationale): labels-init materialized the cache; coalesce narrows
    // the fixed-round label joins to ~32 MB/task.
    val edges = cached.coalesce(loopParts(cached.count(), 32))
    for (_ <- 1 to rounds) {
      labels = edges
        .join(labels, edges("src") === labels("node"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("c"))
        // plurality pick without a window sort OR a sort agg: highest
        // count, then smallest label, as ONE hash-combinable max over a
        // packed long (a struct max_by buffer would demote this edge-
        // scale pass to SortAggregateExec — the tc6 lesson). Budget:
        // counts in the top 22 bits (plurality count ≤ neighbor degree,
        // and the candidate-pair generators cap bucket sizes well under
        // 4.2M), node-id labels in the low 41 (2.2e12 ids);
        // raise_error-guarded so an out-of-envelope graph fails loudly
        .groupBy(col("dst"))
        .agg(max(when(
            col("c") < (1L << 22) && col("label").between(0L, lpMask),
            col("c") * (lpMask + 1) +
              (lit(lpMask) - col("label").cast("long")))
          .otherwise(raise_error(lit(
            "labelPropagation: count/label outside the packed-plurality " +
              "domain (count < 2^22, 0 <= label < 2^41)")))).as("pk"))
        .select(col("dst").as("node"),
          (lit(lpMask) - col("pk").bitwiseAND(lpMask)).as("label"))
        // LAZY per-round checkpoint (the pageRank convention): round i+1
        // sees a leaf, not i nested join+agg rounds
        .localCheckpoint(false)
    }
    // every node in the edge relation has degree ≥ 1, so each round
    // relabels every node — no left-join backfill needed
    val out = labels.localCheckpoint(true)
    cached.unpersist()
    out
  }

  /** Corpus-level overlap estimation: MinHash-estimated Jaccard between two
    * corpus slices' k-shingle SETS, verified in-entry against the exact
    * set Jaccard. The scale path is the MinHash-union identity — a slice's
    * signature is the COMPONENT-WISE MIN of its documents' signatures
    * (min over a set union = min of the per-set mins), so each corpus is
    * sketched independently in one embarrassingly-parallel pass + one
    * numHashes-cell aggregate, and two sketches compare in O(numHashes)
    * with the corpora never joined — the cross-dump overlap audit (did
    * crawl N re-collect crawl N−1?) at 100 TB. The exact side
    * (slice-distinct shingles → one gram-keyed countDistinct) is the
    * in-entry verification baseline only: it shuffles the gram relation
    * and would be the thing the sketch replaces in production.
    *
    * `sliceOf` maps the id column to slice 0 or 1 ROW-LOCALLY (so the
    * slice tag re-derives after the signature pass with no join-back
    * shuffle); the output is one row: shingle/intersection/union counts,
    * exact Jaccard, MinHash estimate, |error|, and an `equal` verdict at
    * ±`tol` (std of the estimator is sqrt(J(1−J)/numHashes) — ±0.15 at
    * 128 hashes is >3σ for any J).
    */
  def corpusJaccard(df: DataFrame, idCol: String, textCol: String,
      sliceOf: Column => Column, k: Int = 3, numHashes: Int = 128,
      tol: Double = 0.15): DataFrame = {
    // sketch path: per-doc signatures (row-local) → per-slice min fold
    val sigs = minhashSignatures(df, idCol, textCol, k, numHashes)
      .withColumn("slice", sliceOf(col(idCol)))
    // the 2-row fold is consumed TWICE (slice-0 / slice-1 filters), and
    // the slice predicates push BELOW the aggregate (slice is a grouping
    // key) into the signature scan itself — making the two exchange
    // subtrees non-identical, defeating ReuseExchange, and running the
    // full per-doc signature pass once per reference (the exact
    // multi-reference hazard minhashSignatures' contract warns about).
    // An EAGER checkpoint of the (numSlices)-row fold runs the corpus
    // pass exactly once and hands both filters a 2-row leaf; the
    // materialization cost is the fold itself, which the estimate needs
    // anyway. (barrier() would re-aggregate; persist() would leave a
    // cached relation for the session's lifetime — a leaf is cleaner.)
    val corpusSig = sigs.groupBy(col("slice"))
      .agg(min(col("h0")).as("h0"),
        (1 until numHashes).map(i => min(col(s"h$i")).as(s"h$i")): _*)
      .localCheckpoint(true)
    val a = corpusSig.filter(col("slice") === 0)
      .select((0 until numHashes).map(i => col(s"h$i").as(s"a$i")): _*)
    val b = corpusSig.filter(col("slice") === 1)
      .select((0 until numHashes).map(i => col(s"h$i").as(s"b$i")): _*)
    val matches = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = a.crossJoin(b)
      .select((matches.cast("double") / numHashes).as("minhash_est"))
    // exact baseline: slice-level distinct shingle sets
    val sets = docShingles(df, idCol, textCol, k)
      .select(sliceOf(col(idCol)).as("slice"), col("shingle")).distinct()
    val exact = sets.groupBy(col("shingle"))
      .agg(count(lit(1)).as("ns"))
      .agg(sum(when(col("ns") === 2, 1L).otherwise(0L)).as("n_inter"),
        count(lit(1)).as("n_union"))
    exact.crossJoin(est)
      .select(col("n_inter"), col("n_union"),
        round(col("n_inter").cast("double") / col("n_union"), 4)
          .as("exact_jaccard"),
        round(col("minhash_est"), 4).as("minhash_est"))
      .withColumn("abs_err",
        round(abs(col("minhash_est") - col("exact_jaccard")), 4))
      .withColumn("equal", col("abs_err") <= tol)
  }
}
