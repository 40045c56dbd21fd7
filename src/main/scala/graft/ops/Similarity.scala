package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design: brute-force cosine is the exact baseline — a broadcast of
  * the (small) query set against a linear scan of the corpus, no shuffle
  * until the per-query top-k (tiny). The IVF variant prunes the scan to the
  * nearest centroid's cluster: centroid build is one groupBy, probe is a
  * broadcast join on cluster id — the 100 TB path (scan cost / nlist).
  * All vector math is double-accumulated `zip_with`+`aggregate` — builtin
  * higher-order functions, no UDF (HOFs are CodegenFallback in Spark 4.1 —
  * row-interpreted inside the codegen'd stage — which is why the HOT pair
  * loops use the fused native doGenCode expressions instead).
  */
object Similarity {

  /** Elementwise-double dot product, sequential accumulation (portable
    * builtin form; the hot paths below use the fused native expression).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — fused single-loop native Catalyst expression
    * ([[graft.functions.CosineSimilarity]], whole-stage codegen), bit-equal
    * to the builtin dot/norm chain (same double accumulation order).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Exact brute-force top-k neighbors for each query vector.
    * Queries (small) are broadcast against the corpus; rank is deterministic:
    * rounded similarity desc, then neighbor id. Norms are precomputed once
    * per side (not per pair), so the per-pair work is a single dot product;
    * Spark's WindowGroupLimit pushes the top-k below the shuffle.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("q_vec"), col("c_vec")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Deterministic seeded Gaussian hyperplanes for sign-random-projection
    * LSH — driver-side literals, reproducible across runs/partitions.
    */
  private[ops] def hyperplanes(numBits: Int, dim: Int, seed: Long)
  : Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numBits)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** (rowsPerBand, bands) for hyperplane LSH, tuned so a pair AT `threshold`
    * is missed with probability ≤ `missProb` (pairs above the threshold miss
    * even less often). Per-bit collision probability for cosine sim t is
    * p = 1 − acos(t)/π (Goemans–Williamson); a pair survives a band of r
    * bits with p^r, so recall over b bands is 1 − (1 − p^r)^b. Picks the
    * largest rows-per-band whose required band count fits `maxBits` — fewer
    * false candidates at high thresholds, graceful degradation toward
    * all-candidates at the low thresholds where exactness genuinely needs
    * near-all pairs examined.
    */
  def lshParams(threshold: Double, missProb: Double = 1e-9,
      maxBits: Int = 256): (Int, Int) = {
    val t = math.max(-0.999, math.min(0.999, threshold))
    val p = 1.0 - math.acos(t) / math.Pi
    var best = (1, math.min(maxBits,
      math.max(1, math.ceil(math.log(missProb) / math.log(1 - p)).toInt)))
    for (r <- 2 to 32) {
      val pr = math.pow(p, r)
      val b = math.ceil(math.log(missProb) / math.log(1 - pr))
      if (b >= 1 && b * r <= maxBits) best = (r, b.toInt)
    }
    best
  }

  /** Candidate (id_a, id_b) pairs whose cosine similarity plausibly reaches
    * `threshold`, via sign-random-projection LSH: per row, r·b sign bits
    * (one pass over a literal hyperplane matrix — zero shuffles), banded
    * into b buckets of r bits; docs sharing any (band, bucket) pair up.
    * Cost is Σ|bucket|² on the band shuffle — never a cross join; recall at
    * the threshold is 1 − 1e-9 per pair (see [[lshParams]]) and
    * deterministic for a fixed seed. `dim` must equal the vector length
    * (signatures of malformed shorter/longer vectors go null and those rows
    * drop out of candidacy).
    */
  def cosineCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, seed: Long = 42L): DataFrame = {
    val (r, b) = lshParams(threshold)
    // bits materialized as a real column (referenced b times below —
    // CollapseProject keeps non-cheap multi-referenced projections apart,
    // so the hyperplane pass runs once per row, not once per band); the
    // projection itself is the fused native SignBits expression — one
    // codegen'd loop instead of r·b interpreted HOF folds per row
    val bits = graft.functions.SignBits(col(vecCol),
      hyperplanes(r * b, dim, seed))
    val buckets = transform(sequence(lit(0), lit(b - 1)), j =>
      struct(j.cast("int").as("band"),
        aggregate(slice(col("bits"), j * r + 1, lit(r)), lit(0L),
          (acc, x) => acc * 2 + x).as("bucket")))
    val banded = df.select(col(idCol), col(vecCol))
      .withColumn("bits", bits)
      .select(col(idCol), explode(buckets).as("bb"))
      .select(col(idCol), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    // self-join on the bucket key; both sides shuffle identically →
    // ReuseExchange evaluates the signature pipeline once
    val a = banded.select(col("band"), col("bucket"), col(idCol).as("id_a"))
    val bside = banded.select(col("band"), col("bucket"),
      col(idCol).as("id_b"))
    a.join(bside, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Fraction of UNCORRELATED pairs expected to share ≥1 band under
    * [[lshParams]](threshold) (per-bit collision 1/2 for orthogonal
    * vectors) — the pruning-power estimate behind [[thresholdPairs]]'s
    * strategy choice. Near 1.0 the bands pass essentially every pair
    * through as a candidate (with one duplicate per extra shared band), so
    * LSH only adds overhead; well below 1.0 it prunes.
    */
  def lshCandidateRate(threshold: Double): Double = {
    val (r, b) = lshParams(threshold)
    1.0 - math.pow(1.0 - math.pow(0.5, r), b)
  }

  /** All pairs above a cosine threshold — no cross join at any threshold.
    * Strategy auto-selects on [[lshCandidateRate]]:
    *
    *   - '''sparse regime''' (high thresholds, the real near-dup case):
    *     [[lshThresholdPairs]] — hyperplane-LSH candidates + exact
    *     verification; candidate count ≈ true-pair count, near-linear.
    *   - '''dense regime''' (low thresholds, where ANY method must examine
    *     ~all pairs because the candidate set itself is Ω(n²)):
    *     [[gridThresholdPairs]] — exact block-grid decomposition
    *     (1-Bucket-Theta shape): even per-task work, zero candidate
    *     duplication, ~15× cheaper than forcing the bands (measured
    *     t=0.35, 5k×64f: 1.5 s grid vs 15 s LSH vs 1 s raw cross join).
    *
    * Both branches produce identical results (exact verification /
    * exhaustive-within-grid); `dim` is needed only by the LSH branch.
    */
  def thresholdPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, seed: Long = 42L): DataFrame =
    if (lshCandidateRate(threshold) <= 0.5)
      lshThresholdPairs(df, idCol, vecCol, threshold, dim, seed)
    else gridThresholdPairs(df, idCol, vecCol, threshold)

  /** LSH candidate generation ([[cosineCandidatePairs]]) + exact
    * fused-cosine verification — the sparse-regime branch of
    * [[thresholdPairs]].
    */
  def lshThresholdPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, seed: Long = 42L): DataFrame = {
    val base = df.select(col(idCol), col(vecCol))
    val cands = cosineCandidatePairs(base, idCol, vecCol, dim, threshold,
      seed)
    val a = base.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = base.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("sim", cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** Exact all-pairs via grid decomposition (the 1-Bucket-Theta /
    * blocked-theta-join shape from the MapReduce join literature): ids hash
    * into `blocks` blocks, the B(B+1)/2 unordered block pairs form a tiny
    * broadcast relation, and two equi-joins co-partition each block pair
    * into its own task — every unordered vector pair is examined exactly
    * once (diagonal blocks keep the id upper-triangle), work is spread
    * evenly across block-pair keys, and the plan contains only
    * broadcast/shuffle HASH joins. Replication factor is ~B/2 per side —
    * the classic √P trade for even theta-join parallelism. Output order
    * is normalized to id_a < id_b (cosine is argument-symmetric, so the
    * value is bit-identical either way).
    */
  def gridThresholdPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bp = broadcast((for (i <- 0 until blocks; j <- i until blocks)
      yield (i, j)).toDF("ba", "bb"))
    val blk = pmod(xxhash64(col(idCol)), lit(blocks)).cast("int")
    val a = df.select(blk.as("ba"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"))
    val b = df.select(blk.as("bb"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"))
    a.join(bp, Seq("ba"))
      .join(b.join(bp, Seq("bb")), Seq("ba", "bb"))
      .filter(col("ba") =!= col("bb") || col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(col("sim"), 4).as("sim"))
  }

  /** IVF-blocked threshold pairs: exact cosine over pairs sharing a
    * cluster — an equi-join on the cluster id, so cost is Σ|cluster|²
    * (bucket-sized, never a cross join) and the shuffle key is the cluster.
    * The IVF analogue of LSH banding: recall is bounded by the assignment
    * (cross-cluster pairs are never examined — the standard partitioned-ANN
    * trade), fully deterministic given the cluster column, and the right
    * candidate generator when clusters already exist (e.g. from [[ivfTopK]]
    * centroid assignment) because it re-uses that partitioning instead of
    * hashing fresh signatures.
    */
  def clusteredThresholdPairs(df: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, threshold: Double): DataFrame = {
    val a = df.select(col(clusterCol).as("cluster"),
      col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = df.select(col(clusterCol).as("cluster"),
      col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** IVF-style ANN: centroids per cluster (elementwise mean via posexplode —
    * one shuffle keyed by (cluster, position)), queries probe their nearest
    * `nprobe` centroids, search restricted to those clusters' members.
    */
  def centroids(df: DataFrame, clusterCol: String, vecCol: String)
  : DataFrame = {
    val pos = df.select(col(clusterCol).as("cluster"),
      posexplode(col(vecCol)).as(Seq("pos", "v")))
    pos.groupBy(col("cluster"), col("pos"))
      .agg(avg(col("v")).as("mv"))
      .groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mv"))))
        .as("pairs"))
      .select(col("cluster"),
        expr("transform(pairs, p -> p.mv)").as("centroid"))
  }

  /** Deterministic seeded k-means (Lloyd's) over an embedding column —
    * makes the IVF stack self-contained on unlabeled corpora: the returned
    * (id, cluster) assignment is exactly what [[ivfTopK]] /
    * [[clusteredThresholdPairs]] consume as their cluster column.
    *
    * Determinism and scale shape:
    *   - init = the vectors of the k smallest ids (no RNG — reproducible
    *     and oracle-replicable), cluster index = rank by id;
    *   - assignment at small k·dim is a ROW-LOCAL fold over the k centroids
    *     embedded as a literal array (argmax by cosine, rounded to 6 so
    *     ties break the same under any summation order; strict `>` +
    *     ascending cluster order = lowest cluster wins ties). Zero shuffle,
    *     no window, no join — the corpus is scanned once per iteration;
    *   - past `literalBudget` total literal values (k·dim — codegen and
    *     analysis degrade with plan size well before the real-IVF
    *     nlist=4096 × dim=64 ≈ 262k literals), assignment switches to a
    *     broadcast centroid RELATION + id-keyed argmax aggregate with the
    *     SAME rounded tie-break (highest sim, then lowest cluster — the
    *     (sim·10⁶ + 10⁶) ≪ 21 | (2²¹−1−cluster) packed long, so the agg
    *     is a plain hash-combinable `max`; a struct max_by here would
    *     demote to SortAggregateExec and sort the whole k-way fan-out,
    *     see [[semanticContamination]]). The fan-out is projected down to
    *     (id, packed) BEFORE the aggregate so no vector rides it ×k; the
    *     vectors reattach via one id-keyed join (a second corpus scan per
    *     iteration — cheaper than externally sorting k duplicated copies
    *     of every vector). Plan size is O(1) in k;
    *   - recompute reuses the [[centroids]] shuffle (posexplode keyed by
    *     (cluster, pos) with map-side combine), then pulls k·dim doubles
    *     to the driver for the next iteration — the MLlib pattern; empty
    *     clusters simply drop out.
    *
    * Both paths are assignment-identical (SimilaritySpec forces the
    * relation path and asserts equality; the sim5 oracle covers the
    * literal path).
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, literalBudget: Int = 10000): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol), col(vecCol))

    def assignCol(cents: Seq[(Int, Seq[Double])]): Column = {
      val centArr = array(cents.sortBy(_._1).map { case (cid, v) =>
        struct(lit(cid).as("cluster"), typedlit(v).as("centroid"))
      }: _*)
      aggregate(centArr,
        struct(lit(-2.0).as("sim"), lit(-1).as("cluster")),
        (acc, c) => {
          val s = round(cosine(col(vecCol), c.getField("centroid")), 6)
          when(s > acc.getField("sim"),
            struct(s.as("sim"), c.getField("cluster").as("cluster")))
            .otherwise(acc)
        }).getField("cluster")
    }

    // (id, vec, cluster) under the current centroids, path picked on size
    def assigned(cents: Seq[(Int, Seq[Double])]): DataFrame =
      if (cents.iterator.map(_._2.size).sum <= literalBudget)
        base.withColumn("cluster", assignCol(cents))
      else {
        val centsDf = broadcast(cents.toDF("cluster", "centroid"))
        val cMask = (1L << 21) - 1
        val simKey = round(round(cosine(col(vecCol), col("centroid")), 6)
          * 1000000).cast("long") + 1000000L
        val pick = base.crossJoin(centsDf)
          .select(col(idCol), (simKey * (cMask + 1) +
            (lit(cMask) - col("cluster").cast("long"))).as("pk"))
          .groupBy(col(idCol))
          .agg(max(col("pk")).as("pk"))
          .select(col(idCol),
            (lit(cMask) - col("pk").bitwiseAND(cMask)).cast("int")
              .as("cluster"))
        base.join(pick, Seq(idCol))
      }

    var cents: Seq[(Int, Seq[Double])] = base
      .orderBy(col(idCol)).limit(k)
      .select(transform(col(vecCol), x => x.cast("double")))
      .collect().zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Double](0) }.toSeq
    for (_ <- 1 to iters) {
      cents = centroids(assigned(cents), "cluster", vecCol)
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq
    }
    assigned(cents).select(col(idCol), col("cluster"))
  }

  // ---- Product quantization (ADC) — the compressed-ANN path --------------
  // Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
  // Search" (TPAMI 2011): split D dims into m subspaces, k-means each
  // subspace to ksub centroids, store each vector as m byte-ish codes
  // (m·log2(ksub) bits vs 4·D bytes), score queries against codes with
  // asymmetric distances, exact-rerank a shortlist. At 100 TB this is the
  // difference between scanning 64-dim floats (256 B/row) and scanning
  // 8-byte codes — memory-bandwidth-bound either way, so ~32× faster —
  // with the full vectors only fetched (by id join) for the shortlist.

  /** Squared L2 distance between `vec[off, off+dsub)` and a centroid. */
  private def subDist(vec: Column, off: Int, dsub: Int, centroid: Column)
  : Column =
    aggregate(zip_with(slice(vec, off + 1, dsub), centroid,
        (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
      lit(0.0), (a, v) => a + v)

  /** Row-local PQ encoding: per subspace, argmin-L2 over the literal
    * sub-codebook (a fold, like [[kmeansAssign]]'s assignment — zero
    * shuffles); ties break to the lowest code.
    *
    * Literal size is BOUNDED by construction, unlike the k-means argmax it
    * resembles: the full codebook is m·ksub·dsub = dim·ksub values, and
    * PQ's design point is small sub-codebooks (ksub ≤ 256 → ≤ 16k doubles
    * at dim 64 — inside the same plan-size budget [[kmeansAssign]] gates
    * on, and independent of corpus size or nlist). Large-nlist growth
    * lives entirely in the COARSE quantizer, which is exactly the path
    * [[kmeansAssign]]'s broadcast-relation mode covers.
    */
  private def codesExpr(books: Seq[Seq[Seq[Double]]], vecCol: String,
      dsub: Int): Column =
    array(books.indices.map { mi =>
      val lits = books(mi).zipWithIndex.map { case (c, ci) =>
        struct(lit(ci).as("ci"), typedlit(c).as("cent"))
      }
      aggregate(array(lits: _*),
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("ci")),
        (acc, s) => {
          val d = subDist(col(vecCol), mi * dsub, dsub, s.getField("cent"))
          when(d < acc.getField("d"),
            struct(d.as("d"), s.getField("ci").as("ci")))
            .otherwise(acc)
        }).getField("ci")
    }: _*)

  /** Int8 scalar quantization (SQ8) of the embedding column — the memory
    * lever that shrinks a float32 ANN corpus 4× (FAISS's SQ8 layout): each
    * dimension is affinely mapped to [0, 255] by its corpus-wide min/max.
    *
    * Two phases, the classic shape: (1) a stats pass — posexplode to
    * (dim, value) and a per-dim min/max aggregate (map-side combined;
    * d ≈ 64–4096 output rows, a scalar round-trip like the k-means
    * centroid pull); (2) a ROW-LOCAL encode — the d-entry min/max arrays
    * ride into the plan as literals and every vector quantizes in place
    * with one `transform`, zero shuffles, inherited partitioning. Codes
    * use floor (not round) so the integer output replays bit-exact in any
    * IEEE-double engine; a constant dimension (max == min) codes to 0 and
    * exact-max values clamp into the top bucket.
    */
  def scalarQuantize(df: DataFrame, idCol: String, vecCol: String)
  : DataFrame =
    df.select(col(idCol),
      sqEncode(col(vecCol), quantStats(df, vecCol)).as("codes"))

  /** The SQ8 stats pass: corpus-wide per-dimension (min, max) — d rows
    * pulled to the driver (the k-means-centroid-style scalar round-trip)
    * so the encode/decode expressions are pure row-local literals.
    */
  def quantStats(df: DataFrame, vecCol: String): Array[(Double, Double)] =
    df.select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .orderBy(col("dim"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))

  /** Row-local SQ8 encode against literal stats (see [[scalarQuantize]]). */
  def sqEncode(vec: Column, stats: Array[(Double, Double)]): Column = {
    val mnLit = typedlit(stats.map(_._1).toSeq)
    val mxLit = typedlit(stats.map(_._2).toSeq)
    transform(vec, (x, i) => {
      val mn = element_at(mnLit, i + 1)
      val mx = element_at(mxLit, i + 1)
      when(mx === mn, lit(0L)).otherwise(
        least(floor((x.cast("double") - mn) * lit(255.0) / (mx - mn))
          .cast("long"), lit(255L)))
    })
  }

  /** Row-local SQ8 decode — midpoint reconstruction
    * x̂ = mn + (code + 0.5)·(mx − mn)/255 (the bucket-center rule that
    * halves the worst-case quantization error vs the left edge); a
    * constant dimension reconstructs to its constant.
    */
  def sqDecode(codes: Column, stats: Array[(Double, Double)]): Column = {
    val mnLit = typedlit(stats.map(_._1).toSeq)
    val mxLit = typedlit(stats.map(_._2).toSeq)
    transform(codes, (c, i) => {
      val mn = element_at(mnLit, i + 1)
      val mx = element_at(mxLit, i + 1)
      when(mx === mn, mn).otherwise(
        mn + (c.cast("double") + lit(0.5)) * (mx - mn) / lit(255.0))
    })
  }

  /** Train PQ sub-codebooks: deterministic init (subvectors of the ksub
    * smallest ids), then `iters` Lloyd's rounds where ALL m subspaces are
    * assigned in one row-local projection and recomputed in ONE
    * (subspace, code, position) shuffle per round — m·ksub·dsub doubles
    * pulled to the driver between rounds (tiny). A code that empties
    * keeps its previous centroid.
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String, m: Int,
      ksub: Int, iters: Int): Seq[Seq[Seq[Double]]] = {
    val base = df.select(col(idCol), col(vecCol))
    val dim = base.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val initRows = base.orderBy(col(idCol)).limit(ksub)
      .select(transform(col(vecCol), x => x.cast("double")))
      .collect().map(_.getSeq[Double](0).toIndexedSeq)
    var books: Seq[Seq[Seq[Double]]] = (0 until m).map(mi =>
      initRows.toSeq.map(r => r.slice(mi * dsub, (mi + 1) * dsub).toSeq))
    for (_ <- 1 to iters) {
      val assigned = base.select(col(vecCol),
        codesExpr(books, vecCol, dsub).as("codes"))
      val stats = assigned
        .select(col("codes"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .select((col("pos") / dsub).cast("int").as("mi"),
          element_at(col("codes"), (col("pos") / dsub).cast("int") + 1)
            .as("ci"),
          pmod(col("pos"), lit(dsub)).cast("int").as("sp"),
          col("v").cast("double").as("v"))
        .groupBy(col("mi"), col("ci"), col("sp"))
        .agg(avg(col("v")).as("c"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3))
        .toMap
      books = (0 until m).map(mi => (0 until ksub).map(ci =>
        (0 until dsub).map(sp =>
          stats.getOrElse((mi, ci, sp), books(mi)(ci)(sp)))))
    }
    books
  }

  /** PQ-encode a corpus: (id, codes) — the compressed representation a
    * 100 TB deployment would persist next to the id.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      books: Seq[Seq[Seq[Double]]]): DataFrame = {
    val dsub = books.head.head.size
    df.select(col(idCol), codesExpr(books, vecCol, dsub).as("codes"))
  }

  /** ADC top-k: queries score the CODES (sum of per-subspace L2 to the
    * coded centroid — codebooks are literals, so scoring is row-local on
    * the compressed relation), a per-query shortlist survives, and ONLY
    * the shortlist joins back to the corpus by id for exact-cosine
    * rerank — full vectors never stream through the scan. Input should
    * be L2-normalized if the ground-truth metric is cosine.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, books: Seq[Seq[Seq[Double]]], k: Int,
      shortlist: Int = 50): DataFrame = {
    val m = books.size
    val dsub = books.head.head.size
    val cb = typedlit(books)
    val enc = pqEncode(corpus, idCol, vecCol, books)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val adist = (0 until m).map { mi =>
      subDist(col("q_vec"), mi * dsub, dsub,
        element_at(element_at(cb, mi + 1),
          element_at(col("codes"), mi + 1) + 1))
    }.reduce(_ + _)
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    val short = enc.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", adist)
      .withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= shortlist)
      .select(col("query_id"), col("q_vec"), col("neighbor_id"))
    val vecsById = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    short.join(vecsById, Seq("neighbor_id"))
      .withColumn("sim", round(cosine(col("q_vec"), col("c_vec")), 4))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** The composed IVF-ADC stack (the standard billion-scale ANN design):
    * coarse pruning by trained clusters (scan cost ÷ nlist) × compressed
    * PQ-code scoring (bytes scanned ÷ ~32) × exact rerank of the
    * shortlist fetched by id. Queries probe their `nprobe` nearest
    * centroids (broadcast), ADC runs only over the probed clusters'
    * CODES, and full vectors are touched only for the shortlist join.
    * Builds the three index relations in-plan and delegates to
    * [[ivfPqProbe]] — a deployment persists those relations instead (the
    * `sim9` catalog entry round-trips them through a cluster-partitioned
    * lake table).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, clusterCol: String, books: Seq[Seq[Seq[Double]]],
      k: Int, nprobe: Int = 2, shortlist: Int = 50): DataFrame = {
    val cents = centroids(corpus, clusterCol, vecCol)
    val index = pqEncode(corpus, idCol, vecCol, books)
      .join(corpus.select(col(idCol), col(clusterCol).as("cluster")),
        Seq(idCol))
      .select(col("cluster"), col(idCol).as("neighbor_id"), col("codes"))
    val vecs = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"))
    ivfPqProbe(index, cents, vecs, queries, idCol, vecCol, books, k,
      nprobe, shortlist)
  }

  /** IVF-ADC probe against MATERIALIZED index relations — the serving
    * path of a persisted ANN index:
    *
    *   - `index`: (cluster, neighbor_id, codes) — at scale a parquet
    *     table PARTITIONED BY cluster, so the broadcast join on the
    *     assigned clusters dynamically prunes unprobed partitions (zero
    *     bytes read for them — the [[graft.etl.Load.partitionedParquet]]
    *     layout, locked by SimilaritySpec's pruning assert);
    *   - `cents`: (cluster, centroid) — nlist rows, broadcast;
    *   - `vecs`: (neighbor_id, c_vec) — full vectors, touched ONLY by the
    *     shortlist id join for exact rerank.
    *
    * Probe = assign queries to their `nprobe` nearest centroids
    * (broadcast), ADC-score the probed clusters' codes row-locally
    * (codebooks are literals), keep a per-query shortlist, exact-rerank it.
    */
  def ivfPqProbe(index: DataFrame, cents: DataFrame, vecs: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      books: Seq[Seq[Seq[Double]]], k: Int, nprobe: Int = 2,
      shortlist: Int = 50): DataFrame = {
    val m = books.size
    val dsub = books.head.head.size
    val cb = typedlit(books)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("cluster"))
    val assigned = q.crossJoin(broadcast(cents))
      .withColumn("cdist", round(cosine(col("q_vec"), col("centroid")), 6))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("q_vec"), col("cluster"))
    val adist = (0 until m).map { mi =>
      subDist(col("q_vec"), mi * dsub, dsub,
        element_at(element_at(cb, mi + 1),
          element_at(col("codes"), mi + 1) + 1))
    }.reduce(_ + _)
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("adist"), col("neighbor_id"))
    val short = index.join(broadcast(assigned), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", adist)
      .withColumn("srank", row_number().over(ws))
      .filter(col("srank") <= shortlist)
      .select(col("query_id"), col("q_vec"), col("neighbor_id"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    short.join(vecs, Seq("neighbor_id"))
      .withColumn("sim", round(cosine(col("q_vec"), col("c_vec")), 4))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, clusterCol: String, k: Int, nprobe: Int = 1)
  : DataFrame = {
    val cents = centroids(corpus, clusterCol, vecCol)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"))
    // assign each query to its nprobe nearest centroids (broadcast: nlist
    // rows × few queries)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("cluster"))
    val assigned = q.crossJoin(broadcast(cents))
      .withColumn("cdist", round(cosine(col("q_vec"), col("centroid")), 6))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("q_vec"), col("cluster"))
    // probe only the selected clusters
    val c = corpus.select(col(clusterCol).as("cluster"),
      col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(assigned), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cosine(col("q_vec"), col("c_vec")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"),
        col("cluster"))
  }

  /** Per-cluster centroid drift between two embedding snapshots — the
    * staleness monitor that tells an IVF/PQ serving layer when to
    * re-train its coarse quantizer (centroids that moved invalidate the
    * cluster routing; production vector stores re-index past a drift
    * threshold). L2 distance between each cluster's before/after mean
    * vector.
    *
    * Determinism + scale shape: both sides are one [[centroids]] pass
    * (posexplode keyed by (cluster, pos), map-side combined) and the join
    * is on the tiny cluster relation. The distance is computed in INTEGER
    * micro-units — each mean rounded once to 1e-6, differenced, squared
    * and summed as exact longs in one row-local array fold — so the
    * result replays bit-for-bit in DuckDB regardless of either engine's
    * float summation order.
    */
  def centroidDrift(before: DataFrame, after: DataFrame,
      clusterCol: String, vecCol: String): DataFrame = {
    val ca = centroids(before, clusterCol, vecCol)
      .withColumnRenamed("centroid", "c_before")
    val cb = centroids(after, clusterCol, vecCol)
      .withColumnRenamed("centroid", "c_after")
    val dMicro = zip_with(col("c_before"), col("c_after"),
      (x, y) => round((round(x, 6) - round(y, 6)) * 1e6).cast("long"))
    val sumSq = aggregate(dMicro, lit(0L), (acc, v) => acc + v * v)
    ca.join(cb, Seq("cluster"))
      .select(col("cluster"),
        round(sqrt(sumSq.cast("double")) / 1e6, 4).as("l2_drift"))
  }

  /** k-NN label propagation: classify each query vector by the MAJORITY
    * label among its k nearest (cosine) labeled neighbors — the standard
    * semi-supervised way a small hand-labeled quality/domain set is spread
    * over an unlabeled corpus (fasttext-style label spreading, but purely
    * geometric). Ties → smallest label, so the vote is deterministic and
    * fully oracle-replayable; output is integer-only (query_id,
    * pred_label as long, n_votes).
    *
    * Scale shape: neighbor search is pluggable — this form rides
    * [[bruteForceTopK]] (broadcast queries × one corpus scan, per-query
    * distributed top-k) for the exact baseline; at corpus scale swap the
    * neighbor relation for [[ivfTopK]]'s cluster-pruned probe (same
    * (query_id, neighbor_id, sim) shape — the vote aggregate is
    * unchanged). The label join is id-keyed on the k·|queries| neighbor
    * relation, NOT the corpus; both aggregates are map-side combinable.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val nbrs = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("nbr_label")), Seq("neighbor_id"))
    // plurality pick as a packed-long hash max (votes ≤ k < 2¹⁵ by
    // construction, labels in [0, 2⁴⁸)) — struct max_by would demote
    // this pass to SortAggregateExec (the tc6 lesson)
    val lMask = (1L << 48) - 1
    nbrs
      .groupBy(col("query_id"), col("nbr_label"))
      .agg(count(lit(1)).as("n_votes"))
      .groupBy(col("query_id"))
      .agg(
        max(col("n_votes") * (lMask + 1) +
          (lit(lMask) - col("nbr_label").cast("long"))).as("pk"),
        max(col("n_votes")).as("n_votes"))
      .select(col("query_id"),
        (lit(lMask) - col("pk").bitwiseAND(lMask)).as("pred_label"),
        col("n_votes"))
  }

  /** The derandomized SRP hyperplane table: plane j's ±1 sign for
    * dimension d is bit d of `SrpSigns(j)` (+1 when set). 128 planes x
    * 64 dims, generated from a fixed seed and SEED-SEARCHED for low
    * pairwise correlation (max |h_i . h_j| = 28, max bias 18) -- see
    * [[srpCandidatePairs]] for why independence, not just determinism,
    * is the load-bearing property. The SQL oracle embeds the identical
    * constants, so the candidate set replays bit-for-bit cross-engine.
    */
  val SrpSigns: Array[Long] = Array(
    8662188719499160259L, -4353858177683018779L, 2598320418218638666L, 798157634096183985L,
    -917402836281507927L, -8573822588641797642L, -5321695084132473288L, 2575011224247964891L,
    -337307038369704444L, 610875658412463198L, 1118191882204332296L, 4264319363445084007L,
    -4936832465116258083L, -8742476688671125996L, 3780272573231542655L, -7506322039816298176L,
    2179449586745484792L, -4238178203237696404L, -2072140391354278985L, 6300176219860595955L,
    3798695383556734387L, 7230010512846563413L, -7436681793523565175L, 4548290608728524424L,
    -5091773892753074686L, 7680076269836859110L, -6221649150996639370L, 1107781761454125334L,
    951178407954645370L, 3318389318148680522L, 2485525089282576719L, 2723201397606581893L,
    -3762000149197409686L, 6943577248329738020L, 1588501011835015004L, -8647218131037850074L,
    8092228408170024482L, -3525652300172243032L, 3832137978988617962L, 7976198333057047073L,
    6778658401495113372L, 6099309317312063435L, -3342137225355652990L, 8893068527085053031L,
    4858806668606706231L, 5411781828036313372L, -7897081444309697283L, 8888083698607137603L,
    -6442379387067020055L, 5836117722786656947L, 3932043701783186428L, -4625284494873108976L,
    1758098567137225126L, -4196979954506566786L, -1910529837107607163L, -8118668342616531036L,
    -1181286883289845075L, -2982725244219111515L, 5443272873301836839L, 3201967302902885659L,
    530485473279918343L, -3802048262147946711L, 6912573887799929392L, -792778336253011419L,
    -6095294032748202949L, 5253914635986282347L, 5636913162775944996L, -2965673244356870757L,
    -2123671413043952032L, 2102835994924914836L, 3737328277751973534L, 6159952501495858074L,
    7432809879688336381L, 895204353335774102L, -5275790790083593710L, 4938050692447711575L,
    -2340720887716690090L, -6693845614814978922L, -723583460651060045L, 3709754706851070772L,
    2994817779964610783L, -181815505992725427L, 2801529470595732247L, 1069128636030162772L,
    -7164134026024412591L, -9001388371056589367L, -2575621212530336760L, -341995586912411001L,
    9043611109639802373L, -7550529134718377936L, -2683055959294649644L, 8954466175042803203L,
    -3739157222604705223L, -7263180252977692162L, 9180195807345982188L, -3150933822600599983L,
    453465918878356648L, 9034373415132696507L, -4028048028887170198L, 8667683034820712703L,
    4379985732740320228L, 1785199677706936051L, -7698054652502444128L, 8224340693440739967L,
    -126582662665747691L, 2437633569784012910L, -7984367094903449210L, -7123295589906964992L,
    -1413638375880260250L, -2087142786533170575L, -3893699354030136462L, -983870182256730726L,
    -2462538578176301705L, -5731219047287531623L, -8218155972891302400L, -8143791031063600209L,
    -8976177729474446618L, -5356526022105893228L, -9159877912422859109L, 4186295541279363258L,
    3590319312808147891L, -7110579631193606934L, 5690425687398648745L, -3333908364042314583L,
    6012827673783865245L, 6854334296760908862L, -8805882360246807198L, 6398368236260976470L)

  /** Signed-random-projection LSH (Charikar's simhash for the COSINE
    * metric, over real vectors rather than term sets): each vector gets a
    * `nBits`-bit signature — bit j is the sign of the projection onto
    * hyperplane j — and candidate pairs share at least one of the
    * `nBits/bandBits` signature bands. P[bit match] = 1 − θ/π, so near
    * pairs collide in some band with tunable probability while the far
    * pairs that dominate an all-pairs scan never meet. The hyperplanes
    * are DERANDOMIZED ±1 vectors — sign(j,d) = bit d of [[SrpSigns]](j), a
    * FIXED 128×64 sign table embedded identically in this code and in the
    * SQL oracle — so, unlike seeded-RNG LSH, the exact candidate set
    * replays bit-for-bit in the SQL oracle: LSH machinery with a FULL
    * oracle instead of a recall-floor self-check. The projection fold runs
    * in ascending dimension order on both engines, so even sign(Σ) at a
    * near-zero sum is deterministic cross-engine.
    *
    * An earlier revision derived the signs from an affine formula,
    * sign(j,d) = [(73j + 179d) mod 97 < 48]. The 30× scale rehearsal
    * exposed that family as DEGENERATE: the patterns are shifts of one
    * residue indicator, so hyperplanes within a band are heavily
    * correlated (mean |h_i·h_j| ≈ 28 of 64; some pairs identical) and an
    * 8-bit band carried ~3 effective bits — 21% of every corpus landed in
    * ONE bucket, candidate slots grew purely quadratically (1.19M → 117M
    * → 1.06B at 1×/10×/30×), and the hot bucket was a single join key =
    * one straggler task sorting a billion-row partition. Derandomization
    * must preserve the INDEPENDENCE of the hyperplanes, not just their
    * determinism; the embedded table is seed-searched for low pairwise
    * correlation (max |dot| 28, max bias 18 over 128 planes at dim 64 —
    * random-±1 magnitudes, no identical or complementary pairs).
    *
    * Output: (id_a, id_b, sim) for candidate pairs with exact cosine ≥
    * `threshold` (4dp) — the standard LSH contract: candidate recall < 1
    * by design, tuned by nBits/bandBits; with honest (decorrelated)
    * bands, P[collide in ≥1 of b bands] = 1−(1−(1−θ/π)^bandBits)^b, so
    * recall is bought with MORE BANDS: the 128/8 default gives ~0.33 at
    * cos 0.4, ~0.8 at 0.7, ~0.94 at 0.8 — the dedup regime LSH exists
    * for. (The correlated family's higher apparent recall at 32 bits was
    * the degenerate buckets catching half the corpus by accident.)
    *
    * Scale shape: signatures are row-local, one pass per row, zero
    * shuffles, and fully codegen'd — the whole plane matrix runs inside
    * one fused native loop ([[graft.functions.SignBits]]) rather than as
    * interpreted HOF folds or an 8k-node unrolled sum forest (janino
    * method-limit overflow); the one wide operation is the band-bucket
    * self-join, whose buckets shrink geometrically with bandBits; exact
    * cosine runs only on candidates, once per pair (multi-band collisions
    * collapse in a narrow distinct). bandBits is the SCALE dial: a band
    * has 2^bandBits buckets and chance-collision pairs grow as
    * n²/2^bandBits, so band width must grow with corpus density;
    * production at 100 TB wants 16-24-bit bands, keeping the band COUNT
    * (the recall dial) independent of the band WIDTH (the cost dial).
    * `maxBucket` is the guard rail BELOW that dial — the same degenerate-
    * bucket cap every other LSH path here carries (MinHash banding's
    * BoundedCollect, SimHash's maxBucket): each (band, bucket) keeps its
    * `maxBucket` smallest ids (deterministic → still SQL-replayable, the
    * entry's whole point), so join cost is bounded by
    * bands × 2^bandBits × maxBucket² no matter the corpus density. The
    * 4-decade rehearsal motivated it: UNCAPPED, the chance-collision
    * quadratic reached a 386 s first-build at 30× (9 G candidate slots)
    * and out-ran local disk at 100× — while true near-dup clusters are
    * tens of rows, so a 512 cap only ever truncates chance-dominated
    * buckets (a true pair needs BOTH members inside the cap in just one
    * of its 16 shared bands).
    */
  def srpCandidatePairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, nBits: Int = 128, bandBits: Int = 8,
      maxBucket: Int = 512)
  : DataFrame = {
    require(nBits % bandBits == 0, "nBits must split into whole bands")
    require(nBits <= SrpSigns.length,
      s"at most ${SrpSigns.length} derandomized planes available")
    // each plane is ONE 64-bit sign word: past d=63 the JVM's shift
    // wraps mod 64 and would silently reuse signs with period 64
    // (correlated planes) while the SQL oracle's bigint shift behaves
    // differently — fail loudly instead of diverging cross-engine
    require(dim <= 64, "sign table is 64-bit per plane (dim <= 64)")
    // the whole 128×64 projection pass is ONE fused native expression
    // ([[graft.functions.SignBits]], whole-stage codegen) — an unrolled
    // 128×64 sum forest of builtin expressions would be 8k nodes (janino
    // method-limit overflow), and the HOF-fold formulation it replaces
    // ran interpreted (CodegenFallback) at ~400 s for the 30× corpus's
    // one-time signature pass. SignBits accumulates each plane in
    // ascending dimension order with a 0.0 double seed, so the
    // ±1.0-multiply-then-add arithmetic is IEEE-identical to the fold it
    // replaced and to the SQL oracle's list_aggregate.
    val planes: Seq[Seq[Double]] = (0 until nBits).map { j =>
      (0 until dim).map(d =>
        if (((SrpSigns(j) >> d) & 1L) == 1L) 1.0 else -1.0)
    }
    val bits = graft.functions.SignBits(col("v"), planes)
    // bits materialized as a real column (referenced once per band below —
    // CollapseProject would otherwise inline the whole plane pass into
    // every band expression)
    val bands = (0 until nBits / bandBits).map { k =>
      aggregate(slice(col("bits"), k * bandBits + 1, bandBits), lit(0),
        (acc, b) => acc * 2 + b).as(s"band_$k")
    }
    val sig = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bits", bits)
      .select((col("id") +: col("v") +: bands): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE stats job over the cached signatures feeds four sizing
    // decisions below: the band-exchange and candidate-distinct widths,
    // the packed-key eligibility gate, and the vector-broadcast gate.
    val st = sig.agg(count(lit(1)).as("n"),
      min(col("id")).cast("long").as("lo"),
      max(col("id")).cast("long").as("hi")).head()
    val n = st.getLong(0)
    // capped-slot upper bound for the bucket self-join's emission:
    // bands × buckets × min(⌈n/buckets⌉, cap)²/2 — an overestimate on
    // uneven bucket distributions, which only buys dedup headroom
    val nBands = nBits / bandBits
    val nBuckets = 1L << bandBits
    val mCap = math.min((n + nBuckets - 1) / math.max(nBuckets, 1L),
      maxBucket.toLong)
    val slotsEst = nBands.toLong * nBuckets * mCap * mCap / 2
    // the candidate dedup is a hash aggregate whose per-task state must
    // FIT, and so must the slot exchange's per-task WRITE buffer: at the
    // harness's pinned 32 shuffle partitions the deep rehearsal decades
    // put ~17M slots (~400 MB) through each task's partial map, whose
    // sort-based overflow fallback spilled 83 GB at 100× — pure disk
    // churn, since cross-band duplicates of a pair hash to DIFFERENT
    // (band, bucket) partitions and the map-side pass deduplicated
    // almost nothing — and even with the aggregate moved above an
    // explicit exchange, 32 map tasks each sorting ~330 MB of slot rows
    // through the shuffle writer still spilled ~12 GB at 100×.
    // Width-scale BOTH stages from the slot estimate (≈32 MB of slots
    // per task, REPARTITION_BY_NUM so AQE cannot coalesce it back): the
    // band exchange gets `parts` map tasks, so each writer's slot
    // buffer fits, and the dedup exchange gets `parts` reduce tasks, so
    // the aggregate state fits — spill_mb 0 in every decade; a cluster
    // gets the same effect from thousands of shuffle partitions.
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val parts = math.max(parallelism.toLong,
      math.min(2048L, slotsEst * 24 / (32L << 20))).toInt
    // the bucket join carries ONLY ids — the wide vectors never ride the
    // band shuffle; multi-band collisions of the same pair collapse in
    // the narrow distinct, so exact cosine runs ONCE per candidate pair,
    // fetched by two id-keyed joins against the cached signatures (the PQ
    // shortlist-rerank shape)
    val banded = sig.select(col("id"),
      posexplode(array((0 until nBits / bandBits).map(k => col(s"band_$k")): _*))
        .as(Seq("band_idx", "band_val")))
      // ONE pinned width-scaled exchange on the (band, bucket) key
      // serves the cap window and the self-join's both sides
      // (ReusedExchange), and sets the slot-writing stage's map width
      .repartition(parts, col("band_idx"), col("band_val"))
      // degenerate-bucket cap: keep each bucket's maxBucket smallest
      // ids — a total-order rule the DuckDB oracle replays verbatim
      // (ROW_NUMBER ... ORDER BY id)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band_idx"), col("band_val"))
          .orderBy(col("id"))))
      .filter(col("rn") <= maxBucket).drop("rn")
    // pack the (id_a, id_b) key into ONE long where ids permit (non-
    // negative, < 2³¹, integral type): a 1-long key row is 16 bytes in
    // the exchange against 24 for the 2-long row — a third less shuffle
    // for the dominant relation — and the aggregate hash map keys on a
    // single word. Ids outside the gate keep the 2-column key.
    val packable = n > 0 && !st.isNullAt(1) && !st.isNullAt(2) &&
      st.getLong(1) >= 0L && st.getLong(2) < (1L << 31) &&
      (sig.schema("id").dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType => true
        case _ => false
      })
    val rawPairs = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.id") < col("b.id"))
    val idT = sig.schema("id").dataType
    val cand =
      if (packable) rawPairs
        .select(shiftleft(col("a.id").cast("long"), 32)
          .bitwiseOR(col("b.id").cast("long")).as("pk"))
        .repartition(parts, col("pk"))
        .distinct()
        .select(shiftright(col("pk"), 32).cast(idT).as("id_a"),
          col("pk").bitwiseAND(lit(0xFFFFFFFFL)).cast(idT).as("id_b"))
      else rawPairs
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .repartition(parts, col("id_a"), col("id_b"))
        .distinct()
    // the verify stage fetches BOTH vectors per candidate pair; left to
    // the planner, a vector relation past the 10 MB auto-broadcast
    // threshold sort-merge-joins the (huge, narrow) candidate set twice
    // with 4·dim-byte payloads attached — measured ~100 GB of sort spill
    // at the 100× rehearsal decade (disk-out) for a 52 MB vector side.
    // Size-gate an explicit broadcast instead (the Dedup blacklist idiom):
    // under the gate the candidates stream through two hash lookups and
    // the threshold filter in one stage; past it (true 100 TB corpora)
    // the shuffled join is the only correct shape anyway.
    val vecs = sig.select(col("id"), col("v"))
    val vecBytes = n * (4L * dim + 24L)
    val gate: DataFrame => DataFrame =
      if (vecBytes <= (256L << 20)) broadcast else identity
    val out = cand
      .join(gate(vecs.select(col("id").as("id_a"), col("v").as("va"))), "id_a")
      .join(gate(vecs.select(col("id").as("id_b"), col("v").as("vb"))), "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")), 4).as("sim"))
      .filter(col("sim") >= threshold)
    // scratch-parquet materialization of the small post-threshold
    // relation through the adaptive plan ([[graft.Scratch.materialize]]
    // carries the rationale: AQE-planned write, zero cache
    // registrations — the previous persist+count return had no safe
    // unpersist point and accumulated cache entries across a bench
    // fork's warmup+3 runs), after which the wide signature cache drops
    val mat = graft.Scratch.materialize(out, "srp_pairs")
    sig.unpersist()
    mat
  }

  /** SEMANTIC decontamination — the embedding-space complement of the
    * gram/span audits (tc1/tc3): a training item is contaminated when its
    * embedding sits within `threshold` cosine of ANY eval-suite embedding,
    * catching paraphrased and templated leakage that verbatim n-gram
    * overlap misses (the SemDeDup/"semantic contamination" criterion).
    * Per train vector: max eval similarity (4dp — per-pair cosine is a
    * fixed-order fold, and max is order-free, so the replay is exact),
    * the nearest eval id (smallest id at the max), how many eval items
    * exceed the threshold, and the flag.
    *
    * Scale shape: eval suites are small BY CONSTRUCTION (thousands of
    * rows against a 100 TB corpus) — the eval side broadcasts and the
    * train side streams through one scan + one map-side-combinable
    * aggregate; no shuffle touches the wide vectors. A billion-row eval
    * set would instead ride the LSH-bucketed candidate path
    * ([[cosineCandidatePairs]]) — same output contract.
    *
    * The nearest-id aggregate is a plain `max` over a packed long, not
    * `max_by(eval_id, struct(sim, -eval_id))`: a struct-typed ordering
    * buffer is not hash-aggregable, so max_by demotes the whole plan to
    * SortAggregateExec — Spark then SORTS every (train × eval) pair
    * instead of folding them map-side (measured: the 30× rehearsal
    * corpus thrashed for 18+ min where ~20 s of hash aggregation was
    * expected). sim is already 4dp, so (sim·10⁴ + 10⁴) ∈ [0, 2·10⁴]
    * packs exactly into the bits above 48, and (2⁴⁸−1 − eval_id) in the
    * low 48 makes lexicographic (sim desc, eval_id asc) = numeric max.
    * Ids must fit 48 bits — ample for any corpus this runs on (2.8·10¹⁴).
    */
  def semanticContamination(train: DataFrame, eval: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val ev = eval.select(col(idCol).as("eval_id"), col(vecCol).as("e_vec"))
    contaminationVerdict(
      train.select(col(idCol), col(vecCol).as("t_vec"))
        .crossJoin(broadcast(ev))
        .select(col(idCol),
          col("eval_id"),
          round(cosine(col("t_vec"), col("e_vec")), 4).as("sim")),
      idCol, threshold)
  }

  /** Shared verdict tail of the semantic-contamination audits: from
    * (idCol, eval_id, sim 4dp-rounded) candidate rows, per train id the
    * max sim, the SMALLEST eval id at that max, the count over
    * `threshold`, and the flag. The nearest-id argmax is a packed long —
    * (sim·10⁴ + 10⁴) in the bits above 48, (2⁴⁸−1 − eval_id) below — so
    * the aggregate stays a map-side-combinable hash `max` (a struct
    * max_by buffer is not hash-aggregable and demotes the whole pass to
    * an external sort of the candidate fan-out; see the measured note in
    * [[semanticContamination]]). Ids must fit 48 bits — ample for any
    * corpus this runs on (2.8·10¹⁴).
    */
  private def contaminationVerdict(cands: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val idMask = (1L << 48) - 1
    cands
      .select(col(idCol), col("sim"),
        ((round(col("sim") * 10000).cast("long") + 10000L) * (idMask + 1) +
          (lit(idMask) - col("eval_id").cast("long"))).as("pk"))
      .groupBy(col(idCol))
      .agg(
        max(col("sim")).as("max_sim"),
        max(col("pk")).as("pk"),
        sum(when(col("sim") >= threshold, 1L).otherwise(0L)).as("n_over"))
      .select(col(idCol), col("max_sim"),
        (lit(idMask) - col("pk").bitwiseAND(idMask)).as("nearest_eval"),
        col("n_over"),
        (col("max_sim") >= threshold).as("contaminated"))
  }

  /** IVF-screened semantic decontamination — [[semanticContamination]]'s
    * COMPUTE scale path for a large eval suite: the eval side arrives
    * pre-clustered (any deterministic clustering — [[kmeansAssign]], a
    * label column), each train vector scores only the k final cluster
    * centroids row-locally and exact-cosines against the members of its
    * `nprobe` nearest clusters. Per-train work drops from |eval| dots to
    * k + (nprobe/k)·|eval| — the IVF scan-fraction dial (production sizes
    * k ∝ √|eval|, shrinking the fraction as the suite grows). The MEMORY
    * ceiling is unchanged: the member join still broadcasts every eval
    * vector, exactly like the brute force — the screen buys CPU, not
    * broadcast headroom. An eval suite too big to broadcast at all needs
    * the bucketed-pair path ([[cosineCandidatePairs]] /
    * [[gridThresholdPairs]]) instead.
    *
    * SCREEN semantics: max_sim / nearest_eval / n_over are over the probed
    * candidates only, so per row max_sim ≤ the brute-force value,
    * `contaminated` never false-positives, and misses are exactly the
    * pairs whose eval member sits outside the train vector's nprobe
    * nearest clusters (SimilaritySpec asserts soundness and a measured
    * recall floor on its fixture). Everything is deterministic — centroid
    * scoring reuses kmeansAssign's rounded tie-break (6dp sim desc,
    * lowest cluster wins) — so DuckDB replays the whole screen as a full
    * oracle (tc7).
    *
    * Scale shape: centroids ride the plan as literals (k·dim doubles — the
    * probe table every IVF deployment serves from memory); the train side
    * is one scan with a row-local nprobe-fold (zero shuffle, no window),
    * and the only shuffle is the final [[contaminationVerdict]] hash
    * aggregate over (id, sim, packed-long) rows. Past `literalBudget`
    * total literal values the k-element `array(struct(...))` spelling —
    * k·dim separate plan nodes, the same codegen/analysis degradation
    * [[kmeansAssign]] gates — collapses to a SINGLE `typedlit` Literal
    * (array data in the codegen references, plan size O(1) in k). A
    * relation join can't replace the probe here: "nprobe nearest clusters
    * PER ROW" via a join is a k-way fan-out + per-id top-n shuffle,
    * strictly worse than the row-local fold every IVF serving node runs.
    */
  /** One-entry-point semantic decontamination: auto-dispatches between
    * the exact brute audit ([[semanticContamination]], linear in
    * train × eval — the r13 grid measured exp 1.02, 117 s at the 100×
    * decade) and the IVF screen ([[semanticContaminationScreen]], exp
    * 0.47 there) on the estimated dot products PER CORE — the
    * [[thresholdPairs]] auto-strategy pattern, replacing the doc-only
    * crossover note (VERDICT r14). Below `maxDotsPerCore` the brute
    * audit is both exact and cheap (every train row broadcasts the whole
    * eval suite either way, so the screen's probe machinery would buy
    * nothing but its own overhead); past it the screen's scan-fraction
    * dial is the only linear-per-row path. The default gate (4·10⁶
    * dots/core ≈ a few seconds of fused-cosine arithmetic per core)
    * keeps the harness SFs and the 10× decade exact while the 30×/100×
    * decades dispatch to the screen.
    *
    * Sizing is two count() jobs — deterministic per dataset, so the
    * dispatched plan (and thus the result) is a pure function of the
    * input, and the screen branch's clustering (k = ⌈√|eval|⌉ floored at
    * 16, capped at 1024 — the production k ∝ √|eval| rule — 2 Lloyd's
    * rounds, [[kmeansAssign]]'s deterministic seeding) replays in an
    * oracle exactly like tc7's. Screen results are probe-restricted
    * (max_sim ≤ brute, `contaminated` never false-positives) — the
    * documented trade the crossover note used to carry; callers needing
    * the exact audit past the gate call [[semanticContamination]]
    * directly on the screen's survivors.
    */
  def semanticContaminationAuto(train: DataFrame, eval: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      nprobe: Int = 2, maxDotsPerCore: Long = 4000000L): DataFrame = {
    val nTrain = train.count()
    val nEval = eval.count()
    val cores = math.max(1, train.sparkSession.sparkContext
      .defaultParallelism)
    val dotsPerCore = if (nEval == 0) 0L
      else math.min(nTrain, Long.MaxValue / nEval) * nEval / cores
    if (dotsPerCore <= maxDotsPerCore)
      semanticContamination(train, eval, idCol, vecCol, threshold)
    else {
      val k = math.min(nEval, math.max(16L, math.min(1024L,
        math.ceil(math.sqrt(nEval.toDouble)).toLong))).toInt
      val ev = eval.select(col(idCol), col(vecCol))
      val members = ev.join(
        kmeansAssign(ev, idCol, vecCol, k, iters = 2), Seq(idCol))
      semanticContaminationScreen(train, members, idCol, vecCol,
        "cluster", threshold, nprobe)
    }
  }

  def semanticContaminationScreen(train: DataFrame, evalClustered: DataFrame,
      idCol: String, vecCol: String, clusterCol: String, threshold: Double,
      nprobe: Int = 2, literalBudget: Int = 10000): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1 (got $nprobe) - nprobe=0 " +
      "would silently report an empty audit")
    val members = evalClustered.select(
      col(clusterCol).cast("int").as("cluster"),
      col(idCol).as("eval_id"), col(vecCol).as("e_vec"))
    val cents = centroids(members, "cluster", "e_vec")
      .select(col("cluster"), col("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
    require(cents.nonEmpty,
      "evalClustered is empty - nothing to screen against")
    val centArr =
      if (cents.iterator.map(_._2.size + 1).sum <= literalBudget)
        array(cents.map { case (cid, v) =>
          struct(lit(cid).as("cluster"), typedlit(v).as("centroid"))
        }: _*)
      else
        // one Literal node for the whole probe table; rename the tuple's
        // _1/_2 so the probe lambda below is path-agnostic
        transform(
          typedlit(cents.toSeq.map { case (cid, v) => (cid, v) }),
          c => struct(c.getField("_1").as("cluster"),
            c.getField("_2").as("centroid")))
    // row-local probe: score every centroid, keep the nprobe nearest —
    // array_sort on (-sim, cluster) = sim desc then lowest cluster,
    // kmeansAssign's own rounded tie-break; no shuffle, no window
    val probed = slice(array_sort(transform(centArr, c =>
      struct((-round(cosine(col(vecCol), c.getField("centroid")), 6))
          .as("neg_sim"),
        c.getField("cluster").as("cluster")))), 1, nprobe)
    contaminationVerdict(
      train
        .select(col(idCol), col(vecCol).as("t_vec"),
          explode(probed).as("p"))
        .select(col(idCol), col("t_vec"), col("p.cluster").as("cluster"))
        .join(broadcast(members), Seq("cluster"))
        .select(col(idCol),
          col("eval_id"),
          round(cosine(col("t_vec"), col("e_vec")), 4).as("sim")),
      idCol, threshold)
  }
}
