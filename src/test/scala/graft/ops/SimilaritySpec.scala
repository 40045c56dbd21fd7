package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f), 1),
    (3L, Array(0.0f, 0.9f, 0.1f), 1),   // close to 2
    (4L, Array(0.0f, 0.0f, 1.0f), 2)
  ).toDF("vec_id", "embedding", "label")

  test("cosine column math matches hand-computed values") {
    val got = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.vec_id") === 0 && col("b.vec_id") === 1)
      .select(Similarity.cosine(col("a.embedding"), col("b.embedding")))
      .collect().head.getDouble(0)
    val exp = 0.9 / math.sqrt(0.9 * 0.9 + 0.1 * 0.1)
    assert(math.abs(got - exp) < 1e-6)
  }

  test("brute-force top-k ranks the geometric neighbor first") {
    val got = Similarity.bruteForceTopK(
        vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 2)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toMap
    assert(got(1) == 1L)  // rank 1 = vector 1
  }

  test("IVF centroids: per-cluster elementwise mean, ordered positions") {
    val cents = Similarity.centroids(vecs, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(cents(0).zip(Seq(0.95, 0.05, 0.0))
      .forall { case (a, b) => math.abs(a - b) < 1e-6 })
    assert(cents(2) == Seq(0.0, 0.0, 1.0))
  }

  test("IVF top-k with nprobe=1 searches only the query's cluster") {
    val got = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", "label", 3, 1)
      .collect()
    // only cluster 0 members (vec 1; vec 0 excluded as self)
    assert(got.map(_.getLong(2)).toSet == Set(1L))
  }

  // 40 deterministic pseudo-random unit-ish vectors in R^8 — enough mass
  // around every threshold to exercise recall, small enough to brute-force
  private lazy val many = {
    val rnd = new scala.util.Random(7L)
    (0 until 40).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("bucketed thresholdPairs equals the exact all-pairs scan") {
    // 0.3/0.6 exercise the grid branch, 0.9 the LSH branch (see dispatch)
    for (t <- Seq(0.3, 0.6, 0.9)) {
      val exact = BuiltinReferences.thresholdPairsExact(
          many, "vec_id", "embedding", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val bucketed = Similarity.thresholdPairs(
          many, "vec_id", "embedding", t, dim = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(bucketed == exact, s"threshold $t: bucketed path diverged")
    }
  }

  test("both named strategies equal exact regardless of dispatch") {
    for (t <- Seq(0.5, 0.9)) {
      val exact = BuiltinReferences.thresholdPairsExact(
          many, "vec_id", "embedding", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val grid = Similarity.gridThresholdPairs(
          many, "vec_id", "embedding", t, blocks = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val lsh = Similarity.lshThresholdPairs(
          many, "vec_id", "embedding", t, dim = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(grid == exact, s"t=$t: grid diverged")
      assert(lsh == exact, s"t=$t: lsh diverged")
    }
  }

  test("dispatch: LSH for sparse (high-t) regimes, grid for dense") {
    assert(Similarity.lshCandidateRate(0.95) <= 0.5)
    assert(Similarity.lshCandidateRate(0.35) > 0.5)
  }

  test("lshParams: recall at threshold meets the miss-probability target") {
    for (t <- Seq(0.3, 0.5, 0.9, 0.95)) {
      val (r, b) = Similarity.lshParams(t)
      val p = 1.0 - math.acos(t) / math.Pi
      val miss = math.pow(1.0 - math.pow(p, r), b)
      assert(miss <= 1e-9, s"t=$t (r=$r, b=$b) miss=$miss")
      assert(r * b <= 256, s"t=$t bit budget exceeded: ${r * b}")
    }
  }

  test("clusteredThresholdPairs only examines same-cluster pairs") {
    // vecs: ids 0,1 in cluster 0 are near-identical; 2,3 in cluster 1;
    // a near pair ACROSS clusters must not appear even above threshold
    val cross = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f), 0),
      (11L, Array(0.99f, 0.14f, 0.0f), 1)   // sim ≈ 0.99 but other cluster
    ).toDF("vec_id", "embedding", "label")
    val df = vecs.union(cross)
    val got = Similarity.clusteredThresholdPairs(
        df, "vec_id", "embedding", "label", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)))           // same-cluster near pair kept
    assert(got.contains((2L, 3L)))
    assert(!got.exists { case (a, b) => Set(a, b) == Set(10L, 11L) },
      "cross-cluster pair must be pruned by the blocking")
  }

  test("pair mining survives adversarial corpora (duplicates, constants)") {
    // corpora where buckets degenerate: heavy exact-duplicate mass (every
    // dup pair shares every LSH band; grid diagonal blocks fill up) and
    // constant corpora (ONE bucket holds everything, all pairs at sim
    // 1.0). Both strategies must still equal the exact scan bit-for-bit.
    val rnd = new scala.util.Random(20260812L)
    def corpus(n: Int, dupFrac: Double, constFrac: Double) = {
      val pool = Seq.fill(4)(Array.fill(8)(rnd.nextGaussian().toFloat))
      val constV = Array.fill(8)(0.5f)
      (0 until n).map { i =>
        val u = rnd.nextDouble()
        val v = if (u < constFrac) constV
          else if (u < constFrac + dupFrac) pool(rnd.nextInt(pool.size))
          else Array.fill(8)(rnd.nextGaussian().toFloat)
        (i.toLong, v.clone())
      }.toDF("vec_id", "embedding")
    }
    for ((dupF, constF) <- Seq((0.8, 0.0), (0.0, 1.0), (0.5, 0.3));
         t <- Seq(0.5, 0.9)) {
      val df = corpus(30, dupF, constF)
      def mine(f: => org.apache.spark.sql.DataFrame) =
        f.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .toSet
      val exact = mine(BuiltinReferences.thresholdPairsExact(
        df, "vec_id", "embedding", t))
      val grid = mine(Similarity.gridThresholdPairs(
        df, "vec_id", "embedding", t, blocks = 5))
      val lsh = mine(Similarity.lshThresholdPairs(
        df, "vec_id", "embedding", t, dim = 8))
      assert(grid == exact, s"grid diverged dup=$dupF const=$constF t=$t")
      assert(lsh == exact, s"lsh diverged dup=$dupF const=$constF t=$t")
    }
  }

  test("kmeansAssign recovers well-separated direction clusters") {
    // three orthogonal direction cones with small off-axis jitter; ids
    // interleave true clusters so the deterministic init (k smallest ids)
    // spans all three
    val pts = (0 until 30).map { i =>
      val c = i % 3
      val v = Array.fill(4)(0.0f)
      v(c) = 1.0f
      v(3) = 0.05f * ((i / 3) % 5)
      (i.toLong, v)
    }
    val df = pts.toDF("id", "vec")
    val got = Similarity.kmeansAssign(df, "id", "vec", 3, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    for (c <- 0 until 3) {
      val members = (0 until 30).filter(_ % 3 == c).map(i => got(i.toLong))
      assert(members.distinct.size == 1, s"true cluster $c split: $members")
    }
    assert((0 until 3).map(c => got(c.toLong)).distinct.size == 3,
      "three true clusters must map to three distinct trained clusters")
    // deterministic: a second run reproduces the assignment exactly
    val again = Similarity.kmeansAssign(df, "id", "vec", 3, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == got)
  }

  test("kmeansAssign relation path (literalBudget=0) equals literal path") {
    // past the literal budget the argmax fold becomes a broadcast centroid
    // relation + id-keyed max_by aggregate — same init, same rounded
    // tie-break (highest sim, then lowest cluster), so the two paths must
    // be assignment-identical on any input, including exact duplicates
    // (identical sims → the tie-break decides)
    val rnd = new scala.util.Random(7L)
    val pts = (0 until 60).map { i =>
      (i.toLong, Array.fill(6)(rnd.nextGaussian().toFloat))
    } ++ Seq((60L, Array.fill(6)(0.5f)), (61L, Array.fill(6)(0.5f)))
    val df = pts.toDF("id", "vec")
    def assign(budget: Int) =
      Similarity.kmeansAssign(df, "id", "vec", 5, 2, literalBudget = budget)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val literal = assign(Int.MaxValue)
    val relation = assign(0)
    assert(relation == literal)
  }

  test("kmeansAssign crosses the literal budget at real nlist scale") {
    // k=200 × dim=64 = 12.8k values exceeds the default 10k budget, so
    // the DEFAULT call takes the relation path (no forced parameter) —
    // the nlist regime the literal fold could not analyze/codegen. Must
    // assign every row, deterministically, to a valid cluster.
    val rnd = new scala.util.Random(99L)
    val pts = (0 until 400).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val a = Similarity.kmeansAssign(pts, "vec_id", "embedding", 200, 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a.size == 400)
    assert(a.values.forall(c => c >= 0 && c < 200))
    val b = Similarity.kmeansAssign(pts, "vec_id", "embedding", 200, 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b, "beyond-budget assignment must be deterministic")
  }

  test("PQ ADC with full-corpus shortlist equals exact brute force") {
    // with the shortlist covering the whole corpus the ADC stage only
    // orders candidates and the exact rerank decides — results must equal
    // brute force bit-for-bit; also pins codebook shape and determinism
    val rnd = new scala.util.Random(11L)
    val pts = (0 until 40).map { i =>
      val v = Array.fill(8)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => x / n))
    }.toDF("vec_id", "embedding")
    val books = Similarity.pqTrain(pts, "vec_id", "embedding", 4, 8, 2)
    assert(books.size == 4 && books.head.size == 8 &&
      books.head.head.size == 2)
    assert(books == Similarity.pqTrain(pts, "vec_id", "embedding", 4, 8, 2),
      "training must be deterministic")
    val q = pts.filter(col("vec_id") < 3)
    val pq = Similarity.pqTopK(pts, q, "vec_id", "embedding", books, 3,
        shortlist = 40)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val bf = Similarity.bruteForceTopK(pts, q, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(pq == bf)
  }

  test("persisted index probe prunes unprobed cluster partitions (DPP)") {
    // the sim9 layout: codes partitioned by cluster; probing nprobe=1 of
    // three well-separated clusters must (a) dynamically prune the index
    // scan to the probed cluster's partition and (b) return that cluster's
    // true neighbors (equal to brute force restricted to it)
    val rnd = new scala.util.Random(3L)
    val pts = (0 until 30).map { i =>
      val c = i % 3
      val v = Array.fill(6)(0.02f * rnd.nextGaussian().toFloat)
      v(c) = 1.0f
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat))
    }.toDF("vec_id", "embedding")
    val clusters = Similarity.kmeansAssign(pts, "vec_id", "embedding", 3, 2)
    val books = Similarity.pqTrain(pts, "vec_id", "embedding", 3, 4, 2)
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_spec_ann_").toString
    graft.etl.Load.partitionedParquet(
      Similarity.pqEncode(pts, "vec_id", "embedding", books)
        .join(clusters, "vec_id")
        .select(col("cluster"), col("vec_id").as("neighbor_id"),
          col("codes")),
      s"$tmp/index", Seq("cluster"))
    graft.etl.Load.parquet(Similarity.centroids(
      pts.join(clusters, "vec_id"), "cluster", "embedding"),
      s"$tmp/centroids")
    graft.etl.Load.parquet(pts.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_vec")), s"$tmp/vectors")
    val probe = Similarity.ivfPqProbe(
      spark.read.parquet(s"$tmp/index"),
      spark.read.parquet(s"$tmp/centroids"),
      spark.read.parquet(s"$tmp/vectors"),
      pts.filter(col("vec_id") === 0L), "vec_id", "embedding", books,
      3, nprobe = 1, shortlist = 30)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(3000))
    val got = probe.collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    val sameCluster = clusters.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val c0 = sameCluster(0L)
    val bf = Similarity.bruteForceTopK(
        pts.join(clusters, "vec_id").filter(col("cluster") === c0),
        pts.filter(col("vec_id") === 0L), "vec_id", "embedding", 3)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    assert(got == bf,
      s"pruned probe must equal in-cluster brute force: $got vs $bf")
  }

  test("centroidDrift: zero for identical snapshots, exact L2 for a shift") {
    val drift0 = Similarity.centroidDrift(vecs, vecs, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(drift0.values.forall(_ == 0.0), drift0)
    // shift every label-0 vector by +0.3 on dim 0 → centroid moves 0.3
    val shifted = vecs.withColumn("embedding",
      when(col("label") === 0, expr(
        "transform(embedding, (x, i) -> " +
          "CAST(x + IF(i = 0, 0.3, 0.0) AS FLOAT))"))
        .otherwise(col("embedding")))
    val drift = Similarity.centroidDrift(vecs, shifted, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(drift(0) == 0.3, drift)
    assert(drift(1) == 0.0 && drift(2) == 0.0, drift)
  }

  test("knnClassify takes the majority label; ties go to the smaller") {
    val q = vecs.filter(col("vec_id") === 0)
    // k=3: neighbors of 0 are 1 (label 0), then 2, 3 (label 1, sim ties
    // broken by id) → majority label 1 with 2 votes
    val k3 = Similarity.knnClassify(vecs, q, "vec_id", "embedding",
      "label", 3).collect().head
    assert((k3.getLong(1), k3.getLong(2)) == ((1L, 2L)), k3)
    // k=2: one vote each for labels 0 and 1 → smaller label wins
    val k2 = Similarity.knnClassify(vecs, q, "vec_id", "embedding",
      "label", 2).collect().head
    assert((k2.getLong(1), k2.getLong(2)) == ((0L, 1L)), k2)
  }

  test("scalarQuantize: affine [0,255] codes, max clamps, constant dim 0") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0f, 10f, 7f)), (2L, Seq(5f, 0f, 7f)), (3L, Seq(10f, 5f, 7f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.scalarQuantize(df, "vec_id", "embedding")
      .orderBy("vec_id").collect()
      .map(r => r.getSeq[Long](1))
    // dims 1,2 span [0,10]: 0→0, 5→127 (floor 127.5), 10→255 (clamped);
    // dim 3 is constant → 0
    assert(got.toSeq == Seq(Seq(0L, 255L, 0L), Seq(127L, 0L, 0L),
      Seq(255L, 127L, 0L)), got.toSeq)
  }

  test("sqDecode: midpoint reconstruction stays within half a bucket") {
    import spark.implicits._
    val df = Seq((1L, Seq(0f, 10f)), (2L, Seq(5f, 0f)), (3L, Seq(10f, 5f)))
      .toDF("vec_id", "embedding")
    val stats = Similarity.quantStats(df, "embedding")
    assert(stats.toSeq == Seq((0.0, 10.0), (0.0, 10.0)))
    val rec = df.select(col("vec_id"), Similarity.sqDecode(
        Similarity.sqEncode(col("embedding"), stats), stats).as("r"))
      .orderBy("vec_id").collect().map(_.getSeq[Double](1))
    val orig = Seq(Seq(0.0, 10.0), Seq(5.0, 0.0), Seq(10.0, 5.0))
    val halfBucket = 10.0 / 255 / 2 + 1e-9
    for ((r, o) <- rec.zip(orig); (rv, ov) <- r.zip(o))
      assert(math.abs(rv - ov) <= 10.0 / 255,
        s"reconstruction off by more than a bucket: $rv vs $ov")
    // interior values land within half a bucket of the original
    assert(math.abs(rec(1).head - 5.0) <= halfBucket)
  }

  test("srpCandidatePairs: sound, deterministic, exact dups always meet") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    def vec(): Seq[Float] = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    val base = (1L to 40L).map(i => (i, vec()))
    // 41 duplicates 7, 42 duplicates 19 — identical vectors share every
    // signature bit, so SRP banding can never miss them
    val df = (base ++ Seq((41L, base(6)._2), (42L, base(18)._2)))
      .toDF("vec_id", "embedding")
    val got = Similarity.srpCandidatePairs(df, "vec_id", "embedding",
      dim = 16, threshold = 0.9, nBits = 16, bandBits = 4)
    val pairs = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // soundness: every emitted pair really clears the threshold
    assert(pairs.forall(_._3 >= 0.9), pairs.toSeq)
    // the planted exact dups must surface with sim 1.0
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((7L, 41L)) && ids.contains((19L, 42L)), ids)
    // candidates are a subset of the brute-force truth set
    val truth = Similarity.thresholdPairs(df, "vec_id", "embedding",
        0.9, dim = 16).select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.subsetOf(truth), s"unsound pairs: ${ids.diff(truth)}")
    // derandomized projections → bit-identical replay
    val again = Similarity.srpCandidatePairs(df, "vec_id", "embedding",
        dim = 16, threshold = 0.9, nBits = 16, bandBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSet == again.toSet)
  }

  test("srpCandidatePairs caps degenerate buckets deterministically") {
    import spark.implicits._
    // 10 identical vectors land in ONE bucket of every band; with
    // maxBucket=4 each bucket keeps the 4 smallest ids, so candidates are
    // exactly the C(4,2)=6 pairs among ids 1..4 — the same total-order
    // rule the DuckDB oracle replays (ROW_NUMBER ... ORDER BY id <= cap)
    val v = Seq(0.5f, -0.25f, 1f, 0.75f)
    val df = (1L to 10L).map(i => (i, v)).toDF("vec_id", "embedding")
    val got = Similarity.srpCandidatePairs(df, "vec_id", "embedding",
        dim = 4, threshold = 0.9, nBits = 16, bandBits = 4, maxBucket = 4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toSet
    assert(got == expect, got)
  }

  test("semanticContamination: max/nearest/count against hand geometry") {
    import spark.implicits._
    val eval = Seq((100L, Seq(1f, 0f, 0f, 0f)), (101L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),    // exact dup of eval 100
      (2L, Seq(1f, 1f, 0f, 0f)),    // cos 0.7071 to both
      (3L, Seq(0f, 0f, 1f, 0f)))    // orthogonal to both
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticContamination(train, eval,
        "vec_id", "embedding", threshold = 0.9)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, 1.0, 100L, 1L, true),
      (2L, 0.7071, 100L, 0L, false),   // tie on sim → smaller eval id
      (3L, 0.0, 100L, 0L, false)), got.toSeq)
  }

  test("semanticContamination aggregates hash-side, never sort-side") {
    import spark.implicits._
    val eval = Seq((100L, Seq(1f, 0f)), (101L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val train = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val plan = Similarity.semanticContamination(train, eval,
        "vec_id", "embedding", threshold = 0.9)
      .queryExecution.executedPlan.toString
    // a struct-ordered max_by buffer silently demotes the agg to
    // SortAggregateExec (sorts every train×eval pair); the packed-long
    // encoding must keep it a map-side-combinable hash aggregate
    assert(plan.contains("HashAggregate"), plan.linesIterator.take(8)
      .mkString("\n"))
    assert(!plan.contains("SortAggregate"), plan.linesIterator.take(8)
      .mkString("\n"))
  }

  test("semanticContaminationScreen: probe-restricted hand geometry") {
    import spark.implicits._
    // singleton clusters → centroid = member, probe order = member sim
    val members = Seq(
      (100L, Seq(1f, 0f, 0f, 0f), 0),
      (101L, Seq(0f, 1f, 0f, 0f), 1),
      (102L, Seq(0f, 0f, 1f, 0f), 2))
      .toDF("vec_id", "embedding", "cluster")
    val train = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),      // dup of eval 100; probes {0, 1}
      (2L, Seq(0f, 0.6f, 0.8f, 0f)),  // probes {2 (0.8), 1 (0.6)}
      (3L, Seq(0.6f, 0f, 0.8f, 0f)))  // probes {2 (0.8), 0 (0.6)}
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticContaminationScreen(train, members,
        "vec_id", "embedding", "cluster", threshold = 0.9, nprobe = 2)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, 1.0, 100L, 1L, true),   // tie (101/102 both sim 0) → cluster 1
      (2L, 0.8, 102L, 0L, false),
      (3L, 0.8, 102L, 0L, false)), got.toSeq)
    // nprobe=1: train 1 sees only cluster 0's member
    val one = Similarity.semanticContaminationScreen(train, members,
        "vec_id", "embedding", "cluster", threshold = 0.9, nprobe = 1)
      .filter(col("vec_id") === 1L).collect().head
    assert(one.getDouble(1) == 1.0 && one.getLong(3) == 1L)
  }

  test("semanticContaminationScreen is a sound screen of brute force") {
    // screen stats are over a candidate SUBSET: per train row max_sim and
    // n_over never exceed brute force, contaminated never false-positives,
    // and every train row is present (probed clusters are never empty)
    val eval = many.filter(col("vec_id") < 10)
    val train = many.filter(col("vec_id") >= 10)
    val members = eval.join(
      Similarity.kmeansAssign(eval, "vec_id", "embedding", 4, 2),
      Seq("vec_id"))
    val screen = Similarity.semanticContaminationScreen(train, members,
      "vec_id", "embedding", "cluster", threshold = 0.3, nprobe = 2)
    val bf = Similarity.semanticContamination(train, eval,
      "vec_id", "embedding", threshold = 0.3)
    assert(screen.count() == train.count())
    val joined = screen.select(col("vec_id"), col("max_sim").as("s_max"),
        col("n_over").as("s_over"), col("contaminated").as("s_flag"))
      .join(bf.select(col("vec_id"), col("max_sim").as("b_max"),
        col("n_over").as("b_over"), col("contaminated").as("b_flag")),
        Seq("vec_id"))
    assert(joined.count() == train.count())
    assert(joined.filter(col("s_max") > col("b_max")).count() == 0)
    assert(joined.filter(col("s_over") > col("b_over")).count() == 0)
    assert(joined.filter(col("s_flag") && !col("b_flag")).count() == 0)
    // where the screen's max equals brute force's, the nearest id agrees
    val agree = screen.select(col("vec_id"), col("max_sim"),
        col("nearest_eval").as("s_nn"))
      .join(bf.select(col("vec_id"), col("max_sim"),
        col("nearest_eval").as("b_nn")), Seq("vec_id", "max_sim"))
    assert(agree.filter(col("s_nn") =!= col("b_nn")).count() == 0)
    // measured recall floor: probing 2 of 4 clusters must recover most of
    // the brute-force contaminations on the (deterministic) fixture — a
    // probe/tie-break regression that silently drops flags fails here
    val bfFlagged = bf.filter(col("contaminated")).select("vec_id")
    val nBf = bfFlagged.count()
    assert(nBf > 0, "fixture produces no contaminations - recall untestable")
    val nHit = screen.filter(col("contaminated")).select("vec_id")
      .join(bfFlagged, Seq("vec_id")).count()
    assert(nHit.toDouble / nBf >= 0.75,
      s"screen recall $nHit/$nBf below the fixture floor")
  }

  test("semanticContaminationAuto dispatches on estimated dots per core") {
    val eval = many.filter(col("vec_id") < 10)
    val train = many.filter(col("vec_id") >= 10)
    // an unreachable gate keeps the exact brute path: bit-identical to
    // semanticContamination, and the plan carries no probe explode
    val autoBrute = Similarity.semanticContaminationAuto(train, eval,
      "vec_id", "embedding", threshold = 0.3,
      maxDotsPerCore = Long.MaxValue)
    val bf = Similarity.semanticContamination(train, eval,
      "vec_id", "embedding", threshold = 0.3)
    assert(autoBrute.orderBy("vec_id").collect().toSeq ==
      bf.orderBy("vec_id").collect().toSeq)
    assert(!autoBrute.queryExecution.optimizedPlan.toString
      .contains("Generate"), "brute dispatch must not build the probe")
    // gate 0 forces the screen: the plan probes (explode over the
    // centroid fold) and the result is bit-identical to calling the
    // screen directly with auto's own k/nprobe derivation (k =
    // min(nEval, max(16, ceil(sqrt(nEval)))) = 10 singleton-ish
    // clusters here)
    val autoScreen = Similarity.semanticContaminationAuto(train, eval,
      "vec_id", "embedding", threshold = 0.3, maxDotsPerCore = 0L)
    assert(autoScreen.queryExecution.optimizedPlan.toString
      .contains("Generate"), "screen dispatch must build the probe")
    val ev = eval.select(col("vec_id"), col("embedding"))
    val members = ev.join(
      Similarity.kmeansAssign(ev, "vec_id", "embedding", 10, 2),
      Seq("vec_id"))
    val screen = Similarity.semanticContaminationScreen(train, members,
      "vec_id", "embedding", "cluster", threshold = 0.3, nprobe = 2)
    assert(autoScreen.orderBy("vec_id").collect().toSeq ==
      screen.orderBy("vec_id").collect().toSeq)
  }

  test("semanticContaminationScreen single-literal path equals default") {
    import spark.implicits._
    // literalBudget=0 forces the one-typedlit probe table (the large-k
    // path); results must be bit-identical to the unrolled-literal default
    val members = Seq(
      (100L, Seq(1f, 0f, 0f, 0f), 0),
      (101L, Seq(0f, 1f, 0f, 0f), 1),
      (102L, Seq(0f, 0f, 1f, 0f), 2))
      .toDF("vec_id", "embedding", "cluster")
    val train = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 0.6f, 0.8f, 0f)),
      (3L, Seq(0.6f, 0f, 0.8f, 0f)))
      .toDF("vec_id", "embedding")
    def run(budget: Int) = Similarity.semanticContaminationScreen(train,
        members, "vec_id", "embedding", "cluster", threshold = 0.9,
        nprobe = 2, literalBudget = budget)
      .orderBy("vec_id").collect().toSeq
    assert(run(0) == run(10000))
  }

  test("semanticContaminationScreen plan: hash agg, broadcast, no sort") {
    import spark.implicits._
    val members = Seq((100L, Seq(1f, 0f), 0), (101L, Seq(0f, 1f), 1))
      .toDF("vec_id", "embedding", "cluster")
    val train = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val plan = Similarity.semanticContaminationScreen(train, members,
        "vec_id", "embedding", "cluster", threshold = 0.9, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.linesIterator.take(8)
      .mkString("\n"))
    assert(!plan.contains("SortAggregate"), plan.linesIterator.take(8)
      .mkString("\n"))
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(8)
      .mkString("\n"))
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(8)
      .mkString("\n"))
  }

  test("thresholdPairs plan has no cartesian/nested-loop join") {
    val plan = Similarity.thresholdPairs(
        many, "vec_id", "embedding", 0.5, dim = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5)
      .mkString("\n"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  // The SRP sign table's LOAD-BEARING property is hyperplane
  // independence, not just determinism: the retired affine family
  // ((73j+179d) mod 97) was perfectly deterministic yet its correlated
  // planes (mean |dot| ~ 28/64, some identical) collapsed 21% of any
  // corpus into one bucket and made the band join single-key quadratic
  // at scale. This lock fails on any future "simplification" that swaps
  // the table for a low-entropy formula.
  test("SrpSigns: 128 decorrelated planes, no identical/negated pairs") {
    val t = Similarity.SrpSigns
    assert(t.length == 128)
    val dim = 64
    def plane(j: Int): Array[Int] =
      Array.tabulate(dim)(d => if (((t(j) >> d) & 1L) == 1L) 1 else -1)
    val planes = Array.tabulate(t.length)(plane)
    // bias: no plane is close to constant-sign (the anisotropy failure)
    for (p <- planes) assert(math.abs(p.sum) <= 18, p.sum)
    // pairwise correlation: random-±1 magnitude, far from ±dim
    for (a <- planes.indices; b <- (a + 1) until planes.length) {
      val dot = (0 until dim).map(d => planes(a)(d) * planes(b)(d)).sum
      assert(math.abs(dot) <= 28, s"planes $a,$b correlate: dot=$dot")
    }
  }
}
