package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Results are forced with a noop-format write (full
  * plan execution incl. projected columns — `count()` would let Spark prune
  * the very expressions being measured).
  *
  * Queries are timed in forked child JVMs (running this same main), a
  * small GROUP per fork: a single long-lived session accumulating all
  * headline queries degrades 3-5× on later queries on this host (codegen
  * cache + GC pressure), and round 4 showed the degradation lives in the
  * shared SparkContext, not just the session — a fresh-session-per-query
  * sweep still reported ts6 at 4.4 s where an isolated run gives 1.5 s.
  * Strict fork-per-query fixed that but paid a fresh JVM + Spark startup
  * + JIT warmup per query — round 10's 109-query sweep spent 1296 s on
  * warmups + ~900 s on JVM startups against 652 s of timed runs, overran
  * the driver's wall-clock window, and produced NO artifact (rc 124).
  * Grouping a handful of queries per fork (SPARK_GRAFT_FORK_GROUP,
  * default 6; 1 = old strict isolation) amortizes that overhead while
  * keeping accumulation bounded: each query still gets a fresh session,
  * a cache purge and a GC inside the fork, and the group is small enough
  * that the round-4 pathology (which needed dozens of accumulated
  * queries) can't rebuild. min-of-3 after a warmup run damps the host's
  * CPU-steal spikes. `SPARK_GRAFT_FORK=0` forces the in-process mode.
  *
  * A wall-clock budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 2100)
  * guarantees the final JSON line is ALWAYS emitted: the parent stops
  * launching forks once the budget is spent and records the unmeasured
  * queries in a `skipped` list, and each child gets the remaining budget
  * as a hard timeout (a hung child is killed, its completed queries
  * already parsed from the captured stdout; its unattempted queries land
  * in a `killed` list, distinct from the -1 sentinel that marks a query
  * the child ran and which failed). A partial-but-parseable artifact
  * beats a complete run the harness never sees.
  *
  * Two hygiene rules keep single measurements honest: the shared cache
  * manager is purged between RUNS, not just between queries (a query that
  * persists internally must never have run 2/3 ride run 1's cache —
  * round 11's dd26 grew 8.7→78 s exactly that way), and a reported min
  * whose run carried > 5 s of host CPU-steal is re-measured once at sweep
  * end, keeping the cleaner of the two measurements (`rerun` list in the
  * protocol).
  *
  * The JSON carries the measurement protocol alongside the headline
  * numbers: a `protocol` object (runs per query, warmup runs, isolation
  * mode) and a per-query `runs` map with the warmup time and every timed
  * run. This host shows up to 5× CPU-steal variance between identical
  * runs — the raw spread is what lets a reader separate host noise from a
  * real regression without re-deriving it from git history; `queries`
  * stays the plain name→min-seconds map. Each timed run also carries its
  * GC and host-steal seconds (`gc_sec`/`steal_sec`, parallel to `times`)
  * so an outlier run is attributable without a re-run.
  */
object Bench {

  private val nRuns = 3

  // SPARK_GRAFT_PURGE=query is an A/B-ONLY protocol dial (see runPurge).
  // Read ONCE at class-init so the protocol can't flip between queries,
  // and warned about at startup in main (ADVICE r13).
  private val purgePerQuery =
    sys.env.get("SPARK_GRAFT_PURGE").contains("query")

  /** One query's measurement: warmup seconds + the `nRuns` timed runs,
    * plus the task-metrics profile of the last timed run (shuffle volumes
    * are plan properties — near-constant across runs — so one snapshot
    * suffices). `value` (the reported number) is the min; a failed query
    * reports -1 with empty runs.
    *
    * `gcSec`/`stealSec`/`iowaitSec`/`cpuSec` decompose each timed run's
    * wall clock (parallel to `times`): whole-JVM GC seconds during the
    * run (GC MXBean delta — in local mode executors share the driver
    * JVM, so this IS the query's GC), host CPU-steal seconds, host
    * iowait seconds (both /proc/stat deltas; iowait flags
    * page-cache-evicted corpus re-reads), and this PROCESS's user+sys
    * CPU seconds (/proc/self/stat delta — a slow run whose cpu_sec
    * scales with its wall was COMPUTING more, i.e. JIT/codegen churn or
    * a changed plan; one whose cpu_sec stays flat was waiting). They
    * exist to make outlier runs attributable from the artifact alone:
    * this host shows isolated 10-30× spikes between identical
    * back-to-back runs, and without the split every spike costs a
    * manual re-run to classify as ours (fixable) vs the host's
    * (min-of-3 damps it).
    */
  private[graft] case class Detail(warmup: Double, times: Seq[Double],
      metrics: Option[RunMetrics] = None, gcSec: Seq[Double] = Nil,
      stealSec: Seq[Double] = Nil, iowaitSec: Seq[Double] = Nil,
      cpuSec: Seq[Double] = Nil) {
    def value: Double = if (times.isEmpty) -1.0 else times.min
    private def arr(xs: Seq[Double]): String =
      xs.map(t => f"$t%.3f").mkString(",")
    def attributionJson: String =
      if (gcSec.isEmpty && stealSec.isEmpty) ""
      else s""","gc_sec":[${arr(gcSec)}],"steal_sec":[${arr(stealSec)}]""" +
        (if (iowaitSec.isEmpty) ""
         else s""","iowait_sec":[${arr(iowaitSec)}]""" +
           (if (cpuSec.isEmpty) ""
            else s""","cpu_sec":[${arr(cpuSec)}]"""))
    def json: String =
      f"""{"warmup":$warmup%.3f,"times":[${arr(times)}]${metrics
        .fold("")("," + _.json)}$attributionJson}"""
  }

  /** Aggregated task metrics for one query run: total shuffle bytes
    * written/read across all tasks, total spill (memory+disk), and the
    * single largest per-task peak execution memory — the four numbers that
    * say whether a plan's shuffle would survive a 100× scale-up (bytes
    * growth rate) and whether any one task is a memory hot-spot — plus the
    * Spark jobs the run started (a per-job fixed cost the task totals
    * do not show).
    */
  private[graft] case class RunMetrics(shuffleReadMB: Double,
      shuffleWriteMB: Double, spillMB: Double, peakTaskMemMB: Double,
      jobs: Long = 0L) {
    def json: String =
      f""""shuffle_read_mb":$shuffleReadMB%.1f,""" +
        f""""shuffle_write_mb":$shuffleWriteMB%.1f,""" +
        f""""spill_mb":$spillMB%.1f,"peak_task_mem_mb":$peakTaskMemMB%.1f,""" +
        s""""jobs":$jobs"""
  }

  /** SparkListener accumulating task metrics between [[reset]] and
    * [[snapshot]]. Listener-bus delivery is async, so BOTH boundaries
    * drain first: snapshot() so the profiled run's own tail events are
    * counted, and reset() so still-in-flight TaskEnd events from the
    * EARLIER timed runs can't land after the reset and inflate the
    * profiled run's totals (late events cut both ways — undercount at
    * snapshot, overcount at reset).
    */
  private final class MetricsAgg
      extends org.apache.spark.scheduler.SparkListener {
    private val read = new java.util.concurrent.atomic.AtomicLong
    private val write = new java.util.concurrent.atomic.AtomicLong
    private val spill = new java.util.concurrent.atomic.AtomicLong
    private val peak = new java.util.concurrent.atomic.AtomicLong
    private val jobs = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet(): Unit
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peak.getAndUpdate(c => math.max(c, m.peakExecutionMemory)): Unit
      }
    }
    private def drain(): Unit = Thread.sleep(300)
    def reset(): Unit = { drain()
      read.set(0); write.set(0); spill.set(0); peak.set(0); jobs.set(0) }
    def snapshot(): RunMetrics = {
      drain()
      RunMetrics(read.get / 1e6, write.get / 1e6, spill.get / 1e6,
        peak.get / 1e6, jobs.get)
    }
  }

  /** Cumulative whole-JVM GC milliseconds (all collectors). */
  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Cumulative host (steal, iowait) jiffies from /proc/stat's aggregate
    * `cpu` line (fields 8 and 5); None where the proc file is absent or
    * short (non-Linux, containers without the accounting) — the arrays
    * are then OMITTED from the detail line rather than emitted as zeros,
    * so "all-zero attribution" can never be confused with a quiet host.
    * Jiffies are converted at USER_HZ=100 (the Linux userland ABI
    * constant /proc/stat is specified against). Both are host-wide sums
    * over all CPUs — what matters for attribution is the DELTA during
    * one run vs the runs around it, not the absolute value.
    */
  private def hostJiffies(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val t = src.getLines().next().split("\\s+")
        def f(i: Int) = t.lift(i).flatMap(_.toLongOption)
        for (s <- f(8); w <- f(5)) yield (s, w)
      } finally src.close()
    } catch { case _: Exception => None }

  /** Cumulative THIS-process user+sys jiffies (/proc/self/stat utime +
    * stime — fields 14/15, read after the `(comm)` field so an exotic
    * process name can't shift them); None off-Linux (array omitted).
    */
  private def procCpuJiffies(): Option[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/self/stat")
      try {
        val line = src.getLines().next()
        val rest = line.substring(line.lastIndexOf(')') + 2).split(" ")
        def f(i: Int) = rest.lift(i).flatMap(_.toLongOption)
        // utime, stime (0-indexed from the state field)
        for (u <- f(11); s <- f(12)) yield u + s
      } finally src.close()
    } catch { case _: Exception => None }

  /** Whether this platform exposes the /proc counters the attribution
    * arrays are computed from — checked once; when false the arrays are
    * omitted entirely (Detail.attributionJson drops empty arrays).
    */
  private lazy val procAttrOk: Boolean =
    hostJiffies().isDefined && procCpuJiffies().isDefined

  /** JSON string-escape for protocol values sourced from the environment
    * (SPARK_GRAFT_EXTRA_CONF): backslash, quote, and all control chars —
    * a stray backslash must not make the artifact unparseable.
    */
  private def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Entries whose steady-state SEMANTICS are build-once/serve-many:
    * their timed runs legitimately ride the relations the warmup built
    * (the warmup column carries the true build cost), so the per-run
    * cache purge would measure a workload the operator never runs —
    * an index rebuilt per query. Everything else gets the honest
    * full-recompute measurement: round 12's purge change revealed that
    * ordinary pipeline entries' run-2/3 numbers had been riding
    * cache-manager plan substitution of their own run-1 relations
    * (dd12 at 30× measured 5 s cached vs 36 s honest).
    */
  private val cacheRiders: Set[String] = Set("sim9_persisted_ann")

  /** The bench headline set — also the scope of [[PlanAudit]]. */
  val headlineQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_volume",
    "q6_revenue_delta", "q7_volume_shipping", "q13_custdist",
    "q21_waiting_suppliers", "q2_min_cost_supplier", "q9_product_profit",
    "q11_important_stock", "q16_supplier_relationship",
    "q20_potential_promotion",
    "j1_inner_join", "j2_left_join_fill", "j5_asof_join",
    "a2_pivot", "w1_row_number", "x7_parse_dollars", "x13_date_cascade",
    "dd2_minhash_sig", "dd5_ngram_jaccard", "dd6_embedding_neardup",
    "dd7_simhash_neardup", "dd8_line_dedup", "dd9_span_dedup",
    "dd10_dup_clusters", "dd11_incremental", "dd12_neardup_dedup",
    "dd13_snapshot_diff", "dd14_semdedup", "dd15_minhash_dedup",
    "dd16_quality_dedup", "dd17_canonical_dedup",
    "tc1_decontam_report", "tc3_span_decontam", "tc5_split_decontam",
    "ts2_quality", "ts6_tfidf", "ts7_repetition", "ts8_sequence_chunks",
    "ts9_redact_pii", "ts10_nb_quality", "ts11_bpe_train",
    "ts13_c4_clean", "ts17_bigram_lm",
    "tp7_sequence_packing", "tp18_assign_ids",
    "tp4_temperature_mix", "tp5_source_topk", "tp6_token_budget_mix",
    "tp8_quality_ensemble", "tp9_dsir_weights", "tp10_ppl_buckets",
    "tp11_prep_pipeline", "tp12_shard_balance", "tp13_winsorize",
    "tp14_quality_pareto", "tp15_epoch_schedule",
    "ts14_zipf_fit", "ts15_lexical_diversity",
    "sim1_cosine_topk", "sim2_threshold_pairs", "sim3_ivf_topk",
    "sim4_clustered_pairs", "sim9_persisted_ann",
    "sim11_knn_classify", "sim12_centroid_drift", "sim13_scalar_quantize",
    "st1_hourly_window", "st2_sessionize", "st4_interval_join",
    "st5_user_sequences", "ev1_cohort_retention", "ev4_growth_accounting",
    "ev6_rfm_segments", "ev7_volume_anomalies", "ev8_decay_score",
    "ev9_mad_anomalies", "a13_skew_report", "dd23_scd2_history",
    "dd24_pagerank", "dd25_prefix_pairs", "dd26_threshold_curve",
    "j11_bloom_filter_join", "o4_reservoir_pergroup",
    "tp21_weighted_sample", "st13_session_window_builtin",
    "w6_cumulative_distinct",
    "ts20_keywords", "ts21_ngram_novelty",
    "tp1_curation",
    "mm1_binary_meta", "mm4_vit_patches",
    "dd27_label_propagation", "lm2_kneser_ney", "tc6_semantic_decontam",
    "tc7_semantic_screen", "ts22_sentence_stats", "sim17_srp_lsh",
    "dd28_kcore", "dd29_containment", "tp23_quantile_calibration",
    "tp24_top_p_selection",
    "tp25_source_cap", "ev10_gapfill_resample", "a18_countmin",
    "dd30_corpus_overlap", "st14_stream_sketch", "j13_session_overlap",
    "dd18_fuzzy_pairs", "dd18b_skew_pairs", "sim16b_ann_contrastive")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // SPARK_GRAFT_ONLY=a,b,c narrows the run for single-query isolation
    // checks (reproducing a reported number without the full sweep)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(headlineQueries)(s => headlineQueries.filter(s))

    val inProcess = sys.env.contains("SPARK_GRAFT_FORKED") ||
      sys.env.get("SPARK_GRAFT_FORK").contains("0")
    val groupSize = math.max(1, sys.env.get("SPARK_GRAFT_FORK_GROUP")
      .flatMap(_.toIntOption).getOrElse(6))
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .flatMap(_.toLongOption).getOrElse(2100L)
    val t0 = System.nanoTime()
    def elapsedSec: Long = (System.nanoTime() - t0) / 1000000000L

    // ADVICE r10: a stray SPARK_GRAFT_EXTRA_CONF would silently alter the
    // "measured defaults" — surface it on stderr and stamp it into the
    // protocol object so a tainted artifact is identifiable.
    val extraConf = sys.env.get("SPARK_GRAFT_EXTRA_CONF").filter(_.nonEmpty)
    extraConf.foreach(c =>
      System.err.println(s"[bench] EXTRA_CONF overrides active: $c"))
    // same treatment for the purge dial (ADVICE r13): it's A/B-only, and
    // an env var inherited from an earlier A/B shell would silently revert
    // the per-run hygiene for a headline sweep — warn at startup so the
    // run log shows it (the object-level val reads the env exactly once).
    if (purgePerQuery)
      System.err.println(
        "[bench] SPARK_GRAFT_PURGE=query active: per-QUERY purge " +
          "(A/B-only protocol — not valid for headline sweeps)")

    val (firstPass, skipped, killed) =
      if (inProcess) (runInProcess(selected, sfDir, cpus), Nil, Nil)
      else {
        val done = Seq.newBuilder[(String, Detail)]
        val skip = Seq.newBuilder[String]
        val kill = Seq.newBuilder[String]
        selected.grouped(groupSize).foreach { g =>
          val remaining = budgetSec - elapsedSec
          // under ~30 s left a fork can't even finish session startup —
          // skip rather than launch a doomed child
          if (remaining <= 30) skip ++= g
          else {
            val (res, k) = forkGroup(g, sfDir, remaining)
            done ++= res; kill ++= k
          }
        }
        (done.result(), skip.result(), kill.result())
      }

    // steal-gated outlier re-runs: a reported min whose run carried > ~2 s
    // of host CPU-steal is a contaminated measurement, not the query's
    // number (r11: q3 reported off a 21 s-steal run on 5.8 s of compute;
    // r13/r14 both needed hand adjudication of steal-noisy minima). The
    // rerun is a LOOP, not a single pass (VERDICT r14): a burst can land
    // on the rerun too, so contaminated minima go around again — each
    // pass keeps whichever measurement's min run is cleaner — until every
    // reported min is clean, the wall budget runs out, or a pass cap
    // breaks a permanently-noisy host. The protocol records every pass's
    // names, so "this min is clean by construction OR the host never
    // went quiet" is readable from the artifact.
    val stealGateSec = 2.0
    val maxRerunPasses = 4
    def minRunSteal(d: Detail): Double =
      if (d.times.isEmpty || d.stealSec.size != d.times.size) 0.0
      else d.stealSec(d.times.indexOf(d.times.min))
    def contaminated(rs: Seq[(String, Detail)]): Seq[String] =
      rs.collect {
        case (n, d) if d.value >= 0 && minRunSteal(d) > stealGateSec => n
      }
    var results = firstPass
    val rerunLog = Seq.newBuilder[String]
    var pass = 0
    var pending = if (inProcess) Nil else contaminated(results)
    while (pass < maxRerunPasses && pending.nonEmpty &&
        budgetSec - elapsedSec > 30) {
      rerunLog ++= pending
      val reruns: Map[String, Detail] =
        pending.grouped(groupSize).flatMap { g =>
          val remaining = budgetSec - elapsedSec
          if (remaining <= 30) Nil else forkGroup(g, sfDir, remaining)._1
        }.toMap
      results = results.map { case (n, d) =>
        n -> reruns.get(n).filter { d2 =>
          d2.value >= 0 && (minRunSteal(d2) < minRunSteal(d) ||
            (minRunSteal(d2) == minRunSteal(d) && d2.value < d.value))
        }.getOrElse(d)
      }
      pass += 1
      pending = contaminated(results)
    }
    if (pending.nonEmpty)
      System.err.println(s"[bench] still steal-contaminated after $pass " +
        s"rerun passes (host never quiet): ${pending.mkString(",")}")
    val rerunNames = rerunLog.result()

    val isolation =
      if (inProcess) "fresh-session-per-query"
      else if (groupSize == 1) "fork-per-query"
      else s"fork-per-group"
    // failed queries report -1 — they must not subtract from total
    val total = results.map(_._2.value).filter(_ >= 0).sum
    // Protocol annotations: full skipped/killed/rerun name lists only in
    // the detail file (they could blow the compact line's length cap);
    // the compact stdout line carries just the counts. `killed` = queries
    // whose child JVM hit the wall budget before attempting them (distinct
    // from a -1, which means the child ran the query and it failed);
    // `rerun` = steal-gated outliers re-measured at sweep end.
    def names(key: String, ns: Seq[String]): String =
      if (ns.isEmpty) ""
      else ns.map("\"" + _ + "\"").mkString(s""","$key":[""", ",", "]")
    def count(key: String, ns: Seq[String]): String =
      if (ns.isEmpty) "" else s""","n_$key":${ns.size}"""
    val protoBase = {
      val group = if (inProcess) "" else s""","fork_group":$groupSize"""
      val purge =
        if (purgePerQuery)
          s""","cache_purge":"per-query (A/B override)""""
        else s""","cache_purge":"per-run""""
      val conf = extraConf.fold("")(c =>
        s""","extra_conf":"${jsonEscape(c)}"""")
      group + purge + conf
    }
    val protoExtra = protoBase +
      names("cache_riders", cacheRiders.toSeq.sorted) +
      names("skipped", skipped) + names("killed", killed) +
      names("rerun", rerunNames) + names("steal_dirty", pending) +
      (if (procAttrOk) s""","attribution":"per-run gc/steal/iowait/cpu """ +
        s"""(/proc deltas, USER_HZ=100; omitted where /proc unreadable)""""
       else "")
    val protoCompact = protoBase +
      count("skipped", skipped) + count("killed", killed) +
      count("rerun", rerunNames) + count("steal_dirty", pending)

    // The harness that snapshots this run keeps only a SHORT TAIL of the
    // combined output (~2000 chars) and parses the headline JSON out of
    // that window — rounds 1-7 all failed to parse because either trailing
    // executor logs pushed the line out of the tail or the per-query
    // `runs` detail grew the line past the window. So: full-precision
    // detail (warmup + every timed run per query) goes to a local file and
    // stderr, stderr gets a moment to drain ahead of stdout in the
    // combined capture, and the FINAL stdout line is a compact summary
    // with a hard length cascade (2dp → 1dp → slowest-40-only) that keeps
    // it parseable inside the tail no matter how the headline set grows.
    val runs = results.map { case (k, d) => "\"" + k + "\":" + d.json }
      .mkString("{", ",", "}")
    val detail =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","protocol":""" +
        s"""{"n_runs":$nRuns,"warmup_runs":1,"report":"min",""" +
        s""""isolation":"$isolation"$protoExtra},"runs":$runs,"sf":"$sfDir"}"""
    // three copies: BENCH_DETAIL.json is the gitignored working artifact
    // (tooling reads it in place); BENCH_DETAIL_LAST.json is TRACKED, so
    // the round-end commit snapshots each round's full per-run detail —
    // steal attribution must live in history for a later round to
    // adjudicate a regression without re-running (VERDICT r14 item 7);
    // BENCH_DETAIL_LAST_c<cpus>.json is tracked PER CORE COUNT, because
    // the driver sweeps at two core counts back to back and r15's 8-core
    // run overwrote the 32-core per-query steal attribution — the
    // steal_dirty names for 15 contaminated minima became unrecoverable
    // (VERDICT r15 item 2). A 32-core + 8-core sequence now leaves both
    // runs' detail on disk.
    for (p <- Seq("BENCH_DETAIL.json", "BENCH_DETAIL_LAST.json",
        s"BENCH_DETAIL_LAST_c$cpus.json"))
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(p),
        (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $p write failed: ${e.getMessage}")
      }
    System.err.println(detail)
    System.err.flush()
    Thread.sleep(300)

    def line(dp: Int, keep: Seq[(String, Detail)]): String = {
      val qs = keep.map { case (k, d) =>
        "\"" + k + "\":" + s"%.${dp}f".format(d.value)
      }.mkString("{", ",", "}")
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$qs,""" +
        s""""protocol":{"n_runs":$nRuns,"warmup_runs":1,"report":"min",""" +
        s""""isolation":"$isolation"$protoCompact,""" +
        s""""detail":"BENCH_DETAIL.json"},""" +
        s""""n_queries":${results.size},"sf":"$sfDir"}"""
    }
    val maxLen = 1500
    val out = Seq(line(2, results), line(1, results),
      line(2, results.sortBy(-_._2.value).take(40)))
      .find(_.length <= maxLen)
      .getOrElse(line(1, results.sortBy(-_._2.value).take(25)))
    println(out)
  }

  /** Child-JVM path (and `SPARK_GRAFT_FORK=0` fallback): time each query
    * in a fresh SparkSession on one shared context. Each query also prints
    * a `{"query":...}` detail line — the parent parses it back out of the
    * child's stdout.
    */
  private def runInProcess(selected: Seq[String], sfDir: String,
      cpus: String): Seq[(String, Detail)] = {
    def freshSession(): org.apache.spark.sql.SparkSession = {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      val builder = org.apache.spark.sql.SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        // one ~20 MB parquet file per table would yield <4 input splits
        // under the 128 MB default — split finer so all cores scan in
        // parallel
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.ui.enabled", "false")
      // SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" — ad-hoc overrides for
      // isolating a plan dial (A/B-ing AQE coalescing, broadcast
      // thresholds) without touching the measured defaults. Forked
      // children inherit the parent env, so it applies either mode.
      sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(
        _.split(";").filter(_.contains("=")).foreach { kv =>
          val Array(k, v) = kv.split("=", 2)
          builder.config(k.trim, v.trim)
        })
      val s = builder.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val all = SparkEntry.queries
    // steady-state timing: one warmup run pays whole-stage-codegen JIT +
    // file-index setup, then min of three timed runs (what a resident
    // cluster would see; min damps this host's up-to-5× CPU-steal spikes).
    val results = selected.map { name =>
      val spark = freshSession()
      // per-RUN cache hygiene (round 11: dd26's runs grew 8.7→78.4 s
      // riding relations its own earlier runs left persisted): purge the
      // shared cache manager + GC after EVERY run, warmup included, so
      // run 2/3 never measure accumulated cache state — each timed run is
      // a full honest execution. Runs outside the timed window.
      // SPARK_GRAFT_PURGE=query is an A/B-ONLY dial (stamped into the
      // protocol object like EXTRA_CONF): it reverts to the pre-r12
      // per-QUERY purge so a protocol-attributed delta (e.g. dd24's r12
      // 3.37→5.21 s) can be isolated against the same binary.
      def purge(): Unit = {
        try spark.sharedState.cacheManager.clearCache()
        catch { case _: IllegalStateException => }
        System.gc()
      }
      val agg = new MetricsAgg
      spark.sparkContext.addSparkListener(agg)
      // (wall, gc, steal, iowait) per run: GC from the whole-JVM MXBean
      // total (synchronous — no listener-bus lag; local mode keeps
      // executors in this JVM so it captures task GC too), steal/iowait
      // from /proc/stat (USER_HZ=100 jiffies; host-wide, but a bench owns
      // the box). iowait catches page-cache-evicted corpus re-reads —
      // the third spike source GC and steal alone leave unexplained.
      def once(): (Double, Double, Double, Double, Double) = {
        val g0 = gcMillis()
        val (s0, w0) = hostJiffies().getOrElse((0L, 0L))
        val c0 = procCpuJiffies().getOrElse(0L)
        val t0 = System.nanoTime()
        all(name)(spark, sfDir).write.format("noop")
          .mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val (s1, w1) = hostJiffies().getOrElse((0L, 0L))
        val c1 = procCpuJiffies().getOrElse(0L)
        (wall, (gcMillis() - g0) / 1e3, (s1 - s0) / 100.0,
          (w1 - w0) / 100.0, (c1 - c0) / 100.0)
      }
      val d = try {
        val warm = once()._1
        // build-once/serve-many entries keep the warmup's cache — that IS
        // their steady state; everything else is purged per run
        def runPurge(): Unit =
          if (!cacheRiders(name) && !purgePerQuery) purge()
        runPurge()
        val timed = Seq.fill(nRuns - 1) { val r = once(); runPurge(); r }
        agg.reset() // profile the final timed run only
        val last = once()
        val runs = timed :+ last
        if (procAttrOk)
          Detail(warm, runs.map(_._1), Some(agg.snapshot()),
            runs.map(_._2), runs.map(_._3), runs.map(_._4),
            runs.map(_._5))
        else // no /proc: omit attribution rather than emit zeros
          Detail(warm, runs.map(_._1), Some(agg.snapshot()))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Detail(-1.0, Nil)
      }
      spark.sparkContext.removeSparkListener(agg)
      println(s"""{"query":"$name",${d.json.tail}""")
      // give the next query a clean runway: the cache manager lives in
      // SharedState (shared across sessions on one context), so an entry
      // whose returned plan rides a persisted relation would otherwise
      // stay cached into every later query; codegen classes and shuffle
      // buffers are only reclaimed on GC. If the context itself died
      // mid-query (e.g. executor-thread OOM stops it in local mode), the
      // failure Detail above is already printed — don't let cleanup's
      // IllegalStateException erase it by crashing the child
      purge()
      name -> d
    }
    try freshSession().stop()
    catch { case _: IllegalStateException => }
    results
  }

  /** Parent path: re-launch this main in a child JVM (same JVM args — the
    * sbt fork already carries the JDK-17 --add-opens set and -Xmx — same
    * classpath) scoped to a GROUP of queries, and parse each query's
    * detail line back out of the child's stdout. The child gets a hard
    * wall-clock timeout: stdout is drained on a daemon thread into a
    * buffer, so queries that completed before a kill still report.
    */
  private[graft] def forkGroup(names: Seq[String], sfDir: String,
      timeoutSec: Long): (Seq[(String, Detail)], Seq[String]) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("SPARK_GRAFT_FORKED", "1")
    pb.environment().put("SPARK_GRAFT_ONLY", names.mkString(","))
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() =>
      try scala.io.Source.fromInputStream(p.getInputStream).getLines()
        .foreach(buf.add)
      catch { case _: java.io.IOException => () }) // stream dies on kill
    reader.setDaemon(true)
    reader.start()
    val done = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) {
      System.err.println(s"[bench] group [${names.mkString(",")}]: " +
        s"child exceeded $timeoutSec s budget, killing")
      p.destroyForcibly()
      p.waitFor()
    }
    reader.join(2000)
    val out = buf.asScala.toList
    val parsed = names.map(n => n -> parseDetailLine(n, out))
    // no detail line + child exited on its own = the child attempted the
    // query and died before printing (a genuine failure, -1); no line +
    // child killed on the wall budget = a budget casualty the child never
    // reached — report it as `killed`, NOT as a failure sentinel, so the
    // artifact distinguishes broken queries from an exhausted budget.
    val results = parsed.collect {
      case (n, Some(d)) => n -> d
      case (n, None) if done =>
        System.err.println(s"[bench] $n: no result from child JVM")
        n -> Detail(-1.0, Nil)
    }
    val budgetKilled = if (done) Nil
      else parsed.collect { case (n, None) => n }
    (results, budgetKilled)
  }

  /** Single-query fork (ScaleBench's entry point): a one-element group
    * with an effectively unbounded timeout — scale rehearsals manage
    * their own budget.
    */
  private[graft] def forkOne(name: String, sfDir: String): Detail =
    forkGroup(Seq(name), sfDir, timeoutSec = 86400L)._1
      .headOption.map(_._2).getOrElse(Detail(-1.0, Nil))

  /** Parse a child JVM's per-query detail line back into a [[Detail]] —
    * the inverse of `Detail.json` as printed by [[runInProcess]]. The
    * metrics group is optional (a failed child emits `times:[]` with
    * none); the LAST matching line wins, so stray log lines and earlier
    * partial output can't shadow the final result. BenchSpec locks the
    * round-trip.
    */
  private[graft] def parseDetailLine(name: String,
      lines: List[String]): Option[Detail] = {
    val pat = ("\\{\"query\":\"" + java.util.regex.Pattern.quote(name) +
      "\",\"warmup\":(-?\\d+\\.\\d+),\"times\":\\[([0-9.,]*)\\]" +
      "(?:,\"shuffle_read_mb\":(-?[0-9.]+),\"shuffle_write_mb\":" +
      "(-?[0-9.]+),\"spill_mb\":(-?[0-9.]+)," +
      "\"peak_task_mem_mb\":(-?[0-9.]+)(?:,\"jobs\":(\\d+))?)?" +
      "(?:,\"gc_sec\":\\[([0-9.,]*)\\],\"steal_sec\":\\[([0-9.,]*)\\]" +
      "(?:,\"iowait_sec\":\\[([0-9.,]*)\\]" +
      "(?:,\"cpu_sec\":\\[([0-9.,]*)\\])?)?)?").r
    def nums(s: String): Seq[Double] =
      s.split(",").filter(_.nonEmpty).map(_.toDouble).toSeq
    lines.reverseIterator
      .flatMap(l => pat.findFirstMatchIn(l).map(m => Detail(
        m.group(1).toDouble, nums(m.group(2)),
        Option(m.group(3)).map(_ => RunMetrics(m.group(3).toDouble,
          m.group(4).toDouble, m.group(5).toDouble, m.group(6).toDouble,
          Option(m.group(7)).fold(0L)(_.toLong))),
        Option(m.group(8)).fold(Seq.empty[Double])(nums),
        Option(m.group(9)).fold(Seq.empty[Double])(nums),
        Option(m.group(10)).fold(Seq.empty[Double])(nums),
        Option(m.group(11)).fold(Seq.empty[Double])(nums))))
      .nextOption()
  }
}
