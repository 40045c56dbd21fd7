package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process: set up, one first pass, timed passes for a fixed
  * time, then (untimed) the outputs the check reads; writes a result JSON
  * the runner turns into the reported metrics.
  *
  *   perfbench.Main workload=<name> seconds=<s> trace=<0|1> data=<dir>
  *     out=<dir> result=<file> cpus=<n> setups=<k> rows=<n>
  *
  * With trace=1 untraced and traced passes alternate; the untraced ones
  * give the program's own counters and the traced ones the per-layer
  * spans, and their wall-time ratio is the tracing overhead.
  */
object Main {

  final case class PassResult(index: Int, traced: Boolean, wall: Double,
      cpu: Double, gc: Double, steal: Double, stats: GroupStats,
      layerStats: Map[String, GroupStats], plan: PlanCounters,
      cacheLeft: Int, scratchBytes: Long, self: Map[String, Double],
      coverage: Double, log: PassLog)

  private val MB = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val a = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }
      .toMap
    val seconds = a("seconds").toDouble
    val traceMode = a("trace") == "1"
    val cpus = a("cpus").toInt
    val out = a("out")
    val data = a("data")
    val rows = a("rows").toLong
    val workload: Workload = a("workload") match {
      case "movie_etl" => new MovieEtlWorkload(data, s"$out/sink", rows)
      case "text_dedup" => new TextDedupWorkload(data, rows)
      case w => sys.error(s"unknown workload $w")
    }
    val probe = new Probe(
      if (workload.name == "movie_etl") None else Some(data))
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))

    // ---- set-up, repeated; the last session is the one measured --------
    var spark: SparkSession = null
    val setupTimes = (1 to a("setups").toInt).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession(cpus, s"$out/spark-local")
      spark.sparkContext.addSparkListener(probe)
      probe.attach(spark)
      workload.stage(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val trace = new Trace(sc)

    def scratchBytes(): Long = Option(tmp.toFile.listFiles).toSeq.flatten
      .filter(_.getName.startsWith("graft_scratch_"))
      .map(f => Host.dirBytes(f.toPath)).sum

    def runPass(i: Int, traced: Boolean): PassResult = {
      org.apache.spark.perfbench.Access.drainListeners(sc)
      probe.takePlanCounters()
      val log = new PassLog
      val scratch0 = scratchBytes()
      val (cpu0, gc0, steal0) =
        (Host.cpuSeconds(), Host.gcSeconds(), Host.stealSeconds())
      trace.beginPass(i, traced)
      val t0 = System.nanoTime()
      trace.span("pass")(workload.pass(spark, trace, probe, log))
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu1, gc1, steal1) =
        (Host.cpuSeconds(), Host.gcSeconds(), Host.stealSeconds())
      trace.enabled = false
      sc.clearJobGroup()
      org.apache.spark.perfbench.Access.drainListeners(sc)
      val plan = probe.takePlanCounters()
      val self = if (traced) trace.selfTimes(i) else Map.empty[String, Double]
      val passSpan = trace.spans.find(s => s.pass == i && s.name == "pass")
      val coverage = passSpan.map(ps => trace.spans
          .filter(s => s.pass == i && s.parent == ps.id).map(_.seconds).sum /
          ps.seconds).getOrElse(0.0)
      val layerStats = if (!traced) Map.empty[String, GroupStats] else
        self.keys.map(n => n -> probe.collect(s"p$i/$n")).toMap
      val r = PassResult(i, traced, wall, cpu1 - cpu0, gc1 - gc0,
        steal1 - steal0, probe.collect(s"p$i"), layerStats, plan,
        org.apache.spark.perfbench.Access.cacheEntries(spark),
        scratchBytes() - scratch0, self, coverage,
        log)
      // the benchmark's own purge, outside the timed window: each pass
      // starts with no cached state and a collected heap
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      System.err.println(f"[perfbench] pass $i%d traced=$traced " +
        f"wall=$wall%.3f s cpu=${cpu1 - cpu0}%.2f s" +
        (if (log.errors.nonEmpty) s" errors=${log.errors.mkString("; ")}"
         else ""))
      r
    }

    // ---- first pass (cold JIT/codegen), then the timed closed loop ------
    val first = runPass(0, traced = false)
    var i = 1
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val loop0 = System.nanoTime()
    while ((System.nanoTime() - loop0) / 1e9 < seconds ||
        passes.size < workload.minTimedPasses) {
      passes += runPass(i, traced = traceMode && passes.size % 2 == 1)
      i += 1
    }
    val checkLog = new PassLog
    val check0 = System.nanoTime()
    workload.checkOutputs(spark, s"$out/check", checkLog)
    System.err.println(f"[perfbench] set-ups ${setupTimes.sum}%.1f s, " +
      f"check outputs ${(System.nanoTime() - check0) / 1e9}%.1f s")

    val all = first +: passes.toSeq
    val result = summary(workload, setupTimes, first, passes.toSeq,
      traceMode) ++ Map(
      "attempted" -> (all.map(_.log.attempted).sum + checkLog.attempted),
      "errors" -> (all.flatMap(_.log.errors) ++ checkLog.errors),
      "check_counts" -> checkLog.counts.toMap,
      "traced_counts" -> passes.filter(_.traced).map(_.log.counts.toMap),
      "oracles" -> workload.oracles,
      "query_s" -> passes.filterNot(_.traced).map(_.log.querySeconds.toMap),
      "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors,
        "mem_total_mb" -> Host.memTotalMb, "cpus_used" -> cpus,
        "steal_s_per_pass" -> all.map(_.steal)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("result")),
      Json(result))
    if (traceMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/spans.json"), trace.json)
    spark.stop()
  }

  def newSession(cpus: Int, localDir: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def summary(w: Workload, setup: Seq[Double], first: PassResult,
      passes: Seq[PassResult], traceMode: Boolean)
  : Map[String, Any] = {
    val plain = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced)
    val runS = median(plain.map(_.wall))
    val e2e = Map(
      "run_s" -> runS,
      "first_run_s" -> first.wall,
      "rows_per_s" -> (if (runS > 0) w.inputRows / runS else 0.0),
      "peak_task_mem_mb" -> median(plain.map(_.stats.peakTaskMem / MB)),
      "setup_s" -> median(setup))
    def m(f: PassResult => Double, ps: Seq[PassResult] = plain) =
      median(ps.map(f))
    def layer(n: String)(f: GroupStats => Double) =
      m(p => p.layerStats.get(n).map(f).getOrElse(0.0), traced)
    def count(n: String) = m(_.log.counts.getOrElse(n, 0.0), traced)
    val spanMetrics = Seq("extract.infer", "extract.read", "transform.clean",
      "transform.merge", "ratings.pivot", "load.parquet", "load.jdbc",
      "tables.load", "dedup.pairs", "dedup.cc", "textops", "spark.query")
      .map(n => (if (n.contains('.')) s"${n}_s" else s"$n.s") ->
        m(_.self.getOrElse(n, 0.0), traced))
    val perLayer = spanMetrics.toMap ++ Map(
      "extract.input_passes" -> (if (w.inputBytes == 0) 0.0
        else m(_.stats.inputBytes.toDouble) / w.inputBytes),
      "transform.movies_out" -> count("transform.movies_out"),
      "ratings.groups" -> count("ratings.groups"),
      "ratings.shuffle_write_mb" ->
        layer("ratings.pivot")(_.shuffleWriteBytes / MB),
      "load.bytes_written_mb" -> layer("load.parquet")(_.outputBytes / MB),
      "load.files_written" -> count("load.files_written"),
      "tables.scan_s" -> m(_.plan.scanSeconds),
      "tables.bytes_read_mb" -> m(_.plan.scanBytes / MB),
      "functions.gram_evals" -> m(_.plan.gramEvals.toDouble),
      "dedup.pairs_out" -> count("dedup.pairs_out"),
      "dedup.cc_jobs" -> layer("dedup.cc")(_.jobs.toDouble),
      "cache.entries_left" -> m(_.cacheLeft.toDouble),
      "scratch.bytes_written_mb" -> m(_.scratchBytes / MB),
      "spark.jobs" -> m(_.stats.jobs.toDouble),
      "spark.tasks" -> m(_.stats.tasks.toDouble),
      "spark.shuffle_read_mb" -> m(_.stats.shuffleReadBytes / MB),
      "spark.shuffle_write_mb" -> m(_.stats.shuffleWriteBytes / MB),
      "spark.spill_mb" -> m(_.stats.spillBytes / MB),
      "process.cpu_s" -> m(_.cpu),
      "spark.gc_s" -> m(_.gc),
      "spark.task_skew" -> m(_.stats.taskSkew),
      "spark.steal_s" -> m(_.steal),
      "trace.overhead_frac" -> (if (traced.isEmpty || runS <= 0) 0.0
        else median(traced.map(_.wall)) / runS - 1.0),
      "trace.coverage_frac" -> m(_.coverage, traced),
      "trace.run_s" -> m(_.wall, traced))
    Map("workload" -> w.name, "trace" -> traceMode,
      "metrics" -> (if (traceMode) perLayer else e2e),
      "samples" -> Map("timed" -> plain.size, "traced" -> traced.size,
        "setup" -> setup.size),
      "setup_s_all" -> setup, "run_s_all" -> plain.map(_.wall),
      "traced_s_all" -> traced.map(_.wall))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" +
      apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
