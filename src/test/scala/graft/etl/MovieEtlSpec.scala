package graft.etl

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerStageCompleted}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Golden end-to-end tests of the reference pipeline over the synthesized
  * fixtures (SURVEY §5.2): checkpoint cardinalities, the 31-column output
  * contract, quirk decisions Q3/Q5/Q7, and per-branch parse spot checks.
  */
class MovieEtlSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val wikiRaw =
    Extract.readWikiJson(spark, fixture("wikipedia.movies.json"))
  /** Every key of the file, for tests of columns the keyed read omits. */
  private lazy val wikiAllKeys =
    ReferenceWiki.readWikiJson(spark, fixture("wikipedia.movies.json"))
  private lazy val result = MovieEtl.run(spark,
    fixture("wikipedia.movies.json"), fixture("movies_metadata.csv"),
    fixture("ratings.csv"))

  private def movieRow(imdb: String) =
    result.movies.filter(col("imdb_id") === imdb).collect().head

  private def field(imdb: String, name: String): Any = {
    val r = result.movies.filter(col("imdb_id") === imdb)
      .select(name).collect().head
    if (r.isNullAt(0)) null else r.get(0)
  }

  test("F1 checkpoint: 55 raw records → 52 movies") {
    assert(wikiRaw.count() == 55)
    assert(WikiClean.filterMovies(wikiRaw).count() == 52)
  }

  test("DC dedup checkpoint: 52 → 51 on duplicate imdb_id (Q5)") {
    val base = WikiClean.withImdbId(
      WikiClean.consolidateColumns(WikiClean.filterMovies(wikiRaw)))
    assert(WikiClean.dedupImdb(base).count() == 51)
  }

  test("null pruning drops the 96%-null column, keeps alt_titles") {
    val cleaned = WikiClean.clean(wikiAllKeys)
    assert(!cleaned.columns.contains("Mostly Null"))
    assert(cleaned.columns.contains("alt_titles"))
  }

  /** The null profile as two jobs (row count, then one `sum(isnull)` per
    * column): the reference that [[WikiClean.pruneMostlyNull]]'s one-pass
    * profile must agree with.
    */
  private def keptByTwoJobs(df: DataFrame): Seq[String] = {
    val total = df.count()
    val nulls = df.select(df.columns.toSeq.map(n =>
      sum(col(s"`$n`").isNull.cast("long"))): _*).head()
    df.columns.toSeq.zipWithIndex.collect {
      case (n, i) if nulls.getLong(i) < 0.9 * total => n
    }
  }

  test("null pruning boundary: 8 of 10 null kept, 9 of 10 dropped") {
    import spark.implicits._
    val df = (0 until 10).map(i => (i, if (i < 8) None else Some(i),
      if (i < 9) None else Some(i))).toDF("id", "eight_null", "nine_null")
    assert(WikiClean.pruneMostlyNull(df).columns.toSeq ==
      Seq("id", "eight_null"))
  }

  test("null pruning keeps the same columns as the two-job profile") {
    val base = WikiClean.withImdbId(
      WikiClean.consolidateColumns(WikiClean.filterMovies(wikiRaw)))
    val kept = WikiClean.pruneMostlyNull(base).columns.toSeq
    assert(kept == keptByTwoJobs(base))
    assert(kept.size < base.columns.length)
  }

  test("null pruning of a 0-row frame drops every column") {
    import spark.implicits._
    val empty = Seq.empty[(Int, String)].toDF("id", "s")
    assert(WikiClean.pruneMostlyNull(empty).columns.isEmpty)
    val emptyParts = spark.range(0).selectExpr("id", "cast(null as string) s")
      .repartition(3)
    assert(WikiClean.pruneMostlyNull(emptyParts).columns.isEmpty)
  }

  test("clean profiles nulls in the job that materialises the wiki frame") {
    Seq(false, true).foreach { dedup =>
      val jobs = jobsDuring(WikiClean.clean(wikiRaw, dedup))
      val checkpoints = jobs.zipWithIndex.collect {
        case (j, i) if j.stageInfos.exists(
          _.name.startsWith("localCheckpoint at WikiClean")) => i }
      // one materialising job, and no job after it
      assert(checkpoints == Seq(jobs.length - 1), s"dedup=$dedup")
    }
  }

  test("declared ratings schema equals the inferred one") {
    assert(Extract.readCsv(spark, fixture("ratings.csv")).schema ==
      Extract.ratingsSchema)
  }

  /** A child of the test session with the given JSON string mode. */
  private def stringMode(exact: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.json.enableExactStringParsing", exact.toString)
    s
  }

  /** The reference's session: [[MovieEtl.run]]'s JSON string mode, which
    * sets the list columns' text.
    */
  private lazy val referenceSession = stringMode(exact = false)

  /** The pipeline composed step by step on the calling thread, with the
    * wiki read over every key (two passes) and the ratings schema inferred:
    * the reference [[MovieEtl.run]] must give the same output as.
    */
  private def referenceRun(cfg: EtlConfig): EtlResult = {
    val ref = referenceSession
    val wiki = WikiClean.clean(
      ReferenceWiki.readWikiJson(ref, fixture("wikipedia.movies.json")),
      cfg.dedupWiki)
    val joined = Merge.join(wiki, Merge.cleanKaggle(
      Extract.readCsv(ref, fixture("movies_metadata.csv"))))
    val movies = Merge.project(Merge.fillMissingKaggle(
      if (cfg.dropOutlier) Merge.dropMergeOutlier(joined) else joined))
    val ratings = Extract.readCsv(ref, fixture("ratings.csv"))
    EtlResult(movies, Ratings.attach(movies, Ratings.ratingCounts(ratings)),
      ratings)
  }

  test("run equals the all-keys, inferred-schema reference in every config") {
    for (dedup <- Seq(false, true); outlier <- Seq(false, true)) {
      val cfg = EtlConfig(dedupWiki = dedup, dropOutlier = outlier)
      val got = MovieEtl.run(spark, fixture("wikipedia.movies.json"),
        fixture("movies_metadata.csv"), fixture("ratings.csv"), cfg)
      val want = referenceRun(cfg)
      Seq("movies" -> (got.movies, want.movies),
          "moviesWithRatings" -> (got.moviesWithRatings,
            want.moviesWithRatings),
          "ratings" -> (got.ratings, want.ratings)).foreach {
        case (n, (g, w)) =>
          assert(g.schema == w.schema, s"$cfg: $n schema")
          assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty,
            s"$cfg: $n rows")
      }
    }
  }

  test("run reads the wiki file once: checkpoint bytes equal the file's") {
    val wiki = fixture("wikipedia.movies.json")
    val read = new java.util.concurrent.atomic.AtomicLong
    listening(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.name.startsWith("localCheckpoint at WikiClean"))
          read.addAndGet(e.stageInfo.taskMetrics.inputMetrics.bytesRead)
    })(MovieEtl.run(spark, wiki, fixture("movies_metadata.csv"),
      fixture("ratings.csv")))
    assert(read.get == new java.io.File(wiki).length)
  }

  test("a list value reaches the output as compact JSON text") {
    assert(field("tt1000001", "starring") == """["Ann A","Bob B"]""")
  }

  test("parsed wiki columns are the same in either JSON string mode") {
    val wiki = fixture("wikipedia.movies.json")
    val parsed = Seq("imdb_id", "box_office", "budget", "release_date",
      "running_time").map(col)
    // the parser takes the mode of the session that runs the job, so each
    // side is collected in its own session, never joined across sessions
    val Seq(exact, compact) = Seq(true, false).map { m =>
      val raw = Extract.readWikiJson(stringMode(m), wiki)
      val starring = raw.filter(col("imdb_link").contains("tt1000001"))
        .select("Starring").head().getString(0)
      val rows = WikiClean.clean(raw).select(parsed: _*).collect()
      (starring, rows.toSeq.sortBy(_.toString))
    }
    assert(exact._1 != compact._1)
    assert(exact._2.nonEmpty && exact._2 == compact._2)
  }

  test("run's branch jobs carry the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("etl-test", "branch hygiene", interruptOnCancel = false)
    val jobs =
      try jobsDuring(MovieEtl.run(spark, fixture("wikipedia.movies.json"),
        fixture("movies_metadata.csv"), fixture("ratings.csv")))
      finally sc.clearJobGroup()
    assert(jobs.nonEmpty)
    jobs.foreach(j =>
      assert(j.properties.getProperty("spark.jobGroup.id") == "etl-test"))
  }

  test("a failing branch rethrows its own exception, every branch joined") {
    val missing = fixture("ratings.csv") + ".missing"
    val direct = intercept[Exception](Extract.readRatings(spark, missing))
    val viaRun = intercept[Exception](MovieEtl.run(spark,
      fixture("wikipedia.movies.json"), fixture("movies_metadata.csv"),
      missing))
    assert(viaRun.getClass == direct.getClass)
    assert(viaRun.getMessage == direct.getMessage)
    ListenerBus.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName.startsWith("MovieEtl-") && t.isAlive))
  }

  test("rating counts equal the builtin pivot, null mapped to 0") {
    import spark.implicits._
    val raw = Extract.readCsv(spark, fixture("ratings.csv"))
    // a null userId is not counted; a value outside the 10 is ignored
    val extra = Seq((Option.empty[Int], 9001, 4.0, 0L),
        (Some(7), 9001, 0.0, 0L), (Some(8), 424242, 0.0, 0L))
      .toDF("userId", "movieId", "rating", "timestamp")
      .select(raw.columns.toSeq.zip(raw.schema.map(_.dataType)).map {
        case (n, t) => col(n).cast(t) }: _*)
    val ratings = raw.unionByName(extra)
    val pivoted = ratings.groupBy(col("movieId"))
      .pivot("rating", Ratings.ratingValues).agg(count(col("userId")))
    val expected = pivoted.select(col("movieId") +:
      Ratings.ratingValues.map(v =>
        coalesce(col(s"`$v`"), lit(0L)).as(s"rating_$v")): _*)
    val got = Ratings.ratingCounts(ratings)
    assert(got.columns.toSeq == "movieId" +: Ratings.ratingColumns)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // the movie with only an out-of-range rating still gets its all-0 row
    val only0 = got.filter(col("movieId") === 424242).collect()
    assert(only0.length == 1 && (1 to 10).forall(only0.head.getLong(_) == 0))
  }

  test("run reads each input once: no file scan behind the sinks") {
    spark.sharedState.cacheManager.clearCache()
    Seq(EtlConfig(), EtlConfig(dedupWiki = true)).foreach { cfg =>
      val r = MovieEtl.run(spark, fixture("wikipedia.movies.json"),
        fixture("movies_metadata.csv"), fixture("ratings.csv"), cfg)
      Seq("movies" -> r.movies, "ratings" -> r.ratings,
          "moviesWithRatings" -> r.moviesWithRatings).foreach {
        case (n, df) =>
          val scans = collect(df.queryExecution.executedPlan) {
            case s: FileSourceScanExec => s }
          assert(scans.isEmpty, s"$cfg: $n re-reads its input files")
      }
      // checkpoints, not cached relations: nothing for a caller to release
      assert(spark.sharedState.cacheManager.isEmpty, cfg.toString)
    }
  }

  test("moviesWithRatings broadcasts the rating counts: no shuffle") {
    // size-based broadcast off: at fixture size it would hide a missing hint
    val caller = spark.newSession()
    caller.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val mr = MovieEtl.run(caller, fixture("wikipedia.movies.json"),
      fixture("movies_metadata.csv"), fixture("ratings.csv")).moviesWithRatings
    mr.collect()
    val plan = mr.queryExecution.executedPlan
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.nonEmpty)
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty)
  }

  /** [[MovieEtl.run]] for `caller` over the fixtures, its three outputs
    * written to the noop sink.
    */
  private def runAndSink(caller: SparkSession): EtlResult = {
    val r = MovieEtl.run(caller, fixture("wikipedia.movies.json"),
      fixture("movies_metadata.csv"), fixture("ratings.csv"))
    Seq(r.movies, r.moviesWithRatings, r.ratings)
      .foreach(_.write.format("noop").mode("overwrite").save())
    r
  }

  test("a repeated run from a fresh caller session compiles no class") {
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    runAndSink(spark.newSession())
    val before = compiled
    runAndSink(spark.newSession())
    assert(compiled - before == 0)
  }

  test("run leaves the caller session's conf untouched") {
    val was = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "false")
    try {
      val before = spark.conf.getAll
      runAndSink(spark)
      assert(spark.conf.getAll == before)
    } finally spark.conf.set("spark.sql.caseSensitive", was)
  }

  test("run honours the caller's conf: one owned session per conf") {
    def ownerOf(r: EtlResult): SparkSession = {
      val owners = Seq(r.movies, r.moviesWithRatings, r.ratings)
        .map(_.sparkSession).distinct
      assert(owners.size == 1)
      owners.head
    }
    def callerWith(partitions: String): SparkSession = {
      val c = stringMode(exact = true)
      c.conf.set("spark.sql.shuffle.partitions", partitions)
      c
    }
    val three = ownerOf(runAndSink(callerWith("3")))
    assert(three.conf.get("spark.sql.shuffle.partitions") == "3")
    assert(three.conf.get("spark.sql.caseSensitive") == "true")
    assert(three.conf.get("spark.sql.json.enableExactStringParsing") ==
      "false")
    assert(ownerOf(runAndSink(callerWith("3"))) eq three)
    val five = ownerOf(runAndSink(callerWith("5")))
    assert(!(five eq three))
    assert(five.conf.get("spark.sql.shuffle.partitions") == "5")
    val etl = Map("spark.sql.caseSensitive" -> "true",
      "spark.sql.json.enableExactStringParsing" -> "false")
    assert(graft.OwnedSession(callerWith("3"), etl)(identity) eq three)
    assert(!(graft.OwnedSession(callerWith("3"),
      etl - "spark.sql.caseSensitive")(identity) eq three))
  }

  test("movies: 50 rows (challenge.py mode: dup imdb fans out, Q5)") {
    assert(result.movies.count() == 50)
  }

  test("movies: 49 rows with DC dedup enabled") {
    val dc = MovieEtl.run(spark, fixture("wikipedia.movies.json"),
      fixture("movies_metadata.csv"), fixture("ratings.csv"),
      EtlConfig(dedupWiki = true))
    assert(dc.movies.count() == 49)
  }

  test("movies: exact 31-column contract in challenge.py order") {
    assert(result.movies.columns.toSeq == Merge.outputColumns.map(_._2))
  }

  test("X11 fill-if-zero: kaggle zeros take wiki values, others keep kaggle") {
    // i=1: runtime kaggle=0 → wiki 102; budget kaggle=1e6 stays
    assert(field("tt1000001", "runtime") == 102.0)
    assert(field("tt1000001", "budget") == 1000000.0)
    // i=2: budget kaggle=0 → wiki "$200 million[2]" → 2e8
    assert(field("tt1000002", "budget") == 2.0e8)
    // i=3: revenue kaggle=0 → wiki "$123,456,789"
    assert(field("tt1000003", "revenue") == 1.23456789e8)
    // i=4: kaggle zeros, wiki unparseable → null (box office N/A)
    assert(field("tt1000004", "revenue") == null)
    assert(field("tt1000004", "runtime") == 90.0) // wiki "90 m"
  }

  test("synonym precedence: last change_column_name call wins") {
    assert(field("tt1000011", "writers") == "W1")  // Written by > Screenplay by
    assert(field("tt1000012", "writers") == "W4")  // Story by > Adaptation by
    assert(field("tt1000014", "composers") == "Comp B") // Theme music composer
    assert(field("tt1000015", "producers") == "P3")     // Producer > Produced by
    assert(field("tt1000016", "production_companies") != null) // kaggle col kept
  }

  test("reference date quirks: day<10 forms fall through to bare year") {
    val wiki = WikiClean.clean(wikiRaw)
    def rd(imdb: String): String = {
      val r = wiki.filter(col("imdb_id") === imdb)
        .select(date_format(col("release_date"), "yyyy-MM-dd")).collect().head
      if (r.isNullAt(0)) null else r.getString(0)
    }
    assert(rd("tt1000001") == "1990-07-11")  // "July 11, 1990" (form one)
    assert(rd("tt1000003") == "1993-11-24")  // "1993.11.24" (form two)
    assert(rd("tt1000004") == "1987-03-01")  // "March 1987" (form three)
    assert(rd("tt1000005") == "1991-01-01")  // "1991" (form four)
    assert(rd("tt1000006") == "2000-01-01")  // "January 1, 2000" → year quirk
    assert(rd("tt1000007") == "2001-01-01")  // "2001-02-03" day<10 → year only
  }

  test("wiki release date synonym chain: Released beats Original release") {
    val wiki = WikiClean.clean(wikiRaw)
    val r = wiki.filter(col("imdb_id") === "tt1000017")
      .select(date_format(col("release_date"), "yyyy-MM-dd")).collect().head
    assert(r.getString(0) == "1986-04-21")   // April 21, 1986 ('Released')
  }

  test("alt_titles map built from the 20 keys incl en-dash McCune–Reischauer") {
    val wiki = WikiClean.clean(wikiAllKeys)
    val m = wiki.filter(col("imdb_id") === "tt1000024")
      .select(col("alt_titles")).collect().head
      .getMap[String, String](0)
    assert(m == Map("McCune–Reischauer" -> "Cheje"))
    // records without any alt key → null, not empty map
    val none = wiki.filter(col("imdb_id") === "tt1000001")
      .select(col("alt_titles")).collect().head
    assert(none.isNullAt(0))
  }

  test("movies_ratings: 10 pivot columns appended, unmatched filled 0") {
    val mr = result.moviesWithRatings
    assert(mr.columns.length == 41)
    assert(Ratings.ratingColumns.forall(mr.columns.contains))
    // backticks: the names contain dots ("rating_0.5")
    val ratingCols = Ratings.ratingColumns.map(n => col(s"`$n`"))
    // kaggle_id 9001 (imdb tt1000001) has 24 ratings spread over values
    val hit = mr.filter(col("imdb_id") === "tt1000001")
      .select(ratingCols: _*).collect().head
    assert((0 until 10).map(hit.getLong).sum == 24)
    // kaggle_id 9011 (imdb tt1000011) has no ratings → all zeros
    val miss = mr.filter(col("imdb_id") === "tt1000011")
      .select(ratingCols: _*).collect().head
    assert((0 until 10).map(miss.getLong).sum == 0)
  }

  test("ratings passthrough keeps raw epoch ints (Q4)") {
    val sch = result.ratings.schema
    assert(sch("timestamp").dataType.typeName == "integer"
      || sch("timestamp").dataType.typeName == "long")
    assert(result.ratings.count() == 288)
  }

  test("kaggle corrupt/adult rows filtered (F2/F6)") {
    val k = Merge.cleanKaggle(Extract.readCsv(spark,
      fixture("movies_metadata.csv")))
    assert(k.count() == 50)
    assert(!k.columns.contains("adult"))
  }

  test("e1 entry leaves the caller session's caseSensitive untouched") {
    // the ETL needs caseSensitive=true for the wiki schema; MovieEtl.run
    // sets it on a session of its own, so a shared Verify/Bench session
    // keeps its resolution semantics regardless of run order
    spark.conf.set("spark.sql.caseSensitive", "false")
    val row = graft.SparkEntry.queries("e1_movie_pipeline")(spark, "")
      .collect().head
    assert(row.getLong(0) > 0)
    assert(spark.conf.get("spark.sql.caseSensitive") == "false")
  }
}
