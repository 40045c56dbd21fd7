package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{SparkEntry, Tables}
import graft.etl.{Extract, Load, Merge, MovieEtl, Ratings, WikiClean}
import graft.ops.{Dedup, TextOps}

/** What a pass reports besides its time: counts taken in traced passes
  * (rows out of a layer, files written) and the operations it attempted.
  */
final class PassLog {
  val counts = mutable.Map.empty[String, Double]
  val querySeconds = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  val errors = mutable.ArrayBuffer.empty[String]

  /** One operation of the workload; a throw is recorded as a failure and
    * the pass goes on with the next operation.
    */
  def op(name: String)(body: => Unit): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try body
    catch {
      case e: Throwable =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
            .take(400)
    }
    querySeconds(name) = querySeconds.getOrElse(name, 0.0) +
      (System.nanoTime() - t0) / 1e9
  }
}

trait Workload {
  def name: String
  /** Input rows one pass processes (the `rows_per_s` numerator). */
  def inputRows: Long
  /** Timed passes a run makes at least, however short `--seconds` is. */
  def minTimedPasses: Int
  /** Bytes of the CSV/JSON input files (the `extract.input_passes`
    * denominator); 0 where the workload reads none.
    */
  def inputBytes: Long = 0L
  /** Set-up work other than session start: validate and stage inputs. */
  def stage(spark: SparkSession): Unit
  /** One pass over the workload; every pass, the first included, runs the
    * same program.
    */
  def pass(spark: SparkSession, t: Trace, probe: Probe, log: PassLog): Unit
  /** After the timed passes, untimed: produce what the output check reads
    * (files under `dir`, counts in `log`).
    */
  def checkOutputs(spark: SparkSession, dir: String, log: PassLog): Unit
  /** DuckDB reference SQL the output check runs, by query name. */
  def oracles: Map[String, String]

  protected def requireFiles(paths: Seq[String]): Unit =
    paths.foreach(p => require(new java.io.File(p).exists, s"missing input $p"))
}

/** The paper's pipeline: extract → clean/merge → ratings pivot → load to
  * parquet and to a relational sink (embedded in-memory Derby).
  */
final class MovieEtlWorkload(dataDir: String, outDir: String,
    override val inputRows: Long) extends Workload {
  val name = "movie_etl"
  val minTimedPasses = 2
  private val wiki = s"$dataDir/wikipedia.movies.json"
  private val kaggle = s"$dataDir/movies_metadata.csv"
  private val ratings = s"$dataDir/ratings.csv"
  private val files = Seq(wiki, kaggle, ratings)
  private val derbyUrl = "jdbc:derby:memory:perfbench;create=true"

  override def inputBytes: Long = files.map(new java.io.File(_).length).sum

  def stage(spark: SparkSession): Unit = {
    requireFiles(files)
    java.sql.DriverManager.getConnection(derbyUrl).close()
  }

  def pass(spark: SparkSession, t: Trace, probe: Probe,
      log: PassLog): Unit = log.op(name) {
    // readWikiJson flips spark.sql.caseSensitive; a child session keeps
    // that off the shared session (as the e1 catalog entry does)
    val s = probe.attach(spark.newSession())
    SparkSession.setActiveSession(s)
    try {
      if (!t.enabled) {
        val r = MovieEtl.run(s, wiki, kaggle, ratings)
        load(t, r.movies, r.moviesWithRatings, r.ratings)
      } else tracedPass(s, t, log)
    } finally SparkSession.setActiveSession(spark)
  }

  /** [[MovieEtl.run]]'s composition, one span per layer call. Its row
    * counts and rating sums are checked against the generator's facts, so
    * this copy cannot drift from the program unnoticed.
    */
  private def tracedPass(s: SparkSession, t: Trace, log: PassLog): Unit = {
    val (wikiRaw, kaggleRaw, ratingsRaw) = t.span("extract.infer") {
      (Extract.readWikiJson(s, wiki), Extract.readCsv(s, kaggle),
        Extract.readCsv(s, ratings))
    }
    val (w, k, r) = t.span("extract.read") {
      val frames = (t.force(wikiRaw), t.force(kaggleRaw), t.force(ratingsRaw))
      log.counts("ratings.rows") = frames._3.count().toDouble
      frames
    }
    val (wikiClean, kaggleClean) = t.span("transform.clean") {
      (t.force(WikiClean.clean(w)), t.force(Merge.cleanKaggle(k)))
    }
    val movies = t.span("transform.merge") {
      val m = t.force(Merge.project(Merge.fillMissingKaggle(
        Merge.join(wikiClean, kaggleClean))))
      log.counts("transform.movies_out") = m.count().toDouble
      m
    }
    val withRatings = t.span("ratings.pivot") {
      val counts = t.force(Ratings.ratingCounts(r))
      log.counts("ratings.groups") = counts.count().toDouble
      val wr = t.force(Ratings.attach(movies, counts))
      val sums = wr.agg(count(lit(1)), Ratings.ratingColumns.map(c =>
        sum(col(s"`$c`"))): _*).head()
      log.counts("movies_ratings.rows") = sums.getLong(0).toDouble
      Ratings.ratingColumns.zipWithIndex.foreach { case (c, i) =>
        log.counts(s"movies_ratings.$c") = sums.getLong(i + 1).toDouble }
      wr
    }
    load(t, movies, withRatings, r)
    log.counts("load.files_written") = Seq("movies", "movies_ratings",
      "ratings").map(d => Option(new java.io.File(s"$outDir/$d").listFiles)
        .getOrElse(Array.empty[java.io.File])
        .count(_.getName.endsWith(".parquet"))).sum.toDouble
  }

  private def load(t: Trace, movies: DataFrame, withRatings: DataFrame,
      ratingsDf: DataFrame): Unit = {
    t.span("load.parquet") {
      Load.parquet(movies, s"$outDir/movies")
      Load.parquet(withRatings, s"$outDir/movies_ratings")
      Load.parquet(ratingsDf, s"$outDir/ratings")
    }
    t.span("load.jdbc") {
      Load.jdbcReplace(movies, derbyUrl, "movies", "", "")
    }
  }

  /** The parquet sinks of the last pass are the checked output; the
    * relational sink is read back here.
    */
  def checkOutputs(spark: SparkSession, dir: String, log: PassLog): Unit =
    log.op("derby_rows") {
      val c = java.sql.DriverManager.getConnection(derbyUrl)
      try {
        val rs = c.createStatement().executeQuery(
          "SELECT COUNT(*) FROM movies")
        rs.next()
        log.counts("derby_rows") = rs.getLong(1).toDouble
      } finally c.close()
    }

  def oracles: Map[String, String] =
    Map("e1_movie_pipeline" -> SparkEntry.oracleSql("e1_movie_pipeline"))
}

/** The text dedup catalog entries over the harness `documents` table. Each
  * entry's result is collected to the driver, as a caller of the entry
  * receives it (at most one row per document); the last untraced pass's
  * rows are the checked output. The traced pass re-composes each entry from
  * the same public calls the catalog builder makes, with a span per call;
  * its results are recorded and checked against the entry's oracle too, so
  * the copy cannot drift from the catalog unnoticed.
  */
final class TextDedupWorkload(tablesDir: String,
    override val inputRows: Long) extends Workload {
  val name = "text_dedup"
  // a text pass is shorter and still warming up after the first pass (the
  // second timed pass runs ~12% faster than the first), so take a median of
  // three
  val minTimedPasses = 3
  private val queries = Seq("dd12_neardup_dedup", "ts7_repetition")
  private val outputs = mutable.Map.empty[String, (StructType, Array[Row])]

  /** Resolve the table's file index and footer schema once. */
  def stage(spark: SparkSession): Unit = {
    requireFiles(Seq(s"$tablesDir/documents.parquet"))
    Tables.t(spark, tablesDir, "documents").schema
  }

  def pass(spark: SparkSession, t: Trace, probe: Probe,
      log: PassLog): Unit = queries.foreach(q => log.op(q) {
    if (t.enabled) traced(spark, q, t, log)
    else {
      val df = SparkEntry.queries(q)(spark, tablesDir)
      outputs(q) = (df.schema, df.collect())
    }
  })

  /** Write the last untraced pass's results for the oracle check. */
  def checkOutputs(spark: SparkSession, dir: String, log: PassLog): Unit =
    outputs.foreach { case (q, (schema, rows)) => log.op(s"check/$q") {
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
    } }

  def oracles: Map[String, String] =
    queries.map(q => q -> SparkEntry.oracleSql(q)).toMap

  private def traced(spark: SparkSession, q: String, t: Trace,
      log: PassLog): Unit = {
    val docs = t.span("tables.load") {
      t.force(Tables.fanOut(Tables.documents(spark, tablesDir)))
    }
    def sink(df: DataFrame): Array[Row] =
      t.span("spark.query")(df.collect())
    q match {
      case "dd12_neardup_dedup" =>
        val pairs = t.span("dedup.pairs") {
          val p = t.force(Dedup.ngramJaccardPairs(docs, "doc_id", "text",
            Seq("lang", "source"), 3, 0.5, maxDocFreq = 64)
            .select(col("doc_a"), col("doc_b")))
          log.counts("dedup.pairs_out") = p.count().toDouble
          p
        }
        val cc = t.span("dedup.cc")(t.force(
          Dedup.connectedComponents(pairs, "doc_a", "doc_b")))
        val dropIds = cc.filter(col("id") =!= col("component"))
          .select(col("id").as("doc_id"))
        val Array(row) = sink(docs.join(dropIds, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars"))
            .as("total_chars")))
        log.counts(s"$q.n_docs") = row.getLong(0).toDouble
        log.counts(s"$q.total_chars") = row.getLong(1).toDouble
      case "ts7_repetition" =>
        val r = t.span("textops")(t.force(TextOps.repetitionSignals(docs,
          "doc_id", "text", lineWords = 5)))
        log.counts(s"$q.rows") = sink(r.orderBy(col("doc_id"))).length
          .toDouble
    }
  }
}
