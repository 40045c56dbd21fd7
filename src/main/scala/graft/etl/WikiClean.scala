package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.ops.Expressions._

/** The Wikipedia-side transform (challenge.py:53-201): key-existence filter,
  * clean_movie key consolidation, imdb-id extraction, data-dependent null
  * pruning, and the money/date/running-time regex parsers.
  *
  * pandas' per-record dict surgery becomes column-level work: key existence =
  * non-null column, key rename with last-wins overwrite = `coalesce` in
  * reverse call order (see [[synonyms]]), alt-title dict = `map_from_entries`
  * over the non-null members.
  */
object WikiClean {

  /** Backtick-safe column ref (wiki keys contain dots/spaces,
    * e.g. "No. of episodes").
    */
  private def c(name: String): Column = col(s"`$name`")

  private def has(df: DataFrame, name: String): Boolean =
    df.columns.contains(name)

  /** Null-safe column: absent from schema → null literal. */
  private def cOpt(df: DataFrame, name: String): Column =
    if (has(df, name)) c(name) else lit(null).cast("string")

  /** The 20 alternative-title keys (challenge.py:64-68; note
    * `McCune–Reischauer` with en-dash — SURVEY Q8).
    */
  val altTitleKeys: Seq[String] = Seq(
    "Also known as", "Arabic", "Cantonese", "Chinese", "French",
    "Hangul", "Hebrew", "Hepburn", "Japanese", "Literally",
    "Mandarin", "McCune–Reischauer", "Original title", "Polish",
    "Revised Romanization", "Romanized", "Russian",
    "Simplified", "Traditional", "Yiddish")

  /** Synonym-consolidation groups (challenge.py:75-96): target → sources in
    * precedence order. pandas applies change_column_name sequentially and a
    * later pop/assign overwrites an earlier one, so precedence = REVERSE call
    * order, with the pre-existing target column last. The `Release date`
    * chain (`Released`→`Release Date`→`Release date`, calls 12-13) resolves
    * to: Released > Release Date > Original release > Release date.
    */
  val synonyms: Seq[(String, Seq[String])] = Seq(
    "Writer(s)" -> Seq("Written by", "Story by", "Screenplay by",
      "Screen story by", "Adaptation by"),
    "Country" -> Seq("Country of origin"),
    "Director" -> Seq("Directed by"),
    "Distributor" -> Seq("Distributed by"),
    "Editor(s)" -> Seq("Edited by"),
    "Running time" -> Seq("Length"),
    "Release date" -> Seq("Released", "Release Date", "Original release"),
    "Composer(s)" -> Seq("Theme music composer", "Music by"),
    "Producer(s)" -> Seq("Producer", "Produced by"),
    "Production company(s)" -> Seq("Productioncompany ",
      "Productioncompanies "))

  /** The keys [[filterMovies]] tests. */
  private val filterKeys: Seq[String] =
    Seq("Director", "Directed by", "imdb_link", "No. of episodes")

  /** The raw keys the regex parse layer reads (box office, budget, release
    * date, running time).
    */
  private val parseKeys: Seq[String] =
    Seq("Box office", "Budget", "Release date", "Running time")

  /** Raw keys the 31-column projection ([[Merge.outputColumns]]) takes
    * unchanged from the wiki side.
    */
  private val projectedKeys: Seq[String] =
    Seq("url", "imdb_link", "Starring", "Cinematography", "Based on")

  /** Every raw wiki key the output can depend on: the filter keys, the
    * parse inputs, the projected keys, and each [[synonyms]] group whose
    * target is a parse input or a projected column (`Release date` also
    * feeds the optional outlier drop through `release_date_wiki`). The
    * other keys only build `alt_titles` or are dropped before the
    * projection (`Language`, `Production company(s)` and the rest), so
    * [[Extract.readWikiJson]] reads these alone.
    */
  val inputKeys: Seq[String] = {
    val projected = Merge.outputColumns.map(_._1).toSet
    val groups = synonyms.collect {
      case (target, sources)
          if projected(target) || parseKeys.contains(target) =>
        target +: sources
    }
    (filterKeys ++ parseKeys ++ projectedKeys ++ groups.flatten).distinct
  }

  /** F1 — keep movies: has a director, has an imdb link, is not a TV series
    * (challenge.py:55-58; 7,311 → 7,076 on the real data).
    */
  def filterMovies(df: DataFrame): DataFrame =
    df.filter(
      (cOpt(df, "Director").isNotNull || cOpt(df, "Directed by").isNotNull)
        && cOpt(df, "imdb_link").isNotNull
        && cOpt(df, "No. of episodes").isNull)

  /** P5 — clean_movie (challenge.py:61-98): build the alt_titles map from
    * the 20 alternate-title keys, drop them, then consolidate synonym
    * columns with last-wins coalesce.
    */
  def consolidateColumns(df: DataFrame): DataFrame = {
    val presentAlt = altTitleKeys.filter(has(df, _))
    val entries = presentAlt.map(k =>
      when(c(k).isNotNull, struct(lit(k).as("key"), c(k).as("value"))))
    val withAlt =
      if (presentAlt.isEmpty) df.withColumn("alt_titles",
        lit(null).cast("map<string,string>"))
      else df.withColumn("alt_titles", {
        val arr = filter(array(entries: _*), e => e.isNotNull)
        // empty dict → key absent in pandas → null here
        when(size(arr) > 0, map_from_entries(arr))
      })
    val droppedAlt = withAlt.drop(presentAlt: _*)

    synonyms.foldLeft(droppedAlt) { case (acc, (target, sources)) =>
      val present = sources.filter(has(acc, _))
      if (present.isEmpty) acc
      else {
        val cands = present.map(c) ++
          (if (has(acc, target)) Seq(c(target)) else Nil)
        acc.withColumn(target, coalesce(cands: _*)).drop(present: _*)
      }
    }
  }

  /** X2 — imdb_id extraction (challenge.py:107). */
  def withImdbId(df: DataFrame): DataFrame =
    df.withColumn("imdb_id", extractImdbId(c("imdb_link")))

  /** P6 [DC-only, Q5] — dedup on imdb_id with deterministic first-row-wins
    * via the original row order is not reproducible distributed; DC's
    * drop_duplicates keeps the first occurrence, which for the reference
    * data is equivalent to any-row since dup records are identical scrapes.
    * challenge.py SKIPS this (quirk Q5) — callers opt in.
    */
  def dedupImdb(df: DataFrame): DataFrame = df.dropDuplicates("imdb_id")

  /** P1 — data-dependent pruning: keep columns with <90% nulls
    * (challenge.py:110-111). Materialises `df` (eager `localCheckpoint`)
    * and returns the kept columns of that checkpoint. The null profile
    * rides the same job as observed metrics, `count(1)` plus one
    * `count(column)` per column, so profiling starts no job of its own. A
    * 0-row frame keeps no column.
    */
  def pruneMostlyNull(df: DataFrame): DataFrame = {
    val profile = Observation()
    val nonNull = df.columns.toSeq.zipWithIndex.map {
      case (n, i) => count(c(n)).as(s"c$i") }
    val done = df.observe(profile, count(lit(1)).as("rows"), nonNull: _*)
      .localCheckpoint(eager = true)
    val counts = profile.get
    def long(k: String): Long = counts(k).asInstanceOf[Long]
    val total = long("rows")
    val kept = df.columns.zipWithIndex.collect {
      case (n, i) if total - long(s"c$i") < 0.9 * total => n
    }
    done.select(kept.map(c).toSeq: _*)
  }

  // ---- regex parse layer ---------------------------------------------------

  /** Reference-exact date grammar (challenge.py:182-186). Quirks preserved:
    * form one/two require a [123]-leading 2-digit day, so "January 1, 2000"
    * and "2000-01-01" (day < 10) fall through to bare-year form four.
    */
  private val months = "(?:January|February|March|April|May|June|July" +
    "|August|September|October|November|December)"
  val refDateFormOne: String = months + """\s[123]\d,\s\d{4}"""
  val refDateFormTwo: String = """\d{4}.[01]\d.[123]\d"""
  val refDateFormThree: String = months + """\s\d{4}"""
  val refDateFormFour: String = """\d{4}"""

  private def refExtractDate(x: Column): Column =
    regexp_extract(x,
      s"($refDateFormOne|$refDateFormTwo|$refDateFormThree|$refDateFormFour)",
      1)

  /** Shape-guarded format dispatch (failed try_to_timestamp attempts are
    * exception-driven — guards keep the cascade one-parse-per-row).
    */
  private def refParseDate(x: Column): Column =
    when(x.rlike("""^[A-Za-z]+ \d{1,2}, \d{4}$"""),
      try_to_timestamp(x, lit("MMMM d, yyyy")))
      .when(x.rlike("""^\d{4}-\d{2}-\d{2}$"""),
        try_to_timestamp(x, lit("yyyy-MM-dd")))
      .when(x.rlike("""^\d{4}\.\d{2}\.\d{2}$"""),
        try_to_timestamp(x, lit("yyyy.MM.dd")))
      .when(x.rlike("""^\d{4}/\d{2}/\d{2}$"""),
        try_to_timestamp(x, lit("yyyy/MM/dd")))
      .when(x.rlike("""^[A-Za-z]+ \d{4}$"""),
        try_to_timestamp(x, lit("MMMM yyyy")))
      .when(x.rlike("""^\d{4}$"""), try_to_timestamp(x, lit("yyyy")))
      .otherwise(lit(null).cast("timestamp"))

  /** X1-X7 — box_office (challenge.py:113-159): flatten → collapse ranges →
    * money extract (case-insensitive) → parse_dollars; drop the raw column.
    */
  def withBoxOffice(df: DataFrame): DataFrame = {
    val cleaned = collapseMoneyRange(flattenListString(c("Box office")))
    df.withColumn("box_office", parseDollars(extractMoney(cleaned)))
      .drop("Box office")
  }

  /** Budget (challenge.py:161-176): like box_office plus citation strip. */
  def withBudget(df: DataFrame): DataFrame = {
    val cleaned =
      stripCitations(collapseMoneyRange(flattenListString(c("Budget"))))
    df.withColumn("budget", parseDollars(extractMoney(cleaned)))
      .drop("Budget")
  }

  /** Release date (challenge.py:178-189). The reference keeps the raw
    * `Release date` column; we drop it because Spark's default
    * case-insensitive resolution would make `release_date` ambiguous — it
    * never reaches the output projection either way.
    */
  def withReleaseDate(df: DataFrame): DataFrame = {
    val flat = flattenListString(c("Release date"))
    df.withColumn("release_date", refParseDate(refExtractDate(flat)))
      .drop("Release date")
  }

  /** Running time (challenge.py:191-201). Fidelity notes: groups that fail
    * to match are 0 after the reference's to_numeric(coerce).fillna(0), so a
    * PRESENT-but-unparseable value yields 0.0 (not null); a null input stays
    * null (dropna + index alignment).
    */
  def withRunningTime(df: DataFrame): DataFrame = {
    val flat = flattenListString(c("Running time"))
    val parsed = coalesce(parseRunningTime(flat), lit(0.0))
    df.withColumn("running_time",
        when(flat.isNull, lit(null).cast("double")).otherwise(parsed))
      .drop("Running time")
  }

  /** Full wiki stage. `dedup` = DC behavior (drop_duplicates on imdb_id);
    * false = challenge.py behavior (quirk Q5, join fan-out allowed).
    * The filtered, consolidated frame is materialised once, by
    * [[pruneMostlyNull]] in the job that profiles its nulls, so every later
    * consumer reads it instead of re-parsing the JSON, and the parse layer
    * stays lazy.
    */
  def clean(raw: DataFrame, dedup: Boolean = false): DataFrame = {
    val base = withImdbId(consolidateColumns(filterMovies(raw)))
    val pruned = pruneMostlyNull(if (dedup) dedupImdb(base) else base)
    withRunningTime(withReleaseDate(withBudget(withBoxOffice(pruned))))
  }
}
