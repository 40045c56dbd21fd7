package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Expressions.coalesceIfZero

/** Kaggle-side transform + the wiki⋈kaggle merge (challenge.py:205-288). */
object Merge {

  private def c(name: String): Column = col(s"`$name`")

  /** Kaggle clean (challenge.py:207-214): adult filter + dtype casts.
    * `errors='raise'` casts are plain ANSI casts (Spark 4 ANSI mode throws on
    * bad input, matching pandas raise). `video == True` on the raw column:
    * the CSV reader infers it as boolean for well-formed files (pandas did
    * the same), so the comparison is a real boolean test.
    */
  def cleanKaggle(df: DataFrame): DataFrame =
    df.filter(col("adult") === "False").drop("adult")
      .withColumn("video", col("video") === lit(true))
      .withColumn("budget", col("budget").cast("long"))
      .withColumn("id", col("id").cast("long"))
      .withColumn("popularity", col("popularity").cast("double"))
      .withColumn("release_date", to_timestamp(col("release_date")))

  /** Column pairs that collide between the two sides (challenge.py:225
    * suffixes=['_wiki','_kaggle']). Spark has no suffix mechanism: rename
    * the colliding columns on each side before the join.
    */
  val collisions: Seq[String] = Seq("title", "release_date", "budget")

  /** J1 — inner equi-join on imdb_id with suffix disambiguation. The wiki
    * side (7k rows real) broadcasts.
    */
  def join(wiki: DataFrame, kaggle: DataFrame): DataFrame = {
    // one projection per side; a collision the side lacks is a no-op
    def suffixed(d: DataFrame, side: String): DataFrame =
      d.withColumnsRenamed(collisions.map(n => n -> s"${n}_$side").toMap)
    broadcast(suffixed(wiki, "wiki"))
      .join(suffixed(kaggle, "kaggle"), Seq("imdb_id"), "inner")
  }

  /** X11 — fill_missing_kaggle_data (challenge.py:244-256): prefer kaggle,
    * take wiki ONLY where kaggle == 0. The `== 0` test is only ever true for
    * numeric columns, so for the string/date pairs the reference's call is
    * effectively just "drop the wiki column" (quirk Q7) — implemented
    * exactly that way to avoid meaningless string-vs-0 comparisons.
    */
  val numericFillPairs: Seq[(String, String)] = Seq(
    "runtime" -> "running_time",
    "budget_kaggle" -> "budget_wiki",
    "revenue" -> "box_office")

  val dropOnlyPairs: Seq[(String, String)] = Seq(
    "title_kaggle" -> "title_wiki",
    "release_date_kaggle" -> "release_date_wiki",
    "original_language" -> "Language",
    "production_companies" -> "Production company(s)")

  def fillMissingKaggle(df: DataFrame): DataFrame = {
    val filled = numericFillPairs.foldLeft(df) {
      case (acc, (kaggle, wiki)) =>
        acc.withColumn(kaggle, coalesceIfZero(c(kaggle), c(wiki)))
          .drop(wiki)
    }
    dropOnlyPairs.foldLeft(filled) { case (acc, (_, wiki)) => acc.drop(wiki) }
  }

  /** F4 — the outlier drop (challenge.py:259-262). In challenge.py this is
    * DEAD CODE: `release_date_wiki` is already dropped when the filter runs,
    * the KeyError is swallowed, no row is dropped (quirk Q3). The documented
    * intent (README.md:28, DC cells 99-101) drops the badly-merged record
    * pre-fill. Callers choose via `dropOutlier` in [[MovieEtl.run]]; applied
    * at the DC position (before fillMissingKaggle) when enabled.
    */
  def dropMergeOutlier(df: DataFrame): DataFrame =
    df.filter(!(c("release_date_wiki") > lit("1996-01-01")
      && c("release_date_kaggle") < lit("1965-01-01")))

  /** P2+P4 — final 31-column projection in challenge.py:265-270 order with
    * the :273-288 snake_case renames.
    */
  val outputColumns: Seq[(String, String)] = Seq(
    "imdb_id" -> "imdb_id",
    "id" -> "kaggle_id",
    "title_kaggle" -> "title",
    "original_title" -> "original_title",
    "tagline" -> "tagline",
    "belongs_to_collection" -> "belongs_to_collection",
    "url" -> "wikipedia_url",
    "imdb_link" -> "imdb_link",
    "runtime" -> "runtime",
    "budget_kaggle" -> "budget",
    "revenue" -> "revenue",
    "release_date_kaggle" -> "release_date",
    "popularity" -> "popularity",
    "vote_average" -> "vote_average",
    "vote_count" -> "vote_count",
    "genres" -> "genres",
    "original_language" -> "original_language",
    "overview" -> "overview",
    "spoken_languages" -> "spoken_languages",
    "Country" -> "country",
    "production_companies" -> "production_companies",
    "production_countries" -> "production_countries",
    "Distributor" -> "distributor",
    "Producer(s)" -> "producers",
    "Director" -> "director",
    "Starring" -> "starring",
    "Cinematography" -> "cinematography",
    "Editor(s)" -> "editors",
    "Writer(s)" -> "writers",
    "Composer(s)" -> "composers",
    "Based on" -> "based_on")

  def project(df: DataFrame): DataFrame =
    df.select(outputColumns.map { case (src, dst) =>
      (if (df.columns.contains(src)) c(src)
       else lit(null).cast("string")).as(dst)
    }: _*)
}
