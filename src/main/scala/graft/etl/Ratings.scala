package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ratings aggregation + attach (challenge.py:290-302): count each movie's
  * ratings per value into the 10 rating columns, left-join onto movies by
  * kaggle_id, fill unmatched with 0.
  */
object Ratings {

  /** The 10 rating values in ascending order (pandas emits columns
    * sorted by value; explicit list pins Spark's column order — SURVEY H4).
    */
  val ratingValues: Seq[Double] =
    Seq(0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0)

  val ratingColumns: Seq[String] = ratingValues.map(v => s"rating_$v")

  /** A1+A2 — per-movie counts of each rating value as one conditional
    * aggregation (pandas' two-step groupby+pivot, challenge.py:293): one
    * aggregate keyed on movieId alone, where the builtin pivot plans a
    * (movieId, rating) aggregate, a second aggregate and two exchanges.
    * The count aggregates userId (the reference renames userId→count), so
    * null userIds do not count; ratings outside [[ratingValues]] are
    * ignored. A value a movie never received counts 0 (the pivot's null),
    * which [[attach]]'s fill makes the same downstream.
    */
  def ratingCounts(ratings: DataFrame): DataFrame = {
    val counts = ratingValues.map(v =>
      count(when(col("rating") === v, col("userId"))).as(s"rating_$v"))
    ratings.groupBy(col("movieId")).agg(counts.head, counts.tail: _*)
  }

  /** J2 — left join + fillna(0) on the rating columns only
    * (challenge.py:299-302). kaggle_id (a TMDB id) is joined against
    * movieId (a MovieLens id) exactly as the reference does.
    *
    * The counts (one row per movieId, ~4.5 MB at the paper's scale) are
    * broadcast, like [[Merge.join]]'s wiki side: the checkpoint estimates
    * hide how small they are, so the planner would run both shuffle-map
    * stages before AQE re-plans the join to a broadcast.
    */
  def attach(movies: DataFrame, counts: DataFrame): DataFrame = {
    val joined = movies
      .join(broadcast(counts), movies("kaggle_id") === counts("movieId"),
        "left")
    // fillna(0) restricted to the rating columns, in one projection that
    // also drops movieId; the names contain dots ("rating_0.5"), which
    // na.fill would resolve as nested fields — use explicit coalesce with
    // backticked refs instead.
    joined.select(movies.columns.toSeq.map(n => col(s"`$n`")) ++
      ratingColumns.map(rc => coalesce(col(s"`$rc`"), lit(0L)).as(rc)): _*)
  }
}
