package graft

import org.apache.spark.sql.functions._
import graft.etl.MovieEtl

/** E1 — the reference movie pipeline (challenge.py:38-325) end-to-end as a
  * driver-verified catalog entry, not just a ScalaTest golden suite.
  *
  * The entry runs [[MovieEtl.run]] over the repo's synthesized fixtures
  * (FIXTURES.md §A) and reduces the result to one row of checkpoint facts:
  * merged-movie cardinality, vote-count mass carried through the join, two
  * rating-column sums (exercising rating counts+left-join+fill), the
  * 31-column movies contract, the 10 rating columns appended, and the raw
  * ratings passthrough count. The oracle recomputes every data-dependent
  * value from the same fixture files in DuckDB (json/csv readers, filter,
  * imdb-id extraction, adult filter, join, rating pivot) — the parse-layer
  * internals (money/date/running-time) are oracle-covered separately by
  * x3/x7/x9/x13 and pinned per-branch in MovieEtlSpec.
  */
object QueriesEtl {

  /** Fixture inputs are fixed-path (the reference's own data files, not the
    * harness sf tables), so the sfDir argument is ignored by design.
    */
  private val fx = "/root/repo/src/test/resources/fixtures"

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("e1_movie_pipeline", (s, _) => {
      val r = MovieEtl.run(s, s"$fx/wikipedia.movies.json",
        s"$fx/movies_metadata.csv", s"$fx/ratings.csv")
      val mr = r.moviesWithRatings
      mr.agg(
          count(lit(1)).as("n_movies"),
          sum(col("vote_count").cast("long")).as("sum_vote_count"),
          sum(col("`rating_5.0`")).as("sum_rating_5"),
          sum(col("`rating_0.5`")).as("sum_rating_05"))
        .withColumn("n_movie_cols", lit(r.movies.columns.length.toLong))
        .withColumn("n_rating_cols",
          lit(mr.columns.count(_.startsWith("rating_")).toLong))
        .crossJoin(r.ratings.agg(count(lit(1)).as("n_ratings")))
    },
      Some(s"""WITH wiki AS (
         |  SELECT * FROM read_json_auto('$fx/wikipedia.movies.json')),
         |filt AS (
         |  SELECT NULLIF(regexp_extract(imdb_link, 'tt\\d{7}'), '')
         |    AS imdb_id
         |  FROM wiki
         |  WHERE ("Director" IS NOT NULL OR "Directed by" IS NOT NULL)
         |    AND imdb_link IS NOT NULL AND "No. of episodes" IS NULL),
         |kag AS (
         |  SELECT imdb_id, CAST(id AS BIGINT) AS kaggle_id,
         |         CAST(vote_count AS BIGINT) AS vote_count
         |  FROM read_csv('$fx/movies_metadata.csv', header=true)
         |  WHERE adult = 'False'),
         |merged AS (
         |  SELECT k.kaggle_id, k.vote_count
         |  FROM filt w JOIN kag k USING (imdb_id)),
         |rat AS (SELECT * FROM read_csv('$fx/ratings.csv', header=true)),
         |rc AS (
         |  SELECT movieId,
         |    COUNT(userId) FILTER (WHERE rating = 5.0) AS r5,
         |    COUNT(userId) FILTER (WHERE rating = 0.5) AS r05
         |  FROM rat GROUP BY movieId)
         |SELECT COUNT(*) AS n_movies,
         |  CAST(SUM(m.vote_count) AS BIGINT) AS sum_vote_count,
         |  CAST(SUM(COALESCE(rc.r5, 0)) AS BIGINT) AS sum_rating_5,
         |  CAST(SUM(COALESCE(rc.r05, 0)) AS BIGINT) AS sum_rating_05,
         |  CAST(31 AS BIGINT) AS n_movie_cols,
         |  CAST(10 AS BIGINT) AS n_rating_cols,
         |  (SELECT COUNT(*) FROM rat) AS n_ratings
         |FROM merged m LEFT JOIN rc ON m.kaggle_id = rc.movieId""".stripMargin))
  )
}
