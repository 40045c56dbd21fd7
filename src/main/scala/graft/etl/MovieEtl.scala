package graft.etl

import graft.OwnedSession
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The full reference pipeline (challenge.py:38-325, E1), Spark-first.
  *
  * Unlike the reference, the entry point honors its arguments (quirk Q1:
  * transform_and_load shadows its parameters with hardcoded paths). Dead
  * computations (Q2) are skipped. The ratings epoch column is loaded raw
  * (Q4: the to_datetime result is discarded in the reference).
  *
  * @param dedupWiki   DC behavior (drop_duplicates imdb_id, DC:3696);
  *                    false = challenge.py (Q5: join may fan out on dups)
  * @param dropOutlier documented-intent outlier drop at the DC position;
  *                    false = challenge.py (Q3: dead code, nothing dropped)
  */
final case class EtlConfig(
    dedupWiki: Boolean = false,
    dropOutlier: Boolean = false)

final case class EtlResult(
    movies: DataFrame,
    moviesWithRatings: DataFrame,
    ratings: DataFrame)

object MovieEtl {

  /** Extract and transform run once per call, as the reference reads each
    * source once into a frame it reuses. The three sources are independent
    * until the merge (challenge.py:38), so they run as three concurrent
    * branches, each materialising what it hands on with eager
    * `localCheckpoint`:
    *   - ratings, on its own thread: the raw `ratings` (read under the
    *     declared [[Extract.ratingsSchema]]; the counts and the ratings
    *     sink read it) and the per-movie rating counts;
    *   - kaggle, on its own thread: the cleaned kaggle frame;
    *   - wiki, on the calling thread: the filtered wiki frame, inside
    *     [[WikiClean.clean]].
    * Then the merge materialises `movies` (the movies sink, the ratings
    * attach and the JDBC sink). So no sink re-reads the input files.
    *
    * The pipeline runs in an [[graft.OwnedSession]], which the returned
    * frames belong to, with two overrides:
    *   - `spark.sql.caseSensitive=true`: the wiki schema needs it;
    *   - `spark.sql.json.enableExactStringParsing=false`: the JSON
    *     generator re-encodes a list value from the bytes the multiLine
    *     parser holds, where exact-string parsing would re-read the file
    *     once per list value. The text is compact (`["a","b"]`); every
    *     parse of it goes through `from_json`.
    *
    * The branch threads, created with the owned session active, inherit
    * it and the caller's SparkContext local properties, so their jobs run
    * under the caller's job group and description. Every branch is joined
    * before the call returns or throws, and a branch's failure is rethrown
    * as it was raised.
    *
    * The checkpoint blocks live in executor storage, not in the
    * CacheManager, and the ContextCleaner frees them once the
    * [[EtlResult]] is unreachable. `moviesWithRatings` has one consumer and
    * stays lazy.
    */
  def run(caller: SparkSession, wikiPath: String, kagglePath: String,
      ratingsPath: String, config: EtlConfig = EtlConfig()): EtlResult = {
    OwnedSession(caller, overrides) { spark =>
      // EXTRACT (S3) + RATINGS (A1, A2)
      val ratingsBranch = new Branch("ratings")({
        val ratings = Extract.readRatings(spark, ratingsPath)
          .localCheckpoint(eager = true)
        (ratings, Ratings.ratingCounts(ratings).localCheckpoint(eager = true))
      })
      // EXTRACT (S2) + TRANSFORM kaggle (F2, X12-X14)
      val kaggleBranch = new Branch("kaggle")(
        Merge.cleanKaggle(Extract.readCsv(spark, kagglePath))
          .localCheckpoint(eager = true))
      try {
        // EXTRACT (S1) + TRANSFORM wiki (F1, P5, X1-X10, P1)
        val wiki = WikiClean.clean(Extract.readWikiJson(spark, wikiPath),
          dedup = config.dedupWiki)

        // MERGE (J1, X11, P2-P4)
        val joined = Merge.join(wiki, kaggleBranch.get)
        val outlierHandled =
          if (config.dropOutlier) Merge.dropMergeOutlier(joined) else joined
        val movies = Merge.project(Merge.fillMissingKaggle(outlierHandled))
          .localCheckpoint(eager = true)

        // RATINGS (J2)
        val (ratings, counts) = ratingsBranch.get
        EtlResult(movies, Ratings.attach(movies, counts), ratings)
      } finally {
        ratingsBranch.join()
        kaggleBranch.join()
      }
    }
  }

  private val overrides = Map(
    "spark.sql.caseSensitive" -> "true",
    "spark.sql.json.enableExactStringParsing" -> "false")

  /** `body` running on a thread of its own, `MovieEtl-<name>`, started at
    * construction.
    */
  private final class Branch[T](name: String)(body: => T) {
    @volatile private var outcome: Either[Throwable, T] = _
    private val thread = new Thread(() =>
      outcome = try Right(body) catch { case e: Throwable => Left(e) },
      s"MovieEtl-$name")
    thread.setDaemon(true)
    thread.start()

    def join(): Unit = thread.join()

    /** The body's result once it ends; its own exception if it threw. */
    def get: T = {
      join()
      outcome.fold(e => throw e, identity)
    }
  }
}
