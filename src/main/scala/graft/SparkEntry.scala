package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: the query's builder and, when the result is
  * deterministic, equivalent ANSI SQL runnable by DuckDB on the same
  * parquet tables. Entries without an oracle (hash-seeded/approximate ops:
  * minhash, simhash, LSH, IVF, rolling-hash) get a rows-only check; the
  * ones that carry an `equal`/`recall_ok` column are still held to it by
  * [[Verify.enforceSelfCheck]].
  */
final case class QuerySpec(name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * The engine's query surface is the concatenation of three catalogs, each
  * a `specs: Seq[QuerySpec]` declaring every builder next to its oracle:
  *   - [[QueriesCore]] — scans/filters/projections/scalar-ops/joins/aggs/
  *     ordering/windows (SURVEY §2 operator inventory);
  *   - [[QueriesScale]] — dedup, similarity search, text analysis,
  *     multimodal plumbing, stream-shaped windows (training-data ops).
  * The movie-domain reference pipeline itself lives in `graft.etl`; it is
  * exercised end-to-end by [[QueriesEtl]] (driver-verified over the
  * synthesized fixtures — the reference's data files are missing blobs)
  * and branch-by-branch by the ScalaTest golden suite.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    QueriesCore.pricingSummary(spark, "/root/testdata/sf0.001")

  /** `specs` unchanged, or an error naming every name declared twice. */
  private[graft] def unique(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val repeated = specs.groupBy(_.name).collect {
      case (name, group) if group.size > 1 => name
    }
    require(repeated.isEmpty,
      s"query names declared twice: ${repeated.toSeq.sorted.mkString(", ")}")
    specs
  }

  private val specs =
    unique(QueriesCore.specs ++ QueriesScale.specs ++ QueriesEtl.specs)

  /** One entry per implemented operator from SURVEY.md §2 (+ scale ops,
    * + the reference pipeline end-to-end).
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  /** The oracle of every entry that has one (a subset of [[queries]]'s
    * keys; the e1 oracle reads the fixture files directly).
    */
  val oracleSql: Map[String, String] =
    specs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
