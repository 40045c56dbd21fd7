package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** Harness-table readers (TESTDATA.md). One parquet file per table under the
  * sf directory. All reads go through here so scan options stay uniform,
  * and this is the one module that decides how a table's schema is
  * learned: from the file's footer, read on the driver
  * ([[Bridge.parquetSchema]]), and handed to the read. A plain
  * `spark.read.parquet(path)` would derive the same schema in a one-task
  * Spark job before the query is even planned; a read under a given schema
  * runs none.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(Bridge.parquetSchema(spark, path, nanosAsLong = false))
      .parquet(path)
  }

  /** Decouple downstream parallelism from input split count for
    * compute-bound stages: the harness tables are single-row-group parquet
    * (one scan task), so hash/regex/vector-heavy work after a skinny scan
    * would otherwise run on one core. No-op when the scan already yields
    * enough partitions (the real many-file case at cluster scale).
    */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // inputFiles is pure file-index metadata — unlike df.rdd, it forces no
    // plan-to-RDD conversion. At cluster scale (files ≥ cores) the scan
    // already parallelizes and this is a no-op; the single-file harness
    // tables get an explicit spread.
    if (df.inputFiles.length >= target) df else df.repartition(target)
  }

  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  /** The schema of the parquet at `path` as derived with
    * `spark.sql.legacy.parquet.nanosAsLong` on: a TIMESTAMP(NANOS) column,
    * which the plain derivation rejects ([PARQUET_TYPE_ILLEGAL]), comes out
    * as epoch-nanos LONG. The flag only derives the schema, and is never set
    * on `s`: a read under this schema in any session returns LONG.
    */
  def parquetSchema(s: SparkSession, path: String): StructType =
    Bridge.parquetSchema(s, path, nanosAsLong = true)

  /** The parquet at `path`, read in `s` under [[parquetSchema]]. */
  def parquet(s: SparkSession, path: String): DataFrame =
    s.read.schema(parquetSchema(s, path)).parquet(path)

  /** `events.ts` has shipped in two physical forms across testdata drops:
    * TIMESTAMP(NANOS), which [[parquetSchema]] reads as epoch-nanos LONG,
    * and TIMESTAMP(MICROS, isAdjustedToUTC=false), which arrives as
    * TIMESTAMP_NTZ. Either way the engine presents one schema downstream:
    * a micros session-zone TimestampType. ns→µs `div 1000` truncates
    * exactly like DuckDB's formatting, and the NTZ cast under the UTC
    * session zone is a pure reinterpretation — oracle parity holds in both
    * regimes.
    */
  def normalizeTs(df: DataFrame, c: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(c).dataType match {
      case LongType => df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }
  }

  /** The events table read through [[parquet]], `ts` normalised. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(parquet(s, s"$d/events.parquet"))
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
