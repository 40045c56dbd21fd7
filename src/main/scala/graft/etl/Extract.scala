package graft.etl

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Source readers (SURVEY §2.1 S1-S3).
  *
  * Wiki JSON (S1, challenge.py:44-45): one top-level array of heterogeneous
  * objects whose fields are per-record polymorphic (string OR array-of-string
  * OR nested object — SURVEY §7.5 H1). Every field is read as StringType —
  * Spark then yields the JSON text for arrays/objects ("["a","b"]"),
  * which the expression layer flattens with
  * [[graft.ops.Expressions.flattenListString]] exactly like the reference's
  * `' '.join(x) if type(x) == list else x` (challenge.py:117).
  */
object Extract {

  /** The wiki records, one string column per key of
    * [[WikiClean.inputKeys]]: the keys the output can depend on, about 30
    * of the ~210 in the file. The schema is declared, so the file is
    * parsed once, with no inference pass. A list value's string follows the
    * session's JSON string mode (`spark.sql.json.enableExactStringParsing`):
    * the file's own text of the list when on, compact JSON when off.
    *
    * The output is the same as with the whole union of keys (the analogue
    * of pandas' dict-key union, challenge.py:103): a key the file lacks
    * reads as an all-null column, which [[WikiClean]] treats like an absent
    * one and the null pruning drops, and every other key is consumed only
    * by `alt_titles` or dropped before the 31-column projection.
    *
    * The wiki keys "Release date" AND "Release Date" (the :89-90 rename
    * chain) need `caseSensitive`. [[MovieEtl.run]]'s owned session has it;
    * the set stays for callers that resolve [[WikiClean]] columns in the
    * session they pass, as the benchmark's traced pass does.
    */
  def readWikiJson(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.caseSensitive", "true")
    val keys = StructType(
      WikiClean.inputKeys.map(StructField(_, StringType, nullable = true)))
    spark.read.option("multiLine", true).schema(keys).json(path)
  }

  /** CSV with whole-file schema inference — the Spark analogue of
    * `low_memory=False` (challenge.py:47: full-pass dtype inference).
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    csv(spark).option("inferSchema", true).csv(path)

  /** The four fixed ratings columns (challenge.py:48, SURVEY §1), the types
    * inference gives on the ratings file.
    */
  val ratingsSchema: StructType = StructType.fromDDL(
    "userId INT, movieId INT, rating DOUBLE, timestamp INT")

  /** The ratings CSV under [[ratingsSchema]]: one parse, no header or
    * inference pass.
    */
  def readRatings(spark: SparkSession, path: String): DataFrame =
    csv(spark).schema(ratingsSchema).csv(path)

  private def csv(spark: SparkSession): DataFrameReader =
    spark.read
      .option("header", true)
      // RFC-4180 doubled-quote escaping ("" inside quoted fields) — the
      // kaggle file embeds JSON-literal strings with quotes; pandas' C
      // parser handles this natively, Spark needs escape = quote char.
      .option("escape", "\"")
}
