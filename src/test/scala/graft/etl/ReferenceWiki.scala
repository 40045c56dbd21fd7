package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The wiki reader over the whole union of keys: a first pass infers the
  * union schema (pandas' dict-key union, challenge.py:103), then the file is
  * re-read with every field forced to StringType. The reference that
  * [[Extract.readWikiJson]]'s keyed read must give the same output as, and
  * the reader for tests of columns the keyed read leaves out (`alt_titles`,
  * the mostly-null keys).
  */
object ReferenceWiki {
  def readWikiJson(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.caseSensitive", "true")
    val inferred = spark.read.option("multiLine", true).json(path).schema
    val allString = StructType(
      inferred.fieldNames.map(StructField(_, StringType, nullable = true)))
    spark.read.option("multiLine", true).schema(allString).json(path)
  }
}
