package graft.etl

import org.apache.spark.sql.DataFrame

/** Sinks (S5-S7, challenge.py:305-325). The harness target is parquet; the
  * JDBC path reproduces the reference's append-mode Postgres load
  * (`to_sql(if_exists='append')`, connection challenge.py:308) and is
  * config-gated since no database runs in this container. The incremental
  * chunked load with progress accounting (S6) lives in
  * [[graft.streaming.StreamingOps.chunkedLoad]].
  */
object Load {

  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Hive-layout partitioned parquet — the data-lake sink shape at 100 TB:
    * downstream filters on the partition columns become directory pruning
    * (PartitionFilters in the scan, zero data read for pruned keys), and
    * optional within-partition sort clusters rows so per-file min/max
    * stats stay selective for range predicates.
    */
  def partitionedParquet(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val clustered =
      if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(col): _*)
      else df
    clustered.write.mode("overwrite")
      .partitionBy(partitionCols: _*).parquet(path)
  }

  /** Append to a relational table over JDBC. Spark partitions the write
    * natively — the scalable replacement for the reference's 1 M-row chunk
    * loop. `numPartitions` is the writer's connection cap: Spark coalesces
    * only an input with more partitions than that, and never shuffles.
    */
  def jdbc(df: DataFrame, url: String, table: String,
      user: String, password: String, numPartitions: Int = 8): Unit = {
    val props = new java.util.Properties()
    props.setProperty("user", user)
    props.setProperty("password", password)
    df.write.mode("append")
      .option("numPartitions", numPartitions.toString)
      .jdbc(url, table, props)
  }

  /** Truncate-then-load — the engine-side form of the reference's manual
    * re-run protocol (challenge.py:19-30: `DELETE FROM movies; DELETE
    * FROM ratings;` in pgAdmin before every `to_sql(if_exists='append')`
    * rerun). `truncate=true` keeps the existing table and issues the
    * dialect's TRUNCATE/DELETE instead of DROP+CREATE, preserving grants,
    * indexes and column types the warehouse side owns; `false` falls back
    * to Spark's drop-and-recreate overwrite.
    */
  def jdbcReplace(df: DataFrame, url: String, table: String,
      user: String, password: String, numPartitions: Int = 8,
      truncate: Boolean = true): Unit = {
    val props = new java.util.Properties()
    props.setProperty("user", user)
    props.setProperty("password", password)
    df.write.mode("overwrite")
      .option("numPartitions", numPartitions.toString)
      .option("truncate", truncate.toString)
      .jdbc(url, table, props)
  }
}
