package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. Spark 4 made the classic converters
  * `private[sql]`; custom native expressions need them to surface as
  * `Column`s, hence this one-file residence inside the sql package — the
  * standard pattern for Spark extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's own ordering of `dt`'s values, applied to their external
    * (`Row`) form — what `min`/`<` compute on the same column.
    */
  def ordering(dt: org.apache.spark.sql.types.DataType): Ordering[Any] = {
    val internal = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(dt)
    Ordering.by(internal)(
      org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(dt))
  }

  /** Run `body` with `session` as the thread's ACTIVE session, restoring
    * the previous active session after. Needed when working on a child
    * session (`graft.OwnedSession`): several Dataset-API resolution paths read conf via
    * `SQLConf.get` = the thread-active session's conf, NOT the conf of the
    * session the DataFrame belongs to — so a child session's conf overrides
    * (e.g. `spark.sql.caseSensitive`) silently don't apply unless the child
    * is also the active session.
    */
  def withActive[T](session: org.apache.spark.sql.SparkSession)(body: => T)
  : T = {
    val classic = org.apache.spark.sql.classic.SparkSession
    val prev = classic.getActiveSession
    classic.setActiveSession(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    try body
    finally prev match {
      case Some(p) => classic.setActiveSession(p)
      case None => classic.clearActiveSession()
    }
  }

  /** The schema `spark.read.parquet(path)` infers (schema merging off, the
    * default), derived on the driver: Spark's inference opens one footer,
    * `_common_metadata`, else `_metadata`, else the first data file by
    * path, in a one-task job; this opens the same footer here and converts
    * it with Spark's own converter under the session's SQL conf, with
    * `nanosAsLong` also on when asked (in a copy of that conf: the
    * session's own is never set).
    */
  def parquetSchema(spark: SparkSession, path: String,
      nanosAsLong: Boolean): StructType = {
    val session =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val state = session.sessionState
    val rank = Map("_common_metadata" -> 0, "_metadata" -> 1)
    val file = new InMemoryFileIndex(session, Seq(new Path(path)), Map.empty,
        None).allFiles()
      .minByOption(f =>
        (rank.getOrElse(f.getPath.getName, 2), f.getPath.toString))
      .getOrElse(
        throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, state.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS))
    val conf = if (!nanosAsLong) state.conf else {
      val c = state.conf.clone()
      c.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
      c
    }
    // a file read's schema is all-nullable, whatever the footer declares
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(conf)).asNullable
  }

  /** Execute a (possibly hand-rewritten) LogicalPlan as a DataFrame —
    * used by rule-level tests to run a transformed plan directly.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
