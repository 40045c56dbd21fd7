package graft

import java.nio.file.{Files, Paths}

import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType,
  TimestampType}

/** [[Tables]] learns each table's schema from its parquet footer on the
  * driver: the schema must be the one Spark's inference derives, and
  * learning it must start no Spark job. The events `ts` column has shipped
  * as TIMESTAMP(NANOS) (read as epoch-nanos LONG under the legacy flag)
  * and as TIMESTAMP(MICROS, NTZ) across testdata drops;
  * [[Tables.normalizeTs]] must map either to the same session-zone
  * TimestampType instant.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("normalizeTs maps epoch-nanos longs and NTZ micros to the same " +
      "TimestampType instant") {
    val fromNanos = Tables.normalizeTs(
      Seq(1704067207179575000L).toDF("ts"))
    val fromNtz = Tables.normalizeTs(
      Seq("2024-01-01 00:00:07.179575").toDF("s")
        .select(col("s").cast(TimestampNTZType).as("ts")))
    assert(fromNanos.schema("ts").dataType == TimestampType)
    assert(fromNtz.schema("ts").dataType == TimestampType)
    val Array(a) = fromNanos.collect()
    val Array(b) = fromNtz.collect()
    assert(a.getTimestamp(0) == b.getTimestamp(0),
      s"nanos path ${a.getTimestamp(0)} != ntz path ${b.getTimestamp(0)}")
  }

  test("normalizeTs leaves an already-TimestampType column untouched") {
    val df = Seq("2024-01-01 00:00:07.179575").toDF("s")
      .select(col("s").cast(TimestampType).as("ts"))
    val out = Tables.normalizeTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.collect().head.getTimestamp(0) ==
      df.collect().head.getTimestamp(0))
  }

  /** An events-shaped pyarrow file whose `ts` is TIMESTAMP(NANOS), alone in
    * its directory so the directory is also a landing zone (FIXTURES.md).
    */
  private lazy val nanosDir = fixture("nanos_events")
  private val nanosTs = Seq(1704067798778549123L, 1704068166738090456L,
    1704068217102229789L, 1704071405000000999L, 1704072001999999999L,
    1704075600000000001L)

  /** A fresh caller without the nanos flag, and its conf before `body`. */
  private def withFreshCaller(body: org.apache.spark.sql.SparkSession =>
      Unit): Unit = {
    val caller = spark.newSession()
    assert(caller.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
    val before = caller.conf.getAll
    body(caller)
    assert(caller.conf.getAll == before)
  }

  test("t reads every harness table under the schema parquet inference " +
      "derives") {
    Tables.names.foreach { n =>
      val path = s"$sf001/$n.parquet"
      val inferred = spark.read.parquet(path).schema
      assert(Tables.t(spark, sf001, n).schema == inferred, n)
      assert(Tables.parquetSchema(spark, path) == inferred, n)
    }
  }

  test("a harness-table frame, its schema and its input files start no " +
      "Spark job") {
    val frames: Seq[(String, () => DataFrame)] =
      Tables.names.map(n => n -> (() => Tables.t(spark, sf001, n))) :+
        ("Tables.events" -> (() => Tables.events(spark, sf001)))
    frames.foreach { case (n, build) =>
      val jobs = jobsDuring {
        val df = build()
        df.schema
        df.inputFiles
      }
      assert(jobs.isEmpty, s"$n started ${jobs.size} job(s)")
    }
  }

  /** The derivation [[Tables.parquetSchema]] replaced: parquet inference
    * in an owned session with the nanos flag on.
    */
  private def ownedSessionSchema(s: SparkSession, path: String)
  : StructType =
    OwnedSession(s, Map("spark.sql.legacy.parquet.nanosAsLong" -> "true"))(
      _.read.parquet(path).schema)

  test("parquetSchema derives a TIMESTAMP(NANOS) schema as the owned-" +
      "session inference did, in no Spark job, leaving the caller's conf " +
      "as it was") {
    withFreshCaller { caller =>
      Seq(nanosDir, s"$nanosDir/events.parquet").foreach { path =>
        val reference = ownedSessionSchema(caller, path)
        var got: StructType = null
        val jobs = jobsDuring { got = Tables.parquetSchema(caller, path) }
        assert(got == reference, path)
        assert(got("ts").dataType == LongType, path)
        assert(jobs.isEmpty, s"$path started ${jobs.size} job(s)")
      }
    }
  }

  test("parquetSchema on a directory reads the footer inference picks: " +
      "the first data file by path") {
    val mixed = Paths.get(Scratch.dir("mixed"))
    def single(df: DataFrame, name: String): Unit = {
      val out = Scratch.dir("single")
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val part = Files.list(Paths.get(out)).filter(
        _.getFileName.toString.endsWith(".parquet")).findFirst().get
      Files.move(part, mixed.resolve(name))
    }
    single(Seq((1L, "x")).toDF("id", "s"), "b.parquet")
    single(Seq((2L, 1.5)).toDF("id", "d"), "a.parquet")
    val got = Tables.parquetSchema(spark, mixed.toString)
    assert(got == spark.read.parquet(mixed.toString).schema)
    assert(got.fieldNames.toSeq == Seq("id", "d"))
  }

  test("events reads a TIMESTAMP(NANOS) ts as its micros truncation, " +
      "leaving the caller's conf as it was") {
    withFreshCaller { caller =>
      val ev = Tables.events(caller, nanosDir)
      assert(ev.schema("ts").dataType == TimestampType)
      val got = ev.orderBy("event_id").select("ts").collect()
        .map(_.getTimestamp(0)).toSeq
      assert(got == nanosTs.map(n => DateTimeUtils.toJavaTimestamp(n / 1000)))
    }
  }

  test("a stream over a TIMESTAMP(NANOS) landing zone equals its batch " +
      "form, leaving the caller's conf as it was") {
    withFreshCaller { caller =>
      StreamingOps.streamingHourlyAgg(caller, nanosDir, "nanos_hourly")
        .awaitTermination()
      val streamed = caller.table("nanos_hourly")
      val batch = StreamingOps.hourlyAgg(Tables.events(caller, nanosDir))
      assert(streamed.count() == 6)
      assert(streamed.exceptAll(batch).isEmpty)
      assert(batch.exceptAll(streamed).isEmpty)
    }
  }
}
