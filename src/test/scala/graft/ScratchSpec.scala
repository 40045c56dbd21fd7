package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

/** [[Scratch.materialize]] reads its round trip back under the schema it
  * wrote, so the write is all the work it does.
  */
class ScratchSpec extends SparkSpec {
  import spark.implicits._

  test("materialize runs only the write's jobs and returns its input") {
    val df = Seq(
      (1L, "a", 1.5, Seq("x", "y"), Timestamp.valueOf("2024-01-01 00:00:07")),
      (2L, null, -0.25, Seq.empty[String], null),
      (3L, "c", 0.0, null, Timestamp.valueOf("1999-12-31 23:59:59.123456"))
    ).toDF("id", "s", "d", "arr", "ts")
    val writeJobs = jobsDuring(
      df.write.mode("overwrite").parquet(Scratch.dir("plain")))
    var out: DataFrame = null
    val jobs = jobsDuring { out = Scratch.materialize(df, "mat") }
    assert(jobs.size == writeJobs.size,
      s"${jobs.size} jobs against the write's ${writeJobs.size}")
    assert(out.exceptAll(df).isEmpty && df.exceptAll(out).isEmpty)
  }
}
