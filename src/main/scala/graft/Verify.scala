package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Self-check enforcement: entries without a DuckDB oracle carry their
    * own verdict as a boolean `equal`/`recall_ok` column (streaming
    * equivalence, ANN recall floors). A false verdict must surface as a
    * driver-visible err, not a silent rows-only green — the written dump is
    * read back (one evaluation of the entry, no re-run of streaming side
    * effects) and DELETED on failure, which makes the driver record a
    * missing-result err for the entry. Returns false iff the dump was
    * withheld. Factored out of [[main]] so the withholding logic is
    * testable on its own (VerifySpec).
    */
  def enforceSelfCheck(spark: SparkSession, name: String, path: String)
  : Boolean = {
    val written = spark.read.parquet(path)
    val verdictCols = written.schema.fields.collect {
      case f if (f.name == "equal" || f.name == "recall_ok") &&
        f.dataType == org.apache.spark.sql.types.BooleanType => f.name
    }
    if (verdictCols.isEmpty) true
    else {
      import org.apache.spark.sql.functions.{coalesce, col, lit, not}
      val nBad = written.filter(verdictCols
          .map(c => not(coalesce(col(c), lit(false))))
          .reduce(_ || _))
        .count()
      if (nBad > 0) {
        deleteRecursively(new java.io.File(path))
        System.err.println(
          s"[verify] $name SELF-CHECK FAILED ($nBad row(s) with a " +
            s"false ${verdictCols.mkString("/")}) — result withheld")
      }
      nBad == 0
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c narrows the dump for quick iteration on one
    // entry (same contract as Bench)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(s =>
      SparkEntry.queries.view.filterKeys(s).toMap)
    selected.foreach { case (name, fn) =>
      try {
        val path = s"$outDir/$name"
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(path)
        enforceSelfCheck(spark, name, path): Unit
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally
        // entries whose returned plan rides a persisted relation (q2,
        // q11, tp8, dd25, sim17, ...) leave it registered in the shared
        // cache manager; over a 240-entry single-session sweep that
        // accumulates — drop between entries, the dump above has already
        // materialized everything it needs
        spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // sorted by name so the file is byte-comparable across commits
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
