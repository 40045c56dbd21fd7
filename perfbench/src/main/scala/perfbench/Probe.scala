package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one job group: a pass (`p3`) or a traced layer call inside a
  * pass (`p3/dedup.cc`). Filled from task and job events.
  */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var peakTaskMem = 0L
  /** stage id → (stage wall ms, task durations ms) */
  val stages = mutable.Map.empty[Int, (Long, mutable.ArrayBuffer[Long])]

  /** Max over median task time in the group's longest stage. */
  def taskSkew: Double =
    if (stages.isEmpty) 0.0
    else {
      val (_, durs) = stages.values.maxBy(_._1)
      if (durs.isEmpty) 0.0
      else {
        val s = durs.sorted
        val med = s(s.length / 2).toDouble
        s.last / math.max(med, 1.0)
      }
    }
}

final case class PlanCounters(gramEvals: Long, scanSeconds: Double,
    scanBytes: Long)

/** Spark listener keyed by job group, plus a plan walker fed by a
  * QueryExecutionListener. Both run on Spark's listener thread; readers
  * call [[drain]] first.
  */
final class Probe(tablesDir: Option[String]) extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val gramClasses =
    Set("graft.functions.GramStrings", "graft.functions.GramHashes")
  private var gramEvals = 0L
  private var scanNanos = 0L
  private var scanBytes = 0L
  /** Cached plans already walked this pass: a cache build runs once. */
  private val seenCached = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")

  private def stats(g: String): GroupStats =
    groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    stats(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      if (e.properties != null)
        stageGroup(e.stageInfo.stageId) = groupOf(e.properties)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val g = stageGroup.getOrElse(info.stageId, "none")
      val wall = (for (a <- info.submissionTime; b <- info.completionTime)
        yield b - a).getOrElse(0L)
      val st = stats(g)
      val (_, durs) = st.stages.getOrElse(info.stageId,
        (0L, mutable.ArrayBuffer.empty[Long]))
      st.stages(info.stageId) = (wall, durs)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = stageGroup.getOrElse(e.stageId, "none")
    val st = stats(g)
    st.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.diskBytesSpilled
      st.inputBytes += m.inputMetrics.bytesRead
      st.outputBytes += m.outputMetrics.bytesWritten
      st.peakTaskMem = math.max(st.peakTaskMem, m.peakExecutionMemory)
    }
    val (wall, durs) = st.stages.getOrElse(e.stageId,
      (0L, mutable.ArrayBuffer.empty[Long]))
    durs += e.taskInfo.duration
    st.stages(e.stageId) = (wall, durs)
  }

  /** Sum of the counters of every group whose id is `prefix` or starts
    * with `prefix/`.
    */
  def collect(prefix: String): GroupStats = synchronized {
    val out = new GroupStats
    groups.foreach { case (g, s) =>
      if (g == prefix || g.startsWith(prefix + "/")) {
        out.jobs += s.jobs
        out.tasks += s.tasks
        out.shuffleReadBytes += s.shuffleReadBytes
        out.shuffleWriteBytes += s.shuffleWriteBytes
        out.spillBytes += s.spillBytes
        out.inputBytes += s.inputBytes
        out.outputBytes += s.outputBytes
        out.peakTaskMem = math.max(out.peakTaskMem, s.peakTaskMem)
        out.stages ++= s.stages
      }
    }
    out
  }

  /** Plan-side counters since the last call, then reset: gram expression
    * instances in executed plans, and scan time and file bytes of parquet
    * scans over the harness tables.
    */
  def takePlanCounters(): PlanCounters = synchronized {
    val r = PlanCounters(gramEvals, scanNanos / 1e9, scanBytes)
    gramEvals = 0L
    scanNanos = 0L
    scanBytes = 0L
    seenCached.clear()
    r
  }

  private object Walker extends AdaptiveSparkPlanHelper {
    def walk(plan: SparkPlan): Unit =
      collectWithSubqueries(plan) { case n => n }.foreach { node =>
        node.expressions.foreach(_.foreach { e =>
          if (gramClasses(e.getClass.getName)) gramEvals += 1
        })
        node match {
          case scan: FileSourceScanExec if tablesDir.exists(d =>
              scan.relation.location.rootPaths.exists(
                _.toString.contains(d))) =>
            // scanTime is in ms (vectorized reader only)
            scan.metrics.get("scanTime").foreach(m =>
              scanNanos += m.value * 1000000L)
            scan.metrics.get("filesSize").foreach(m => scanBytes += m.value)
          case mem: InMemoryTableScanExec
              if seenCached.add(mem.relation.cachedPlan) =>
            walk(mem.relation.cachedPlan)
          case _ =>
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Probe.this.synchronized {
      try Walker.walk(qe.executedPlan)
      catch { case _: Throwable => () }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Register on a session (child sessions need their own registration). */
  def attach(s: SparkSession): SparkSession = {
    s.listenerManager.register(queryListener)
    s
  }
}

/** Process- and host-level counters read around each pass. */
object Host {
  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def gcSeconds(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Host-wide steal seconds (all CPUs) from /proc/stat; 0 where absent. */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")).filter(_.length > 8)
        .map(_(8).toDouble / 100.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }

  def memTotalMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemTotal:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }

  /** Total bytes under a directory tree (0 when it does not exist). */
  def dirBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => try java.nio.file.Files.size(f) catch {
          case _: java.io.IOException => 0L })
        .sum
      finally s.close()
    }
}
