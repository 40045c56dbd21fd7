package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** One recorded span: a call into a layer, timed from the benchmark. */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of the traced passes, kept in memory and written when the run
  * ends. A span sets the Spark job group `p<pass>/<name>` around its body,
  * so the listener attributes the jobs it launches to that layer.
  *
  * Untraced passes use the same call sites with tracing off: `span` only
  * runs its body and `force` returns its argument, so the measured program
  * is exactly the workload.
  */
final class Trace(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var pass = 0
  var enabled = false

  /** Start a pass: every job of the pass runs in group `p<pass>`. */
  def beginPass(p: Int, traced: Boolean): Unit = {
    pass = p
    enabled = traced
    stack = Nil
    sc.setJobGroup(s"p$p", s"pass $p", interruptOnCancel = false)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val group = s"p$pass/$name"
      stack = id :: stack
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, parent, pass, name, t0, t1)
        stack = stack.tail
        val outer = stack.headOption.flatMap(i => spans.find(_.id == i))
        sc.setJobGroup(outer.map(s => s"p$pass/${s.name}").getOrElse(s"p$pass"),
          "", interruptOnCancel = false)
      }
    }

  /** In a traced pass, materialize a layer's output at its boundary so the
    * next layer's span does not re-run it.
    */
  def force(df: DataFrame): DataFrame =
    if (enabled) df.localCheckpoint(eager = true) else df

  /** Self time per span name over one pass: span duration minus the part
    * covered by its child spans.
    */
  def selfTimes(p: Int): Map[String, Double] = {
    val ss = spans.filter(_.pass == p)
    val childTime = ss.groupBy(_.parent).view
      .mapValues(_.map(_.seconds).sum).toMap
    ss.groupBy(_.name).view.mapValues(_.map(s =>
      s.seconds - childTime.getOrElse(s.id, 0.0)).sum).toMap
  }

  def json: String = Json(spans.map(s => Map("id" -> s.id,
    "parent" -> s.parent, "pass" -> s.pass, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}
