package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** The one place in the engine that sets conf, but for
  * [[etl.Extract.readWikiJson]]'s `caseSensitive`. An owned session is a
  * child of the caller with the caller's modifiable SQL conf plus a fixed
  * set of overrides, all set when it is made, so no entry changes its
  * caller's session and concurrent users can share it. Sessions are
  * memoised by SparkContext, caller conf and overrides: Spark caches
  * generated code per session class loader, so a session per call would
  * compile every generated class again. The memo keeps the 8 most recently
  * used sessions and drops those whose context has stopped.
  */
private[graft] object OwnedSession {

  private type Key = (SparkContext, Map[String, String], Map[String, String])

  private val memo = new java.util.LinkedHashMap[Key, SparkSession](
      8, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Key, SparkSession]): Boolean = size() > 8
  }

  /** `body` on the owned session for `caller` and `overrides`, made the
    * thread's active session (Dataset resolution reads `SQLConf.get`).
    */
  def apply[T](caller: SparkSession, overrides: Map[String, String])(
      body: SparkSession => T): T = {
    val conf = caller.conf.getAll.filter { case (k, _) =>
      caller.conf.isModifiable(k) }
    val s = memo.synchronized {
      memo.values.removeIf(_.sparkContext.isStopped)
      memo.computeIfAbsent((caller.sparkContext, conf, overrides), _ => {
        val s = caller.newSession()
        (conf ++ overrides).foreach { case (k, v) => s.conf.set(k, v) }
        s
      })
    }
    Bridge.withActive(s)(body(s))
  }
}
