package graft

import org.apache.spark.sql.{DataFrame, GraftSqlGlue, SparkSession}

package object queries {

  /** Runs `body` on a child of `s` with `kvs` set, and passes it the
    * child: the one way a query scopes a conf. The child starts from
    * every conf `s` holds, so nothing else in the plan changes; the
    * overrides, and any catalog, temp view, optimizer rule or stream
    * the body registers, stay on the child, so neither `s` nor a query
    * running on it concurrently ever sees them.
    *
    * The body must build every DataFrame it runs from the child (name
    * the parameter `s` to shadow the parent): `DataStreamWriter.start()`
    * takes its conf from the frame's own session, and a memory sink's
    * view is registered there, so it is read back inside the body too.
    * The child is also the thread's active session while the body runs.
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: SparkSession => T): T = {
    val child = GraftSqlGlue.cloneSession(s)
    kvs.foreach { case (k, v) => child.conf.set(k, v) }
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(child)
    try body(child)
    finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  /** The conf pair that registers a [[graft.sources.CellsCatalog]]
    * named `name` over the store at `root` — for [[withConf]]. */
  def cellsCatalog(name: String, root: String): Seq[(String, String)] = Seq(
    s"spark.sql.catalog.$name" -> classOf[graft.sources.CellsCatalog].getName,
    s"spark.sql.catalog.$name.root" -> root)

  /** The two-way row-equality invariant: `a` and `b` hold the same rows
    * with the same multiplicities. Each side is evaluated twice, so a
    * caller `localCheckpoint()`s any side that is expensive to
    * recompute. */
  def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    require(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, what)
}
