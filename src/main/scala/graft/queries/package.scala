package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {

  /** Runs `body` with one session conf overridden, then restores the
    * previous value, or unsets the key if it had none, even when `body`
    * throws.
    *
    * The streaming gates use it to size state partitions
    * (`spark.sql.shuffle.partitions`) to their key cardinality, and put
    * everything up to `awaitTermination()` inside `body`: the value is
    * held until the bounded run FINISHES because StreamExecution happens
    * to clone the session (and this conf) in its constructor, but that
    * timing is an implementation detail, and restoring right after
    * `start()` would race a deferred clone.
    */
  def withConf[T](s: SparkSession, kv: (String, String))(body: => T): T = {
    val (key, value) = kv
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** The two-way row-equality invariant: `a` and `b` hold the same rows
    * with the same multiplicities. Each side is evaluated twice, so a
    * caller `localCheckpoint()`s any side that is expensive to
    * recompute. */
  def sameRows(a: DataFrame, b: DataFrame, what: String): Unit =
    require(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, what)
}
