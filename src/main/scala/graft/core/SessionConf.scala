package graft.core

import org.apache.spark.sql.SparkSession

/** Session-conf overrides scoped to one body. */
object SessionConf {

  /** Set each `k -> v` on the session for the duration of `body`, then put
    * every key back the way it was, also when `body` throws: a key that
    * had an explicit session value gets it again, a key that had none is
    * unset. The previous state is read from `conf.getAll` (explicit
    * settings only) rather than `conf.getOption`, which answers a
    * registered key's default and would leave that default pinned as an
    * explicit value after the scope.
    */
  def scoped[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val explicit = s.conf.getAll
    val old = kvs.map { case (k, _) => k -> explicit.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally old.reverseIterator.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
