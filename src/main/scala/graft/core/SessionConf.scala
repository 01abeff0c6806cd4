package graft.core

import org.apache.spark.sql.SparkSession

/** Scoped session-conf side effects.
  *
  * Several operators must change a session setting for the span of one
  * plan (a shuffle width sized from the data, AQE off around a
  * checkpoint, a bloom-filter size cap). [[withConf]] is the one way they
  * do it: every key gets back exactly the state it had before the call —
  * its old value if it was set, UNSET if it was not (restoring the value
  * `conf.get` reports would pin a default as an explicit setting) — also
  * when `body` throws.
  *
  * The change is visible to any other query on the same session while
  * `body` runs; a caller sharing a session across threads hands the body
  * an isolated `s.newSession()`.
  */
object SessionConf {

  def withConf[T](s: SparkSession, entries: (String, String)*)(body: => T): T = {
    val sql = s.sessionState.conf
    val prev = entries.map { case (k, _) =>
      k -> (if (sql.contains(k)) Some(sql.getConfString(k)) else None)
    }
    try {
      entries.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
