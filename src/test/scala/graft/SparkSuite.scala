package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one test session. `Test / fork := true` runs every suite in one
  * JVM, so suites share its live session; when there is none, the
  * production factory builds it: `LocalSession("4")` is `local[4]` with
  * 4 shuffle partitions, UTC, the UI off, `GraftExtensions` and
  * `nanosAsLong`. A spec changes runtime settings only through
  * [[withConf]]; a spec about a static setting builds its own session
  * with [[SparkSuite.freshSession]]. */
trait SparkSuite extends AnyFunSuite {

  protected lazy val spark: SparkSession =
    SparkSession.getDefaultSession.filterNot(_.sparkContext.isStopped)
      .getOrElse(graft.util.LocalSession("4"))

  /** Run `body` under the runtime settings `kvs`, then give each key back
    * its previous value, or unset it if it had none. */
  protected def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

object SparkSuite {

  // extensions only apply at session CREATION — under `sbt test` all
  // suites share one JVM, so an active session from another suite must
  // be stopped or getOrCreate silently returns it without extensions
  def freshSession(build: => SparkSession)(body: SparkSession => Unit): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = build
    try body(s)
    finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
