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

  /** The jobs `body` runs, in order, each as its stages' (id, task count)
    * sorted by id — a job's last stage is its result stage. A marker job
    * run afterwards drains the asynchronous listener bus. */
  protected def jobsDuring(body: => Unit): Seq[Seq[(Int, Int)]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = "jobs-during-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[(Int, Int)])]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == marker))
          drained.countDown()
        else jobs.add(j.jobId -> j.stageInfos.map(s => s.stageId -> s.numTasks).sortBy(_._1))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS), "the listener bus did not drain")
    } finally sc.removeSparkListener(l)
    jobs.asScala.toSeq.sortBy(_._1).map(_._2)
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
