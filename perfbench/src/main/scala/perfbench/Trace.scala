package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** Spark-listener record of jobs, stages and tasks, rolled up per span. */
final class Recorder extends SparkListener {

  final case class Task(stage: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, inBytes: Long, inRecords: Long, shuffleRead: Long,
                        shuffleWrite: Long, spill: Long)
  final case class Stage(id: Int, name: String, details: String, numTasks: Int,
                         var submittedMs: Long = -1, var completedMs: Long = -1)
  final case class Job(id: Int, startMs: Long, stages: Seq[Int], name: String, details: String,
                       var endMs: Long = -1)

  val tasks = ArrayBuffer.empty[Task]
  val stages = scala.collection.mutable.Map.empty[Int, Stage]
  val jobs = ArrayBuffer.empty[Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    e.stageInfos.foreach { s =>
      if (!stages.contains(s.stageId))
        stages(s.stageId) = Stage(s.stageId, s.name, s.details, s.numTasks)
    }
    val result = e.stageInfos.maxBy(_.stageId)
    jobs += Job(e.jobId, e.time, e.stageIds, result.name, result.details)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.submittedMs = e.stageInfo.submissionTime.getOrElse(-1L))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.completedMs = e.stageInfo.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && e.taskInfo != null)
      tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
  }

  def jobsIn(startMs: Long, endMs: Long): Seq[Job] = synchronized {
    jobs.filter(j => j.startMs >= startMs && j.startMs <= endMs).sortBy(_.id).toSeq
  }

  def tasksOf(stageIds: Set[Int]): Seq[Task] = synchronized {
    tasks.filter(t => stageIds(t.stage)).toSeq
  }

  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized {
    js.flatMap(_.stages).distinct.flatMap(stages.get)
  }

  /** Jobs, stages, tasks, CPU, GC, input, shuffle and spill of the jobs
    * that started inside [startMs, endMs]. */
  def rollup(startMs: Long, endMs: Long): Json.Raw = {
    val js = jobsIn(startMs, endMs)
    val ts = tasksOf(js.flatMap(_.stages).toSet)
    val mb = 1024.0 * 1024.0
    Json.raw(
      "jobs" -> js.size,
      "stages" -> stagesOf(js).count(_.submittedMs >= 0),
      "tasks" -> ts.size,
      "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "task_run_s" -> ts.map(_.runMs).sum / 1e3,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "input_mb" -> ts.map(_.inBytes).sum / mb,
      "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spill_mb" -> ts.map(_.spill).sum / mb,
      "job_call_sites" -> js.map(_.name))
  }
}

/** In-memory spans around the benchmark's calls into the program's
  * layers: name, start, end, parent and run id. Written out once, when
  * the run ends, each with the listener rollup of the jobs it started. */
final class Tracer(val runId: String) {

  final case class Span(id: Int, parent: Int, name: String, startMs: Long, startNs: Long,
                        var endNs: Long = -1, var endMs: Long = -1)

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[A](name: String)(f: => A): A = {
    val s = Span(spans.size, open.headOption.getOrElse(-1), name,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s.id :: open
    try f
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  /** Spans whose name is `name`, in the order they were opened. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path, recorder: Recorder): Unit = {
    // one rollup per span that can own Spark jobs; per-object layer
    // calls in the single-threaded pass start none
    val body = spans.map { s =>
      val base = Seq("name" -> s.name, "id" -> s.id, "parent" -> s.parent, "run_id" -> runId,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "duration_s" -> seconds(s))
      val withRollup =
        if (s.name.startsWith("dicom.") || s.name.startsWith("ingest.")) base
        else base :+ ("rollup" -> recorder.rollup(s.startMs, s.endMs))
      Json.raw(withRollup: _*)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, Json.obj("run_id" -> runId, "spans" -> body).getBytes("UTF-8"))
  }
}
