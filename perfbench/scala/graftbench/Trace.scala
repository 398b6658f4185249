package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A child span of an op (plan, exec), in ms since the run started. */
final case class Phase(name: String, start: Double, end: Double)

/** One timed operation: a request, a query or a maintenance step. Times are
  * milliseconds since the run started; `detail` is free text such as a
  * result fingerprint. */
final case class OpRecord(
    id: String, kind: String, layer: String, name: String,
    start: Double, end: Double, ok: Boolean, error: String,
    phases: Seq[Phase], detail: String)

/** Spark job as seen by [[JobListener]], with its stages' task metrics
  * summed. `group` is the job group the op set, or null. */
final case class JobRecord(
    id: Int, group: String, start: Double, var end: Double,
    var stages: Int = 0, var tasks: Int = 0,
    var runMs: Double = 0, var cpuMs: Double = 0, var shuffleBytes: Long = 0,
    var spillBytes: Long = 0, var inputBytes: Long = 0)

/** Records ops for every run and, when `tracing`, tags each op's Spark jobs
  * with a job group so [[JobListener]] can attribute them. */
final class Recorder(val sc: SparkContext, val tracing: Boolean) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  private val seq = new AtomicLong()
  val ops = new ConcurrentLinkedQueue[OpRecord]()
  val listener: Option[JobListener] =
    if (tracing) Some(new JobListener(this)) else None
  listener.foreach(sc.addSparkListener)

  def now: Double = (System.nanoTime() - t0Nanos) / 1e6
  def fromEpoch(ms: Long): Double = (ms - t0Epoch).toDouble

  /** Phase timer handed to an op body: `ctx.phase("plan") { ... }`. */
  final class Ctx(val id: String) {
    val phases = mutable.ArrayBuffer.empty[Phase]
    var detail = ""
    def phase[A](name: String)(body: => A): A = {
      val s = now
      try body finally phases += Phase(name, s, now)
    }
  }

  /** Runs `body` as one op and times it. `check` then runs untimed (its
    * Spark jobs carry their own `check-` group): a throw, or a check that
    * returns an error message, marks the op failed. The op is recorded
    * either way; its result is returned only when it succeeded. */
  def op[A](kind: String, layer: String, name: String)(body: Ctx => A)(
      check: A => Option[String] = (_: A) => None): Option[A] = {
    val id = s"$kind-${seq.incrementAndGet()}"
    val ctx = new Ctx(id)
    def guarded[B](group: String)(f: => B): Either[String, B] = {
      if (tracing) sc.setJobGroup(group, s"$layer.$name", interruptOnCancel = false)
      try Right(f) catch {
        case e: Throwable =>
          Left(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      } finally if (tracing) sc.clearJobGroup()
    }
    val start = now
    val ran = guarded(id)(body(ctx))
    val end = now
    val outcome = ran.flatMap(a => guarded(s"check-$id")(check(a)).flatMap(_.toLeft(a)))
    ops.add(OpRecord(id, kind, layer, name, start, end, outcome.isRight,
      outcome.left.getOrElse(""), ctx.phases.toSeq, ctx.detail))
    outcome.toOption
  }

  /** The jobs seen so far; read after `SparkContext.stop()`, which
    * delivers every event still queued, it holds them all. */
  def jobs: Seq[JobRecord] = listener.map(_.snapshot).getOrElse(Nil)
}

/** Collects job spans and their stages' task metrics, keyed by job group.
  * Jobs without a group (for example ones started from a pool thread that
  * did not inherit the op's properties) are kept with a null group. */
final class JobListener(rec: Recorder) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = JobRecord(e.jobId, group, rec.fromEpoch(e.time), -1)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = rec.fromEpoch(e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (jobId <- stageJob.get(info.stageId); j <- jobs.get(jobId)) {
      j.stages += 1
      j.tasks += info.numTasks
      Option(info.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1e6
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def snapshot: Seq[JobRecord] = synchronized(jobs.values.map(_.copy()).toSeq)
}
