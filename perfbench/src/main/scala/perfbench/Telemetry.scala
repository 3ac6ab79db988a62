package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of one (op, phase) pair, or of any sum of them. */
final class Counts {
  var jobs, stages, tasks, retries = 0L
  var runMs, cpuNs, gcMs, schedMs = 0L
  var inputBytes, inputRows, shuffleRead, shuffleWrite, spill = 0L
  var outputBytes, ckptBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; retries += o.retries
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedMs += o.schedMs
    inputBytes += o.inputBytes; inputRows += o.inputRows
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; outputBytes += o.outputBytes; ckptBytes += o.ckptBytes
  }
}

/** One span: a timed call from the benchmark into one layer of graft.
  * Times are wall-clock milliseconds, so they line up with the
  * scheduler's job and stage timestamps. */
final case class Span(id: Int, name: String, parent: Int, request: String,
    startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** The traced run's one listener. The benchmark sets the job group to
  * the running op's id and the job description to its phase (`build`,
  * `plan`, `exec`), so every job, stage and task is attributed to the
  * span that was open when it was submitted, also when the listener
  * bus delivers the events later. Checkpoint blocks carry no job
  * group; they go to the op that is running when the bus is drained at
  * the op's end. */
final class Telemetry(sc: SparkContext) extends SparkListener {
  private final case class Job(op: String, phase: String, startMs: Long,
      var endMs: Long = -1L)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageFirstLaunch = mutable.Map.empty[Int, Long]
  private val counts = mutable.Map.empty[(String, String), Counts]
  @volatile private var currentOp: String = ""

  private def at(op: String, phase: String): Counts =
    counts.getOrElseUpdate((op, phase), new Counts)
  private def ofStage(stageId: Int): Option[Job] =
    stageJob.get(stageId).flatMap(jobs.get)

  def opStarted(op: String): Unit = currentOp = op

  /** Waits until every event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.graftshim.BusShim.flushListeners(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val op = Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val phase = Option(p).flatMap(x => Option(x.getProperty("spark.job.description")))
      .getOrElse("")
    jobs(e.jobId) = Job(op, phase, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    val c = at(op, phase)
    c.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    ofStage(e.stageInfo.stageId).foreach { j => val c = at(j.op, j.phase); c.stages += 1 }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageFirstLaunch.getOrElseUpdate(e.stageId, e.taskInfo.launchTime)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (j <- ofStage(info.stageId); sub <- info.submissionTime;
         first <- stageFirstLaunch.remove(info.stageId)) {
      val c = at(j.op, j.phase)
      c.schedMs += math.max(0L, first - sub)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    ofStage(e.stageId).foreach { j =>
      val c = at(j.op, j.phase)
      c.tasks += 1
      if (e.taskInfo.attemptNumber > 0) c.retries += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.useDisk && b.diskSize > 0) {
      val c = at(currentOp, "build")
      c.ckptBytes += b.diskSize
    }
  }

  /** Counters of `op` summed over `phases` (all phases when empty). */
  def countsOf(op: String, phases: String*): Counts = synchronized {
    val sum = new Counts
    counts.foreach { case ((o, ph), c) =>
      if (o == op && (phases.isEmpty || phases.contains(ph))) sum += c
    }
    sum
  }

  /** Milliseconds of [fromMs, toMs] during which no job of `op` was
    * running: the driver's own share of that interval. */
  def idleMs(op: String, fromMs: Double, toMs: Double): Double = synchronized {
    val busy = jobs.values.filter(_.op == op).toSeq
      .map(j => (math.max(fromMs, j.startMs.toDouble),
        math.min(toMs, if (j.endMs < 0) toMs else j.endMs.toDouble)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var reach = fromMs
    busy.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    (toMs - fromMs) - covered
  }
}
