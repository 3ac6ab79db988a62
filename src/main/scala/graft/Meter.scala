package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.BusShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The one place graft measures an interval: `Meter.measure(spark)(body)`
  * runs `body` between two drains of the listener bus with one listener
  * registered, so every event the body caused — and none from before
  * or after it — lands in the returned [[Meter.Reading]].
  *
  * Wall time on a shared box is noise; what a Reading holds besides
  * wall is a property of the executed plan (shuffle bytes, jobs, tasks,
  * fixpoint steps) or of the code it generated, so a lost broadcast, a
  * new exchange or a loop running extra steps shows even under load.
  * Codegen and driver-GC figures are JVM-wide counter deltas. */
object Meter {

  /** One completed stage: wall, tasks, shuffle and input bytes. */
  final case class Stage(name: String, wallMs: Long, tasks: Int,
      sRead: Long, sWrite: Long, input: Long)

  /** Everything one measured interval did. `wallS` is the body's own
    * wall (the drains are outside it); `steps` maps each fixpoint tag
    * the body recorded to its last count. */
  final case class Reading(wallS: Double, jobs: Int, tasks: Long,
      stages: Seq[Stage], taskRunMs: Long, taskGcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, inputBytes: Long,
      classes: Long, compileS: Double, driverGcMs: Long,
      steps: Map[String, Long])

  /** A fixpoint loop's step count, carried on the listener bus to
    * whichever meter is measuring the run. Not written to event logs. */
  final case class Steps(tag: String, n: Long) extends SparkListenerEvent {
    override def logEvent: Boolean = false
  }

  /** Record that the iterative operator `tag` took `n` steps. The count
    * includes the final certifying period (the one whose unchanged
    * exact-sum probe proves the fixpoint), so it overshoots the minimal
    * step count by at most `Graph.CkptEvery − 1`, stably as long as
    * the cadence is. Outside [[measure]] nobody listens and the event
    * is dropped. */
  def steps(spark: SparkSession, tag: String, n: Long): Unit =
    BusShim.post(spark.sparkContext, Steps(tag, n))

  private class Listener extends SparkListener {
    private var jobs = 0
    private var tasks = 0L
    private val stages = mutable.ArrayBuffer.empty[Stage]
    private var runMs, gcMs, sRead, sWrite, input = 0L
    private val stepsByTag = mutable.Map.empty[String, Long]

    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        sRead += m.shuffleReadMetrics.totalBytesRead
        sWrite += m.shuffleWriteMetrics.bytesWritten
        input += m.inputMetrics.bytesRead
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = s.stageInfo
        val m = i.taskMetrics
        stages += Stage(s"${i.stageId}:${i.name.take(90)}",
          (for {a <- i.completionTime; b <- i.submissionTime}
            yield a - b).getOrElse(-1L),
          i.numTasks, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case Steps(tag, n) => synchronized { stepsByTag(tag) = n }
      case _ =>
    }

    def reading(wallS: Double, classes: Long, compileS: Double,
        driverGcMs: Long): Reading = synchronized {
      Reading(wallS, jobs, tasks, stages.toList, runMs, gcMs, sRead, sWrite,
        input, classes, compileS, driverGcMs, stepsByTag.toMap)
    }
  }

  private def driverGcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Run `body` and return its value with what it did. The listener is
    * removed whether or not `body` throws. */
  def measure[T](spark: SparkSession)(body: => T): (T, Reading) = {
    val sc = spark.sparkContext
    val listener = new Listener
    BusShim.flushListeners(sc)
    sc.addSparkListener(listener)
    try {
      val gc0 = driverGcMs
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compile0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val value = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
      val compileS = (CodeGenerator.compileTime - compile0) / 1e9
      val gc = driverGcMs - gc0
      BusShim.flushListeners(sc)
      (value, listener.reading(wallS, classes, compileS, gc))
    } finally sc.removeSparkListener(listener)
  }
}
