package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.BusShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Stage-level wall profile for registry keys — the no-UI stand-in
  * for the Spark UI's Stages page (guide §7.1).
  * Usage: `graft.StageProbe <k1,k2,…> [reps]` (reps default 1; env as
  * Bench). Per key: one cold rep (codegen + JIT, discarded), then
  * `reps` warm reps, each printed as one summary line — wall seconds
  * next to where the time went: job count, summed stage wall, summed
  * executor task run time, task JVM-GC time, driver GC time, the
  * slowest stage, and the classes codegen compiled and its seconds
  * (0 on a warm rep that reuses all its generated code). A rep whose
  * wall far exceeds its stage wall is a DRIVER/scheduling stall
  * (checkpointing, broadcast, cleaner); a task-GC spike is
  * executor-heap pressure; a slow single stage is a plan/skew problem.
  * The last warm rep's stages follow, one line each with duration,
  * task count, and shuffle and input bytes. */
object StageProbe {
  private case class Stage(name: String, wallMs: Long, tasks: Int,
      runMs: Long, gcMs: Long, sRead: Long, sWrite: Long, input: Long)

  private class Recorder extends SparkListener {
    val stages = new ConcurrentLinkedQueue[Stage]()
    val jobs = new AtomicInteger(0)
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      stages.add(Stage(s"${i.stageId}:${i.name.take(90)}",
        (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L),
        i.numTasks, m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
    }
  }

  def main(args: Array[String]): Unit = {
    val keys = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    val sc = spark.sparkContext
    // diagnostic-only runtime SQL conf overrides, e.g.
    // "spark.sql.adaptive.enabled=false" (semicolon-separated) — the
    // BENCH path never reads this
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";")
      .map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    val gcBeans =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def driverGcMs: Long = gcBeans.asScala.map(_.getCollectionTime).sum
    val rec = new Recorder
    sc.addSparkListener(rec)
    keys.foreach { key =>
      val fn = SparkEntry.queries(key)
      def run(): Unit =
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      run() // cold: codegen + JIT, discarded
      var last = Seq.empty[Stage]
      for (i <- 1 to reps) {
        // drain the async bus on both sides of the rep so every event
        // lands in the rep that caused it
        BusShim.flushListeners(sc)
        rec.stages.clear()
        rec.jobs.set(0)
        val g0 = driverGcMs
        val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compile0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        run()
        val wall = (System.nanoTime() - t0) / 1e9
        BusShim.flushListeners(sc)
        val dgc = (driverGcMs - g0) / 1e3
        val classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
        val compile = (CodeGenerator.compileTime - compile0) / 1e9
        last = rec.stages.asScala.toSeq
        val slowest = if (last.isEmpty) Stage("-", 0L, 0, 0L, 0L, 0L, 0L, 0L)
          else last.maxBy(_.wallMs)
        println(f"[probe] $key rep=$i%2d wall=$wall%7.2f jobs=${rec.jobs.get()}%4d " +
          f"stageWall=${last.map(_.wallMs).sum / 1e3}%7.2f " +
          f"taskRun=${last.map(_.runMs).sum / 1e3}%7.2f " +
          f"taskGc=${last.map(_.gcMs).sum / 1e3}%6.2f driverGc=$dgc%6.2f " +
          f"slowestStage=${slowest.name.takeWhile(_ != ' ')}@${slowest.wallMs / 1e3}%.2fs " +
          f"nStages=${last.size} classes=$classes%4d compile=$compile%6.2f")
      }
      last.foreach { s =>
        println(f"[probe] ${s.wallMs}%6d ms  tasks=${s.tasks}%4d  " +
          f"sRead=${s.sRead}%10d  sWrite=${s.sWrite}%10d  " +
          f"input=${s.input}%11d  ${s.name}")
      }
    }
    spark.stop()
  }
}
