package graft.tools

import graft.SparkEntry
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Instrumented repro harness for the r5-judge-reported bimodal ~30 s
  * outlier reps on d2/d3: `runMain graft.tools.OutlierProbe [names...]`
  * runs each named query GRAFT_PROBE_REPS times (default 20) and for
  * every rep prints wall seconds next to where the time actually went —
  * summed stage wall, summed executor task time, task JVM-GC time,
  * driver GC time, and the slowest single stage. A rep whose wall far
  * exceeds its stage wall is a DRIVER/scheduling stall (checkpointing,
  * broadcast, cleaner); a rep whose task GC spikes is executor-heap
  * pressure; a slow single stage is a plan/skew problem.
  */
object OutlierProbe {

  private class StageRecorder extends SparkListener {
    val stages = ArrayBuffer.empty[(String, Long, Long, Long)] // name, wallMs, runMs, gcMs
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(0L)
      val m = si.taskMetrics
      stages.synchronized {
        stages += ((s"${si.stageId}:${si.name.takeWhile(_ != ' ')}",
          wall, m.executorRunTime, m.jvmGCTime))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("GRAFT_PROBE_REPS", "20").toInt
    val names = if (args.nonEmpty) args.toSeq
      else Seq("d2_dedup_minhash", "d3_dedup_simhash")
    val spark = graft.LocalSession()
    val rec = new StageRecorder
    spark.sparkContext.addSparkListener(rec)
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def driverGcMs: Long = {
      var t = 0L; gcBeans.forEach(b => t += b.getCollectionTime); t
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { i =>
        rec.stages.synchronized(rec.stages.clear())
        val g0 = driverGcMs
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener bus is async; give completions a moment to drain
        Thread.sleep(200)
        val dgc = driverGcMs - g0
        val ss = rec.stages.synchronized(rec.stages.toVector)
        val stageWall = ss.map(_._2).sum / 1e3
        val runT = ss.map(_._3).sum / 1e3
        val gcT = ss.map(_._4).sum / 1e3
        val slowest = if (ss.isEmpty) ("-", 0L) else {
          val s = ss.maxBy(_._2); (s._1, s._2)
        }
        println(f"[probe] $name rep=$i%2d wall=$wall%7.2f stageWall=$stageWall%7.2f " +
          f"taskRun=$runT%7.2f taskGc=$gcT%6.2f driverGc=${dgc / 1e3}%6.2f " +
          f"slowestStage=${slowest._1}@${slowest._2 / 1e3}%.2fs nStages=${ss.size}")
      }
    }
    spark.stop()
  }
}
