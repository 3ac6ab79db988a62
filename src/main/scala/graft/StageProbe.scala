package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}

/** Stage-level wall profile for one registry key — the no-UI stand-in
  * for the Spark UI's Stages page (guide §7.1): runs the key once
  * warm (cold rep first, discarded), then prints every stage of the
  * warm run with duration, task count, and shuffle bytes, plus the
  * job count. Usage: graft.StageProbe <key> [reps]; env as Bench. */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val key = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // diagnostic-only runtime SQL conf overrides, e.g.
    // "spark.sql.adaptive.enabled=false" (semicolon-separated) — the
    // BENCH path never reads this
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";")
      .map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    val fn = SparkEntry.queries(key)
    def run(): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    run() // cold: codegen + JIT, discarded
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val ms = (for {a <- i.completionTime; b <- i.submissionTime}
          yield a - b).getOrElse(-1L)
        val m = i.taskMetrics
        stages.add(f"${ms}%6d ms  tasks=${i.numTasks}%4d  " +
          f"sRead=${m.shuffleReadMetrics.totalBytesRead}%10d  " +
          f"sWrite=${m.shuffleWriteMetrics.bytesWritten}%10d  " +
          f"input=${m.inputMetrics.bytesRead}%11d  ${i.name.take(90)}")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    run()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    val all = stages.asScala.toSeq
    println(f"[probe] $key warm wall ${wall}%.2f s, jobs=${jobs.get()}, stages=${all.size}")
    all.foreach(s => println("[probe] " + s))
    spark.stop()
  }
}
