package graft

/** Stage-level wall profile for registry keys — the no-UI stand-in
  * for the Spark UI's Stages page (guide §7.1).
  * Usage: `graft.StageProbe <k1,k2,…> [reps]` (reps default 1; env as
  * Bench). Per key: one cold rep (codegen + JIT, discarded), then
  * `reps` warm reps, each a [[Meter]] reading printed as one summary
  * line — wall seconds next to where the time went: job count, summed
  * stage wall, summed executor task run time, task JVM-GC time, driver
  * GC time, the slowest stage, and the classes codegen compiled and
  * its seconds (0 on a warm rep that reuses all its generated code). A
  * rep whose wall far exceeds its stage wall is a DRIVER/scheduling
  * stall (checkpointing, broadcast, cleaner); a task-GC spike is
  * executor-heap pressure; a slow single stage is a plan/skew problem.
  * The last warm rep's stages follow, one line each with duration,
  * task count, and shuffle and input bytes. */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val keys = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 1
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
    keys.foreach { key =>
      val fn = SparkEntry.queries(key)
      def run(): Unit =
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      run() // cold: codegen + JIT, discarded
      var last = Seq.empty[Meter.Stage]
      for (i <- 1 to reps) {
        val (_, r) = Meter.measure(spark)(run())
        last = r.stages
        val slowest = if (last.isEmpty) Meter.Stage("-", 0L, 0, 0L, 0L, 0L)
          else last.maxBy(_.wallMs)
        println(f"[probe] $key rep=$i%2d wall=${r.wallS}%7.2f jobs=${r.jobs}%4d " +
          f"stageWall=${last.map(_.wallMs).sum / 1e3}%7.2f " +
          f"taskRun=${r.taskRunMs / 1e3}%7.2f " +
          f"taskGc=${r.taskGcMs / 1e3}%6.2f driverGc=${r.driverGcMs / 1e3}%6.2f " +
          f"slowestStage=${slowest.name.takeWhile(_ != ' ')}@${slowest.wallMs / 1e3}%.2fs " +
          f"nStages=${last.size} classes=${r.classes}%4d compile=${r.compileS}%6.2f")
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
