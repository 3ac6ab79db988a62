package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for registry keys to files — the
  * plan-evidence tool for optimization rounds (plans/rNN/<key>.txt).
  *
  * Usage: graft.PlanDump <outDir> <key1,key2,...> [suffix]
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default: all cores).
  *
  * Each file holds the FORMATTED physical plan of the query as built
  * against the sf dir — the same plan the bench's noop write executes
  * (AQE's initial plan; the bench's shuffle-bytes telemetry is the
  * runtime witness). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <outDir> <k1,k2,...> [suffix]")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val keys = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val suffix = if (args.length > 2) args(2) else ""
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    keys.foreach { k =>
      val fn = SparkEntry.queries.getOrElse(k,
        sys.error(s"unknown registry key: $k"))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(outDir.resolve(s"$k$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $k$suffix (${txt.length} chars)")
    }
    spark.stop()
  }
}
