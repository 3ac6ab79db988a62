package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main runs on: `local[cpus]` with one
  * shuffle partition per core, UTC session time zone, no UI, WARN
  * logging, built through [[GraftExtensions]] (native functions, the
  * TopK strategy and the codegen cache size). `cpus` is
  * SPARK_GRAFT_CPUS, else the JVM's processor count. */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
