package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main runs on: `local[cpus]` with one
  * shuffle partition per core, UTC session time zone, no UI, WARN
  * logging. `cpus` is SPARK_GRAFT_CPUS, else the JVM's processor
  * count. */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
