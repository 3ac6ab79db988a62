package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump every query's result under `outDir`. A query that throws must
    * be LOUD in the artifacts, not absent: r9 shipped 5 analysis-broken
    * queries that simply vanished from CORRECTNESS (the per-query output
    * dir was never written), so the driver reported 119/119 green.
    * Record every failure in _errors.json AND a per-query
    * <name>_FAILED sentinel dir so both a JSON consumer and a
    * directory-listing consumer see it. Returns the error map. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.take(500)
        try {
          val p = Paths.get(s"$outDir/${name}_FAILED")
          Files.createDirectories(p)
          Files.writeString(p.resolve("error.txt"), msg)
        } catch { case _: Throwable => () }
      }
    }
    Files.writeString(Paths.get(s"$outDir/_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED: ${errors.keys.mkString(",")}")
    errors.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    // GRAFT_VERIFY_ONLY=q1,q2 restricts the dump (local iteration only;
    // the driver sets no env and always dumps everything)
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    dump(spark, sfDir, outDir, SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) })
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
