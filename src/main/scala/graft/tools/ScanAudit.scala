package graft.tools
object ScanAudit {
  def main(a: Array[String]): Unit = {
    val spark = graft.LocalSession()
    val sf = "/root/testdata/sf0.001"
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (q, fn) =>
      try {
        val plan = fn(spark, sf).queryExecution.executedPlan.toString()
        val scans = plan.split("\n").filter(_.contains("FileScan"))
        val byTable = scans.flatMap(l => "(\\w+)\\.parquet".r.findFirstMatchIn(l).map(_.group(1)))
          .groupBy(identity).view.mapValues(_.length).toMap
        val multi = byTable.filter(_._2 > 1)
        println(s"[scan] $q total=${scans.length}" +
          (if (multi.nonEmpty) s" MULTI=$multi" else ""))
      } catch { case e: Throwable => println(s"[scan] $q ERR ${e.getMessage.take(80)}") }
    }
    spark.stop()
  }
}
