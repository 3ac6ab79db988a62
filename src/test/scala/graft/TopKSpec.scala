package graft

import graft.plans.TopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The custom TopKPerGroup operator must agree exactly with the
  * window row_number formulation, and its plan must show the two-stage
  * (partial prune → exchange → final rank) shape. */
class TopKSpec extends SparkSpec {

  private lazy val rev = {
    val l = Tables.load(spark, sfDir, "lineitem")
    val p = Tables.dim(spark, sfDir, "part")
    l.join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_type", "p_brand")
      .agg(Dec.dsum(col("l_quantity")).as("qty"))
  }

  test("matches window row_number exactly, including ties") {
    val native = TopK.perGroup(rev, Seq("p_type"),
        Seq(("qty", false), ("p_brand", true)), k = 4)
      .select("p_type", "p_brand", "qty", "rnk")
      .orderBy("p_type", "rnk").collect().toSeq
    val w = Window.partitionBy("p_type").orderBy(col("qty").desc, col("p_brand"))
    val windowed = rev.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 4)
      .select("p_type", "p_brand", "qty", "rnk")
      .orderBy("p_type", "rnk").collect().toSeq
    assert(native == windowed)
  }

  test("plans as partial + final with one exchange between") {
    val df = TopK.perGroup(rev, Seq("p_type"), Seq(("qty", false), ("p_brand", true)), 2)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    val execs = "TopKPerGroup".r.findAllIn(plan).length
    assert(execs >= 2, s"expected partial+final TopKPerGroupExec:\n${plan.take(1200)}")
    assert(plan.contains("Exchange hashpartitioning(p_type"),
      s"no group-key exchange between stages:\n${plan.take(1200)}")
  }

  test("k larger than any group returns whole groups ranked") {
    val out = TopK.perGroup(rev, Seq("p_type"), Seq(("qty", false), ("p_brand", true)), 1000)
    assert(out.count() == rev.count())
  }

  test("an extension-built session plans with one TopK strategy") {
    TopK.perGroup(rev, Seq("p_type"), Seq(("qty", false)), 2)
    assert(spark.sessionState.planner.strategies
      .count(_ == graft.plans.TopKPerGroupStrategy) == 1)
  }

  test("rejects unknown columns and non-positive k") {
    intercept[IllegalArgumentException] {
      TopK.perGroup(rev, Seq("nope"), Seq(("qty", false)), 3)
    }
    intercept[IllegalArgumentException] {
      TopK.perGroup(rev, Seq("p_type"), Seq(("qty", false)), 0)
    }
  }
}
