package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSessionExtensions

import graft.operators.Dedup
import graft.sources.{Export, Ingest}

/** A repeated request must reuse its generated code. Spark's codegen
  * cache is JVM-wide and keyed on the generated source, so a second
  * run of a step compiles nothing only if the step generates the same
  * code every time: a step that minted new code per call (`rand()`,
  * `current_timestamp`, a varying inline literal) would defeat any
  * cache size. The steps are the corpus pipeline's (ingest, quality
  * gates, dedup and keep-best, decontamination, incremental dedup,
  * export) and the fixed bpaotu rollups. */
class CodegenReuseSpec extends SparkSpec {
  private lazy val out = Files.createTempDirectory("graft-codegen").toString
  private def docs = Tables.parallel(Tables.load(spark, sfDir, "documents"))
  private def registry(key: String): () => Unit =
    () => SparkEntry.queries(key)(spark, sfDir).collect()

  private lazy val steps: Seq[(String, () => Unit)] = Seq(
    "x14_csv_quarantine" ->
      (() => Ingest.x14CsvQuarantine(spark, sfDir, s"$out/x14").collect()),
    "t2_quality_score" -> registry("t2_quality_score"),
    "t22_gopher_rules" -> registry("t22_gopher_rules"),
    "d7_dedup_pipeline+d9_keep_best" -> { () =>
      val decision = Dedup.dedupPipeline(spark, sfDir)
      decision.collect()
      Dedup.keepBest(decision, docs).collect()
    },
    "d14_bloom_decontaminate" ->
      (() => Dedup.bloomDecontaminate(docs, "src0").collect()),
    "d15_incremental_dedup" ->
      (() => Dedup.incrementalDedup(docs, "src0").collect()),
    "x6_export_jsonl" ->
      (() => Export.jsonlShards(spark, sfDir, 8, s"$out/x6").collect()),
    "q5_taxonomy_rollup" -> registry("q5_taxonomy_rollup"),
    "q7_abundance_matrix" -> registry("q7_abundance_matrix"),
    "q13_diversity" -> registry("q13_diversity"))

  // AQE numbers the codegen stages and picks a broadcast join's build
  // side as its stages finish, so a repeated dedup run can meet a
  // variant of a class it has not compiled yet: 0, 2 or 6 classes over
  // 20 repeats, against ~124 for its cold run. Code minted per call
  // would recompile all of them.
  private val aqeVariants = Map("d7_dedup_pipeline+d9_keep_best" -> 12L)

  test("a second run of each pipeline step and rollup reuses its generated code") {
    val again = steps.map { case (name, run) =>
      run()
      name -> Meter.measure(spark)(run())._2.classes
    }
    assert(again.forall { case (name, n) => n <= aqeVariants.getOrElse(name, 0L) },
      s"classes compiled by a repeated run: ${again.mkString(", ")}")
  }

  private val key = GraftExtensions.CodegenCacheConf

  private def setProperty(value: Option[String]): Unit = value match {
    case Some(v) => sys.props(key) = v
    case None => sys.props -= key
  }

  private def withProperty(value: Option[String])(body: => Unit): Unit = {
    val saved = sys.props.get(key)
    try { setProperty(value); body } finally setProperty(saved)
  }

  test("the extension sets the codegen cache size when it is unset") {
    withProperty(None) {
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(sys.props.get(key).contains(
        GraftExtensions.CodegenCacheEntries.toString))
    }
  }

  test("the extension leaves a preset codegen cache size alone") {
    withProperty(Some("123")) {
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(sys.props.get(key).contains("123"))
    }
  }

  test("the session's conf carries the cache size the extension left") {
    assert(spark.sparkContext.getConf.getOption(key) == sys.props.get(key))
    assert(sys.props.contains(key))
  }
}
