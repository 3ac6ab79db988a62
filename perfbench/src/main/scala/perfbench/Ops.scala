package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types._

import graft.{Dec, SparkEntry, Tables}
import graft.operators.{ContextualFilter, Dedup, Relational}
import graft.operators.ContextualFilter._
import graft.sources.{Export, Ingest}

/** The benchmark's ops: each turns one request or pipeline step of the
  * plan into calls of graft's public functions (the build phase) and
  * names the DuckDB SQL whose result it must equal.
  *
  * Kinds: `filter` (a ContextualFilter tree over orders ⋈ customer,
  * aggregated per a group key), `q28`/`q32`/`q35` (the parameterised
  * bpaotu requests), `registry` (a SparkEntry key as is), `dedup` and
  * `keep_best` (the dedup decision and the keep-best pass over it),
  * `decontaminate` and `incremental` (d14/d15 on a seeded source),
  * `ingest` (x14) and `export` (x6). */
final class Ops(spark: SparkSession, dir: String, outDir: String, tracer: Tracer) {
  // The latest dedup decision: keep_best ranks within its clusters,
  // as a user keeps the decision of the dedup step they just ran.
  private var decision: DataFrame = _

  private def docs: DataFrame =
    Tables.parallel(tracer.load(Tables.load(spark, dir, "documents")))

  def frame(op: JsonNode): DataFrame = op.get("kind").asText match {
    case "filter" => filterFrame(op)
    case "q28" => Relational.q28Keyset(spark, dir, op.get("after_date").asText,
      op.get("after_key").asLong, op.get("limit").asInt)
    case "q32" => Relational.q32TaxonomyBrowse(spark, dir,
      op.get("mfgr").asInt, op.get("ptype").asText)
    case "q35" => Relational.q35Histogram(spark, dir, op.get("width").asDouble)
    case "registry" => SparkEntry.queries(op.get("key").asText)(spark, dir)
    case "dedup" => decision = Dedup.dedupPipeline(spark, dir); decision
    case "keep_best" =>
      require(decision != null, "keep_best needs a dedup step before it")
      Dedup.keepBest(decision, docs)
    case "decontaminate" => Dedup.bloomDecontaminate(docs, op.get("source").asText)
    case "incremental" => Dedup.incrementalDedup(docs, op.get("source").asText)
    case "ingest" => Ingest.x14CsvQuarantine(spark, dir, s"$outDir/x14")
    case "export" => Export.jsonlShards(spark, dir, 8, s"$outDir/x6")
    case k => throw new IllegalArgumentException(s"unknown op kind $k")
  }

  // Filter requests and the document steps load their tables here, in
  // the benchmark, so the traced run can time the `Tables` layer.
  private def filterFrame(op: JsonNode): DataFrame = {
    val o = tracer.load(Tables.load(spark, dir, "orders"))
    val c = tracer.load(Tables.dim(spark, dir, "customer"))
    val joined = o.join(c, col("o_custkey") === col("c_custkey"))
    val key = op.get("group").asText
    ContextualFilter(joined, pred(op.get("tree"), joined.schema))
      .groupBy(key)
      .agg(count(lit(1)).as("n_orders"), Dec.dsum(col("o_totalprice")).as("total_price"))
      .orderBy(key)
  }

  /** A JSON tree → ContextualFilter.Pred; literals take the type of
    * the field they are compared with. */
  private def pred(n: JsonNode, schema: StructType): Pred = {
    def value(field: String, v: JsonNode): Any = schema(field).dataType match {
      case DoubleType => v.asDouble
      case IntegerType => v.asInt
      case TimestampType => java.sql.Timestamp.valueOf(v.asText)
      case TimestampNTZType => java.time.LocalDateTime.parse(v.asText.replace(' ', 'T'))
      case _ => v.asText
    }
    val (op, a) = { val e = n.fields.next(); (e.getKey, e.getValue) }
    def args = a.elements.asScala.toSeq
    op match {
      case "and" => And(args.map(pred(_, schema)))
      case "or" => Or(args.map(pred(_, schema)))
      case "not" => Not(pred(a, schema))
      case "cmp" =>
        val f = a.get(0).asText; Cmp(f, a.get(1).asText, value(f, a.get(2)))
      case "in" =>
        val f = a.get(0).asText; In(f, a.get(1).elements.asScala.map(value(f, _)).toSeq)
      case "between" =>
        val f = a.get(0).asText; Between(f, value(f, a.get(1)), value(f, a.get(2)))
      case "contains" => ContainsText(a.get(0).asText, a.get(1).asText)
      case other => throw new IllegalArgumentException(s"unknown predicate $other")
    }
  }
}

/** DuckDB SQL for the ops whose SQL derives from graft's own oracle:
  * SparkEntry.oracleSql with the request's parameters substituted for
  * the registry defaults. Filter requests carry their SQL in the plan. */
object Oracle {
  /** Replace every `from` in `sql`; a template that lost its default
    * literal fails loudly instead of checking the wrong query. */
  private def sub(sql: String, pairs: (String, String)*): String =
    pairs.foldLeft(sql) { case (s, (from, to)) =>
      require(s.contains(from), s"oracle template no longer contains $from")
      s.replace(from, to)
    }

  def sql(op: JsonNode): String = op.get("kind").asText match {
    case "filter" => op.get("sql").asText
    case "q28" => sub(SparkEntry.oracleSql("q28_keyset"),
      "'1997-06-01 00:00:00'" -> s"'${op.get("after_date").asText} 00:00:00'",
      "o_orderkey > 0)" -> s"o_orderkey > ${op.get("after_key").asLong})",
      "LIMIT 50" -> s"LIMIT ${op.get("limit").asInt}")
    case "q32" => sub(SparkEntry.oracleSql("q32_taxonomy_browse"),
      "= 'MFGR#0'" -> s"= 'MFGR#${op.get("mfgr").asInt}'",
      "p_type = 'ECONOMY'" -> s"p_type = '${op.get("ptype").asText}'")
    case "q35" => sub(SparkEntry.oracleSql("q35_histogram"),
      "25000.0" -> op.get("width").asDouble.toString)
    case "registry" => SparkEntry.oracleSql(op.get("key").asText)
    case "dedup" => SparkEntry.oracleSql("d7_dedup_pipeline")
    case "keep_best" => SparkEntry.oracleSql("d9_keep_best")
    case "decontaminate" => sub(SparkEntry.oracleSql("d14_bloom_decontaminate"),
      "'src0'" -> s"'${op.get("source").asText}'")
    case "incremental" => Dedup.d15OracleSql(op.get("source").asText)
    case "ingest" => SparkEntry.oracleSql("x14_csv_quarantine")
    case "export" => SparkEntry.oracleSql("x6_export_jsonl")
    case k => throw new IllegalArgumentException(s"unknown op kind $k")
  }
}
