package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bulk ingest — the reference's flat-file load path re-expressed:
  * schema-enforced CSV read in PERMISSIVE mode with corrupt rows
  * captured (not dropped, not fatal), idempotent re-load via
  * keep-first dedup on the primary key, and a partitioned parquet
  * landing write. Every step is a plain DataFrame transform, so a
  * 100 TB backfill is just more input files.
  */
object Ingest {

  /** Read CSV under an explicit schema; malformed rows land in
    * `_corrupt_record` instead of failing the job. Returns (good,
    * quarantined). */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): (DataFrame, DataFrame) = {
    val withCorrupt = schema.add("_corrupt_record", "string")
    // PERMISSIVE corrupt-column semantics require materializing once;
    // a DISK_ONLY checkpoint (not MEMORY) so a 100 TB backfill spills
    // instead of thrashing executor memory — the trade is one extra
    // local read. Not `persist`: a cached entry stays in the
    // CacheManager for the session's life, and every later write to
    // `path` re-plans it (new generated classes on every re-ingest).
    val raw = graft.Ckpt(spark.read
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .csv(path))
    val good = raw.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    val bad = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    (good, bad)
  }

  /** Idempotent upsert-by-key: re-ingesting the same batch (or an
    * overlapping one) keeps the first row per key — one shuffle on the
    * key, exactly the semantics a re-run backfill needs. */
  def dedupOnKey(df: DataFrame, key: String): DataFrame =
    df.dropDuplicates(key)

  /** Landing write: parquet partitioned by the given column, the
    * layout every downstream query partition-prunes against. */
  def land(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** SCD-2 merge — the metadata-refresh path as a HISTORY-PRESERVING
    * upsert (the reference periodically re-imports its contextual
    * metadata; a plain overwrite loses what changed). Compares an
    * incoming snapshot against the current dimension on the key:
    *
    *   - unchanged keys keep their current row (version 1, current);
    *   - changed keys close the old row (`is_current` false) and
    *     append version 2;
    *   - keys new to the snapshot appear as version 1, current;
    *   - keys missing from the snapshot are closed.
    *
    * Scale shape: ONE full-outer equi-join on the key (bucketable /
    * co-partitionable at warehouse scale), and the 3-way row fan-out
    * is a per-row `explode` of conditionally-built structs over that
    * single joined pass — NOT a 5-branch union, which would re-run
    * the join per branch (ScanAudit discipline). Null-safe `<=>`
    * comparisons, so NULL attribute flips count as changes. */
  def scd2Merge(current: DataFrame, incoming: DataFrame, key: String,
      attrs: Seq[String]): DataFrame = {
    val cur = current.select(
      (col(key) +: attrs.map(col)) :+ lit(1).as("in_cur"): _*)
    val inc = incoming.select(
      (col(key) +: attrs.map(a => col(a).as(s"new_$a"))) :+ lit(1).as("in_new"): _*)
    val j = cur.join(inc, Seq(key), "full_outer")
    val changed = attrs.map(a => !(col(a) <=> col(s"new_$a"))).reduce(_ || _)
    val both = col("in_cur") === 1 && col("in_new") === 1
    def row(from: String => Column, version: Int, isCurrent: Boolean) =
      struct((attrs.map(a => from(a).as(a)) :+
        lit(version).as("version")) :+ lit(isCurrent).as("is_current"): _*)
    val oldAttr = (a: String) => col(a)
    val newAttr = (a: String) => col(s"new_$a")
    j.select(col(key), explode(filter(array(
        when(both && !changed, row(oldAttr, 1, isCurrent = true)),
        when(both && changed, row(oldAttr, 1, isCurrent = false)),
        when(both && changed, row(newAttr, 2, isCurrent = true)),
        when(col("in_new") === 1 && col("in_cur").isNull,
          row(newAttr, 1, isCurrent = true)),
        when(col("in_cur") === 1 && col("in_new").isNull,
          row(oldAttr, 1, isCurrent = false))),
        s => s.isNotNull)).as("r"))
      .select(col(key) +: (attrs :+ "version" :+ "is_current")
        .map(f => col(s"r.$f").as(f)): _*)
      .orderBy(key, "version")
  }

  /** x5 driver entry: SCD-2 over the customer dim against a
    * deterministic mutated snapshot — balance bumped for key%7,
    * segment moved for key%11, keys %13 dropped (exercises the close
    * path), cloned +1,000,000 keys for key%17 (exercises the add
    * path). All four merge outcomes appear in the gated result. */
  def x5Scd2(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.Tables.load(spark, dir, "customer")
    val incoming = c.filter(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("c_custkey") % 11 === 0, lit("MOVED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      .union(c.filter(col("c_custkey") % 17 === 0)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          col("c_acctbal"), col("c_mktsegment")))
    scd2Merge(c, incoming, "c_custkey", Seq("c_acctbal", "c_mktsegment"))
  }

  def x5OracleSql: String = """
      WITH cur AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
      inc AS (
        SELECT c_custkey,
          CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
          CASE WHEN c_custkey % 11 = 0 THEN 'MOVED' ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % 13 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 17 = 0),
      j AS (
        SELECT coalesce(c.c_custkey, i.c_custkey) AS k,
          c.c_acctbal AS o_bal, c.c_mktsegment AS o_seg,
          i.c_acctbal AS n_bal, i.c_mktsegment AS n_seg,
          c.c_custkey IS NOT NULL AS in_cur,
          i.c_custkey IS NOT NULL AS in_new
        FROM cur c FULL OUTER JOIN inc i ON c.c_custkey = i.c_custkey),
      ch AS (
        SELECT *, in_cur AND in_new AND
          (o_bal IS DISTINCT FROM n_bal OR o_seg IS DISTINCT FROM n_seg) AS changed
        FROM j)
      SELECT k AS c_custkey, o_bal AS c_acctbal, o_seg AS c_mktsegment,
        1 AS version, true AS is_current
      FROM ch WHERE in_cur AND in_new AND NOT changed
      UNION ALL SELECT k, o_bal, o_seg, 1, false FROM ch WHERE changed
      UNION ALL SELECT k, n_bal, n_seg, 2, true FROM ch WHERE changed
      UNION ALL SELECT k, n_bal, n_seg, 1, true FROM ch WHERE in_new AND NOT in_cur
      UNION ALL SELECT k, o_bal, o_seg, 1, false FROM ch WHERE in_cur AND NOT in_new
      ORDER BY c_custkey, version"""

  /** x8: schema evolution on a landed parquet table — the lakehouse
    * reality that batch N+1 ships columns batch N never had. Batch 1
    * lands the EVEN doc_ids without `lang`; batch 2 lands the ODD ids
    * with it; the read-side contract is `mergeSchema`: one unified
    * schema, the missing column NULL-backfilled for old files — and
    * that null topology is exactly what the manifest gates (per-lang
    * counts where even ids fold into a NULL bucket). A reader that
    * dropped the new column, failed on the old files, or backfilled
    * with anything but null breaks the oracle match. Scale note:
    * mergeSchema pays a footer read per file at planning (fine for a
    * landing zone; a table format with a central schema log is the
    * production answer — this op IS the correctness contract such a
    * log must preserve). */
  def x8SchemaEvolution(spark: SparkSession, dir: String,
      outPath: String = null): DataFrame = {
    import org.apache.spark.sql.functions._
    val root = Option(outPath).getOrElse {
      val r = spark.conf.getOption("spark.graft.exportDir")
        .getOrElse(s"/tmp/graft_export/${spark.sparkContext.applicationId}")
      s"$r/x8_evolve"
    }
    val docs = graft.Tables.load(spark, dir, "documents")
    docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$root/batch=1")
    docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"), col("n_chars"), col("lang"))
      .write.mode("overwrite").parquet(s"$root/batch=2")
    spark.read.option("mergeSchema", "true").parquet(root)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("lang").asc_nulls_first)
  }

  /** DuckDB oracle for [[x8SchemaEvolution]] — the same per-lang
    * manifest with even ids folded into the NULL bucket. */
  def x8OracleSql: String = """
      SELECT CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang,
        count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM documents
      GROUP BY 1 ORDER BY lang NULLS FIRST"""

  /** x10: ingest-gate data-quality CONSTRAINT SUITE — the Deequ /
    * Great-Expectations-shaped check a pipeline runs on every landed
    * batch before anything downstream trusts it: column completeness,
    * key uniqueness, domain membership, value-range conformance over
    * `documents`, plus referential integrity of `embeddings.vec_id`
    * into `documents.doc_id`. One report row per constraint —
    * (constraint, value, passed) — so the gate is a table a scheduler
    * can assert on, not a log line.
    *
    * Scale shape: ONE aggregate pass over documents computes every
    * per-column metric simultaneously (conditional-count fusion —
    * adding a constraint adds a column, not a scan: Deequ's central
    * design point); uniqueness pays the one exact count(DISTINCT)
    * shuffle (at 100 TB swap for HLL if approximate suffices — e18's
    * dial); referential integrity is one LEFT ANTI join counted.
    * Constraint rows unpivot from a single struct array projection —
    * no per-constraint scans, no collect. Values round(6),
    * non-negative by construction. */
  def x10Constraints(spark: SparkSession, dir: String): DataFrame =
    x10Constraints(graft.Tables.load(spark, dir, "documents"),
      graft.Tables.load(spark, dir, "embeddings"))

  def x10Constraints(docs: DataFrame, emb: DataFrame): DataFrame = {
    val d = docs.agg(
      count(lit(1)).as("n"),
      count(col("text")).as("n_text"),
      countDistinct(col("doc_id")).as("n_ids"),
      sum(when(col("source").rlike("^src[0-9]+$"), 1L).otherwise(0L))
        .as("n_src_ok"),
      sum(when(length(col("text")).between(1L, 100000L), 1L).otherwise(0L))
        .as("n_len_ok"))
    val orphans = emb.select(col("vec_id"))
      .join(docs.select(col("doc_id")),
        col("vec_id") === col("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    def frac(num: Column) = round(num.cast("double") / col("n").cast("double"), 6)
    d.crossJoin(orphans) // both one-row — in-plan, not a head()
      .select(explode(array(
        struct(lit("completeness_text").as("constraint"),
          frac(col("n_text")).as("value"),
          (col("n_text") === col("n")).as("passed")),
        struct(lit("uniqueness_doc_id").as("constraint"),
          frac(col("n_ids")).as("value"),
          (col("n_ids") === col("n")).as("passed")),
        struct(lit("domain_source").as("constraint"),
          frac(col("n_src_ok")).as("value"),
          (col("n_src_ok") === col("n")).as("passed")),
        struct(lit("range_text_length").as("constraint"),
          frac(col("n_len_ok")).as("value"),
          (col("n_len_ok") === col("n")).as("passed")),
        struct(lit("referential_embeddings").as("constraint"),
          col("n_orphans").cast("double").as("value"),
          (col("n_orphans") === 0L).as("passed")))).as("c"))
      .select(col("c.constraint").as("constraint"), col("c.value").as("value"),
        col("c.passed").as("passed"))
      .orderBy("constraint")
  }

  /** DuckDB oracle for [[x10Constraints]] — the same fused
    * conditional counts, the same five report rows. */
  def x10OracleSql: String = """
      WITH d AS (
        SELECT count(*) AS n,
          count(text) AS n_text,
          count(DISTINCT doc_id) AS n_ids,
          sum(CASE WHEN regexp_matches(source, '^src[0-9]+$')
            THEN 1 ELSE 0 END) AS n_src_ok,
          sum(CASE WHEN length(text) BETWEEN 1 AND 100000
            THEN 1 ELSE 0 END) AS n_len_ok
        FROM documents),
      o AS (
        SELECT count(*) AS n_orphans FROM embeddings e
        WHERE NOT EXISTS (
          SELECT 1 FROM documents dd WHERE dd.doc_id = e.vec_id)),
      rows_ AS (
        SELECT 'completeness_text' AS "constraint",
          round(CAST(n_text AS DOUBLE) / n, 6) AS "value",
          n_text = n AS passed FROM d
        UNION ALL SELECT 'domain_source',
          round(CAST(n_src_ok AS DOUBLE) / n, 6), n_src_ok = n FROM d
        UNION ALL SELECT 'range_text_length',
          round(CAST(n_len_ok AS DOUBLE) / n, 6), n_len_ok = n FROM d
        UNION ALL SELECT 'referential_embeddings',
          CAST(n_orphans AS DOUBLE), n_orphans = 0 FROM o
        UNION ALL SELECT 'uniqueness_doc_id',
          round(CAST(n_ids AS DOUBLE) / n, 6), n_ids = n FROM d)
      SELECT * FROM rows_ ORDER BY "constraint" """

  /** Rows of l_orderkey key space per x12 manifest bucket. */
  val ManifestStride = 256L

  /** Pruning predicate pinned in the x12 manifest: `l_quantity > 45`
    * (a selective tail filter — most buckets' max sits at 50, so the
    * flag exercises both outcomes only when a bucket's draw happens
    * to top out lower; the SPEC plants a corpus where pruning wins). */
  val ManifestQtyGt = 45.0

  /** x12: ZONE-MAP STATS MANIFEST — the Iceberg/Delta manifest-file
    * read path as an operator: bucket the fact table by key range
    * (`l_orderkey div [[ManifestStride]]` — the unit a writer would
    * land as one file), and per bucket emit the stats a scan planner
    * prunes with: row count, min/max + null count per tracked column,
    * and the precomputed prunability flag for the pinned predicate
    * `l_quantity > [[ManifestQtyGt]]` (a bucket whose max_qty ≤ the
    * bound can be skipped without opening it). x10 gates VALUES at
    * ingest; x12 summarizes LAYOUT for the planner — together they're
    * the manifest a table format maintains per snapshot.
    *
    * Scale shape: ONE scan, one bucket-keyed aggregate with map-side
    * combine (min/max/count fuse per bucket — adding a tracked column
    * adds agg columns, not scans); output is bucket-count scale. At
    * 100 TB the bucket key is the actual file id and this exact query
    * IS the manifest build — no row-level reread on the prune path. */
  def x12StatsManifest(spark: SparkSession, dir: String): DataFrame =
    x12StatsManifest(graft.Tables.load(spark, dir, "lineitem"))

  def x12StatsManifest(l: DataFrame): DataFrame =
    // integer div, not `/`: Column./ is DOUBLE division and would
    // lose key bits past 2^53 before the truncation
    l.groupBy(expr(s"l_orderkey div $ManifestStride").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L))
          .as("n_null_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .withColumn("prunable_qty_gt45",
        col("max_qty") <= lit(ManifestQtyGt))
      .orderBy("bucket")

  /** DuckDB oracle for [[x12StatsManifest]] — the same bucket key and
    * fused min/max/null-count rollup (exact: no summed floats). */
  def x12OracleSql: String = s"""
      SELECT l_orderkey // $ManifestStride AS bucket,
        count(*) AS n_rows,
        min(l_quantity) AS min_qty,
        max(l_quantity) AS max_qty,
        CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_null_qty,
        min(l_extendedprice) AS min_price,
        max(l_extendedprice) AS max_price,
        max(l_quantity) <= $ManifestQtyGt AS prunable_qty_gt45
      FROM lineitem
      GROUP BY bucket ORDER BY bucket"""

  /** x13: SNAPSHOT DIFF — the change-data-capture summary between two
    * versions of a table (Delta CDF / Iceberg changelog shape): a
    * full-outer key join classifying every key as added / removed /
    * changed / unchanged, rolled up to the census an auditor signs
    * off on before promoting the new snapshot. x5 (SCD2) MERGES a
    * delta into history; x13 answers the prior question — WHAT
    * changed between v1 and v2, with counts and key ranges.
    *
    * The registered entry derives v2 from `documents` by a
    * deterministic mutation both engines replay: doc_id % 97 = 3
    * rows dropped (removed), % 97 = 5 rows re-texted (changed),
    * % 97 = 7 rows re-landed under key doc_id + 10⁷ (added). The
    * general `x13SnapshotDiff(v1, v2)` takes any two frames.
    *
    * Scale shape: ONE key-hash full-outer join (both sides shuffle
    * once on doc_id — co-partitioned; bucketed tables would make it
    * shuffle-free) comparing text IN the join row (no second pass),
    * plus a 4-row rollup. No collects, no windows. */
  def x13SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val v2 = v1.filter(col("doc_id") % 97 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 97 === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionByName(v1.filter(col("doc_id") % 97 === 7)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("new "), col("text")).as("text")))
    x13SnapshotDiff(v1, v2)
  }

  /** Precondition: `doc_id` is unique within each frame (a KEY join —
    * x10's uniqueness constraint audits exactly this); duplicate keys
    * would fan the full-outer join out multiplicatively. */
  def x13SnapshotDiff(v1: DataFrame, v2: DataFrame): DataFrame =
    v1.select(col("doc_id"), col("text").as("t1"))
      .join(v2.select(col("doc_id"), col("text").as("t2")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("t1").isNull, lit("added"))
          .when(col("t2").isNull, lit("removed"))
          .when(col("t1") =!= col("t2"), lit("changed"))
          .otherwise(lit("unchanged")).as("change_type"))
      .groupBy("change_type")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy("change_type")

  /** DuckDB oracle for [[x13SnapshotDiff]] — the identical v2
    * derivation and full-outer classification. */
  def x13OracleSql: String = """
      WITH v1 AS (SELECT doc_id, text FROM documents),
      v2 AS (
        SELECT doc_id,
          CASE WHEN doc_id % 97 = 5 THEN text || ' rev2' ELSE text END
            AS text
        FROM v1 WHERE doc_id % 97 <> 3
        UNION ALL
        SELECT doc_id + 10000000, 'new ' || text
        FROM v1 WHERE doc_id % 97 = 7),
      d AS (
        SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
          CASE WHEN v1.text IS NULL THEN 'added'
            WHEN v2.text IS NULL THEN 'removed'
            WHEN v1.text <> v2.text THEN 'changed'
            ELSE 'unchanged' END AS change_type
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      SELECT change_type, count(*) AS n_docs,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc
      FROM d GROUP BY change_type ORDER BY change_type"""

  /** x14: QUARANTINED CSV INGEST as a driver-gated ROUND TRIP — the
    * [[readCsv]] PERMISSIVE/quarantine contract (until now spec-only)
    * as a first-class registry key: export an orders slice to
    * header-less CSV, APPEND three deterministically malformed lines
    * (bad key, bad price, over-arity), re-ingest under the explicit
    * schema, and report the clean/quarantined census with the clean
    * side's exact decimal total. The oracle pins BOTH directions: the
    * clean aggregate must equal the source-of-truth parquet aggregate
    * (nothing clean was dropped or mangled by the text round trip)
    * and the quarantine count must equal exactly the planted 3
    * (nothing clean was quarantined, nothing malformed leaked
    * through).
    *
    * Scale: a write + a schema-enforced read + one aggregate — the
    * 100 TB backfill path is just more input files ([[readCsv]]'s
    * DISK_ONLY materialization note). */
  def x14CsvQuarantine(spark: SparkSession, dir: String,
      outPath: String = null): DataFrame = {
    import org.apache.spark.sql.functions._
    val path = Option(outPath).getOrElse {
      val r = spark.conf.getOption("spark.graft.exportDir")
        .getOrElse(s"/tmp/graft_export/${spark.sparkContext.applicationId}")
      s"$r/x14_csv_quarantine"
    }
    graft.Tables.load(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      .write.mode("overwrite").csv(path)
    import spark.implicits._
    Seq("notakey,F,1.00,2024-01-01",
        "1,F,notaprice,2024-01-01",
        "1,F,1.00,2024-01-01,EXTRA,EXTRA,EXTRA")
      .toDS().coalesce(1).write.mode("append").text(path)
    val schema = StructType.fromDDL(
      "o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderdate STRING")
    val (good, bad) = readCsv(spark, path, schema, header = false)
    good.agg(count(lit(1)).as("n_rows"),
        graft.Dec.dsum(col("o_totalprice")).as("total_price"))
      .select(lit("clean").as("status"), col("n_rows"), col("total_price"))
      .unionByName(bad.agg(count(lit(1)).as("n_rows"))
        .select(lit("quarantined").as("status"), col("n_rows"),
          lit(null).cast("double").as("total_price")))
      .orderBy("status")
  }

  /** DuckDB oracle for [[x14CsvQuarantine]] — the clean side from the
    * source-of-truth parquet, the quarantine side the planted
    * constant. */
  def x14OracleSql: String = """
      SELECT 'clean' AS status, count(*) AS n_rows,
        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          AS total_price
      FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT 'quarantined', 3, NULL
      ORDER BY status"""
}
