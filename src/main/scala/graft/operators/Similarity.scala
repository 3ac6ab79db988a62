package graft.operators

import graft.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbour search over the `embeddings` table.
  *
  * Scale design: the query side is tiny and broadcast; norms are
  * computed once per row *before* the join fans out. The brute-force
  * path is the exactness baseline (a single corpus scan per batch of
  * queries); the SRP-LSH path buckets the corpus so each probe touches
  * only matching buckets — candidate count scales with bucket density,
  * not corpus size.
  */
object Similarity {

  /** Brute-force cosine top-k: exact baseline. Queries = vec_id < 5,
    * k = 10. One broadcast-nested-loop over a single corpus scan, with
    * the fused native [[graft.functions.expressions.CosineSimilarity]]
    * expression in the hot loop. */
  def annBruteforce(spark: SparkSession, dir: String): DataFrame =
    annBruteforce(Tables.parallel(Tables.load(spark, dir, "embeddings")))

  def annBruteforce(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    val q = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val scored = q.join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("cv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("c_id"), col("rnk"),
        graft.GraftFunctions.roundz(col("cos"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** s13: maximum-inner-product search (MIPS) — retrieval by RAW dot
    * product, the scoring two-tower recommenders and learned-sparse
    * retrievers actually use (an embedding trained with a dot-product
    * objective encodes popularity/intensity in the NORM; cosine
    * normalization erases exactly that signal, so MIPS ≠ cosine ANN
    * and needs its own operator). Exact brute-force baseline: one
    * broadcast of the query batch over one corpus scan, the dot an
    * index-order in-row `zip_with`+`aggregate` fold (codegen HOFs,
    * no UDF; round(6) absorbs the oracle's unnest-sum ordering, s1's
    * convention), ranks by (dot desc, c_id).
    *
    * Scale path — documented reduction, spec-PROVEN equivalence: MIPS
    * over a corpus with max norm M is cosine ANN over the augmented
    * corpus x̃ = [x, √(M²−‖x‖²)] with queries q̃ = [q, 0] (Bachrach et
    * al. 2014): ‖x̃‖ = M for every corpus vector, so augmented cosine
    * = ⟨q,x⟩/(‖q‖·M) is monotone in the dot product and the s2/s3
    * bucketed candidate machinery applies unchanged to x̃. The
    * SimilaritySpec case ranks both forms and asserts identical
    * per-query order — the reduction is load-bearing, not prose. */
  def mipsTopk(spark: SparkSession, dir: String): DataFrame =
    mipsTopk(Tables.parallel(Tables.load(spark, dir, "embeddings")))

  def mipsTopk(e: DataFrame, k: Int = AnnK): DataFrame = {
    val q = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val spark = e.sparkSession
    val scored = q.join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        // native fused pass (CosineSimilarity minus the norms); each
        // element widens to double BEFORE the multiply — float×float
        // in float precision would diverge from the oracle's DOUBLE
        // products by ~1e-7 relative, past what round(6) absorbs
        graft.GraftFunctions.dotProduct(spark, col("qv"), col("cv"))
          .as("dt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dt").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("rnk"),
        graft.GraftFunctions.roundz(col("dt"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB oracle for [[mipsTopk]] — s1's pairs/dots CTE shape
    * ranked by the raw dot product (no norm division). */
  def s13OracleSql(k: Int = AnnK): String = s"""
      WITH pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          q.embedding AS qv, c.embedding AS cv
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
      dots AS (
        SELECT q_id, c_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT q_id, c_id, unnest(qv) AS x, unnest(cv) AS y FROM pairs)
        GROUP BY q_id, c_id),
      ranked AS (
        SELECT q_id, c_id, dt,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY dt DESC, c_id) AS INT) AS rnk
        FROM dots)
      SELECT q_id, c_id, rnk, (round(dt, 6) + 0.0) AS score
      FROM ranked WHERE rnk <= $k ORDER BY q_id, rnk"""

  /** Filtered ANN — vector search under a metadata predicate, the
    * retrieval-stack staple ("nearest among docs where source = X").
    * PRE-FILTER strategy: the predicate applies BEFORE scoring via a
    * left-semi join of the embedding corpus against the pushed-down
    * metadata scan. Pre-filtering is the correct side of the classic
    * trade whenever the filter is selective — post-filtering a
    * fixed-k ANN result under-fills k (a query whose neighbourhood is
    * mostly filtered-out docs returns < k rows); here k is always
    * satisfied when the filtered corpus has ≥ k members. Queries stay
    * broadcast; the filter predicate reaches the documents parquet
    * scan as a PushedFilter. */
  def annFiltered(spark: SparkSession, dir: String): DataFrame =
    annFiltered(Tables.parallel(Tables.load(spark, dir, "embeddings")),
      Tables.load(spark, dir, "documents"), "src3")

  def annFiltered(e: DataFrame, docs: DataFrame, source: String): DataFrame = {
    val spark = e.sparkSession
    val allowed = docs.filter(col("source") === source)
      .select(col("doc_id"))
    val corpus = e.join(allowed, col("vec_id") === col("doc_id"), "left_semi")
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val q = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val scored = q.join(corpus, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("cv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= AnnK)
      .select(col("q_id"), col("c_id"), col("rnk"), graft.GraftFunctions.roundz(col("cos"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB oracle for [[annFiltered]] — s1's proven norms/dots CTE
    * shape with the corpus restricted by the metadata join. */
  def s5OracleSql(source: String = "src3"): String = s"""
      WITH cand AS (
        SELECT e.vec_id, e.embedding
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
        WHERE d.source = '$source'),
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
      pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.embedding AS qv, c.embedding AS cv
        FROM embeddings q, cand c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
      dots AS (
        SELECT q_id, c_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT q_id, c_id, unnest(qv) AS x, unnest(cv) AS y FROM pairs) GROUP BY q_id, c_id),
      scored AS (
        SELECT d.q_id, d.c_id, d.dt / (nq.nrm * nc.nrm) AS cos
        FROM dots d JOIN norms nq ON nq.vec_id = d.q_id JOIN norms nc ON nc.vec_id = d.c_id),
      ranked AS (
        SELECT q_id, c_id, cos,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS INT) AS rnk
        FROM scored)
      SELECT q_id, c_id, rnk, (round(cos, 6) + 0.0) AS score
      FROM ranked WHERE rnk <= $AnnK ORDER BY q_id, rnk"""

  /** IVF (inverted-file) ANN: K-Means centroids partition the corpus;
    * each query probes only the `nProbe` nearest cells. At scale the
    * corpus is written partitioned by centroid id, so a probe reads
    * `nProbe/k` of the data — the classic IVF trade of recall for scan
    * fraction. Centroid training uses the DataFrame ML API with a
    * fixed seed; assignment and probing are plain joins.
    * Rows-only oracle (iterative training isn't SQL); recall is
    * spec-asserted against the brute-force baseline. */
  def annIvf(spark: SparkSession, dir: String, k: Int = 16, nProbe: Int = 4): DataFrame =
    annIvf(Tables.parallel(Tables.load(spark, dir, "embeddings")), k, nProbe)

  /** Trained KMeans centroid MATRIX (cell order 0..k-1).
    * Deterministic training config: hash-selected ~25% sample (no RNG
    * in the sample), fixed seed, and `tol = 0` so Lloyd runs EXACTLY
    * `maxIter` iterations instead of stopping on a convergence test
    * whose trip point could vary with partitioning. The matrix is
    * driver-side because `fit()` materializes it there by nature —
    * no operator-side collect(). */
  def kmeansCenterArrays(e: DataFrame, k: Int, maxIter: Int = 10): Seq[Seq[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = e.withColumn("fv", array_to_vector(col("embedding")))
    // Train on a deterministic ~25% hash-sample, not the full corpus:
    // at 100 TB centroid quality saturates long before the sample does,
    // and only the (small) sample is cached across KMeans iterations.
    val sample = feat.filter(
      pmod(pmod(col("vec_id"), lit(1000000000L)) * lit(2654435761L), lit(100)) < 25)
      .cache()
    val model = new KMeans().setK(k).setSeed(42L).setMaxIter(maxIter)
      .setTol(0.0).setFeaturesCol("fv").setPredictionCol("cell")
    val fitted = model.fit(sample)
    // fit() is eager — the sample cache has served its purpose (KMeans
    // iterations) and must not outlive this call in a shared session
    sample.unpersist()
    fitted.clusterCenters.map(_.toArray.toSeq).toSeq
  }

  /** The centroid matrix as a broadcast (cell, centroid) frame — the
    * form the probe ranking joins against. */
  def centroidsDf(spark: SparkSession, centers: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    broadcast(centers.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "centroid"))
  }

  def kmeansCentroids(e: DataFrame, k: Int, maxIter: Int = 10): DataFrame =
    centroidsDf(e.sparkSession, kmeansCenterArrays(e, k, maxIter))

  /** Assignment stage under FIXED centroids — the native form: one
    * [[graft.functions.expressions.EuclidArgmin]] projection (centroid
    * matrix as a codegen reference object), so the corpus-scale pass
    * is a ZERO-SHUFFLE whole-stage-codegen scan. No ×k crossJoin
    * fan-out, no argmin reduction shuffle, no ML predict UDF.
    * SimilaritySpec hard-gates it against an independent local argmin
    * and against the join form below. */
  def kmeansAssign(e: DataFrame, centers: Seq[Seq[Double]]): DataFrame =
    e.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
      graft.GraftFunctions.euclidArgmin(col("embedding"), centers).as("cell"))

  /** Join-form assignment for centroids that exist only as DATA (no
    * driver-side matrix): broadcast ×k fan-out, per-pair index-order
    * distance fold, map-side max_by argmin (the shuffle carries one
    * row per corpus vector, not k). Bit-identical to [[kmeansAssign]]
    * — same fold order, same smallest-cell tie-break (spec-gated). */
  def kmeansAssignJoin(e: DataFrame, centers: DataFrame): DataFrame =
    e.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      .crossJoin(centers)
      // a ragged vector would zip_with-pad to null and silently win or
      // lose the argmin; fail loudly instead, mirroring the native
      // expression's dimension check (ADVICE r6)
      .withColumn("d2", when(size(col("cv")) === size(col("centroid")),
        aggregate(
          zip_with(col("cv"), col("centroid"),
            (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
          lit(0.0), (acc, v) => acc + v))
        .otherwise(raise_error(format_string(
          "kmeans assign: vector dimension %d != centroid dimension %d",
          size(col("cv")), size(col("centroid"))))))
      .groupBy("c_id")
      .agg(
        max_by(col("cell"), struct((-col("d2")).as("nd"), (-col("cell")).as("nc"))).as("cell"),
        first(col("cv")).as("cv"))

  def annIvf(e: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val spark = e.sparkSession
    val centers = kmeansCenterArrays(e, k)
    val centersDf = this.centroidsDf(spark, centers)
    val corpus = kmeansAssign(e, centers)
      .select(col("c_id"), col("cv"), col("cell"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cell_sim").desc, col("cell"))
    val probes = queries.crossJoin(centersDf)
      .withColumn("cell_sim",
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("centroid")))
      .withColumn("cell_rnk", row_number().over(wCell))
      .filter(col("cell_rnk") <= nProbe)
      .select(col("q_id"), col("qv"), col("cell"))
    val scored = broadcast(probes).join(corpus, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("cv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("c_id"), col("rnk"), graft.GraftFunctions.roundz(col("cos"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** IVF with DETERMINISTIC centroids — the oracle-checkable variant:
    * centroids are the `k` corpus vectors with the smallest Knuth-hash
    * of their id (a fixed, engine-independent choice), so the whole
    * cell-assign → probe → score pipeline is reproducible in SQL. The
    * KMeans-trained [[annIvf]] keeps the better cell geometry and stays
    * spec-verified (recall floor); the join topology of the two is
    * identical.
    *
    * Scale shape: centroid selection is a global top-k over a hash (a
    * TakeOrdered, no full sort); assignment is a broadcast ×k fan-out
    * reduced by a map-side `max_by` partial aggregate (the shuffle
    * carries one row per corpus vector, not k); probing equi-joins on
    * the cell id. */
  def annIvfDet(spark: SparkSession, dir: String): DataFrame =
    annIvfDet(Tables.parallel(Tables.load(spark, dir, "embeddings")), 16, 4)

  /** Deterministic hash-selected centroids for [[annIvfDet]]:
    * the `k` corpus vectors with the smallest Knuth-hash of their id,
    * numbered 1..k. Broadcast (bounded by k). */
  def ivfCentroids(e: DataFrame, k: Int): DataFrame = {
    val hashed = e.select(col("vec_id"), col("embedding"),
      pmod(pmod(col("vec_id"), lit(1000000000L)) * lit(2654435761L),
        lit(2147483647L)).as("hsh"))
    // global top-k by hash → TakeOrderedAndProject; the row_number
    // window then runs over only k rows (bounded, not a corpus sort).
    // Non-foldable constant partition key (col*0) silences WindowExec's
    // global-window warning — EliminateWindowPartitions strips lit(1) —
    // so a surviving warning always means a real unbounded window.
    val sel = hashed.orderBy("hsh", "vec_id").limit(k)
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hsh") * 0).orderBy("hsh", "vec_id")
    broadcast(sel.withColumn("cell", row_number().over(wCell))
      .select(col("cell"), col("embedding").as("centv")))
  }

  /** Cell assignment (c_id, cell, cv) — the frame that at scale is
    * WRITTEN partitioned by `cell`, so probes read `nProbe/k` of the
    * data (spec-asserted via partition pruning in SimilaritySpec).
    * argmax via max_by partial-aggregates map-side, so the shuffle
    * carries n rows, not n×k (a window would shuffle n×k). */
  def ivfAssign(e: DataFrame, centroids: DataFrame): DataFrame = {
    val spark = e.sparkSession
    e.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      .crossJoin(centroids)
      .withColumn("csim",
        graft.GraftFunctions.cosineSim(spark, col("cv"), col("centv")))
      .groupBy("c_id")
      .agg(
        max_by(col("cell"), struct(col("csim"), (-col("cell")).as("nc"))).as("cell"),
        first(col("cv")).as("cv"))
  }

  def annIvfDet(e: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val spark = e.sparkSession
    val centroids = ivfCentroids(e, k)
    val assigned = ivfAssign(e, centroids)

    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("csim").desc, col("cell"))
    val probes = queries.crossJoin(centroids)
      .withColumn("csim",
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("centv")))
      .withColumn("crnk", row_number().over(wProbe))
      .filter(col("crnk") <= nProbe)
      .select(col("q_id"), col("qv"), col("cell"))

    val scored = broadcast(probes).join(assigned, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("cv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("c_id"), col("rnk"), graft.GraftFunctions.roundz(col("cos"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB oracle for [[annIvfDet]]: same hash-selected centroids,
    * same argmax assignment (expressed as a ranked window — the result,
    * not the plan, must match), same probe/score/rank pipeline. */
  def s3OracleSql: String = """
      WITH sel AS (
        SELECT vec_id, embedding,
          ((vec_id % 1000000000) * 2654435761) % 2147483647 AS hsh
        FROM embeddings),
      cent AS (
        SELECT cell, centv FROM (
          SELECT row_number() OVER (ORDER BY hsh, vec_id) AS cell,
                 embedding AS centv
          FROM sel) t
        WHERE cell <= 16),
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
      cnorm AS (
        SELECT cell, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT cell, unnest(centv) AS x FROM cent) GROUP BY cell),
      adots AS (
        SELECT c_id, cell, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT e.vec_id AS c_id, c.cell, unnest(e.embedding) AS x, unnest(c.centv) AS y
              FROM embeddings e, cent c) GROUP BY c_id, cell),
      assign AS (
        SELECT c_id, cell FROM (
          SELECT a.c_id, a.cell,
            row_number() OVER (PARTITION BY a.c_id
              ORDER BY a.dt / (n.nrm * cn.nrm) DESC, a.cell) AS rn
          FROM adots a
          JOIN norms n ON n.vec_id = a.c_id
          JOIN cnorm cn ON cn.cell = a.cell) t
        WHERE rn = 1),
      probes AS (
        SELECT q_id, cell FROM (
          SELECT a.c_id AS q_id, a.cell,
            row_number() OVER (PARTITION BY a.c_id
              ORDER BY a.dt / (n.nrm * cn.nrm) DESC, a.cell) AS rn
          FROM adots a
          JOIN norms n ON n.vec_id = a.c_id
          JOIN cnorm cn ON cn.cell = a.cell
          WHERE a.c_id < 5) t
        WHERE rn <= 4),
      cand AS (
        SELECT p.q_id, s.c_id
        FROM probes p JOIN assign s ON s.cell = p.cell
        WHERE s.c_id <> p.q_id),
      pairs AS (
        SELECT c.q_id, c.c_id, eq.embedding AS qv, ec.embedding AS cv
        FROM cand c JOIN embeddings eq ON eq.vec_id = c.q_id
                    JOIN embeddings ec ON ec.vec_id = c.c_id),
      dots AS (
        SELECT q_id, c_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT q_id, c_id, unnest(qv) AS x, unnest(cv) AS y FROM pairs) GROUP BY q_id, c_id),
      scored AS (
        SELECT d.q_id, d.c_id, d.dt / (nq.nrm * nc.nrm) AS cos
        FROM dots d JOIN norms nq ON nq.vec_id = d.q_id JOIN norms nc ON nc.vec_id = d.c_id),
      ranked AS (
        SELECT q_id, c_id, cos,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS INT) AS rnk
        FROM scored)
      SELECT q_id, c_id, rnk, (round(cos, 6) + 0.0) AS score
      FROM ranked WHERE rnk <= 10 ORDER BY q_id, rnk"""

  /** Result size k shared by the ANN operators, their deficit-detected
    * fallback threshold, and the oracle SQL — one constant so the
    * structural k-guarantee can never drift from the output size. */
  final val AnnK = 10

  /** SRP-LSH parameters, shared between the Spark pipeline and the
    * DuckDB oracle builder so both compute the exact same buckets. */
  final val LshTables = 4
  final val LshBits = 8
  /** Fixed-seed hyperplanes (32 × 64) — known at build time, embedded
    * as literal arrays in the oracle SQL. */
  lazy val lshPlanes: Seq[Seq[Double]] = hyperplanes(LshTables * LshBits, 64)
  /** Multi-probe masks: the home bucket plus every 1-bit flip. A query
    * whose home buckets are underfilled still reaches k candidates via
    * the Hamming-1 neighbour buckets (the classic multi-probe LSH
    * trade: ×9 probe keys, zero extra corpus passes). */
  lazy val lshProbeMasks: Seq[Long] = 0L +: (0 until LshBits).map(1L << _)

  /** SRP-LSH ANN: 4 hash tables × 8 signed-random-projection bits.
    * Corpus is bucketed once (at scale: write bucketed/partitioned by
    * (table_id, bucket)); probes equi-join on bucket keys and rank
    * candidates by exact cosine. Bucket ids come from the fused
    * [[graft.functions.expressions.SrpBuckets]] native expression (one
    * pass over the vector for all 32 planes, whole-stage codegen). */
  def annLsh(spark: SparkSession, dir: String): DataFrame =
    annLsh(Tables.parallel(Tables.load(spark, dir, "embeddings")))

  def annLsh(e: DataFrame): DataFrame = {
    val spark = e.sparkSession

    def withBuckets(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
          posexplode(graft.GraftFunctions.srpBuckets(
            col("embedding"), lshPlanes, LshTables, LshBits)))
        .withColumnRenamed("pos", "table_id")
        .withColumnRenamed("col", "bucket")

    val corpus = withBuckets(e)
    // Query side: tiny → broadcast; multi-probe expands each home
    // bucket to its 1-bit-flip neighbourhood BEFORE the equi-join.
    val masks = array(lshProbeMasks.map(lit): _*)
    val queries = broadcast(withBuckets(e.filter(col("vec_id") < 5))
      .select(col("vec_id").as("q_id"), col("table_id"),
        explode(transform(masks, m => col("bucket").bitwiseXOR(m))).as("bucket")))
    // Dedup candidate IDs *before* re-attaching 256-byte vectors: the
    // distinct shuffles 16-byte id pairs instead of embedding payloads.
    // Checkpointed: referenced by both the deficit probe and the union.
    val candIds = graft.Ckpt(
      queries.join(corpus, Seq("table_id", "bucket"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("c_id"))
        .distinct())
    // STRUCTURAL k-GUARANTEE: multi-probe empirically saturates k, but
    // an adversarial distribution can leave every probed bucket
    // underfilled (e.g. all corpus buckets ≥2 bit-flips from every
    // probe key). Detect the per-query candidate deficit and union a
    // brute-force candidate set for JUST those queries — the result
    // then always carries min(k, corpus−1) rows per query, at a cost
    // bounded by (#deficient queries × corpus scan), zero extra in the
    // common case. The query side stays broadcast-small throughout.
    val deficient = broadcast(
      e.filter(col("vec_id") < 5).select(col("vec_id").as("q_id"))
        .join(candIds.groupBy("q_id").agg(count(lit(1)).as("nc")),
          Seq("q_id"), "left_outer")
        .filter(coalesce(col("nc"), lit(0L)) < AnnK)
        .select("q_id"))
    val fallback = deficient
      .crossJoin(e.select(col("vec_id").as("c_id")))
      .filter(col("q_id") =!= col("c_id"))
    val allCands = candIds.union(fallback).distinct()
    val qVecs = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val scored = allCands
      .join(qVecs, Seq("q_id"))
      .join(e.select(col("vec_id").as("c_id"), col("embedding").as("cv")), Seq("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("cv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= AnnK)
      .select(col("q_id"), col("c_id"), col("rnk"), graft.GraftFunctions.roundz(col("cos"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB oracle for [[annLsh]]: the fixed-seed hyperplanes and the
    * multi-probe masks embedded as literals, every dot product written
    * as a sequential `list_reduce` fold over per-index products — the
    * same index-order double accumulation [[SrpBuckets]] performs, so
    * the bucket signs (and therefore the candidate sets) are
    * bit-identical between engines. Scoring mirrors s1's proven
    * norms/dots CTE shape. */
  def s2OracleSql: String = {
    val planesLit = lshPlanes.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    val masksLit = lshProbeMasks.mkString("[", ", ", "]")
    s"""
      WITH planes AS (SELECT $planesLit AS pl),
      emb AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      sigs AS (
        SELECT vec_id, tt.t AS table_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(generate_series(0, ${LshBits - 1}), b ->
              CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_transform(generate_series(1, len(v)), i -> pl[tt.t*$LshBits + b + 1][i] * v[i])),
                     (a, x) -> a + x) > 0.0
                   THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
            (a, x) -> a + x) AS bucket
        FROM emb, planes, (SELECT unnest(generate_series(0, ${LshTables - 1})) AS t) tt),
      probes AS (
        SELECT s.vec_id AS q_id, s.table_id, xor(s.bucket, mm.m) AS bucket
        FROM sigs s, (SELECT unnest($masksLit) AS m) mm
        WHERE s.vec_id < 5),
      cand AS (
        SELECT DISTINCT p.q_id, s.vec_id AS c_id
        FROM probes p JOIN sigs s ON s.table_id = p.table_id AND s.bucket = p.bucket
        WHERE s.vec_id <> p.q_id),
      ccount AS (SELECT q_id, count(*) AS nc FROM cand GROUP BY q_id),
      deficient AS (
        SELECT q.vec_id AS q_id FROM embeddings q
        LEFT JOIN ccount c ON c.q_id = q.vec_id
        WHERE q.vec_id < 5 AND coalesce(c.nc, 0) < $AnnK),
      cand2 AS (
        SELECT q_id, c_id FROM cand
        UNION
        SELECT d.q_id, e.vec_id AS c_id FROM deficient d, embeddings e
        WHERE e.vec_id <> d.q_id),
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
      pairs AS (
        SELECT c.q_id, c.c_id, eq.embedding AS qv, ec.embedding AS cv
        FROM cand2 c JOIN embeddings eq ON eq.vec_id = c.q_id
                     JOIN embeddings ec ON ec.vec_id = c.c_id),
      dots AS (
        SELECT q_id, c_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT q_id, c_id, unnest(qv) AS x, unnest(cv) AS y FROM pairs) GROUP BY q_id, c_id),
      scored AS (
        SELECT d.q_id, d.c_id, d.dt / (nq.nrm * nc.nrm) AS cos
        FROM dots d JOIN norms nq ON nq.vec_id = d.q_id JOIN norms nc ON nc.vec_id = d.c_id),
      ranked AS (
        SELECT q_id, c_id, cos,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS INT) AS rnk
        FROM scored)
      SELECT q_id, c_id, rnk, (round(cos, 6) + 0.0) AS score
      FROM ranked WHERE rnk <= $AnnK ORDER BY q_id, rnk"""
  }

  /** Product-quantization ANN (s4) — the memory-compression path the
    * 100 TB corpus actually needs: each vector is stored as `nSub`
    * small codes (here 4 bytes) instead of `dim` floats (256 bytes),
    * a 64× shrink that lets a scored corpus live in RAM at scales
    * where raw embeddings cannot.
    *
    *  - codebook: the `ks` corpus vectors with the smallest Knuth
    *    hash of their id (the deterministic-selection idiom shared
    *    with [[ivfCentroids]]), sliced per subspace. Driver-side only
    *    as a bounded ks-row literal — the same materialization
    *    `fit()` performs for KMeans.
    *  - encode: per subspace one [[graft.functions.expressions.EuclidArgmin]]
    *    over the sliced embedding — the corpus-scale pass is a
    *    ZERO-SHUFFLE whole-stage-codegen projection (spec-gated like
    *    the IVF assignment).
    *  - score (ADC): each query precomputes its nSub×ks distance
    *    table ONCE (subspace-major array), then every candidate costs
    *    nSub table lookups — O(nSub) per pair instead of O(dim),
    *    independent of the original dimensionality.
    *
    * Sub-distances accumulate (x−c)² in index order in double
    * precision and the ADC sum folds subspaces in index order, so the
    * DuckDB oracle ([[s4OracleSql]]) reproduces every double bit-
    * for-bit. Exact ADC arithmetic is additionally spec-gated against
    * a local recomputation; recall floor vs brute force is
    * spec-asserted (PQ is lossy by design — the oracle checks the
    * pipeline, the spec checks the geometry). */
  def annPq(spark: SparkSession, dir: String): DataFrame =
    annPq(Tables.parallel(Tables.load(spark, dir, "embeddings")), 4, 16, AnnK)

  /** Deterministic PQ codebook: full-dimension rows of the `ks`
    * smallest-Knuth-hash corpus vectors, in (hash, id) order. */
  def pqCodebook(e: DataFrame, ks: Int): Seq[Seq[Double]] =
    e.select(col("vec_id"), col("embedding"),
        pmod(pmod(col("vec_id"), lit(1000000000L)) * lit(2654435761L),
          lit(2147483647L)).as("hsh"))
      .orderBy("hsh", "vec_id").limit(ks)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq

  /** PQ encoding under a fixed codebook: (c_id, codes) where
    * codes(s) = argmin over the subspace-s codewords — one native
    * argmin per subspace, all inside one codegen projection. */
  def pqEncode(e: DataFrame, cbFull: Seq[Seq[Double]], nSub: Int): DataFrame = {
    val dim = cbFull.head.length
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    val sub = dim / nSub
    def cb(s: Int): Seq[Seq[Double]] =
      cbFull.map(v => v.slice(s * sub, (s + 1) * sub))
    val codes = (0 until nSub).map(s =>
      graft.GraftFunctions.euclidArgmin(
        slice(col("embedding"), s * sub + 1, sub), cb(s)))
    e.select(col("vec_id").as("c_id"), array(codes: _*).as("codes"))
  }

  def annPq(e: DataFrame, nSub: Int, ks: Int, k: Int): DataFrame = {
    val cbFull = pqCodebook(e, ks)
    val dim = cbFull.head.length
    val sub = dim / nSub
    def cb(s: Int): Seq[Seq[Double]] =
      cbFull.map(v => v.slice(s * sub, (s + 1) * sub))
    val encoded = pqEncode(e, cbFull, nSub)
    // per-query ADC table, subspace-major: entry s·ks + c holds
    // ‖q_sub(s) − codeword(s,c)‖² (index-order fold, bit-stable)
    val tableEntries: Seq[org.apache.spark.sql.Column] =
      for (s <- 0 until nSub; c <- 0 until ks) yield
        aggregate(
          zip_with(slice(col("embedding"), s * sub + 1, sub), typedLit(cb(s)(c)),
            (x, cc) => (x.cast("double") - cc) * (x.cast("double") - cc)),
          lit(0.0), (acc, v) => acc + v)
    val queries = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), array(tableEntries: _*).as("tbl")))
    val scored = queries.join(encoded, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        aggregate(sequence(lit(0), lit(nSub - 1)), lit(0.0),
          (acc, s) => acc + element_at(col("tbl"),
            (s * ks + element_at(col("codes"), s + 1) + 1).cast("int")))
          .as("approx_d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("approx_d2"), col("c_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("rnk"),
        round(col("approx_d2"), 6).as("approx_d2"))
      .orderBy("q_id", "rnk")
  }

  /** Two-stage retrieve-then-rerank ANN (s6) — the production serving
    * shape: stage 1 recalls a WIDE candidate set cheaply from the
    * compressed PQ codes (nSub table lookups per candidate, the s4
    * machinery), stage 2 re-scores ONLY those candidates against the
    * raw vectors with exact cosine and emits the final top-k. The
    * expensive exact arithmetic touches `wide` rows per query instead
    * of the corpus — the recall/cost dial every vector-serving stack
    * exposes. Fully oracle-checkable because both stages are
    * deterministic: PQ approx distances are bit-exact (s4's folds) and
    * the re-rank is s1's exact cosine discipline. */
  def annRerank(spark: SparkSession, dir: String): DataFrame =
    annRerank(Tables.parallel(Tables.load(spark, dir, "embeddings")),
      4, 16, 50, AnnK)

  def annRerank(e: DataFrame, nSub: Int, ks: Int, wide: Int, k: Int): DataFrame = {
    val spark = e.sparkSession
    // stage 1: PQ-approximate top-`wide` per query (cheap, compressed)
    val cand = annPq(e, nSub, ks, wide)
      .select(col("q_id"), col("c_id"))
    // stage 2: exact cosine on the candidate set only
    val vecs = e.select(col("vec_id"), col("embedding"))
    val queries = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val rescored = cand
      .join(vecs, col("c_id") === col("vec_id"))
      .select(col("q_id"), col("c_id"), col("embedding").as("cv"))
      .join(queries, "q_id")
      .select(col("q_id"), col("c_id"),
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("cv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    rescored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("rnk"), graft.GraftFunctions.roundz(col("cos"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB oracle for [[annRerank]]: the s4 pipeline cut at `wide`,
    * re-scored with s1's norms/dots CTEs. */
  def s6OracleSql(nSub: Int = 4, ks: Int = 16, wide: Int = 50,
      k: Int = AnnK, dim: Int = 64): String = {
    val pq = s4OracleSql(nSub, ks, wide, dim)
    // reuse the s4 SQL as the candidate CTE by stripping its trailing
    // ORDER BY/SELECT and renaming — simpler: inline it as a subquery
    s"""
      WITH cand AS (
        SELECT q_id, c_id FROM ($pq) pqtop),
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
      pairs AS (
        SELECT c.q_id, c.c_id, eq.embedding AS qv, ec.embedding AS cv
        FROM cand c
        JOIN embeddings eq ON eq.vec_id = c.q_id
        JOIN embeddings ec ON ec.vec_id = c.c_id),
      dots AS (
        SELECT q_id, c_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT q_id, c_id, unnest(qv) AS x, unnest(cv) AS y FROM pairs)
        GROUP BY q_id, c_id),
      scored AS (
        SELECT d.q_id, d.c_id, d.dt / (nq.nrm * nc.nrm) AS cos
        FROM dots d JOIN norms nq ON nq.vec_id = d.q_id
        JOIN norms nc ON nc.vec_id = d.c_id),
      ranked AS (
        SELECT q_id, c_id, cos,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY cos DESC, c_id) AS INT) AS rnk
        FROM scored)
      SELECT q_id, c_id, rnk, (round(cos, 6) + 0.0) AS score
      FROM ranked WHERE rnk <= $k ORDER BY q_id, rnk"""
  }

  /** DuckDB oracle for [[annPq]]: same Knuth-hash codebook, same
    * per-(vector, subspace) index-order d² folds, same smallest-code
    * argmin tie-break, ADC sum folded in subspace order via the
    * sorted-struct idiom the ordination oracles use. */
  def s4OracleSql(nSub: Int = 4, ks: Int = 16, k: Int = AnnK,
      dim: Int = 64): String = {
    val sub = dim / nSub
    s"""
      WITH sel AS (
        SELECT vec_id, embedding,
          ((vec_id % 1000000000) * 2654435761) % 2147483647 AS hsh
        FROM embeddings ORDER BY hsh, vec_id LIMIT $ks),
      cb AS (
        SELECT CAST(row_number() OVER (ORDER BY hsh, vec_id) AS INT) - 1 AS code,
          embedding
        FROM sel),
      cd AS (
        SELECT e.vec_id AS c_id, s.s, cb.code,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, $sub), ii ->
              (CAST(e.embedding[CAST(s.s * $sub + ii AS INT)] AS DOUBLE)
                 - CAST(cb.embedding[CAST(s.s * $sub + ii AS INT)] AS DOUBLE))
              * (CAST(e.embedding[CAST(s.s * $sub + ii AS INT)] AS DOUBLE)
                 - CAST(cb.embedding[CAST(s.s * $sub + ii AS INT)] AS DOUBLE)))),
            (acc, x) -> acc + x) AS d2
        FROM embeddings e, generate_series(0, ${nSub - 1}) AS s(s), cb),
      codes AS (
        SELECT c_id, s, code FROM (
          SELECT c_id, s, code,
            row_number() OVER (PARTITION BY c_id, s ORDER BY d2, code) AS rn
          FROM cd) t
        WHERE rn = 1),
      qd AS (SELECT c_id AS q_id, s, code, d2 FROM cd WHERE c_id < 5),
      scored AS (
        SELECT q.q_id, c.c_id,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(struct_pack(s := q.s, d := q.d2))),
              y -> y['d'])),
            (acc, x) -> acc + x) AS approx_d2
        FROM qd q JOIN codes c ON c.s = q.s AND c.code = q.code
        WHERE c.c_id <> q.q_id
        GROUP BY q.q_id, c.c_id),
      ranked AS (
        SELECT q_id, c_id, approx_d2,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY approx_d2, c_id) AS INT) AS rnk
        FROM scored)
      SELECT q_id, c_id, rnk, round(approx_d2, 6) AS approx_d2
      FROM ranked WHERE rnk <= $k ORDER BY q_id, rnk"""
  }

  /** d12: semantic dedup (SemDeDup, Abbas et al. 2023) — embedding
    * near-duplicate removal made tractable by clustering FIRST: assign
    * every vector to its nearest deterministic centroid (s3's
    * zero-shuffle assignment), then compare pairs only WITHIN a cell
    * and drop any doc with a lower-id near-twin at cosine ≥ τ. The
    * quadratic pair work is bounded by cell size, not corpus size —
    * the whole point of the algorithm; cross-cell near-twins are the
    * accepted recall loss of that bound (the paper's trade).
    * τ = 0.4 is corpus-calibrated (this synthetic embedding space
    * tops out at 0.51 pairwise).
    *
    * Scale shape: the assignment frame is checkpointed (two self-join
    * consumers would otherwise re-run the corpus × k argmin; at real
    * scale it is WRITTEN partitioned by cell — s3's proven layout —
    * making the self-join co-located), pairs shuffle on cell only,
    * and the drop decision is a per-(cell, higher-id) aggregate. */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semDedup(Tables.parallel(Tables.load(spark, dir, "embeddings")), 16, 0.4)

  def semDedup(e: DataFrame, k: Int, tau: Double): DataFrame = {
    val spark = e.sparkSession
    val assigned = graft.Ckpt(ivfAssign(e, ivfCentroids(e, k)))
    val a = assigned.select(col("cell"), col("c_id").as("a_id"),
      col("cv").as("av"))
    val b = assigned.select(col("cell"), col("c_id").as("b_id"),
      col("cv").as("bv"))
    val dups = a.join(b, "cell")
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos",
        graft.GraftFunctions.cosineSim(spark, col("av"), col("bv")))
      .filter(col("cos") >= tau)
      .groupBy(col("cell"), col("b_id"))
      .agg(min(col("a_id")).as("dup_of"), max(col("cos")).as("max_cos"))
    assigned.select(col("c_id").as("vec_id"), col("cell"))
      .join(dups.select(col("b_id").as("vec_id"), col("dup_of"),
        col("max_cos")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of").isNull.as("keep"),
        col("dup_of"), graft.GraftFunctions.roundz(col("max_cos"), 6).as("max_cos"))
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[semDedup]] — s3's assignment CTEs, the
    * within-cell pair join, the same min/max drop aggregate. */
  def d12OracleSql(k: Int = 16, tau: Double = 0.4): String = s"""
      WITH sel AS (
        SELECT vec_id, embedding,
          ((vec_id % 1000000000) * 2654435761) % 2147483647 AS hsh
        FROM embeddings),
      cent AS (
        SELECT cell, centv FROM (
          SELECT row_number() OVER (ORDER BY hsh, vec_id) AS cell,
                 embedding AS centv
          FROM sel) t
        WHERE cell <= $k),
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
      cnorm AS (
        SELECT cell, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT cell, unnest(centv) AS x FROM cent) GROUP BY cell),
      adots AS (
        SELECT c_id, cell, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT e.vec_id AS c_id, c.cell, unnest(e.embedding) AS x, unnest(c.centv) AS y
              FROM embeddings e, cent c) GROUP BY c_id, cell),
      assign AS MATERIALIZED (
        SELECT c_id, cell FROM (
          SELECT a.c_id, a.cell,
            row_number() OVER (PARTITION BY a.c_id
              ORDER BY a.dt / (n.nrm * cn.nrm) DESC, a.cell) AS rn
          FROM adots a
          JOIN norms n ON n.vec_id = a.c_id
          JOIN cnorm cn ON cn.cell = a.cell) t
        WHERE rn = 1),
      prs AS (
        SELECT s1.cell, s1.c_id AS a_id, s2.c_id AS b_id,
          ea.embedding AS av, eb.embedding AS bv
        FROM assign s1 JOIN assign s2
          ON s1.cell = s2.cell AND s1.c_id < s2.c_id
        JOIN embeddings ea ON ea.vec_id = s1.c_id
        JOIN embeddings eb ON eb.vec_id = s2.c_id),
      pdots AS (
        SELECT cell, a_id, b_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT cell, a_id, b_id, unnest(av) AS x, unnest(bv) AS y FROM prs)
        GROUP BY 1, 2, 3),
      dups AS (
        SELECT cell, b_id, min(a_id) AS dup_of, max(cos) AS max_cos
        FROM (
          SELECT d.cell, d.a_id, d.b_id,
            d.dt / (na.nrm * nb.nrm) AS cos
          FROM pdots d
          JOIN norms na ON na.vec_id = d.a_id
          JOIN norms nb ON nb.vec_id = d.b_id) t
        WHERE cos >= $tau GROUP BY 1, 2)
      SELECT s.c_id AS vec_id, s.cell,
        d.dup_of IS NULL AS keep, d.dup_of,
        (round(d.max_cos, 6) + 0.0) AS max_cos
      FROM assign s
      LEFT JOIN dups d ON d.b_id = s.c_id AND d.cell = s.cell
      ORDER BY vec_id"""

  /** s9: hybrid search — BM25 keyword retrieval and vector retrieval
    * fused by Reciprocal Rank Fusion (the modern RAG-stack default:
    * lexical recall catches what embeddings miss and vice versa; RRF
    * needs no score calibration because it consumes only RANKS).
    *
    * Stage 1 (keyword): Lucene-form BM25 (k1 = 1.2, b = 0.75,
    * idf = ln((N − df + ½)/(df + ½) + 1)) of each query doc's term
    * set against the corpus — the (doc, term) tf profile and df are
    * t14's vocab-bounded aggregates; per-(q, d) contributions fold in
    * term order and the rank cuts on the ROUNDED score (t14's
    * ulp-proof discipline). Stage 2 (vector): s1's exact cosine
    * ranks. Fusion: rrf = Σ 1/(60 + rank) over both lists (full
    * outer per (q, d)), final top-k on the rounded fused score.
    *
    * Scale shape: queries broadcast at every stage; keyword
    * candidates are bounded by docs SHARING A TERM with the query
    * (the inverted-index join, not a corpus cross join); both rank
    * stages cut at [[HybridWide]] before fusion so the outer join
    * touches ≤ 2·wide rows per query. */
  val HybridWide = 50

  def hybridSearch(spark: SparkSession, dir: String): DataFrame =
    hybridSearch(Tables.parallel(Tables.load(spark, dir, "documents")),
      Tables.parallel(Tables.load(spark, dir, "embeddings")), AnnK)

  def hybridSearch(docs: DataFrame, e: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import org.apache.spark.sql.expressions.Window
    val wide = HybridWide
    // the (doc, term) profile feeds THREE consumers (doc lengths,
    // document frequencies, the scoring join) — checkpoint it so the
    // corpus tokenization runs once, not once per alias-renamed
    // consumer (t17/d10's lesson: 22 executed shuffles un-pinned,
    // PlanSpec-budgeted at 12 pinned). dl is doc-bounded and consumed
    // twice — same treatment.
    val tf = graft.Ckpt(docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val dl = graft.Ckpt(tf.groupBy("doc_id").agg(sum(col("tf")).as("dl")))
    val stats = dl.agg(count(lit(1)).as("nd"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // query-bounded tiny; TWO consumers now (the scoring join and the
    // df bound below) — checkpoint so the corpus-filter derivation
    // runs once (alias-renamed consumers defeat exchange reuse)
    val qTerms = graft.Ckpt(docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .filter(length(col("term")) > 0))
    // df values are only ever consumed for terms the queries contain,
    // so bound the broadcast BEFORE the hint: the full df table is
    // vocabulary-cardinality (10⁷–10⁸ distinct tokens at web scale — a
    // multi-GB driver pin), while the semi-joined slice is bounded by
    // the query term set. The bounding side broadcasts UN-deduped
    // (semi-join output is per-left-row, so right-side duplicates are
    // harmless and a distinct would cost a shuffle) — zero shuffles
    // added over the unbounded form.
    val dfQ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .join(broadcast(qTerms.select(col("term"))), Seq("term"), "left_semi")
    val contrib = broadcast(qTerms)
      .join(tf, "term")
      .filter(col("doc_id") =!= col("q_id"))
      .join(dl, "doc_id")
      .join(broadcast(dfQ), "term")
      .crossJoin(broadcast(stats))
      .withColumn("c",
        log(((col("nd") - col("df")).cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5)) + lit(1.0)) *
          ((col("tf").cast("double") * lit(2.2))
            / (col("tf").cast("double") + lit(1.2) *
              (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))
    val wKw = Window.partitionBy("q_id")
      .orderBy(col("bm25").desc, col("doc_id"))
    val kw = contrib
      .groupBy("q_id", "doc_id")
      .agg(sort_array(collect_list(struct(col("term"), col("c")))).as("cs"))
      .select(col("q_id"), col("doc_id"),
        round(aggregate(col("cs"), lit(0.0),
          (acc, x) => acc + x.getField("c")), 6).as("bm25"))
      .withColumn("kw_rank", row_number().over(wKw))
      .filter(col("kw_rank") <= wide)
    val vec = annBruteforceK(e, wide)
      .select(col("q_id"), col("c_id").as("doc_id"),
        col("rnk").as("vec_rank"))
    val fusedW = Window.partitionBy("q_id")
      .orderBy(col("rrf").desc, col("doc_id"))
    kw.select(col("q_id"), col("doc_id"), col("kw_rank"))
      .join(vec, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(60.0) + col("kw_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("vec_rank")), lit(0.0)), 6))
      .withColumn("rnk", row_number().over(fusedW))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("doc_id"), col("kw_rank"), col("vec_rank"),
        col("rrf"), col("rnk"))
      .orderBy("q_id", "rnk")
  }

  /** s1's scoring with a parameterized cut — shared by s9's vector leg. */
  private[graft] def annBruteforceK(e: DataFrame, k: Int): DataFrame = {
    val spark = e.sparkSession
    val q = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    q.join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("cv")).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** DuckDB oracle for [[hybridSearch]] — identical BM25 formula and
    * fold order, s1's cosine CTEs for the vector leg, the same RRF. */
  def s9OracleSql(k: Int = AnnK, wide: Int = HybridWide): String = s"""
      WITH tf AS (
        SELECT doc_id, term, count(*) AS tf FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents) t
        WHERE len(term) > 0 GROUP BY doc_id, term),
      dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      stats AS (
        SELECT count(*) AS nd,
          CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      qterms AS (
        SELECT doc_id AS q_id, unnest(list_distinct(string_split(text, ' '))) AS term
        FROM documents WHERE doc_id < 5),
      contrib AS (
        SELECT q.q_id, tf.doc_id, tf.term,
          ln((CAST(s.nd - f.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
              / (CAST(f.df AS DOUBLE) + CAST(0.5 AS DOUBLE))
            + CAST(1.0 AS DOUBLE)) *
          ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
            / (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
              (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
                * (CAST(d.dl AS DOUBLE) / s.avgdl)))) AS c
        FROM qterms q
        JOIN tf ON tf.term = q.term AND tf.doc_id <> q.q_id
        JOIN dl d ON d.doc_id = tf.doc_id
        JOIN dft f ON f.term = q.term, stats s
        WHERE len(q.term) > 0),
      kwscore AS (
        SELECT q_id, doc_id,
          round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(struct_pack(term := term, c := c))),
              s2 -> s2['c'])), (a, x) -> a + x), 6) AS bm25
        FROM contrib GROUP BY q_id, doc_id),
      kw AS (
        SELECT q_id, doc_id, kw_rank FROM (
          SELECT q_id, doc_id,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY bm25 DESC, doc_id) AS INT) AS kw_rank
          FROM kwscore) t WHERE kw_rank <= $wide),
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
      pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.embedding AS qv, c.embedding AS cv
        FROM embeddings q, embeddings c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
      dots AS (
        SELECT q_id, c_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT q_id, c_id, unnest(qv) AS x, unnest(cv) AS y FROM pairs)
        GROUP BY q_id, c_id),
      vec AS (
        SELECT q_id, c_id AS doc_id, vec_rank FROM (
          SELECT d.q_id, d.c_id,
            CAST(row_number() OVER (PARTITION BY d.q_id
              ORDER BY d.dt / (nq.nrm * nc.nrm) DESC, d.c_id) AS INT) AS vec_rank
          FROM dots d JOIN norms nq ON nq.vec_id = d.q_id
          JOIN norms nc ON nc.vec_id = d.c_id) t
        WHERE vec_rank <= $wide),
      fused AS (
        SELECT coalesce(kw.q_id, vec.q_id) AS q_id,
          coalesce(kw.doc_id, vec.doc_id) AS doc_id,
          kw.kw_rank, vec.vec_rank,
          round(coalesce(CAST(1.0 AS DOUBLE)
              / (CAST(60.0 AS DOUBLE) + kw.kw_rank), CAST(0.0 AS DOUBLE)) +
            coalesce(CAST(1.0 AS DOUBLE)
              / (CAST(60.0 AS DOUBLE) + vec.vec_rank), CAST(0.0 AS DOUBLE)), 6)
            AS rrf
        FROM kw FULL OUTER JOIN vec
          ON kw.q_id = vec.q_id AND kw.doc_id = vec.doc_id)
      SELECT q_id, doc_id, kw_rank, vec_rank, rrf,
        CAST(rnk AS INT) AS rnk
      FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
          ORDER BY rrf DESC, doc_id) AS rnk
        FROM fused) t
      WHERE rnk <= $k ORDER BY q_id, rnk"""

  /** s7: range (radius) search — every corpus vector within a cosine
    * threshold of each query. The retrieval primitive for "find ALL
    * sufficiently-similar items" (dedup candidate recall, cluster
    * seeding), where top-k's fixed budget either truncates dense
    * neighbourhoods or pads sparse ones with junk. Scale shape: a
    * broadcast of the query set, ONE scored corpus scan, and the
    * threshold applied right in the scan projection — no per-query
    * total order exists, so unlike s1 there is no window and no
    * corpus-scale shuffle at all (only the tiny result sort). */
  def rangeSearch(spark: SparkSession, dir: String): DataFrame =
    rangeSearch(Tables.parallel(Tables.load(spark, dir, "embeddings")), 0.3)

  def rangeSearch(e: DataFrame, tau: Double): DataFrame = {
    val spark = e.sparkSession
    val q = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    q.join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("cv")).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("q_id"), col("c_id"), graft.GraftFunctions.roundz(col("cos"), 6).as("score"))
      .orderBy("q_id", "c_id")
  }

  /** DuckDB oracle for [[rangeSearch]] — s1's norms/dots CTEs with the
    * threshold in place of the rank cut. */
  def s7OracleSql(tau: Double = 0.3): String = s"""
      WITH norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
      pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.embedding AS qv, c.embedding AS cv
        FROM embeddings q, embeddings c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
      dots AS (
        SELECT q_id, c_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT q_id, c_id, unnest(qv) AS x, unnest(cv) AS y FROM pairs)
        GROUP BY q_id, c_id),
      scored AS (
        SELECT d.q_id, d.c_id, d.dt / (nq.nrm * nc.nrm) AS cos
        FROM dots d JOIN norms nq ON nq.vec_id = d.q_id
        JOIN norms nc ON nc.vec_id = d.c_id)
      SELECT q_id, c_id, (round(cos, 6) + 0.0) AS score
      FROM scored WHERE cos >= $tau ORDER BY q_id, c_id"""

  /** s8: multi-vector late-interaction scoring (ColBERT's MaxSim) —
    * each vector is treated as [[MsTok]] token sub-vectors of
    * [[MsDim]] dims; score(q, d) = Σ_i max_j cos(q_i, d_j). The
    * ranking primitive of every late-interaction retrieval stack,
    * where per-token matching beats single-vector cosine on partial
    * overlap. Here the token vectors are contiguous slices of the
    * stored embedding (the corpus has one vector per doc); a corpus
    * with a real token-matrix column plugs into the same expression.
    *
    * Scale shape: the whole MaxSim (token norms + MsTok² sub-cosines +
    * max/Σ folds) is ONE in-row projection over a broadcast query set
    * — no explode, no shuffle — followed by the native TopKPerGroup
    * plan (map-side per-query heaps, ≤ k·queries rows shuffled, no
    * WindowExec total sort). Every fold runs in index order from the
    * same initial value, so the DuckDB oracle reproduces the score
    * bit-for-bit. */
  val MsTok = 8
  val MsDim = 8

  def maxSim(spark: SparkSession, dir: String): DataFrame =
    maxSim(Tables.parallel(Tables.load(spark, dir, "embeddings")), AnnK)

  def maxSim(e: DataFrame, k: Int): DataFrame = {
    val (nT, d) = (MsTok, MsDim)
    // per-token norms, computed once per side in the same projection
    def norms(v: String) = s"""transform(sequence(0, ${nT - 1}), i ->
      sqrt(aggregate(sequence(1, $d), cast(0.0 as double),
        (a, t) -> a + element_at($v, i * $d + t) * element_at($v, i * $d + t))))"""
    val vecs = e.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"), expr(norms("v")).as("nm"))
    val q = broadcast(vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qd"), col("nm").as("qn")))
    val c = vecs.select(col("vec_id").as("c_id"), col("v").as("cd"),
      col("nm").as("cn"))
    // Zero-norm guard: an all-zero token slice has norm 0; its
    // sub-cosine is DEFINED as 0 (not NaN — NaN sorts differently
    // between Spark and DuckDB and would poison the Σ fold). The
    // oracle in [[s8OracleSql]] applies the identical rule.
    val ms = s"""aggregate(sequence(0, ${nT - 1}), cast(0.0 as double),
      (acc, i) -> acc + array_max(transform(sequence(0, ${nT - 1}), j ->
        case when element_at(qn, i + 1) * element_at(cn, j + 1) = cast(0.0 as double)
          then cast(0.0 as double)
          else aggregate(sequence(1, $d), cast(0.0 as double),
            (a, t) -> a + element_at(qd, i * $d + t) * element_at(cd, j * $d + t))
          / (element_at(qn, i + 1) * element_at(cn, j + 1)) end)))"""
    val scored = q.join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), expr(ms).as("ms"))
    graft.plans.TopK.perGroup(scored, Seq("q_id"),
        Seq(("ms", false), ("c_id", true)), k)
      .select(col("q_id"), col("c_id"), col("rnk"),
        graft.GraftFunctions.roundz(col("ms"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB oracle for [[maxSim]] — identical index-ordered folds over
    * the flat vectors (list_reduce with the same initial value, same
    * element order), list_max for the per-token max. */
  def s8OracleSql(k: Int = AnnK): String = {
    val (nT, d) = (MsTok, MsDim)
    s"""
      WITH vecs AS MATERIALIZED (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      withn AS MATERIALIZED (
        SELECT vec_id, v, list_transform(generate_series(0, ${nT - 1}), i ->
          sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, $d),
              t -> v[i * $d + t] * v[i * $d + t])), (a, x) -> a + x))) AS nm
        FROM vecs),
      scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(0, ${nT - 1}), i ->
              list_max(list_transform(generate_series(0, ${nT - 1}), j ->
                CASE WHEN q.nm[i + 1] * c.nm[j + 1] = CAST(0.0 AS DOUBLE)
                  THEN CAST(0.0 AS DOUBLE)
                  ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(generate_series(1, $d),
                      t -> q.v[i * $d + t] * c.v[j * $d + t])), (a, x) -> a + x)
                  / (q.nm[i + 1] * c.nm[j + 1]) END)))), (acc, x) -> acc + x) AS ms
        FROM withn q, withn c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
      ranked AS (
        SELECT q_id, c_id, ms,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY ms DESC, c_id) AS INT) AS rnk
        FROM scored)
      SELECT q_id, c_id, rnk, (round(ms, 6) + 0.0) AS score
      FROM ranked WHERE rnk <= $k ORDER BY q_id, rnk"""
  }

  /** DuckDB oracle for [[annBruteforce]] (s1) — the proven norms/dots
    * CTE shape. Hoisted here (from the inline SparkEntry string) so
    * the s10 recall-evaluation oracle can compose it verbatim. */
  def s1OracleSql: String = s"""
      WITH norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
      pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.embedding AS qv, c.embedding AS cv
        FROM embeddings q, embeddings c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
      dots AS (
        SELECT q_id, c_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT q_id, c_id, unnest(qv) AS x, unnest(cv) AS y FROM pairs) GROUP BY q_id, c_id),
      scored AS (
        SELECT d.q_id, d.c_id, d.dt / (nq.nrm * nc.nrm) AS cos
        FROM dots d JOIN norms nq ON nq.vec_id = d.q_id JOIN norms nc ON nc.vec_id = d.c_id),
      ranked AS (
        SELECT q_id, c_id, cos,
          CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS INT) AS rnk
        FROM scored)
      SELECT q_id, c_id, rnk, (round(cos, 6) + 0.0) AS score
      FROM ranked WHERE rnk <= $AnnK ORDER BY q_id, rnk"""

  /** s10: ANN recall evaluation — the measurement loop every
    * approximate index ships with: recall@k of the IVF path (s3,
    * nProbe = 4 of 16 cells, the config that genuinely trades recall
    * for scan fraction) against the exact brute-force baseline (s1),
    * per query. This is an OPERATOR, not a test: at real scale recall
    * is re-measured continuously on sampled query logs to decide
    * nProbe/nlist re-tuning, so the evaluation itself must run
    * distributed next to the index.
    *
    * Exactness: both sides rank with the same deterministic
    * (score DESC, c_id) tie-break, so the top-k SETS are reproducible
    * cross-engine; hit counting is an integer semi-join count and the
    * one recall division is correctly rounded (round(6)).
    *
    * Scale shape: the per-query result frames are k-bounded (queries ×
    * k rows); the semi-join and rollup are trivial next to the index
    * scans they audit. Cost is one brute-force corpus pass (the price
    * of ground truth — at 100 TB you run it on a query SAMPLE, which
    * is exactly the `vec_id < 5` query predicate both sides share)
    * plus one IVF probe pass. */
  def recallEval(spark: SparkSession, dir: String): DataFrame =
    recallEval(Tables.parallel(Tables.load(spark, dir, "embeddings")))

  def recallEval(e: DataFrame): DataFrame = {
    val exact = annBruteforce(e).select(col("q_id"), col("c_id"))
    val approx = annIvfDet(e, 16, 4).select(col("q_id"), col("c_id"))
    val hits = exact.join(approx, Seq("q_id", "c_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left_outer")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall", round(col("n_hit").cast("double")
        / col("n_exact").cast("double"), 6))
      .orderBy("q_id")
  }

  /** DuckDB oracle for [[recallEval]] — the s1 and s3 oracles composed
    * verbatim as subqueries and joined on (q_id, c_id). */
  def s10OracleSql: String = s"""
      SELECT ex.q_id, count(*) AS n_exact,
        CAST(sum(CASE WHEN ap.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_hit,
        round(CAST(sum(CASE WHEN ap.c_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
      FROM ( $s1OracleSql ) ex
      LEFT JOIN ( $s3OracleSql ) ap
        ON ap.q_id = ex.q_id AND ap.c_id = ex.c_id
      GROUP BY ex.q_id ORDER BY ex.q_id"""

  /** The nProbe ladder s24 sweeps — strictly increasing, so the spec
    * can gate recall monotonicity; max entry bounds the probe window
    * computed once and filtered per rung. */
  final val SweepProbes: Seq[Int] = Seq(1, 2, 4, 8)

  /** s24: IVF TUNING CURVE — recall@k and scan cost of the s3 index
    * swept across the nProbe ladder against the s1 exact baseline:
    * the recall-vs-fraction-scanned trade-off table (the faiss/SCaNN
    * "operating point" plot) an index operator reads to PICK nProbe,
    * where s10 measures only the one shipped configuration. Per rung:
    * candidates scanned (the cost axis — at nProbe = p the index
    * touches ~p/k of the corpus), micro recall (pooled hits/truth)
    * and macro recall (mean per-query, round-12 term grid — the two
    * differ exactly when hard queries are also small-truth queries).
    *
    * One index pass, not |ladder| passes: centroids, assignment, and
    * the probe ranking are computed ONCE for the max rung; every
    * smaller rung is a crnk filter inside the (candidates × ladder)
    * lattice — the sweep costs one extra dimension-bounded join, so
    * benchmarking the ladder is not |ladder|× the price of one run.
    *
    * Determinism: cell/probe/candidate ranks ride the s3 total
    * orders; hit/truth censuses are exact integers; macro terms
    * round-12 quantized, DECIMAL-summed, one rounded division per
    * output column. Scale shape: s3's — k-bounded centroid broadcast,
    * one corpus-scale assignment aggregate, query×probe broadcast
    * join (candidates ≈ queries × maxProbe/k of the corpus); the s1
    * truth is the declared brute-force baseline every recall
    * evaluation needs (sampled query logs at 100 TB, s10's contract). */
  def s24ProbeSweep(spark: SparkSession, dir: String): DataFrame =
    probeSweep(Tables.parallel(Tables.load(spark, dir, "embeddings")), 16)

  def probeSweep(e: DataFrame, k: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val maxP = SweepProbes.max
    val centroids = ivfCentroids(e, k)
    val assigned = ivfAssign(e, centroids)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("csim").desc, col("cell"))
    val probes = queries.crossJoin(centroids)
      .withColumn("csim",
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("centv")))
      .withColumn("crnk", row_number().over(wProbe))
      .filter(col("crnk") <= maxP)
      .select(col("q_id"), col("qv"), col("cell"), col("crnk"))
    val cand = broadcast(probes).join(assigned, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), col("crnk"),
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("cv"))
          .as("cos"))
    val ladder = SweepProbes.map(_.toLong).toDF("n_probe")
    val lat = graft.Ckpt(cand.join(broadcast(ladder),
      col("crnk") <= col("n_probe")))
    val scanned = lat.groupBy("n_probe").agg(count(lit(1)).as("n_cand"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("n_probe", "q_id").orderBy(col("cos").desc, col("c_id"))
    val topk = lat.withColumn("rnk", row_number().over(wR))
      .filter(col("rnk") <= AnnK)
    val exact = graft.Ckpt(annBruteforce(e).select(col("q_id"), col("c_id")))
    val hits = topk.join(exact, Seq("q_id", "c_id"), "left_semi")
      .groupBy("n_probe", "q_id").agg(count(lit(1)).as("h"))
    val exacts = exact.groupBy("q_id").agg(count(lit(1)).as("ne"))
    val perq = broadcast(ladder).crossJoin(exacts)
      .join(hits, Seq("n_probe", "q_id"), "left_outer")
      .select(col("n_probe"), col("q_id"), col("ne"),
        coalesce(col("h"), lit(0L)).as("h"))
    perq.groupBy("n_probe")
      .agg(count(lit(1)).as("n_queries"),
        sum(col("h")).as("n_hit"), sum(col("ne")).as("n_exact"),
        sum(round(col("h").cast("double") / col("ne").cast("double"), 12)
          .cast("decimal(25,12)")).as("rsum"))
      .join(scanned, Seq("n_probe"), "left_outer")
      .select(col("n_probe"), col("n_queries"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("n_hit"), col("n_exact"),
        round(col("n_hit").cast("double")
          / col("n_exact").cast("double"), 6).as("recall_micro"),
        round(col("rsum").cast("double")
          / col("n_queries").cast("double"), 6).as("recall_macro"))
      .orderBy("n_probe")
  }

  /** DuckDB oracle for [[probeSweep]] — s3's centroid/assign/probe
    * CTEs widened to the max rung, the identical ladder lattice,
    * re-rank, and two-level rollup against the s1 truth. */
  def s24OracleSql: String = s"""
      WITH sel AS (
        SELECT vec_id, embedding,
          ((vec_id % 1000000000) * 2654435761) % 2147483647 AS hsh
        FROM embeddings),
      cent AS (
        SELECT cell, centv FROM (
          SELECT row_number() OVER (ORDER BY hsh, vec_id) AS cell,
                 embedding AS centv
          FROM sel) t
        WHERE cell <= 16),
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings) GROUP BY vec_id),
      cnorm AS (
        SELECT cell, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT cell, unnest(centv) AS x FROM cent) GROUP BY cell),
      adots AS (
        SELECT c_id, cell, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT e.vec_id AS c_id, c.cell, unnest(e.embedding) AS x, unnest(c.centv) AS y
              FROM embeddings e, cent c) GROUP BY c_id, cell),
      assign AS (
        SELECT c_id, cell FROM (
          SELECT a.c_id, a.cell,
            row_number() OVER (PARTITION BY a.c_id
              ORDER BY a.dt / (n.nrm * cn.nrm) DESC, a.cell) AS rn
          FROM adots a
          JOIN norms n ON n.vec_id = a.c_id
          JOIN cnorm cn ON cn.cell = a.cell) t
        WHERE rn = 1),
      probes AS (
        SELECT q_id, cell, rn AS crnk FROM (
          SELECT a.c_id AS q_id, a.cell,
            row_number() OVER (PARTITION BY a.c_id
              ORDER BY a.dt / (n.nrm * cn.nrm) DESC, a.cell) AS rn
          FROM adots a
          JOIN norms n ON n.vec_id = a.c_id
          JOIN cnorm cn ON cn.cell = a.cell
          WHERE a.c_id < 5) t
        WHERE rn <= ${SweepProbes.max}),
      cand0 AS (
        SELECT p.q_id, s.c_id, p.crnk
        FROM probes p JOIN assign s ON s.cell = p.cell
        WHERE s.c_id <> p.q_id),
      dots AS (
        SELECT q_id, c_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT c.q_id, c.c_id, unnest(eq.embedding) AS x,
                unnest(ec.embedding) AS y
              FROM cand0 c JOIN embeddings eq ON eq.vec_id = c.q_id
                           JOIN embeddings ec ON ec.vec_id = c.c_id)
        GROUP BY q_id, c_id),
      cand AS (
        SELECT c0.q_id, c0.c_id, c0.crnk,
          d.dt / (nq.nrm * nc.nrm) AS cos
        FROM cand0 c0
        JOIN dots d ON d.q_id = c0.q_id AND d.c_id = c0.c_id
        JOIN norms nq ON nq.vec_id = c0.q_id
        JOIN norms nc ON nc.vec_id = c0.c_id),
      ladder(n_probe) AS (VALUES ${SweepProbes.map(p => s"($p)").mkString(", ")}),
      lat AS (
        SELECT CAST(n_probe AS BIGINT) AS n_probe, q_id, c_id, cos
        FROM cand JOIN ladder ON crnk <= n_probe),
      scanned AS (
        SELECT n_probe, count(*) AS n_cand FROM lat GROUP BY 1),
      topk AS (
        SELECT n_probe, q_id, c_id FROM (
          SELECT n_probe, q_id, c_id,
            row_number() OVER (PARTITION BY n_probe, q_id
              ORDER BY cos DESC, c_id) AS rnk
          FROM lat) t
        WHERE rnk <= $AnnK),
      exact AS (SELECT q_id, c_id FROM ( $s1OracleSql ) x),
      exacts AS (SELECT q_id, count(*) AS ne FROM exact GROUP BY 1),
      hits AS (
        SELECT t.n_probe, t.q_id, count(*) AS h
        FROM topk t JOIN exact e ON e.q_id = t.q_id AND e.c_id = t.c_id
        GROUP BY 1, 2),
      perq AS (
        SELECT CAST(l.n_probe AS BIGINT) AS n_probe, ex.q_id, ex.ne,
          coalesce(h.h, 0) AS h
        FROM ladder l CROSS JOIN exacts ex
        LEFT JOIN hits h ON h.n_probe = l.n_probe AND h.q_id = ex.q_id)
      SELECT p.n_probe, count(*) AS n_queries,
        CAST(coalesce(max(s.n_cand), 0) AS BIGINT) AS n_cand,
        CAST(sum(h) AS BIGINT) AS n_hit, CAST(sum(ne) AS BIGINT) AS n_exact,
        round(CAST(sum(h) AS DOUBLE) / CAST(sum(ne) AS DOUBLE), 6)
          AS recall_micro,
        round(CAST(sum(CAST(round(CAST(h AS DOUBLE) / CAST(ne AS DOUBLE),
            12) AS DECIMAL(25,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          AS recall_macro
      FROM perq p LEFT JOIN scanned s ON s.n_probe = p.n_probe
      GROUP BY p.n_probe ORDER BY p.n_probe"""

  /** s12: cluster profile — corpus CARTOGRAPHY over the embedding
    * space (the "what is in my corpus" readout run before choosing
    * mixing weights or dedup thresholds): every vector assigned to
    * its deterministic IVF cell (s3's zero-extra-shuffle argmax),
    * then per cell the membership count, id span, dominant metadata
    * label with its share, and cohesion = mean cosine to the cell
    * centroid. Cohesion separates tight topical clusters from
    * junk-drawer cells; label purity cross-checks the embedding
    * geometry against the labels.
    *
    * Determinism: per-member cosines are rounded to 12 dp and summed
    * as DECIMAL(38,12) — exact, associative, shuffle-order-proof
    * (the repo's Dec discipline) — with ONE double division at the
    * end; the dominant label breaks count ties toward the smaller
    * label in both engines. Scale shape: one corpus-scale assignment
    * aggregate (s3's max_by), one broadcast re-join against the
    * k-bounded centroid frame, then everything is k- or
    * (k × labels)-bounded. */
  def clusterProfile(spark: SparkSession, dir: String): DataFrame =
    clusterProfile(Tables.parallel(Tables.load(spark, dir, "embeddings")), 16)

  def clusterProfile(e: DataFrame, k: Int): DataFrame = {
    val spark = e.sparkSession
    val centroids = ivfCentroids(e, k)
    // two consumers (label rollup and the cell rollup) — checkpointed
    // so the n×k assignment cross join + max_by aggregate run once
    val assigned = graft.Ckpt(ivfAssign(e, centroids)
      .join(e.select(col("vec_id").as("c_id"), col("label")), "c_id")
      .join(centroids, Seq("cell"))
      .select(col("cell"), col("c_id"), col("label"),
        round(graft.GraftFunctions.cosineSim(spark, col("cv"), col("centv")),
          12).cast("decimal(38,12)").as("cos12")))
    val byLabel = assigned.groupBy("cell", "label")
      .agg(count(lit(1)).as("n"))
    val topLabel = byLabel.groupBy("cell")
      .agg(max_by(struct(col("label"), col("n")),
        struct(col("n"), (-col("label")).as("nl"))).as("t"))
      .select(col("cell"), col("t.label").as("top_label"),
        col("t.n").as("top_label_n"))
    assigned.groupBy("cell")
      .agg(count(lit(1)).as("n_members"),
        min(col("c_id")).as("min_id"), max(col("c_id")).as("max_id"),
        sum(col("cos12")).as("s12"))
      .join(topLabel, Seq("cell"))
      .select(col("cell"), col("n_members"), col("min_id"), col("max_id"),
        col("top_label"), col("top_label_n"),
        round(col("top_label_n").cast("double")
          / col("n_members").cast("double"), 6).as("label_share"),
        graft.GraftFunctions.roundz(col("s12").cast("double")
          / col("n_members").cast("double"), 6).as("mean_cos"))
      .orderBy("cell")
  }

  /** DuckDB oracle for [[clusterProfile]] — s3's hash-centroid +
    * argmax-assignment CTEs, cosines rounded to 12 dp and summed as
    * DECIMAL(38,12), the same smaller-label tie-break. */
  def s12OracleSql(k: Int = 16): String = s"""
      WITH sel AS (
        SELECT vec_id, embedding,
          ((vec_id % 1000000000) * 2654435761) % 2147483647 AS hsh
        FROM embeddings),
      cent AS (
        SELECT cell, centv FROM (
          SELECT row_number() OVER (ORDER BY hsh, vec_id) AS cell,
                 embedding AS centv
          FROM sel) t
        WHERE cell <= $k),
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
        GROUP BY vec_id),
      cnorm AS (
        SELECT cell, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT cell, unnest(centv) AS x FROM cent) GROUP BY cell),
      adots AS (
        SELECT c_id, cell, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT e.vec_id AS c_id, c.cell, unnest(e.embedding) AS x,
                unnest(c.centv) AS y
              FROM embeddings e, cent c) GROUP BY c_id, cell),
      sims AS (
        SELECT a.c_id, a.cell, a.dt / (n.nrm * cn.nrm) AS cs
        FROM adots a
        JOIN norms n ON n.vec_id = a.c_id
        JOIN cnorm cn ON cn.cell = a.cell),
      assign AS (
        SELECT c_id, cell, cs FROM (
          SELECT c_id, cell, cs,
            row_number() OVER (PARTITION BY c_id
              ORDER BY cs DESC, cell) AS rn
          FROM sims) t
        WHERE rn = 1),
      mem AS (
        SELECT a.c_id, a.cell, e.label,
          CAST(round(a.cs, 12) AS DECIMAL(38,12)) AS cos12
        FROM assign a JOIN embeddings e ON e.vec_id = a.c_id),
      bylab AS (
        SELECT cell, label, count(*) AS n FROM mem GROUP BY cell, label),
      toplab AS (
        SELECT cell, label AS top_label, n AS top_label_n FROM (
          SELECT cell, label, n,
            row_number() OVER (PARTITION BY cell
              ORDER BY n DESC, label) AS rn
          FROM bylab) t
        WHERE rn = 1)
      SELECT CAST(m.cell AS INT) AS cell, count(*) AS n_members,
        min(m.c_id) AS min_id, max(m.c_id) AS max_id,
        any_value(tl.top_label) AS top_label,
        any_value(tl.top_label_n) AS top_label_n,
        round(CAST(any_value(tl.top_label_n) AS DOUBLE)
          / CAST(count(*) AS DOUBLE), 6) AS label_share,
        (round(CAST(sum(m.cos12) AS DOUBLE)
          / CAST(count(*) AS DOUBLE), 6) + 0.0) AS mean_cos
      FROM mem m JOIN toplab tl ON tl.cell = m.cell
      GROUP BY m.cell ORDER BY m.cell"""

  /** SQ8 quantization levels — one unsigned byte per dimension. */
  final val SqLevels = 256

  /** s11: scalar-quantized (SQ8) ANN — the FAISS `SQ8` storage path,
    * the third compression point on the family's memory/recall dial
    * (raw float32 = s1, 8 bits/dim = s11, ~2 bits/dim PQ = s4): each
    * dimension is affinely mapped to one byte using corpus-global
    * per-dimension [min, max] ranges, and search scores queries
    * asymmetrically — raw query floats against midpoint-reconstructed
    * candidates (recon = mn + (code + ½)·step), so only the candidate
    * side pays quantization error. 4× smaller than float32 with
    * near-exact recall; the usual choice when PQ's 64× is too lossy.
    *
    * Determinism/oracle: the stats pass is exact (min/max select
    * float values, exactly representable as doubles); encode, recon,
    * and the index-order d² fold are the identical IEEE-754 op
    * sequence in both engines, so every double matches bit-for-bit
    * and the full pipeline is oracle-gated (unlike lossy-by-design
    * k-means training, nothing here is rows-only).
    *
    * Scale shape: one corpus scan for stats (a single-row aggregate of
    * 2·dim mins/maxes — map-side partial all the way, no explode
    * shuffle); one planning-time head() for the range literals (the
    * sampleCount class); then encode+recon+score fused into ONE
    * codegen'd corpus-scan projection under the broadcast query join —
    * zero corpus-scale shuffles before the k-bounded top-k window. At
    * 100 TB the codes would be written once and scanned thereafter;
    * the arithmetic per candidate is O(dim) lookups-free FMA, SIMD-
    * friendly under codegen. */
  def annSq(spark: SparkSession, dir: String): DataFrame =
    annSq(Tables.parallel(Tables.load(spark, dir, "embeddings")), AnnK)

  /** Per-dimension (min, step) ranges from one corpus scan. */
  def sqRanges(e: DataFrame, dim: Int): (Seq[Double], Seq[Double]) = {
    val row = e.agg(
      array((1 to dim).map(i =>
        min(element_at(col("embedding"), i).cast("double"))): _*).as("mns"),
      array((1 to dim).map(i =>
        max(element_at(col("embedding"), i).cast("double"))): _*).as("mxs"))
      .head()
    val mns = row.getSeq[Double](0)
    val mxs = row.getSeq[Double](1)
    (mns, mns.zip(mxs).map { case (mn, mx) => (mx - mn) / SqLevels.toDouble })
  }

  def annSq(e: DataFrame, k: Int): DataFrame = {
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val (mns, sts) = sqRanges(e, dim)
    val mnsL = typedLit(mns)
    val stsL = typedLit(sts)
    // encode + midpoint-reconstruct, fused in-row: code = clamp(
    // floor((x − mn)/step), 0, 255) (a constant dimension ⇒ step 0 ⇒
    // code 0, recon = mn exactly)
    val codes = zip_with(
      zip_with(col("embedding"), mnsL, (x, mn) => x.cast("double") - mn),
      stsL,
      (d, st) => when(st > 0.0,
        least(greatest(floor(d / st).cast("double"), lit(0.0)), lit(255.0)))
        .otherwise(lit(0.0)))
    val recon = zip_with(
      zip_with(codes, stsL, (c, st) => (c + lit(0.5)) * st),
      mnsL, (r, mn) => r + mn)
    val cand = e.select(col("vec_id").as("c_id"), recon.as("rv"))
    val q = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val scored = q.join(cand, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        aggregate(zip_with(col("qv"), col("rv"),
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, v) => acc + v).as("approx_d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("approx_d2"), col("c_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("rnk"),
        round(col("approx_d2"), 6).as("approx_d2"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB oracle for [[annSq]] — same per-dimension ranges, same
    * clamp/floor encode, same midpoint reconstruction in the same
    * operation order ((code + ½)·step + mn), same index-order d²
    * fold. */
  def s11OracleSql(k: Int = AnnK, dim: Int = 64): String = s"""
      WITH stats AS MATERIALIZED (
        SELECT i, min(x) AS mn, max(x) AS mx FROM (
          SELECT CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x, i
          FROM embeddings, generate_series(1, $dim) t(i))
        GROUP BY i),
      pl AS MATERIALIZED (
        SELECT list(mn ORDER BY i) AS mns,
          list((mx - mn) / $SqLevels ORDER BY i) AS sts
        FROM stats),
      recs AS MATERIALIZED (
        SELECT vec_id, list_transform(generate_series(1, $dim), i ->
          (CASE WHEN pl.sts[CAST(i AS INT)] > 0.0
             THEN least(greatest(floor(
               (CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                  - pl.mns[CAST(i AS INT)]) / pl.sts[CAST(i AS INT)]),
               0.0), 255.0)
             ELSE 0.0 END + 0.5) * pl.sts[CAST(i AS INT)]
            + pl.mns[CAST(i AS INT)]) AS rv
        FROM embeddings, pl),
      scored AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, $dim), i ->
              (CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)
                 - c.rv[CAST(i AS INT)])
              * (CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)
                 - c.rv[CAST(i AS INT)]))),
            (acc, x) -> acc + x) AS approx_d2
        FROM embeddings q, recs c
        WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
      ranked AS (
        SELECT q_id, c_id, approx_d2,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY approx_d2, c_id) AS INT) AS rnk
        FROM scored)
      SELECT q_id, c_id, rnk, round(approx_d2, 6) AS approx_d2
      FROM ranked WHERE rnk <= $k ORDER BY q_id, rnk"""

  /** s14's stage-1 candidate width, final list size and relevance
    * weight. λ = 0.7 favours relevance; 1 − λ is written as the
    * LITERAL 0.3 in both engines (computing `1 - 0.7` in double gives
    * 0.30000000000000004 and the two engines must score with the
    * identical constant). */
  final val MmrWide = 20
  final val MmrK = 5

  /** s14: MMR (maximal-marginal-relevance) DIVERSITY re-ranking — the
    * second stage every production retriever runs after ANN: the raw
    * top-k is redundancy-prone (near-duplicate passages crowd out
    * coverage), so select k = [[MmrK]] results from the top-
    * [[MmrWide]] candidates greedily by
    * `λ·sim(q, c) − (1−λ)·max_{s∈S} sim(c, s)` (Carbonell & Goldstein
    * 1998) — each pick trades query relevance against similarity to
    * what's already selected; ties break on smaller c_id.
    *
    * Determinism across engines: every similarity (query-side and
    * candidate-pairwise) is quantized round(9) BEFORE any comparison
    * — Spark's fused index-order cosine and the oracle's unnest-sum
    * fold differ by ulps that 9 dp absorb — and each greedy step's
    * score is re-quantized round(9), so both engines compare the
    * SAME doubles at every selection.
    *
    * Scale shape: stage-1 scoring is s1's broadcast-query corpus
    * scan; everything after runs on candidate-scale frames (wide
    * per query, wide² pairwise — both bounded by parameters, never
    * corpus²); the greedy loop is k fixed steps of candidate-scale
    * joins with a checkpointed selection (the fixpoint-loop
    * discipline), NOT a driver-side collect.
    *
    * Precondition: every query must have ≥ k candidates (corpus size
    * > k, true for any real corpus). A query that runs dry mid-greedy
    * keeps its partial selection here but drops out of the oracle's
    * recursion entirely (its chain never reaches step k) — don't
    * point the operator at a sub-k corpus expecting oracle parity. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame =
    mmrRerank(Tables.parallel(Tables.load(spark, dir, "embeddings")))

  def mmrRerank(e: DataFrame, wide: Int = MmrWide, k: Int = MmrK): DataFrame = {
    val spark = e.sparkSession
    val q = broadcast(e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val scored = q.join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(graft.GraftFunctions.cosineSim(spark, col("qv"), col("cv")), 9)
          .as("simq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("simq").desc, col("c_id"))
    val cands = graft.Ckpt(scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= wide).select("q_id", "c_id", "simq"))
    val vecs = e.select(col("vec_id"), col("embedding"))
    val pair = graft.Ckpt(cands.as("a")
      .join(cands.as("b"), col("a.q_id") === col("b.q_id") &&
        col("a.c_id") =!= col("b.c_id"))
      .select(col("a.q_id").as("q_id"), col("a.c_id").as("a_id"),
        col("b.c_id").as("b_id"))
      .join(vecs.select(col("vec_id").as("a_id"), col("embedding").as("av")),
        "a_id")
      .join(vecs.select(col("vec_id").as("b_id"), col("embedding").as("bv")),
        "b_id")
      .select(col("q_id"), col("a_id"), col("b_id"),
        round(graft.GraftFunctions.cosineSim(spark, col("av"), col("bv")), 9)
          .as("simc")))
    var selected: DataFrame = null
    for (step <- 1 to k) {
      val remaining =
        if (selected == null) cands
        else cands.join(selected.select(col("q_id"), col("c_id")),
          Seq("q_id", "c_id"), "left_anti")
      val withMs =
        if (selected == null) remaining.withColumn("ms", lit(0.0))
        else remaining.join(
          pair.join(broadcast(
              selected.select(col("q_id"), col("c_id").as("b_id"))),
              Seq("q_id", "b_id"))
            .groupBy(col("q_id"), col("a_id").as("c_id"))
            .agg(max(col("simc")).as("ms0")),
          Seq("q_id", "c_id"), "left")
          .withColumn("ms", coalesce(col("ms0"), lit(0.0)))
      val ww = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("score").desc, col("c_id"))
      val winner = withMs
        .withColumn("score",
          round(lit(0.7) * col("simq") - lit(0.3) * col("ms"), 9))
        .withColumn("r", row_number().over(ww)).filter(col("r") === 1)
        .select(col("q_id"), col("c_id"), lit(step.toLong).as("mmr_rank"),
          col("score"))
      selected = graft.Ckpt(
        if (selected == null) winner else selected.unionByName(winner))
    }
    selected.select(col("q_id"), col("mmr_rank"), col("c_id"),
        graft.GraftFunctions.roundz(col("score"), 6).as("score"))
      .orderBy("q_id", "mmr_rank")
  }

  /** DuckDB oracle for [[mmrRerank]] — s1's cosine derivation with
    * the identical round(9) quantization, the same wide cut, and the
    * greedy recursion as a recursive CTE whose per-step winner is
    * `max(struct(score, −c_id))` (lexicographic struct max = score
    * desc, c_id asc — the Spark window's exact tie-break). */
  def s14OracleSql(wide: Int = MmrWide, k: Int = MmrK): String = s"""
      WITH RECURSIVE
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
        GROUP BY vec_id),
      pairs0 AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          q.embedding AS qv, c.embedding AS cv
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
      dots AS (
        SELECT q_id, c_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT q_id, c_id, unnest(qv) AS x, unnest(cv) AS y
              FROM pairs0)
        GROUP BY q_id, c_id),
      scored AS (
        SELECT d.q_id, d.c_id, round(d.dt / (nq.nrm * nc.nrm), 9) AS simq
        FROM dots d JOIN norms nq ON nq.vec_id = d.q_id
        JOIN norms nc ON nc.vec_id = d.c_id),
      cands AS MATERIALIZED (
        SELECT q_id, c_id, simq FROM (
          SELECT *, row_number() OVER (
            PARTITION BY q_id ORDER BY simq DESC, c_id) AS rnk
          FROM scored) t WHERE rnk <= $wide),
      cpairs0 AS (
        SELECT a.q_id, a.c_id AS a_id, b.c_id AS b_id,
          ea.embedding AS av, eb.embedding AS bv
        FROM cands a JOIN cands b
          ON a.q_id = b.q_id AND a.c_id <> b.c_id
        JOIN embeddings ea ON ea.vec_id = a.c_id
        JOIN embeddings eb ON eb.vec_id = b.c_id),
      cdots AS (
        SELECT q_id, a_id, b_id,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT q_id, a_id, b_id, unnest(av) AS x, unnest(bv) AS y
              FROM cpairs0)
        GROUP BY q_id, a_id, b_id),
      cpair AS MATERIALIZED (
        SELECT d.q_id, d.a_id, d.b_id,
          round(d.dt / (na.nrm * nb.nrm), 9) AS simc
        FROM cdots d JOIN norms na ON na.vec_id = d.a_id
        JOIN norms nb ON nb.vec_id = d.b_id),
      rec(step, q_id, sel, scores) AS (
        SELECT 0, vec_id, CAST([] AS BIGINT[]), CAST([] AS DOUBLE[])
        FROM embeddings WHERE vec_id < 5
        UNION ALL
        SELECT step + 1, q_id,
          list_append(sel, -(max(struct_pack(s := score, t := -c_id))['t'])),
          list_append(scores, max(struct_pack(s := score, t := -c_id))['s'])
        FROM (
          SELECT r.step AS step, r.q_id AS q_id, r.sel AS sel,
            r.scores AS scores, cd.c_id AS c_id,
            round(0.7 * cd.simq - 0.3 * coalesce(
              max(CASE WHEN list_contains(r.sel, p.b_id)
                  THEN p.simc END), 0.0), 9) AS score
          FROM rec r
          JOIN cands cd
            ON cd.q_id = r.q_id AND NOT list_contains(r.sel, cd.c_id)
          LEFT JOIN cpair p ON p.q_id = r.q_id AND p.a_id = cd.c_id
          WHERE r.step < $k
          GROUP BY r.step, r.q_id, r.sel, r.scores, cd.c_id, cd.simq) x
        GROUP BY step, q_id, sel, scores)
      SELECT q_id, i AS mmr_rank, sel[i] AS c_id,
        (round(scores[i], 6) + 0.0) AS score
      FROM rec, unnest(generate_series(1, $k)) t(i)
      WHERE step = $k
      ORDER BY q_id, mmr_rank"""

  /** Cell count for [[ivfAppend]]'s registered entry (matches s3's
    * deterministic-IVF cell count) and the index/batch hash split
    * percentage (90% standing index, 10% arriving batch). */
  final val IvfAppendK = 16
  final val IvfAppendSplit = 90

  /** s15: INCREMENTAL IVF index maintenance — the d15-for-vectors
    * production shape. A standing IVF index is NOT retrained per
    * ingest: the arriving batch is assigned to the EXISTING cells
    * under the index's frozen centroids and appended to the
    * cell-partitioned layout; what the operator needs per ingest is
    * the DRIFT AUDIT that says when appending has degraded the index
    * enough that a retrain pays — per cell: standing count, appended
    * count, growth share, mean cosine-to-centroid of standing vs
    * appended members, the drift between them (appended mass far from
    * its nearest frozen centroid ⇒ the geometry has moved), and a
    * `retrain` flag (batch ≥ half the cell, or rounded drift ≤ −0.02).
    *
    * Scale shape: centroid selection/probing machinery is shared with
    * s3 ([[ivfCentroids]]/[[ivfAssign]] — k-bounded broadcasts, one
    * map-side max_by argmin pass per frame, the shuffle carries one
    * row per vector, never ×k; with driver-matrix centroids the
    * assignment is the zero-shuffle native
    * [[graft.functions.expressions.EuclidArgmin]] projection, and the
    * append-equals-rebuild law is exactly why that is safe: under
    * FROZEN centroids assignment is per-row, so batch-assign ≡ the
    * batch's slice of a full union re-assignment — spec-gated). Per-
    * cell cosine terms are round-12 quantized and summed as DECIMAL
    * (order-free); the audit frame is k-bounded. */
  def ivfAppend(spark: SparkSession, dir: String): DataFrame =
    ivfAppend(Tables.parallel(Tables.load(spark, dir, "embeddings")),
      IvfAppendK)

  def ivfAppend(e: DataFrame, k: Int): DataFrame = {
    val h = pmod(pmod(col("vec_id"), lit(1000000000L)) * lit(2654435761L),
      lit(100))
    ivfAppendFrom(e.filter(h < IvfAppendSplit),
      e.filter(h >= IvfAppendSplit), k)
  }

  /** [[ivfAppend]]'s core over explicit index/batch frames — split out
    * so specs can plant batches and prove append ≡ rebuild. */
  def ivfAppendFrom(index: DataFrame, batch: DataFrame, k: Int): DataFrame = {
    val spark = index.sparkSession
    // centroids frozen from the STANDING index only — the whole point:
    // an append must not silently retrain
    val centroids = ivfCentroids(index, k)
    def cellStats(x: DataFrame): DataFrame = ivfAssign(x, centroids)
      .join(centroids, "cell")
      .select(col("cell"),
        round(graft.GraftFunctions.cosineSim(spark, col("cv"), col("centv")),
          12).cast("decimal(14,12)").as("cs"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"), sum(col("cs")).as("scs"))
    val si = cellStats(index)
      .select(col("cell"), col("n").as("n_index"), col("scs").as("s_i"))
    val sb = cellStats(batch)
      .select(col("cell"), col("n").as("n_batch"), col("scs").as("s_b"))
    // every cell has ≥1 standing member (each hash-selected centroid
    // assigns to itself at cosine 1), so the standing side drives
    si.join(sb, Seq("cell"), "left_outer")
      .withColumn("n_batch", coalesce(col("n_batch"), lit(0L)))
      .withColumn("mi", col("s_i").cast("double") / col("n_index"))
      .withColumn("mb", col("s_b").cast("double") / col("n_batch"))
      .select(col("cell").cast("long").as("cell"),
        col("n_index"), col("n_batch"),
        round(col("n_batch").cast("double") / col("n_index").cast("double"),
          6).as("growth"),
        graft.GraftFunctions.roundz(col("mi"), 6).as("mean_cos_index"),
        graft.GraftFunctions.roundz(col("mb"), 6).as("mean_cos_batch"),
        graft.GraftFunctions.roundz(col("mb") - col("mi"), 6).as("drift"))
      .withColumn("retrain",
        (col("n_batch") * 2 >= col("n_index")) ||
          coalesce(col("drift") <= -0.02, lit(false)))
      .orderBy("cell")
  }

  /** DuckDB oracle for [[ivfAppend]] — s3's centroid/argmax CTEs with
    * the index/batch hash split, identical round-12 decimal cosine
    * sums, identical audit arithmetic. */
  def s15OracleSql(k: Int = IvfAppendK): String = s"""
      WITH idx AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE ((vec_id % 1000000000) * 2654435761) % 100 < $IvfAppendSplit),
      bat AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE ((vec_id % 1000000000) * 2654435761) % 100 >= $IvfAppendSplit),
      sel AS (
        SELECT vec_id, embedding,
          ((vec_id % 1000000000) * 2654435761) % 2147483647 AS hsh
        FROM idx),
      cent AS (
        SELECT cell, centv FROM (
          SELECT row_number() OVER (ORDER BY hsh, vec_id) AS cell,
                 embedding AS centv
          FROM sel) t
        WHERE cell <= $k),
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
        GROUP BY vec_id),
      cnorm AS (
        SELECT cell, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT cell, unnest(centv) AS x FROM cent) GROUP BY cell),
      adots AS (
        SELECT c_id, cell, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT e.vec_id AS c_id, c.cell, unnest(e.embedding) AS x,
                unnest(c.centv) AS y
              FROM embeddings e, cent c) GROUP BY c_id, cell),
      acos_all AS (
        SELECT a.c_id, a.cell, a.dt / (n.nrm * cn.nrm) AS cs
        FROM adots a
        JOIN norms n ON n.vec_id = a.c_id
        JOIN cnorm cn ON cn.cell = a.cell),
      assign AS (
        SELECT c_id, cell, cs FROM (
          SELECT c_id, cell, cs,
            row_number() OVER (PARTITION BY c_id ORDER BY cs DESC, cell) AS rn
          FROM acos_all) t
        WHERE rn = 1),
      qi AS (
        SELECT a.cell, count(*) AS n_index,
          sum(CAST(round(a.cs, 12) AS DECIMAL(14,12))) AS s_i
        FROM assign a JOIN idx ON idx.vec_id = a.c_id
        GROUP BY a.cell),
      qb AS (
        SELECT a.cell, count(*) AS n_batch,
          sum(CAST(round(a.cs, 12) AS DECIMAL(14,12))) AS s_b
        FROM assign a JOIN bat ON bat.vec_id = a.c_id
        GROUP BY a.cell),
      j AS (
        SELECT CAST(qi.cell AS BIGINT) AS cell, qi.n_index,
          coalesce(qb.n_batch, 0) AS n_batch,
          CAST(qi.s_i AS DOUBLE) / qi.n_index AS mi,
          CAST(qb.s_b AS DOUBLE) / qb.n_batch AS mb
        FROM qi LEFT JOIN qb ON qi.cell = qb.cell)
      SELECT cell, n_index, n_batch,
        round(CAST(n_batch AS DOUBLE) / CAST(n_index AS DOUBLE), 6) AS growth,
        (round(mi, 6) + 0.0) AS mean_cos_index,
        (round(mb, 6) + 0.0) AS mean_cos_batch,
        (round(mb - mi, 6) + 0.0) AS drift,
        (n_batch * 2 >= n_index)
          OR coalesce((round(mb - mi, 6) + 0.0) <= -0.02, FALSE) AS retrain
      FROM j ORDER BY cell"""

  /** Coreset size of [[kcenterSelect]]'s registered entry. */
  final val KCenterK = 8

  /** s16: greedy K-CENTER coreset selection (Gonzalez 1985 max-min
    * farthest-first) — the diversity-SELECTION stage of a curation
    * pipeline, where s14's MMR is the diversity-RANKING stage of
    * retrieval: pick k vectors such that every remaining vector is
    * close to some pick (the 2-approximation of the k-center
    * objective; the classic coreset seed for clustering / dedup
    * panels / eval-set sampling). Seed = min vec_id; each step adds
    * the vector FARTHEST (cosine distance) from the current picks;
    * output carries `coverage` = the max-min distance at selection —
    * the radius trace that says when the coreset stopped buying
    * anything.
    *
    * Determinism (s14's cross-engine greedy contract): every
    * similarity is round(9)-quantized, d = 1.0 − cos on those
    * identical doubles, the per-vector min-distance state is a
    * least()-fold over the SAME value set in both engines (min is
    * order-free), and the per-step argmax breaks ties on the smaller
    * vec_id via one lexicographic struct max.
    *
    * Scale shape: the O(k·n²) textbook form collapses to k
    * INCREMENTAL passes — after a pick, the min-distance state
    * updates by one least() against the ONE new center (a one-row
    * broadcast), so each step is a zero-shuffle projection plus one
    * struct-max aggregate (map-side partials); state frames are
    * checkpointed on the Ckpt cadence. The quadratic pair table
    * exists ONLY in the DuckDB oracle. */
  def kcenterSelect(spark: SparkSession, dir: String): DataFrame =
    kcenterSelect(Tables.parallel(Tables.load(spark, dir, "embeddings")),
      KCenterK)

  def kcenterSelect(e: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"s16 needs k >= 1, got $k")
    val spark = e.sparkSession
    val vecs = e.select(col("vec_id"), col("embedding"))
    // k must not exceed the vector count: past n the greedy loop's
    // state frame is empty and the struct-max would emit null
    // vec_id/coverage rows while the oracle recursion just stops —
    // fail loudly instead of diverging silently across engines.
    val nVecs = vecs.count()
    require(k <= nVecs, s"s16 needs k <= vector count ($nVecs), got $k")
    def dist(v: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
      lit(1.0) - round(graft.GraftFunctions.cosineSim(spark, v, c), 9)
    val seed = vecs.agg(min(col("vec_id")).as("c_id"))
    val seedVec = vecs.join(broadcast(seed), col("vec_id") === col("c_id"))
      .select(col("embedding").as("cv"))
    var centers: DataFrame = seed
      .select(lit(1L).as("sel_rank"), col("c_id"), lit(0.0).as("dmin"))
    var state = graft.Ckpt(vecs
      .join(broadcast(seed), col("vec_id") === col("c_id"), "left_anti")
      .crossJoin(broadcast(seedVec))
      .select(col("vec_id"), col("embedding"),
        dist(col("embedding"), col("cv")).as("md")))
    for (step <- 2 to k) {
      val winner = state
        .agg(max(struct(col("md").as("md"), (-col("vec_id")).as("nid")))
          .as("w"))
        .select((-col("w.nid")).as("c_id"), col("w.md").as("dmin"))
      centers = graft.Ckpt(centers.unionByName(
        winner.select(lit(step.toLong).as("sel_rank"), col("c_id"),
          col("dmin"))))
      if (step < k) {
        val wVec = vecs.join(broadcast(winner), col("vec_id") === col("c_id"))
          .select(col("embedding").as("cv"))
        state = graft.Ckpt(state
          .join(broadcast(winner), col("vec_id") === col("c_id"), "left_anti")
          .crossJoin(broadcast(wVec))
          .select(col("vec_id"), col("embedding"),
            least(col("md"), dist(col("embedding"), col("cv"))).as("md")))
      }
    }
    centers.select(col("sel_rank"), col("c_id").as("vec_id"),
        graft.GraftFunctions.roundz(col("dmin"), 6).as("coverage"))
      .orderBy("sel_rank")
  }

  /** DuckDB oracle for [[kcenterSelect]] — the identical round-9
    * distance grid and struct-max greedy recursion; the all-pairs
    * distance table is the ORACLE's luxury (the operator never
    * materializes it). */
  def s16OracleSql(k: Int = KCenterK): String = s"""
      WITH RECURSIVE
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
        GROUP BY vec_id),
      dots AS (
        SELECT a_id, b_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                unnest(a.embedding) AS x, unnest(b.embedding) AS y
              FROM embeddings a, embeddings b
              WHERE a.vec_id <> b.vec_id)
        GROUP BY a_id, b_id),
      dist AS MATERIALIZED (
        SELECT a_id, b_id,
          1.0 - round(dt / (na.nrm * nb.nrm), 9) AS d
        FROM dots JOIN norms na ON na.vec_id = a_id
        JOIN norms nb ON nb.vec_id = b_id),
      seed AS (SELECT min(vec_id) AS s FROM embeddings),
      rec(step, sel, ds) AS (
        SELECT 1, [s], [CAST(0.0 AS DOUBLE)] FROM seed
        UNION ALL
        SELECT step + 1,
          list_append(sel, -(max(struct_pack(m := md, t := -vec_id))['t'])),
          list_append(ds, max(struct_pack(m := md, t := -vec_id))['m'])
        FROM (
          SELECT r.step AS step, r.sel AS sel, r.ds AS ds,
            v.vec_id AS vec_id, min(d.d) AS md
          FROM rec r
          JOIN embeddings v ON NOT list_contains(r.sel, v.vec_id)
          JOIN dist d ON d.a_id = v.vec_id AND list_contains(r.sel, d.b_id)
          WHERE r.step < $k
          GROUP BY r.step, r.sel, r.ds, v.vec_id) x
        GROUP BY step, sel, ds)
      SELECT i AS sel_rank, sel[i] AS vec_id,
        (round(ds[i], 6) + 0.0) AS coverage
      FROM rec, unnest(generate_series(1, $k)) t(i)
      WHERE step = $k
      ORDER BY sel_rank"""

  /** Neighbor count and refinement rounds for [[knnGraph]]. FIXED BY
    * CONTRACT (g1's class): the query semantics are "the k-NN graph
    * after exactly [[KnnRounds]] NN-Descent refinement rounds from the
    * deterministic hash initialization" — NN-Descent converges
    * asymptotically (recall climbs per round), so like PageRank there
    * is no finite fixpoint to stop at. */
  final val KnnK = 10
  final val KnnRounds = 4

  /** s17: distributed k-NN-GRAPH construction via NN-Descent (Dong,
    * Moses & Li 2011) — the missing graph-ANN primitive: the k-NN
    * graph is the input every graph-based index (HNSW class) builds
    * on, the backbone of semantic-dedup clustering (d12 reads exact
    * neighborhoods; this is its corpus-scale path), and a UMAP/
    * spectral preprocessing staple. The principle: "a neighbor of a
    * neighbor is likely a neighbor" — start from a deterministic
    * random graph and iteratively score each node's neighbors-of-
    * neighbors, keeping the best k.
    *
    * Per round: (1) reverse edges, capped at k per node by (score,
    * id) — the paper's reverse sampling, and the hub cap that keeps a
    * popular vector from quadratic fan-out; (2) the LOCAL JOIN: every
    * ordered pair inside B(w) = kNN(w) ∪ kNN⁻¹(w) becomes a candidate
    * edge in BOTH directions — ≤ C(2k,2) pairs per center, k²-bounded;
    * (3) score the DISTINCT new pairs once (round-9 cosine on the
    * native expression); (4) each node keeps top-k of old ∪ new by
    * (score desc, id). Everything is (n · k²)-bounded per round — the
    * corpus-scale work is the embedding re-attach joins, never an n²
    * pair table (that table exists only in s1's exact baseline and the
    * oracle).
    *
    * Determinism: ids are integers; scores ride the round-9 grid with
    * id tie-breaks everywhere a rank is taken (init hash is the repo's
    * Knuth lattice). Recall vs s1's exact top-k is spec-gated.
    *
    * 100 TB: the per-round candidate volume is n·4k² rows of 3 columns
    * — linear in corpus, k² in the dial; embedding joins shuffle on
    * vec_id (AQE skew-split applies); no broadcast of anything
    * corpus-sized; rounds are the published recall/cost dial. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraph(Tables.parallel(Tables.load(spark, dir, "embeddings")),
      KnnK, KnnRounds)

  def knnGraph(e: DataFrame, k: Int, rounds: Int): DataFrame =
    knnGraphFormat(knnGraphEdges(e, k, rounds))

  /** Output formatting over an already-built (v, u, s) edge frame —
    * split out so the driver can build the index ONCE and reuse it
    * across the s17/s18/s22 entries (the production shape: one build,
    * many searches; `graft.Memo.ann`). */
  def knnGraphFormat(cur: DataFrame): DataFrame = {
    val wOut = org.apache.spark.sql.expressions.Window
      .partitionBy("v").orderBy(col("s").desc, col("u"))
    cur.withColumn("nbr_rank", row_number().over(wOut))
      .select(col("v").as("vec_id"), col("nbr_rank"), col("u").as("nbr_id"),
        graft.GraftFunctions.roundz(col("s"), 6).as("score"))
      .orderBy("vec_id", "nbr_rank")
  }

  /** The refined, CHECKPOINTED (v, u, s) edge frame behind
    * [[knnGraph]] — s18 searches it directly, skipping the output
    * formatting/sort re-materialization. */
  def knnGraphEdges(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0, s"s17 needs k >= 1, rounds >= 0")
    val spark = e.sparkSession
    val vecs = graft.Ckpt(e.select(col("vec_id"), col("embedding")))
    val h = vecs.agg(count(lit(1)), min(col("vec_id")),
      max(col("vec_id"))).head()
    val n = h.getLong(0)
    require(n > k, s"s17 needs more than k=$k vectors, got $n")
    require(h.getLong(1) == 0L && h.getLong(2) == n - 1,
      s"s17 hash init needs dense vec_ids 0..N-1, got " +
        s"[${h.get(1)}, ${h.get(2)}] of $n")
    // (v, u) -> (v, u, s): re-attach both embeddings, one round-9
    // cosine per DISTINCT pair
    def score(pairs: DataFrame): DataFrame = pairs
      .join(vecs.select(col("vec_id").as("v"), col("embedding").as("ev")), "v")
      .join(vecs.select(col("vec_id").as("u"), col("embedding").as("eu")), "u")
      .select(col("v"), col("u"),
        round(graft.GraftFunctions.cosineSim(spark, col("ev"), col("eu")), 9)
          .as("s"))
    // deterministic start: k Knuth-hash targets per node (self skipped,
    // collisions deduped — the paper's random init without the RNG)
    val init = vecs
      .select(col("vec_id").as("v"), explode(expr(s"sequence(1, $k)")).as("j"))
      .withColumn("u0", pmod(pmod(col("v") * 1000003L + col("j"),
        lit(1000000000L)) * lit(2654435761L), lit(2147483647L)) % n)
      .withColumn("u", when(col("u0") === col("v"),
        pmod(col("u0") + 1, lit(n))).otherwise(col("u0")))
      .select("v", "u").distinct()
    var cur = graft.Ckpt(score(init))
    for (_ <- 1 to rounds) {
      val wRev = org.apache.spark.sql.expressions.Window.partitionBy("u").orderBy(col("s").desc, col("v"))
      val rev = cur.withColumn("rr", row_number().over(wRev))
        .filter(col("rr") <= k)
        .select(col("u").as("v"), col("v").as("u"))
      val b = cur.select("v", "u").unionByName(rev).distinct()
      val pairs = b.as("x")
        .join(b.select(col("v"), col("u").as("w")).as("y"), "v")
        .filter(col("u") < col("w"))
        .select(col("u").as("v"), col("w").as("u")).distinct()
      val ns = score(pairs)
      val both = ns.unionByName(
        ns.select(col("u").as("v"), col("v").as("u"), col("s")))
      val wTop = org.apache.spark.sql.expressions.Window.partitionBy("v").orderBy(col("s").desc, col("u"))
      cur = graft.Ckpt(cur.unionByName(both)
        .groupBy("v", "u").agg(max(col("s")).as("s"))
        .withColumn("rnk", row_number().over(wTop))
        .filter(col("rnk") <= k)
        .select("v", "u", "s"))
    }
    cur
  }

  /** DuckDB oracle for [[knnGraph]] — the identical hash init and
    * round-unrolled refinement (rounds are FIXED by contract, so the
    * oracle is straight-line CTEs, no recursion), s1's norms/dots
    * scoring on the same round-9 grid. */
  def s17OracleSql(k: Int = KnnK, rounds: Int = KnnRounds,
      table: String = "embeddings"): String = {
    def scored(pairs: String): String = s"""
        SELECT p.v, p.u, round(dt / (nv.nrm * nu.nrm), 9) AS s
        FROM (
          SELECT v, u, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
          FROM (SELECT p0.v, p0.u, unnest(ev.embedding) AS x,
                  unnest(eu.embedding) AS y
                FROM $pairs p0
                JOIN $table ev ON ev.vec_id = p0.v
                JOIN $table eu ON eu.vec_id = p0.u)
          GROUP BY v, u) p
        JOIN norms nv ON nv.vec_id = p.v
        JOIN norms nu ON nu.vec_id = p.u"""
    val sb = new StringBuilder
    sb ++= s"""
      WITH nn AS (SELECT count(*) AS n FROM $table),
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM $table)
        GROUP BY vec_id),
      init AS (
        SELECT DISTINCT v,
          CASE WHEN u0 = v THEN (u0 + 1) % n ELSE u0 END AS u
        FROM (
          SELECT e.vec_id AS v, j,
            ((e.vec_id * 1000003 + j) % 1000000000) * 2654435761
              % 2147483647 % n AS u0, n
          FROM $table e, nn, generate_series(1, $k) t(j))),
      cur0 AS MATERIALIZED (${scored("init")})"""
    for (r <- 1 to rounds) {
      val p = r - 1
      sb ++= s""",
      rev$r AS (
        SELECT u AS v, v AS u FROM (
          SELECT v, u, row_number() OVER (
            PARTITION BY u ORDER BY s DESC, v) AS rr
          FROM cur$p) WHERE rr <= $k),
      b$r AS (
        SELECT DISTINCT v, u FROM (
          SELECT v, u FROM cur$p UNION ALL SELECT v, u FROM rev$r)),
      pairs$r AS (
        SELECT DISTINCT x.u AS v, y.u AS u
        FROM b$r x JOIN b$r y ON x.v = y.v AND x.u < y.u),
      ns$r AS MATERIALIZED (${scored(s"pairs$r")}),
      cur$r AS MATERIALIZED (
        SELECT v, u, s FROM (
          SELECT v, u, s, row_number() OVER (
            PARTITION BY v ORDER BY s DESC, u) AS rnk
          FROM (SELECT v, u, max(s) AS s FROM (
            SELECT v, u, s FROM cur$p
            UNION ALL SELECT v, u, s FROM ns$r
            UNION ALL SELECT u AS v, v AS u, s FROM ns$r)
            GROUP BY v, u))
        WHERE rnk <= $k)"""
    }
    sb ++= s"""
      SELECT v AS vec_id,
        CAST(row_number() OVER (PARTITION BY v ORDER BY s DESC, u)
          AS INT) AS nbr_rank,
        u AS nbr_id, (round(s, 6) + 0.0) AS score
      FROM cur$rounds
      ORDER BY vec_id, nbr_rank"""
    sb.toString
  }

  /** Beam width and hop count for [[graphSearch]]. FIXED BY CONTRACT
    * (the s17/g1 class): the query semantics are "the best k found by
    * a [[SearchBeam]]-wide beam after exactly [[SearchHops]]
    * expansions from the fixed entry point". */
  final val SearchBeam = 10
  final val SearchHops = 4

  /** s18: GRAPH-ANN SEARCH over the s17 k-NN graph — the query half
    * of the graph-ANN pair (s17 builds the index, this searches it;
    * together they are the HNSW-class pattern minus the hierarchy):
    * greedy beam search from a fixed entry node — per hop, expand the
    * current beam's out-neighbors, score the UNSEEN candidates
    * against the query (round-9 native cosine, self excluded), and
    * keep the best [[SearchBeam]] of everything seen; after
    * [[SearchHops]] hops emit the best [[AnnK]]. The returned frame is
    * s1's exact shape, so recall is directly measurable (s10's
    * machinery; spec-gated here).
    *
    * Scale shape: the graph build is s17's (n·k²-bounded rounds); the
    * search itself touches per query ≤ beam·k new candidates per hop —
    * the whole point vs s1's full scan: candidate volume is
    * (queries × beam × k × hops), INDEPENDENT of corpus size. The
    * anti-join against the visited set keeps every pair scored once.
    *
    * Determinism: integer ids, round-9 scores, id tie-breaks on every
    * beam cut; the entry point is node 0 (node 1 for query 0), so the
    * whole trajectory is a pure function of the embeddings. */
  def graphSearch(spark: SparkSession, dir: String): DataFrame =
    graphSearch(Tables.parallel(Tables.load(spark, dir, "embeddings")),
      KnnK, KnnRounds, SearchBeam, SearchHops)

  def graphSearch(e: DataFrame, k: Int, rounds: Int, beam: Int,
      hops: Int): DataFrame =
    graphSearchOn(e, knnGraphEdges(e, k, rounds), beam, hops)

  /** [[graphSearch]] over an already-built (v, u, s) edge frame —
    * the reuse entry for a shared index (SparkEntry memoizes the
    * checkpointed build across s17/s18/s22). */
  def graphSearchOn(e: DataFrame, edges: DataFrame, beam: Int,
      hops: Int): DataFrame = {
    require(beam >= 1 && hops >= 0, "s18 needs beam >= 1, hops >= 0")
    // the edge frame is already checkpointed inside the build — no
    // second materialization, no output sort
    val graph = edges.select(col("v").as("gv"), col("u").as("gu"))
    val vecs = graft.Ckpt(e.select(col("vec_id"), col("embedding")))
    val queries = broadcast(vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val entry = queries.select(col("q_id"))
      .withColumn("c_id", when(col("q_id") === 0L, 1L).otherwise(0L))
    val visited = beamCore(vecs, graph, queries, entry, beam, hops)
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("s").desc, col("c_id"))
    visited.withColumn("rnk", row_number().over(wB))
      .filter(col("rnk") <= AnnK)
      .select(col("q_id"), col("c_id"), col("rnk"),
        graft.GraftFunctions.roundz(col("s"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** The greedy-beam engine shared by s18 (flat graph, fixed entry)
    * and s22 (per-query entry from the coarse layer): per hop, expand
    * the beam's out-neighbors over `graph`, score UNSEEN candidates
    * once (round-9 native cosine, self excluded), keep the best `beam`
    * of everything seen. Returns the full visited (q_id, c_id, s)
    * frame. Factored out of [[graphSearch]] in r17 — s18 re-verified
    * bitwise after the refactor. */
  private def beamCore(vecs: DataFrame, graph: DataFrame,
      queries: DataFrame, entry0: DataFrame, beam: Int,
      hops: Int): DataFrame = {
    val spark = vecs.sparkSession
    def scoreCand(c: DataFrame): DataFrame = c
      .filter(col("q_id") =!= col("c_id"))
      .join(vecs.select(col("vec_id").as("c_id"), col("embedding").as("cv")),
        "c_id")
      .join(queries, "q_id")
      .select(col("q_id"), col("c_id"),
        round(graft.GraftFunctions.cosineSim(spark, col("qv"), col("cv")), 9)
          .as("s"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("s").desc, col("c_id"))
    var visited = graft.Ckpt(scoreCand(entry0.select("q_id", "c_id")))
    var frontier = visited
    for (_ <- 1 to hops) {
      val expand = frontier
        .join(graph, col("c_id") === col("gv"))
        .select(col("q_id"), col("gu").as("c_id")).distinct()
        .join(visited.select("q_id", "c_id"), Seq("q_id", "c_id"),
          "left_anti")
      // visited is re-referenced next hop on BOTH sides (the frontier
      // window and the anti-join), so it must be checkpointed per hop
      // — an un-broken lineage makes the self-reference ambiguous
      visited = graft.Ckpt(visited.unionByName(scoreCand(expand)))
      // the beam is one bounded window over visited — no checkpoint
      frontier = visited
        .withColumn("r", row_number().over(wB)).filter(col("r") <= beam)
        .select("q_id", "c_id", "s")
    }
    visited
  }

  /** DuckDB oracle for [[graphSearch]] — the s17 oracle as the graph,
    * then hop-unrolled beam CTEs on the identical grid. */
  def s18OracleSql(k: Int = KnnK, rounds: Int = KnnRounds,
      beam: Int = SearchBeam, hops: Int = SearchHops): String = {
    def scored(pairs: String): String = s"""
        SELECT p.q_id, p.c_id, round(dt / (nq.nrm * nc.nrm), 9) AS s
        FROM (
          SELECT q_id, c_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
          FROM (SELECT p0.q_id, p0.c_id, unnest(eq.embedding) AS x,
                  unnest(ec.embedding) AS y
                FROM $pairs p0
                JOIN embeddings eq ON eq.vec_id = p0.q_id
                JOIN embeddings ec ON ec.vec_id = p0.c_id)
          GROUP BY q_id, c_id) p
        JOIN norms nq ON nq.vec_id = p.q_id
        JOIN norms nc ON nc.vec_id = p.c_id"""
    val sb = new StringBuilder
    sb ++= s"""
      WITH norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
        GROUP BY vec_id),
      graph AS MATERIALIZED (
        SELECT vec_id AS v, nbr_id AS u
        FROM (${s17OracleSql(k, rounds)})),
      entry AS (
        SELECT vec_id AS q_id,
          CASE WHEN vec_id = 0 THEN 1 ELSE 0 END AS c_id
        FROM embeddings WHERE vec_id < 5),
      vis0 AS MATERIALIZED (${scored("entry")}),
      front0 AS (SELECT q_id, c_id, s FROM vis0)"""
    for (h <- 1 to hops) {
      val p = h - 1
      sb ++= s""",
      exp$h AS (
        SELECT DISTINCT f.q_id, g.u AS c_id
        FROM front$p f JOIN graph g ON g.v = f.c_id
        WHERE g.u <> f.q_id
          AND NOT EXISTS (SELECT 1 FROM vis$p v
                          WHERE v.q_id = f.q_id AND v.c_id = g.u)),
      ns$h AS MATERIALIZED (${scored(s"exp$h")}),
      vis$h AS MATERIALIZED (
        SELECT q_id, c_id, s FROM vis$p
        UNION ALL SELECT q_id, c_id, s FROM ns$h),
      front$h AS (
        SELECT q_id, c_id, s FROM (
          SELECT q_id, c_id, s, row_number() OVER (
            PARTITION BY q_id ORDER BY s DESC, c_id) AS r
          FROM vis$h) WHERE r <= $beam)"""
    }
    sb ++= s"""
      SELECT q_id, c_id,
        CAST(row_number() OVER (PARTITION BY q_id ORDER BY s DESC, c_id)
          AS INT) AS rnk_all, s
      FROM vis$hops"""
    s"""
      SELECT q_id, c_id, rnk_all AS rnk, (round(s, 6) + 0.0) AS score
      FROM (${sb.toString}) t
      WHERE rnk_all <= $AnnK
      ORDER BY q_id, rnk"""
  }

  /** s22 hierarchy parameters: a vector joins the COARSE layer when
    * its Knuth hash lands on residue 0 mod [[CoarseMod]] (HNSW's
    * geometric level assignment, derandomized — ~1/CoarseMod of the
    * corpus); the coarse beam is deliberately narrower than the base
    * beam (its only job is routing the entry point). */
  final val CoarseMod = 8
  final val CoarseBeam = 4
  final val CoarseHops = 3

  /** s22: HNSW-STYLE HIERARCHICAL GRAPH SEARCH — the hierarchy s18
    * deliberately lacked (Malkov & Yashunin 2018, two-layer form):
    * a deterministic hash selects ~1/[[CoarseMod]] of the vectors into
    * a COARSE layer with its OWN NN-Descent graph (s17's machinery on
    * the densely re-indexed subset); each query first beam-searches
    * the coarse layer from its fixed entry to find the best coarse
    * node, then beam-searches the BASE k-NN graph starting there. The
    * point of the hierarchy: the base search starts NEAR the query
    * instead of at a fixed node, so a query far from node 0 — or in a
    * component node 0's beam cannot reach — is routed correctly
    * (spec plants exactly that failure: two well-separated clusters
    * where s18's fixed entry strands the beam in the wrong cluster).
    *
    * Per-query cost: coarse (1 + CoarseHops·CoarseBeam·k) + base
    * (1 + hops·beam·k) candidates — corpus-size-independent given the
    * index, and the coarse layer's graph build is the s17 contract on
    * an n/CoarseMod subset. Both searches share [[beamCore]]
    * (factored from s18; s18 re-verified bitwise).
    *
    * Determinism: the layer assignment is the repo's Knuth lattice;
    * the coarse subset re-indexes densely by vec_id rank (s17's init
    * needs dense ids) and maps back; entries, beams, and ranks all
    * tie-break on ids; scores ride the round-9 grid. */
  def hnswSearch(spark: SparkSession, dir: String): DataFrame =
    hnswSearch(Tables.parallel(Tables.load(spark, dir, "embeddings")),
      KnnK, KnnRounds, SearchBeam, SearchHops)

  def hnswSearch(e: DataFrame, k: Int, rounds: Int, beam: Int,
      hops: Int): DataFrame =
    hnswSearchOn(e, knnGraphEdges(e, k, rounds), k, rounds, beam, hops)

  /** The coarse-layer map: hash-selected subset, densely re-indexed
    * by id rank (s17's init contract). */
  private def coarseMap(vecs: DataFrame): DataFrame = {
    val wIdx = org.apache.spark.sql.expressions.Window.orderBy("orig")
    graft.Ckpt(vecs
      .filter(pmod(pmod(col("vec_id") * 1000003L + 1L, lit(1000000000L))
        * lit(2654435761L), lit(2147483647L)) % CoarseMod === 0)
      .select(col("vec_id").as("orig"), col("embedding"))
      .withColumn("cid", (row_number().over(wIdx) - 1).cast("long")))
  }

  /** The s22 coarse-layer INDEX: NN-Descent over the hash-selected
    * subset, edges mapped back to original ids, checkpointed — the
    * index artifact a production deployment builds once beside the
    * base graph (`graft.Memo.s22Coarse`, owned by s17 like the base
    * edges, so warm searches pay only the search). */
  def hnswCoarseEdges(e: DataFrame, k: Int = KnnK,
      rounds: Int = KnnRounds): DataFrame = {
    val cmap = coarseMap(e.select(col("vec_id"), col("embedding")))
    val cGraphDense = knnGraphEdges(
      cmap.select(col("cid").as("vec_id"), col("embedding")), k, rounds)
    graft.Ckpt(cGraphDense
      .join(cmap.select(col("cid").as("v"), col("orig").as("gv")), "v")
      .join(cmap.select(col("cid").as("u"), col("orig").as("gu")), "u")
      .select("gv", "gu"))
  }

  /** [[hnswSearch]] over an already-built BASE-layer (v, u, s) edge
    * frame; `coarseEdges0` optionally supplies a prebuilt coarse
    * index ([[hnswCoarseEdges]]) — null rebuilds it inline. */
  def hnswSearchOn(e: DataFrame, baseEdges: DataFrame, k: Int,
      rounds: Int, beam: Int, hops: Int,
      coarseEdges0: DataFrame = null): DataFrame = {
    require(beam >= 1 && hops >= 0, "s22 needs beam >= 1, hops >= 0")
    val vecs = graft.Ckpt(e.select(col("vec_id"), col("embedding")))
    val queries = broadcast(vecs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    // coarse layer: the prebuilt index, or the inline rebuild (the
    // cmap rides along either way — the entry point needs cid 0/1)
    val cmap = coarseMap(vecs)
    val cGraph =
      if (coarseEdges0 != null) coarseEdges0
      else {
        val cGraphDense = knnGraphEdges(
          cmap.select(col("cid").as("vec_id"), col("embedding")), k, rounds)
        cGraphDense
          .join(cmap.select(col("cid").as("v"), col("orig").as("gv")), "v")
          .join(cmap.select(col("cid").as("u"), col("orig").as("gu")), "u")
          .select("gv", "gu")
      }
    // coarse entry: the smallest-id coarse node (next one if it IS
    // the query — scoring excludes self, so the beam must not start
    // there)
    val ent01 = broadcast(cmap.filter(col("cid") <= 1)
      .agg(max(when(col("cid") === 0, col("orig"))).as("e0"),
        max(when(col("cid") === 1, col("orig"))).as("e1")))
    val coarseEntry = queries.select(col("q_id")).crossJoin(ent01)
      .select(col("q_id"), when(col("e0") === col("q_id"), col("e1"))
        .otherwise(col("e0")).as("c_id"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("s").desc, col("c_id"))
    val coarseBest = beamCore(vecs, cGraph, queries, coarseEntry,
      CoarseBeam, CoarseHops)
      .withColumn("r", row_number().over(wB)).filter(col("r") === 1)
      .select("q_id", "c_id")
    // base layer: s17's full graph, beam from the routed entry
    val baseGraph = baseEdges.select(col("v").as("gv"), col("u").as("gu"))
    beamCore(vecs, baseGraph, queries, coarseBest, beam, hops)
      .withColumn("rnk", row_number().over(wB))
      .filter(col("rnk") <= AnnK)
      .select(col("q_id"), col("c_id"), col("rnk"),
        graft.GraftFunctions.roundz(col("s"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB oracle for [[hnswSearch]] — the identical hash layer
    * assignment and dense re-index, the s17 oracle run on BOTH the
    * coarse subset and the full corpus (each in its own nested WITH
    * scope), and two hop-unrolled beam stages on the shared grid. */
  def s22OracleSql(k: Int = KnnK, rounds: Int = KnnRounds,
      beam: Int = SearchBeam, hops: Int = SearchHops): String = {
    def scored(pairs: String): String = s"""
        SELECT p.q_id, p.c_id, round(dt / (nq.nrm * nc.nrm), 9) AS s
        FROM (
          SELECT q_id, c_id, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
          FROM (SELECT p0.q_id, p0.c_id, unnest(eq.embedding) AS x,
                  unnest(ec.embedding) AS y
                FROM $pairs p0
                JOIN embeddings eq ON eq.vec_id = p0.q_id
                JOIN embeddings ec ON ec.vec_id = p0.c_id)
          GROUP BY q_id, c_id) p
        JOIN norms nq ON nq.vec_id = p.q_id
        JOIN norms nc ON nc.vec_id = p.c_id"""
    def beamSql(tag: String, graphCte: String, entryCte: String,
        bw: Int, nh: Int): String = {
      val sb = new StringBuilder
      sb ++= s"""
      ${tag}vis0 AS MATERIALIZED (${scored(entryCte)}),
      ${tag}front0 AS (SELECT q_id, c_id, s FROM ${tag}vis0)"""
      for (h <- 1 to nh) {
        val p = h - 1
        sb ++= s""",
      ${tag}exp$h AS (
        SELECT DISTINCT f.q_id, g.gu AS c_id
        FROM ${tag}front$p f JOIN $graphCte g ON g.gv = f.c_id
        WHERE g.gu <> f.q_id
          AND NOT EXISTS (SELECT 1 FROM ${tag}vis$p v
                          WHERE v.q_id = f.q_id AND v.c_id = g.gu)),
      ${tag}ns$h AS MATERIALIZED (${scored(s"${tag}exp$h")}),
      ${tag}vis$h AS MATERIALIZED (
        SELECT q_id, c_id, s FROM ${tag}vis$p
        UNION ALL SELECT q_id, c_id, s FROM ${tag}ns$h),
      ${tag}front$h AS (
        SELECT q_id, c_id, s FROM (
          SELECT q_id, c_id, s, row_number() OVER (
            PARTITION BY q_id ORDER BY s DESC, c_id) AS r
          FROM ${tag}vis$h) WHERE r <= $bw)"""
      }
      sb.toString
    }
    s"""
      WITH norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
        GROUP BY vec_id),
      cmap AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
            AS cid, vec_id AS orig, embedding
        FROM embeddings
        WHERE ((vec_id * 1000003 + 1) % 1000000000) * 2654435761
          % 2147483647 % $CoarseMod = 0),
      cemb AS (SELECT cid AS vec_id, embedding FROM cmap),
      cgraph AS MATERIALIZED (
        SELECT mv.orig AS gv, mu.orig AS gu
        FROM (SELECT vec_id AS v, nbr_id AS u
              FROM (${s17OracleSql(k, rounds, "cemb")})) g
        JOIN cmap mv ON mv.cid = g.v
        JOIN cmap mu ON mu.cid = g.u),
      ent01 AS (
        SELECT max(CASE WHEN cid = 0 THEN orig END) AS e0,
          max(CASE WHEN cid = 1 THEN orig END) AS e1
        FROM cmap WHERE cid <= 1),
      centry AS (
        SELECT vec_id AS q_id,
          CASE WHEN e0 = vec_id THEN e1 ELSE e0 END AS c_id
        FROM embeddings, ent01 WHERE vec_id < 5),
      ${beamSql("c", "cgraph", "centry", CoarseBeam, CoarseHops)},
      bentry AS (
        SELECT q_id, c_id FROM (
          SELECT q_id, c_id, row_number() OVER (
            PARTITION BY q_id ORDER BY s DESC, c_id) AS r
          FROM cvis$CoarseHops) WHERE r = 1),
      bgraph AS MATERIALIZED (
        SELECT vec_id AS gv, nbr_id AS gu
        FROM (${s17OracleSql(k, rounds)})),
      ${beamSql("b", "bgraph", "bentry", beam, hops)}
      SELECT q_id, c_id,
        CAST(rnk_all AS INT) AS rnk, (round(s, 6) + 0.0) AS score
      FROM (
        SELECT q_id, c_id, s, row_number() OVER (
          PARTITION BY q_id ORDER BY s DESC, c_id) AS rnk_all
        FROM bvis$hops) t
      WHERE rnk_all <= $AnnK
      ORDER BY q_id, rnk"""
  }

  /** s21: IVF-PQ — the canonical large-scale vector index (the
    * faiss/SCaNN default): coarse-quantize with s3's IVF cells, then
    * product-quantize each member's RESIDUAL x − centroid (s4's
    * machinery on the residual space). Residual encoding is the whole
    * trick ON CLUSTERED DATA: residuals concentrate near the origin,
    * so the SAME ks codewords cover them more densely than raw
    * vectors — better distance fidelity at identical memory. (On this
    * NEAR-UNIFORM synthetic corpus the advantage measurably vanishes
    * — spec-recorded, not overclaimed; what the operator contributes
    * here is the canonical index SHAPE, bit-exactly verified.) Queries
    * probe nProbe cells (s3's rule) and ADC-score members with a
    * PER-(query, cell) residual table, since the query's residual
    * differs per probed cell.
    *
    * Determinism: the residual arithmetic is float→double exact
    * subtraction; encode is the native [[graft.functions.expressions
    * .EuclidArgmin]] (zero-shuffle projection, index-order (x−c)²
    * folds); ADC sums fold subspaces in index order — every double
    * reproduced bit-for-bit by the oracle (s4's discipline). The
    * residual codebook is the s4 bounded-ks driver materialization,
    * the one sanctioned `.collect()` class.
    *
    * Scale: encode is corpus-linear and shuffle-free on top of the
    * one ivfAssign exchange; the query side touches nProbe/kCells of
    * the corpus (assignment written partitioned by cell at scale —
    * s3's proven layout); per-candidate cost is nSub table lookups. */
  def ivfPq(spark: SparkSession, dir: String): DataFrame =
    ivfPq(Tables.parallel(Tables.load(spark, dir, "embeddings")),
      16, 4, 4, 16, AnnK)

  def ivfPq(e: DataFrame, kCells: Int, nProbe: Int, nSub: Int, ks: Int,
      k: Int): DataFrame = {
    val spark = e.sparkSession
    val centroids = ivfCentroids(e, kCells)
    val assigned = ivfAssign(e, centroids)
    val withRes = graft.Ckpt(assigned.join(centroids, "cell")
      .select(col("c_id"), col("cell"),
        zip_with(col("cv"), col("centv"),
          (x, c) => x.cast("double") - c.cast("double")).as("rv")))
    // residual codebook: the ks smallest-hash members' residuals
    // (s4's bounded driver materialization)
    val cbFull: Seq[Seq[Double]] = withRes
      .withColumn("hsh", pmod(pmod(col("c_id"), lit(1000000000L))
        * lit(2654435761L), lit(2147483647L)))
      .orderBy("hsh", "c_id").limit(ks)
      .collect().map(_.getSeq[Double](2).toSeq).toSeq
    val dim = cbFull.head.length
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    val sub = dim / nSub
    def cb(s: Int): Seq[Seq[Double]] =
      cbFull.map(v => v.slice(s * sub, (s + 1) * sub))
    val codes = (0 until nSub).map(s =>
      graft.GraftFunctions.euclidArgmin(
        slice(col("rv"), s * sub + 1, sub), cb(s)))
    val encoded = withRes.select(col("c_id"), col("cell"),
      array(codes: _*).as("codes"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("csim").desc, col("cell"))
    val probesR = queries.crossJoin(centroids)
      .withColumn("csim",
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("centv")))
      .withColumn("crnk", row_number().over(wProbe))
      .filter(col("crnk") <= nProbe)
      .select(col("q_id"), col("cell"),
        zip_with(col("qv"), col("centv"),
          (x, c) => x.cast("double") - c.cast("double")).as("qrv"))
    // per-(query, probed cell) ADC table, subspace-major
    val tableEntries: Seq[Column] =
      for (s <- 0 until nSub; c <- 0 until ks) yield
        aggregate(
          zip_with(slice(col("qrv"), s * sub + 1, sub), typedLit(cb(s)(c)),
            (x, cc) => (x - cc) * (x - cc)),
          lit(0.0), (acc, v) => acc + v)
    val qtabs = broadcast(probesR
      .select(col("q_id"), col("cell"), array(tableEntries: _*).as("tbl")))
    val scored = qtabs.join(encoded, Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        aggregate(sequence(lit(0), lit(nSub - 1)), lit(0.0),
          (acc, s) => acc + element_at(col("tbl"),
            (s * ks + element_at(col("codes"), s + 1) + 1).cast("int")))
          .as("approx_d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("approx_d2"), col("c_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("rnk"),
        round(col("approx_d2"), 6).as("approx_d2"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB oracle for [[ivfPq]] — s3's cell/assignment/probe CTEs,
    * residuals, s4's codebook/encode/ADC shape on the residual
    * space (per-pair sums fold s-sorted, matching the index-order
    * Spark fold). */
  def s21OracleSql(kCells: Int = 16, nProbe: Int = 4, nSub: Int = 4,
      ks: Int = 16, k: Int = AnnK, dim: Int = 64): String = {
    val sub = dim / nSub
    s"""
      WITH sel AS (
        SELECT vec_id, embedding,
          ((vec_id % 1000000000) * 2654435761) % 2147483647 AS hsh
        FROM embeddings),
      cent AS (
        SELECT cell, centv FROM (
          SELECT row_number() OVER (ORDER BY hsh, vec_id) AS cell,
                 embedding AS centv
          FROM sel ORDER BY hsh, vec_id LIMIT $kCells) t),
      norms AS (
        SELECT vec_id, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
        GROUP BY vec_id),
      cnorm AS (
        SELECT cell, sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nrm
        FROM (SELECT cell, unnest(centv) AS x FROM cent) GROUP BY cell),
      adots AS (
        SELECT c_id, cell, sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt
        FROM (SELECT e.vec_id AS c_id, c.cell, unnest(e.embedding) AS x,
                unnest(c.centv) AS y
              FROM embeddings e, cent c) GROUP BY c_id, cell),
      assign AS (
        SELECT c_id, cell FROM (
          SELECT a.c_id, a.cell,
            row_number() OVER (PARTITION BY a.c_id
              ORDER BY a.dt / (n.nrm * cn.nrm) DESC, a.cell) AS rn
          FROM adots a
          JOIN norms n ON n.vec_id = a.c_id
          JOIN cnorm cn ON cn.cell = a.cell) t
        WHERE rn = 1),
      resid AS MATERIALIZED (
        SELECT a.c_id, a.cell,
          list_transform(generate_series(1, $dim), i ->
            CAST(e.embedding[i] AS DOUBLE) - CAST(c.centv[i] AS DOUBLE))
            AS rv
        FROM assign a
        JOIN embeddings e ON e.vec_id = a.c_id
        JOIN cent c ON c.cell = a.cell),
      cb AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY hsh, c_id) AS INT) - 1
            AS code, rv
        FROM (
          SELECT r.c_id, r.rv,
            ((r.c_id % 1000000000) * 2654435761) % 2147483647 AS hsh
          FROM resid r ORDER BY hsh, c_id LIMIT $ks) t),
      cdm AS MATERIALIZED (
        SELECT r.c_id, r.cell, s.s, cb.code,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, $sub), ii ->
              (r.rv[CAST(s.s * $sub + ii AS INT)]
                 - cb.rv[CAST(s.s * $sub + ii AS INT)])
              * (r.rv[CAST(s.s * $sub + ii AS INT)]
                 - cb.rv[CAST(s.s * $sub + ii AS INT)]))),
            (acc, x) -> acc + x) AS d2
        FROM resid r, generate_series(0, ${nSub - 1}) AS s(s), cb),
      codes AS (
        SELECT c_id, cell, s, code FROM (
          SELECT c_id, cell, s, code,
            row_number() OVER (PARTITION BY c_id, s ORDER BY d2, code) AS rn
          FROM cdm) t
        WHERE rn = 1),
      probes AS (
        SELECT q_id, cell FROM (
          SELECT a.c_id AS q_id, a.cell,
            row_number() OVER (PARTITION BY a.c_id
              ORDER BY a.dt / (n.nrm * cn.nrm) DESC, a.cell) AS rn
          FROM adots a
          JOIN norms n ON n.vec_id = a.c_id
          JOIN cnorm cn ON cn.cell = a.cell
          WHERE a.c_id < 5) t
        WHERE rn <= $nProbe),
      qres AS (
        SELECT p.q_id, p.cell,
          list_transform(generate_series(1, $dim), i ->
            CAST(e.embedding[i] AS DOUBLE) - CAST(c.centv[i] AS DOUBLE))
            AS qrv
        FROM probes p
        JOIN embeddings e ON e.vec_id = p.q_id
        JOIN cent c ON c.cell = p.cell),
      qd AS (
        SELECT q.q_id, q.cell, s.s, cb.code,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, $sub), ii ->
              (q.qrv[CAST(s.s * $sub + ii AS INT)]
                 - cb.rv[CAST(s.s * $sub + ii AS INT)])
              * (q.qrv[CAST(s.s * $sub + ii AS INT)]
                 - cb.rv[CAST(s.s * $sub + ii AS INT)]))),
            (acc, x) -> acc + x) AS d2
        FROM qres q, generate_series(0, ${nSub - 1}) AS s(s), cb),
      scored AS (
        SELECT q.q_id, c.c_id,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_sort(list(struct_pack(s := q.s, d := q.d2))),
              y -> y['d'])),
            (acc, x) -> acc + x) AS approx_d2
        FROM qd q
        JOIN codes c ON c.cell = q.cell AND c.s = q.s AND c.code = q.code
        WHERE c.c_id <> q.q_id
        GROUP BY q.q_id, c.c_id),
      ranked AS (
        SELECT q_id, c_id, approx_d2,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY approx_d2, c_id) AS INT) AS rnk
        FROM scored)
      SELECT q_id, c_id, rnk, round(approx_d2, 6) AS approx_d2
      FROM ranked WHERE rnk <= $k ORDER BY q_id, rnk"""
  }

  /** Candidate pool per query for [[bqHamming]]'s exact rerank. */
  final val BqCandidates = 50

  /** s20: BINARY-QUANTIZED ANN (sign bits + Hamming) — the modern
    * cheap first stage every large vector store ships: quantize each
    * 64-dim embedding to its SIGN BITS (one bit per dimension — the
    * whole vector becomes two 32-bit words), generate candidates by
    * HAMMING distance (two XOR+popcount ops per pair — a 32×
    * bandwidth/compute cut vs float cosine), then exact-rerank only
    * the [[BqCandidates]]-deep pool. The asymmetric two-stage shape
    * is s6's; the quantizer is 1-bit where s11's SQ is 8-bit.
    *
    * Determinism: the packed words are exact integers (in-row
    * index-order folds); Hamming is integer; candidate rank breaks
    * ties by id; the rerank is s1's round-6 cosine grid.
    *
    * Scale: the Hamming scan is the same corpus×queries fan-out as s1
    * but moves 8 bytes/vector instead of 256 and does 2 popcounts
    * instead of a 64-term fused fold — at 100 TB the packed sketch
    * column (0.8 GB per 10⁸ vectors) rides a parquet projection the
    * scan prunes to; only candidate rows touch the float vectors. */
  def bqHamming(spark: SparkSession, dir: String): DataFrame =
    bqHamming(Tables.parallel(Tables.load(spark, dir, "embeddings")))

  /** The sign-bit packer — two exact 32-bit words per 64-dim vector
    * (a single 64-bit fold would overflow DuckDB's checked BIGINT
    * multiply at bit 63; two halves keep both engines exact). */
  def withBqWords(e: DataFrame): DataFrame = {
    def pack(lo: Int): Column = expr(
      s"aggregate(slice(embedding, $lo, 32), CAST(0 AS BIGINT), " +
        "(acc, x) -> acc * 2 + IF(x >= 0, CAST(1 AS BIGINT), CAST(0 AS BIGINT)))")
    e.withColumn("b1", pack(1)).withColumn("b2", pack(33))
  }

  def bqHamming(e: DataFrame, k: Int = AnnK,
      cand: Int = BqCandidates): DataFrame = {
    val spark = e.sparkSession
    val packed = withBqWords(e)
    val queries = broadcast(packed.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("b1").as("qb1"), col("b2").as("qb2")))
    val corpus = packed.select(col("vec_id").as("c_id"),
      col("embedding").as("cv"), col("b1").as("cb1"), col("b2").as("cb2"))
    val scored = queries.join(corpus, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), col("qv"), col("cv"),
        (bit_count(expr("qb1 ^ cb1")) + bit_count(expr("qb2 ^ cb2")))
          .cast("long").as("hamming"))
    val wH = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("hamming"), col("c_id"))
    val candidates = scored.withColumn("hrnk", row_number().over(wH))
      .filter(col("hrnk") <= cand)
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("c_id"))
    candidates
      .withColumn("cos",
        graft.GraftFunctions.cosineSim(spark, col("qv"), col("cv")))
      .withColumn("rnk", row_number().over(wC))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("c_id"), col("rnk"), col("hamming"),
        graft.GraftFunctions.roundz(col("cos"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB oracle for [[bqHamming]] — identical two-word sign packs,
    * xor/bit_count Hamming, candidate rank, and s1's rerank CTEs
    * restricted to the candidate pool. */
  def s20OracleSql(k: Int = AnnK, cand: Int = BqCandidates): String = s"""
      WITH packed AS MATERIALIZED (
        SELECT vec_id, embedding,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(embedding[1:32],
              x -> CAST(CASE WHEN x >= 0 THEN 1 ELSE 0 END AS BIGINT))),
            (acc, b) -> acc * 2 + b) AS b1,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(embedding[33:64],
              x -> CAST(CASE WHEN x >= 0 THEN 1 ELSE 0 END AS BIGINT))),
            (acc, b) -> acc * 2 + b) AS b2
        FROM embeddings),
      ham AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          q.embedding AS qv, c.embedding AS cv,
          CAST(bit_count(xor(q.b1, c.b1))
            + bit_count(xor(q.b2, c.b2)) AS BIGINT) AS hamming
        FROM packed q, packed c
        WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
      cands AS (
        SELECT * FROM (
          SELECT q_id, c_id, qv, cv, hamming,
            row_number() OVER (PARTITION BY q_id
              ORDER BY hamming, c_id) AS hrnk
          FROM ham) t
        WHERE hrnk <= $cand),
      dots AS (
        SELECT q_id, c_id, hamming,
          sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dt,
          sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS nq,
          sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS nc
        FROM (SELECT q_id, c_id, hamming, unnest(qv) AS x, unnest(cv) AS y
              FROM cands)
        GROUP BY q_id, c_id, hamming),
      ranked AS (
        SELECT q_id, c_id, hamming, dt / (nq * nc) AS cos,
          CAST(row_number() OVER (PARTITION BY q_id
            ORDER BY dt / (nq * nc) DESC, c_id) AS INT) AS rnk
        FROM dots)
      SELECT q_id, c_id, rnk, hamming, (round(cos, 6) + 0.0) AS score
      FROM ranked WHERE rnk <= $k ORDER BY q_id, rnk"""

  /** s19: PCA OF THE EMBEDDING CORPUS — top-2 principal components of
    * the 64-dim embedding cloud, the standard pre-ANN diagnostics/
    * whitening step (an embedding drift check is "did the PC basis
    * move?"; a 2-D corpus map is "plot pc1 × pc2"). Emits each
    * vector's (pc1, pc2) coordinates in the unit-eigenvector basis.
    *
    * Pipeline: per-dimension means → centered values → the 64×64
    * SCATTER matrix as (i, j) triples (one corpus-scale pair
    * aggregate with map-side combine: the exchange carries at most
    * dim² rows per partition, never the corpus) → assembled into ONE
    * 64×64 row → [[Ordination.powerAxes]] (q31's shared fixed-count
    * power iteration + deflation, 40 iters by the same contract) →
    * per-vector projection as an in-row index-order fold against the
    * broadcast axis row.
    *
    * Determinism: per-element products are round-12 quantized
    * DECIMALs (cross-row sums must be order-free); the matrix entries
    * are one decimal→double cast each; the iteration is q31's
    * fold-for-fold machinery (index-order in-row folds, max-abs
    * normalization); projections divide by √λ_den (IEEE sqrt) and
    * ride [[graft.GraftFunctions.roundz]]; the sign convention is
    * q31's (first component of each axis non-negative).
    *
    * Scale: the only corpus-scale stages are the explode (linear ×
    * dim) and the pair aggregate (linear × dim² work, dim²-bounded
    * exchange). The eigensolve itself is dimension-bounded (64×64) —
    * a single-row job by design, NOT a scale risk (the blocked
    * machinery exists for sample-dimension Gram matrices; a dim×dim
    * covariance never outgrows one row). */
  def pcaEmbed(spark: SparkSession, dir: String): DataFrame =
    pcaEmbed(Tables.parallel(Tables.load(spark, dir, "embeddings")))

  def pcaEmbed(e0: DataFrame, iters: Int = Ordination.Iters): DataFrame = {
    val e = e0.select(col("vec_id"), col("label"), col("embedding"))
    val ex = e.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("i0", "x0")))
      .select(col("vec_id"), (col("i0") + 1).as("i"),
        col("x0").cast("double").as("x"))
    val mu = ex.groupBy("i")
      .agg(sum(round(col("x"), 12).cast("decimal(25,12)")).as("sx"),
        count(lit(1)).as("cnt"))
      .select(col("i"),
        round(col("sx").cast("double") / col("cnt").cast("double"), 12)
          .as("mu"))
    // mu is dim-bounded (64 rows) — the dim broadcast class
    val cx = graft.Ckpt(ex.join(broadcast(mu), "i")
      .select(col("vec_id"), col("i"), (col("x") - col("mu")).as("xc")))
    val trip = cx
      .join(cx.select(col("vec_id"), col("i").as("j"), col("xc").as("yc")),
        "vec_id")
      .select(col("i"), col("j"),
        round(col("xc") * col("yc"), 12).cast("decimal(25,12)").as("p"))
      .groupBy("i", "j").agg(sum(col("p")).as("sp"))
      .select(col("i"), col("j"), col("sp").cast("double").as("v"))
    val rows = trip.groupBy("i")
      .agg(sort_array(collect_list(struct(col("j"), col("v")))).as("r"))
      .select(col("i"), transform(col("r"), s => s("v")).as("r"))
    val gm = rows
      .agg(sort_array(collect_list(struct(col("i"), col("r")))).as("m"))
      .select(transform(col("m"), s => s("r")).as("gm"))
      .withColumn("n", size(col("gm")))
    val axes = Ordination.powerAxes(gm, 2, iters)
      .select(col("v_1"), col("v_2"), col("lam_den_1"), col("lam_den_2"),
        when(element_at(col("v_1"), 1) >= 0, lit(1.0)).otherwise(lit(-1.0))
          .as("sgn1"),
        when(element_at(col("v_2"), 1) >= 0, lit(1.0)).otherwise(lit(-1.0))
          .as("sgn2"))
    val vecs = cx.groupBy("vec_id")
      .agg(sort_array(collect_list(struct(col("i"), col("xc")))).as("c"))
      .select(col("vec_id"), transform(col("c"), s => s("xc")).as("cv"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    vecs
      .crossJoin(broadcast(axes)) // one-row axis frame
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .select(col("vec_id"), col("label"),
        graft.GraftFunctions.roundz(dot(col("cv"), col("v_1")) * col("sgn1")
          / sqrt(col("lam_den_1")), 6).as("pc1"),
        graft.GraftFunctions.roundz(dot(col("cv"), col("v_2")) * col("sgn2")
          / sqrt(col("lam_den_2")), 6).as("pc2"))
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[pcaEmbed]] — identical mean/scatter grids,
    * then [[Ordination.axisSql]]'s power recursion REUSED over the
    * covariance row (both axes deflate so both Rayleigh CTEs exist
    * for the √λ_den normalization). */
  def s19OracleSql(iters: Int = Ordination.Iters): String = s"""
      WITH RECURSIVE ex AS MATERIALIZED (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings,
          LATERAL unnest(generate_series(1, len(embedding))) t(i)),
      mu AS (
        SELECT i,
          round(CAST(sum(CAST(round(x, 12) AS DECIMAL(25,12))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 12) AS mu
        FROM ex GROUP BY 1),
      cx AS MATERIALIZED (
        SELECT vec_id, ex.i, x - mu AS xc FROM ex JOIN mu ON ex.i = mu.i),
      trip AS (
        SELECT a.i, b.i AS j,
          CAST(sum(CAST(round(a.xc * b.xc, 12) AS DECIMAL(25,12)))
            AS DOUBLE) AS v
        FROM cx a JOIN cx b ON a.vec_id = b.vec_id
        GROUP BY 1, 2),
      rws AS (
        SELECT i, list_transform(
          list_sort(list(struct_pack(j := j, v := v))), s -> s['v']) AS r
        FROM trip GROUP BY 1),
      g1 AS MATERIALIZED (
        SELECT list_transform(
            list_sort(list(struct_pack(i := i, r := r))), s -> s['r']) AS gm,
          CAST(count(*) AS BIGINT) AS n
        FROM rws),
      ${Ordination.axisSql(1, iters, deflate = true)},
      ${Ordination.axisSql(2, iters, deflate = true)},
      cvv AS (
        SELECT vec_id, list_transform(
          list_sort(list(struct_pack(i := i, xc := xc))), s -> s['xc']) AS cv
        FROM cx GROUP BY 1)
      SELECT c.vec_id, e.label,
        (round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, len(c.cv)),
              i -> c.cv[i] * f1.v[i])), (acc, x) -> acc + x)
          * f1.sgn / sqrt(r1.lam_den), 6) + 0.0) AS pc1,
        (round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, len(c.cv)),
              i -> c.cv[i] * f2.v[i])), (acc, x) -> acc + x)
          * f2.sgn / sqrt(r2.lam_den), 6) + 0.0) AS pc2
      FROM cvv c
      JOIN embeddings e ON e.vec_id = c.vec_id,
        fin1 f1, fin2 f2, ray1 r1, ray2 r2
      ORDER BY c.vec_id"""

  /** Position discounts 1/log₂(i+1) for i = 1..10 and the ideal DCG
    * of the 10-grade gain ladder — rendered from THIS one Scala
    * source into both engines (stlW's literal discipline: shortest
    * round-trip double literals parse back to the identical bits). */
  private[graft] val NdcgW: Seq[Double] =
    (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0)))
  private[graft] val NdcgIdeal: Double =
    (1 to 10).map(i => (11 - i) * NdcgW(i - 1)).sum

  /** s23: RANKING QUALITY of the ANN index — NDCG@10 (Järvelin &
    * Kekäläinen 2002) and the top-1 reciprocal rank (the MRR
    * numerator, Voorhees 1999) of s3's IVF retrieval against s1's
    * exact cosine ranking: s10's recall counts WHICH true neighbours
    * come back; this scores WHERE they land — an index that returns
    * all ten but inverts the order passes recall and fails ranking,
    * and NDCG is the number a retrieval/RAG evaluation actually
    * reports. Graded relevance = the exact ranking's 10-step gain
    * ladder (11 − exact rank; non-neighbours 0); DCG discounts by
    * [[NdcgW]]; NDCG = DCG/[[NdcgIdeal]] ∈ [0, 1] (the ideal is a
    * CONSTANT here — the exact list always carries all ten grades).
    * reciprocal_rank = 1/position of the TRUE nearest neighbour in
    * the approximate list, 0 when missed.
    *
    * Determinism: both rankings are the gated deterministic s1/s3
    * frames; gains/positions are exact integers; each DCG term is
    * gain × a shared literal discount, round-12 quantized and summed
    * order-free as DECIMAL; NDCG/RR are single rounded expressions
    * against literal constants.
    *
    * Scale shape: rides s1/s3's own shapes (broadcast query batch ×
    * one corpus scan each); the eval join and rollup are
    * (queries × 10)-bounded. */
  def rankEval(spark: SparkSession, dir: String): DataFrame =
    rankEval(Tables.parallel(Tables.load(spark, dir, "embeddings")))

  /** [[rankEval]]'s core over an (vec_id, embedding) frame — split
    * out for planted/replica specs. */
  def rankEval(e: DataFrame): DataFrame = {
    val exact = annBruteforce(e)
      .select(col("q_id"), col("c_id"), (lit(11) - col("rnk")).as("gain"))
    val approx = annIvfDet(e, 16, 4)
      .select(col("q_id"), col("c_id"), col("rnk").as("pos"))
    val wlit = array(NdcgW.map(lit(_)): _*)
    val terms = approx.join(exact, Seq("q_id", "c_id"), "left_outer")
      .select(col("q_id"), col("pos"), col("gain"),
        round(coalesce(col("gain"), lit(0)).cast("double")
          * element_at(wlit, col("pos")), 12).cast("decimal(25,12)")
          .as("term"),
        when(col("gain") === 10,
          round(lit(1.0) / col("pos").cast("double"), 6)).as("rr"))
    terms.groupBy("q_id").agg(
      sum(when(col("term") > 0, 1L).otherwise(0L)).as("n_hit"),
      round(sum(col("term")).cast("double") / lit(NdcgIdeal), 6)
        .as("ndcg10"),
      coalesce(max(col("rr")), lit(0.0)).as("reciprocal_rank"))
      .orderBy("q_id")
  }

  /** DuckDB oracle for [[rankEval]] — the s1/s3 oracles composed
    * verbatim, identical literal discounts and decimal term grid. */
  def s23OracleSql: String = s"""
      WITH ex AS MATERIALIZED ( $s1OracleSql ),
      ap AS MATERIALIZED ( $s3OracleSql ),
      terms AS (
        SELECT ap.q_id, ap.rnk AS pos, 11 - ex.rnk AS gain,
          CAST(round(CAST(coalesce(11 - ex.rnk, 0) AS DOUBLE)
            * ([${NdcgW.mkString(", ")}])[ap.rnk], 12)
            AS DECIMAL(25,12)) AS term,
          CASE WHEN ex.rnk = 1 THEN
            round(1.0 / CAST(ap.rnk AS DOUBLE), 6) END AS rr
        FROM ap LEFT JOIN ex
          ON ex.q_id = ap.q_id AND ex.c_id = ap.c_id)
      SELECT q_id,
        CAST(sum(CASE WHEN term > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_hit,
        round(CAST(sum(term) AS DOUBLE) / $NdcgIdeal, 6) AS ndcg10,
        coalesce(max(rr), 0.0) AS reciprocal_rank
      FROM terms GROUP BY q_id ORDER BY q_id"""
}
