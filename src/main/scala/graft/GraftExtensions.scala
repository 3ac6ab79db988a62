package graft

import graft.functions.expressions.CosineSimilarity
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Session extension registering graft's native Catalyst expressions
  * and the TopK planner strategy, and sizing Spark's codegen cache.
  * Activate with `.withExtensions(new GraftExtensions)`; operators also
  * call [[GraftFunctions.ensureRegistered]] so they work on any session.
  *
  * Every generated class goes through one JVM-wide LRU that
  * `CodeGenerator` sizes once, on first use, from the static conf
  * `spark.sql.codegen.cache.maxEntries` (default 100). A pipeline pass
  * meets its 219–252 classes in the same order every pass, so at 100
  * entries each is evicted before its next use. `apply` sets the
  * system property to [[GraftExtensions.CodegenCacheEntries]] when it
  * is unset: `withExtensions` runs `apply` before `getOrCreate` builds
  * its `SparkConf` from the `spark.*` system properties, and a value
  * set by the user (`-D`, `--conf`, builder `.config`) wins. Through
  * the `spark.sql.extensions` conf `apply` runs after the
  * `SparkContext` exists, too late for the cache.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    sys.props.getOrElseUpdate(GraftExtensions.CodegenCacheConf,
      GraftExtensions.CodegenCacheEntries.toString)
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}

object GraftExtensions {
  val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"
  /** At least 4× the largest measured working set (252 classes in one
    * corpus_pipeline pass). */
  val CodegenCacheEntries = 1000
}

object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  val all: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("cosine_sim",
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))),
    ("dot_product",
      new ExpressionInfo(
        classOf[graft.functions.expressions.DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => graft.functions.expressions.DotProduct(
        children(0), children(1))),
    // poly_hash(str, mult, mod) — SQL-callable form of the native
    // rolling hash so HOF lambda bodies (e.g. t19's per-gram hash
    // inside aggregate()) reach the linear-pass expression instead of
    // re-composing the O(len²) ascii(substring(...)) fold. mult/mod
    // are constructor parameters, so they must be literals here.
    ("poly_hash",
      new ExpressionInfo(
        classOf[graft.functions.expressions.PolyHash].getName, "poly_hash"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "poly_hash(str, mult, mod) takes exactly 3 arguments")
        def lng(e: Expression, what: String): Long = {
          require(e.foldable, s"poly_hash $what must be a literal")
          e.eval(null) match {
            case l: java.lang.Long => l
            case i: java.lang.Integer => i.toLong
            case other => throw new IllegalArgumentException(
              s"poly_hash $what must be an integer literal, got $other")
          }
        }
        graft.functions.expressions.PolyHash(children.head,
          lng(children(1), "mult"), lng(children(2), "mod"))
      }))

  /** Idempotently register the native functions and planner strategy
    * on a live session (covers sessions built without the extension).
    * The planner's strategy list holds both the injected and the
    * experimental strategies, so an extension-built session gets no
    * second copy. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, info, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, info, builder)
    }
    if (!spark.sessionState.planner.strategies.contains(graft.plans.TopKPerGroupStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKPerGroupStrategy
  }

  /** `round` whose zero is ALWAYS +0.0 — use at every rounded output
    * whose argument can be negative. Spark's `Round` goes through Java
    * `BigDecimal` (which has no signed zero) and so emits +0.0, but
    * DuckDB's float-side `round` preserves IEEE −0.0; a tiny negative
    * that rounds to zero then hash-mismatches a byte-comparing gate
    * even though the values compare equal (−0.0 == +0.0). Adding +0.0
    * is the IEEE-754 canonicalization (−0.0 + 0.0 = +0.0; identity for
    * every other value, including NaN and null) and stays inside
    * whole-stage codegen. Oracle SQL must mirror it as
    * `(round(...) + 0.0)` — see the paired `... + 0.0 AS` forms. */
  def roundz(c: Column, scale: Int): Column =
    org.apache.spark.sql.functions.round(c, scale) +
      org.apache.spark.sql.functions.lit(0.0)

  /** Column API for the native cosine similarity. */
  def cosineSim(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function("cosine_sim", a, b)
  }

  /** Column API for the native raw inner product (MIPS scoring). */
  def dotProduct(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark)
    call_function("dot_product", a, b)
  }

  /** Column API for the native polynomial rolling hash (bypasses the
    * registry: mult/mod are constructor parameters). Defaults are the
    * 31-bit-safe parameters every signature pipeline shares. */
  def polyHash(c: Column, mult: Long = 131L,
      mod: Long = 2147483647L): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.functions.expressions.PolyHash(
        org.apache.spark.sql.graftshim.GraftShim.expression(c), mult, mod))

  /** Column API for the fused word-shingle hasher (text → distinct
    * word-n-gram hashes, one linear pass, no shingle strings). */
  def wordShingleHashes(text: Column, n: Int = 3, mult: Long = 131L,
      mod: Long = 2147483647L): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.functions.expressions.WordShingleHashes(
        org.apache.spark.sql.graftshim.GraftShim.expression(text), n, mult, mod))

  /** Column API for the fused word-shingle STRING builder (each
    * shingle is a contiguous slice of the text — no string assembly). */
  def wordShingles(text: Column, n: Int = 3, dedup: Boolean = true): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.functions.expressions.WordShingles(
        org.apache.spark.sql.graftshim.GraftShim.expression(text), n, dedup))

  /** Column API for the one-pass MinHash signature (k permutation
    * minima of a feature-hash array; zero-shuffle projection). */
  def minhashSig(hashes: Column, k: Int): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.functions.expressions.MinHashSig(
        org.apache.spark.sql.graftshim.GraftShim.expression(hashes), k))

  /** Column API for the native h-index AGGREGATE (largest h with ≥ h
    * group values ≥ h): bounded sparse-histogram buffer, map-side
    * partial merge — the k-core step's one-exchange, skew-proof
    * per-node fold. */
  def hIndexAgg(values: Column): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.functions.expressions.HIndexAgg(
        org.apache.spark.sql.graftshim.GraftShim.expression(values))
        .toAggregateExpression())

  /** Column API for the one-pass SimHash fingerprint. */
  def simhashBits(hashes: Column, bits: Int): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.functions.expressions.SimHashBits(
        org.apache.spark.sql.graftshim.GraftShim.expression(hashes), bits))

  /** Column API for the fused nearest-centroid assignment (bypasses
    * the registry: the centroid matrix is a constructor parameter). */
  def euclidArgmin(v: Column, centers: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.functions.expressions.EuclidArgmin(
        org.apache.spark.sql.graftshim.GraftShim.expression(v), centers))

  /** Column API for the banded affine-gap Smith–Waterman score
    * (bypasses the registry: query string, band half-width and the
    * integer scoring scheme are constructor parameters). Penalties are
    * positive magnitudes; a gap of length L costs open + (L−1)·ext. */
  def bandedSw(text: Column, dstar: Column, query: String, w: Int = 8,
      matchScore: Int = 2, mismatchScore: Int = -1,
      gapOpen: Int = 2, gapExt: Int = 1): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.functions.expressions.BandedSW(
        org.apache.spark.sql.graftshim.GraftShim.expression(text),
        org.apache.spark.sql.graftshim.GraftShim.expression(dstar),
        query, w, matchScore, mismatchScore, gapOpen, gapExt))

  /** Column API for the fused SRP-LSH bucket expression (bypasses the
    * registry: the plane matrix is a constructor parameter, not a
    * child expression). */
  def srpBuckets(v: Column, planes: Seq[Seq[Double]],
      nTables: Int, bitsPerTable: Int): Column =
    org.apache.spark.sql.graftshim.GraftShim.column(
      graft.functions.expressions.SrpBuckets(
        org.apache.spark.sql.graftshim.GraftShim.expression(v),
        planes, nTables, bitsPerTable))
}
