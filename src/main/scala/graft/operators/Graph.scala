package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph processing over a deterministic document link
  * graph — the citation/hyperlink analysis a training-data pipeline
  * runs to weight sources (domain authority) before mixing.
  *
  * The corpus carries no explicit link column, so the graph is DERIVED
  * deterministically: each doc emits [[OutDeg]] out-links whose targets
  * come from the repo's Knuth-multiplicative hash of (doc_id, j) —
  * bit-identical in the DuckDB oracle, so the whole iteration is
  * oracle-checked end to end, not just smoke-tested.
  *
  * Scale design (the standard distributed PageRank shape):
  *   - edges are computed once, hash-partitioned by `src`, and pinned
  *     (MEMORY_AND_DISK, spill-safe) — partitioning survives so each
  *     iteration's rank join is co-located on `src`;
  *   - per iteration exactly ONE corpus-scale shuffle: the `dst`
  *     aggregation (the rank frame arrives partitioned by the previous
  *     step's groupBy key);
  *   - rank lineage is truncated every [[CkptEvery]] steps (the PCoA
  *     cadence) so the plan does not grow linearly with iterations;
  *   - no collect(): N is one count() action (GraphX does the same),
  *     and the per-node fold is bounded by in-degree.
  *
  * Bit-exact determinism: contributions are folded per dst in
  * (src, j) index order from the SAME initial value, so engine and
  * oracle execute the identical IEEE-754 op sequence (the repo's
  * index-order-fold discipline); the oracle keeps the rank vector as
  * one list-valued row and recurses (the q31 pattern).
  *
  * 100 TB contract: every iterative operator here costs ONE
  * edge-scale shuffle per step against a pinned, pre-partitioned
  * adjacency, with lineage truncated on the Ckpt cadence; step counts
  * are either fixed by query contract (PageRank) or derived from the
  * data by iterating to the unique fixpoint (g2/g5) — never a
  * constant tuned at test scale.
  */
object Graph {

  val Damping = 0.85
  /** PageRank steps. FIXED BY CONTRACT, not a convergence knob: the
    * query semantics are "the rank vector after exactly 10 damped
    * power-iteration steps" (rank is float-valued and only approaches
    * its limit asymptotically, so there is no finite fixpoint to stop
    * at). This is semantically sound at any data size — unlike the
    * all-integer g2/g5 iterations, which DO reach an exact fixpoint
    * and therefore derive their step count from the data. */
  val Iters = 10
  val OutDeg = 3
  val CkptEvery = 3

  /** The deterministic synthetic out-link generator (oracle path):
    * [[OutDeg]] targets per doc from the repo's Knuth hash. The `% n`
    * target range is the ONLY reason the oracle queries need dense
    * 0..N-1 ids; the iteration cores below run on arbitrary ids. */
  private def syntheticFwd(docs: DataFrame, n: Long): DataFrame = docs
    .select(col("doc_id").as("src"),
      explode(expr(s"sequence(1, $OutDeg)")).as("j"))
    .withColumn("dst0", pmod(
      pmod(col("src") * 7 + col("j"), lit(1000000000L)) * lit(2654435761L),
      lit(2147483647L)) % n)
    .withColumn("dst", when(col("dst0") === col("src"),
      pmod(col("dst0") + 1, lit(n))).otherwise(col("dst0")))
    .select(col("src"), col("j"), col("dst"))

  /** N = the row count of the one-column `doc_id` frame `spine`, after
    * refusing (typed, `key` named) an empty frame — min/max of zero
    * rows are null — or ids that are not dense 0..N-1, which
    * [[syntheticFwd]]'s `% n` targets need. One cheap aggregate, run
    * before anything is pinned, so a refusal leaks nothing. */
  private def denseN(spine: DataFrame, key: String): Long = {
    val h = spine.agg(count(lit(1)), min(col("doc_id")), max(col("doc_id"))).head()
    val n = h.getLong(0)
    require(n > 0, s"$key needs a non-empty documents frame")
    require(h.getLong(1) == 0L && h.getLong(2) == n - 1,
      s"$key needs dense doc_ids 0..N-1, got [${h.get(1)}, ${h.get(2)}] of $n")
    n
  }

  def g1Pagerank(spark: SparkSession, dir: String,
                 iters: Int = Iters): DataFrame =
    g1Pagerank(Tables.load(spark, dir, "documents"), iters)

  def g1Pagerank(docs0: DataFrame, iters: Int): DataFrame =
    pagerankCore(docs0, iters, "g1", "pagerank") { n =>
      val base = 0.15 / n // fl(0.15)/N — same literal-then-divide both engines
      (lit(1.0 / n), _ => lit(base))
    }

  /** g9: PERSONALIZED PageRank from a seed document — the restart
    * mass concentrates on the seed instead of spreading uniformly
    * (r⁰ = e_seed; each step folds 0.85·incoming + 0.15·e_seed), so
    * the vector ranks the corpus BY RELEVANCE TO THE SEED: the
    * "more like this document" authority diffusion behind
    * related-content and seed-expansion pipelines, vs g1's global
    * authority. Same contract class as g1: FIXED-STEP by query
    * semantics (float-valued, no finite fixpoint), identical
    * iteration shape (edges pinned by src, one dst-fold shuffle per
    * step, Ckpt cadence, (src, j)-ordered folds from the same
    * seed-dependent init — bit-exact vs the oracle). */
  def g9Ppr(spark: SparkSession, dir: String,
            seed: Long = 0L, iters: Int = Iters): DataFrame =
    g9Ppr(Tables.load(spark, dir, "documents"), seed, iters)

  def g9Ppr(docs0: DataFrame, seed: Long, iters: Int): DataFrame =
    pagerankCore(docs0, iters, "g9", "ppr") { n =>
      require(seed >= 0 && seed < n, s"g9 seed $seed outside 0..${n - 1}")
      // restart vector: all mass on the seed (g1's uniform base and
      // init, concentrated)
      (when(col("doc_id") === seed, lit(1.0)).otherwise(lit(0.0)),
        node => when(node === seed, lit(0.15)).otherwise(lit(0.0)))
    }

  /** The power iteration g1 and g9 share. `vectors(n)` gives the
    * initial rank column (over `doc_id`) and the restart term each
    * node's fold starts from (a function of its `dst`); it runs after
    * the density check and before anything is pinned, so a refusal
    * it raises leaks nothing. */
  private def pagerankCore(docs0: DataFrame, iters: Int, key: String,
      out: String)(vectors: Long => (Column, Column => Column)): DataFrame = {
    val spine = docs0.select(col("doc_id"))
    val n = denseN(spine, key)
    val (init, restart) = vectors(n)
    require(iters >= 1, s"$key needs at least one iteration, got $iters")
    val docs = spine.persist(StorageLevel.MEMORY_AND_DISK)
    val edges = syntheticFwd(docs, n)
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // (src = -1) sentinel rows keep zero-in-degree nodes in the
      // aggregate (acc + 0.0 is a bit-exact no-op) — no per-step spine
      // join needed, and n_in falls out as size(cs) - 1
      val sentinel = docs.select(lit(-1L).as("src"), lit(0L).as("j"),
        col("doc_id").as("dst"), lit(0.0).as("c"))
      var ranks = docs.select(col("doc_id").as("v"), init.as("r"))
      for (t <- 1 to iters) {
        val contribs = edges
          .join(ranks, col("src") === col("v"))
          .select(col("src"), col("j"), col("dst"),
            (lit(Damping) * (col("r") / lit(OutDeg.toDouble))).as("c"))
          .unionByName(sentinel)
        val next = contribs
          .groupBy(col("dst"))
          .agg(sort_array(collect_list(struct(col("src"), col("j"), col("c"))))
            .as("cs"))
          .select(col("dst").as("v"),
            aggregate(col("cs"), restart(col("dst")),
              (acc, x) => acc + x.getField("c")).as("r"),
            (size(col("cs")) - 1).cast("long").as("n_in"))
        ranks = if (t % CkptEvery == 0 && t < iters) graft.Ckpt(next) else next
      }
      // Materialize the final ranks (Ckpt truncates lineage off the
      // pinned frames) INSIDE the try — after it the pins are dead
      // weight and the finally releases them on success and failure
      // alike. No operator-internal persist may outlive its query
      // (SURVEY §4 discipline); blocking so a caller observing
      // getPersistentRDDs right after return sees them gone.
      graft.Ckpt(ranks)
        .select(col("v").as("doc_id"), round(col("r"), 6).as(out),
          col("n_in"))
        .orderBy("doc_id")
    } finally {
      edges.unpersist(blocking = true)
      docs.unpersist(blocking = true)
    }
  }

  /** DuckDB oracle for [[g9Ppr]] — g1's recursion with the restart
    * vector swapped: init e_seed, fold init 0.15·e_seed (seed is
    * 1-based position seed+1 in the list vector). */
  def g9OracleSql(seed: Long = 0L, iters: Int = Iters): String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni FROM documents),
      edges AS MATERIALIZED (
        SELECT src, j,
          CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      inb AS MATERIALIZED (
        SELECT d.doc_id AS dst,
          coalesce(i.ins, CAST([] AS STRUCT(src BIGINT, j BIGINT)[])) AS ins
        FROM documents d
        LEFT JOIN (
          SELECT dst, list_sort(list(struct_pack(src := src, j := j))) AS ins
          FROM edges GROUP BY dst) i ON i.dst = d.doc_id),
      inm AS MATERIALIZED (
        SELECT list_transform(
          list_sort(list(struct_pack(dst := dst, ins := ins))),
          s -> s['ins']) AS m
        FROM inb),
      pr AS (
        SELECT 0 AS k,
          list_transform(generate_series(1, ni),
            i -> CASE WHEN i = ${seed + 1} THEN CAST(1.0 AS DOUBLE)
                 ELSE CAST(0.0 AS DOUBLE) END) AS r
        FROM nn
        UNION ALL
        SELECT k + 1,
          list_transform(generate_series(1, ni), v ->
            list_reduce(
              list_prepend(
                CASE WHEN v = ${seed + 1} THEN CAST(0.15 AS DOUBLE)
                ELSE CAST(0.0 AS DOUBLE) END,
                list_transform(inm.m[CAST(v AS INT)], e ->
                  CAST($Damping AS DOUBLE)
                    * (pr.r[CAST(e['src'] AS INT) + 1]
                       / CAST($OutDeg AS DOUBLE)))),
              (acc, x) -> acc + x))
        FROM pr, nn, inm WHERE k < $iters)
      SELECT i - 1 AS doc_id, round(f.r[i], 6) AS ppr,
        CAST(len(inm.m[i]) AS BIGINT) AS n_in
      FROM (SELECT r FROM pr WHERE k = $iters) f,
        inm, (SELECT unnest(generate_series(1, ni)) AS i FROM nn) t
      ORDER BY doc_id"""

  /** General PageRank entry — an EXPLICIT (src, dst) edge list with
    * arbitrary (possibly sparse, 64-bit, even negative) node ids; the
    * synthetic generator above exists only so the oracle can re-derive
    * the graph. Differences from the oracle path, both standard:
    * out-degree is computed per node (not the generator's constant),
    * and dangling mass (rank sitting on nodes with no out-links) is
    * redistributed uniformly each step — without it rank leaks and the
    * vector no longer sums to 1. Scale shape is unchanged: edges+outdeg
    * pinned partitioned by src, one corpus-scale shuffle per step (the
    * dst fold), dangling mass is a ONE-ROW aggregate crossJoin-broadcast
    * back in-plan (no driver round-trip).
    *
    * Determinism + skew (r11 verdict #1): this entry accepts GENERAL
    * edge lists, where in-degree is power-law — a 10⁷-in-degree hub
    * must not materialize its whole contribution list in one
    * aggregation row (the previous src-ordered `collect_list` fold
    * did exactly that: an O(in-degree) row, ~100 MB+ on a web-graph
    * hub). Contributions are instead quantized to DECIMAL(38,18)
    * (cast via the double's shortest decimal string, HALF_UP — the
    * JVM-pinned semantics the reference spec replicates) and SUMMED:
    * decimal addition is exact and associative-commutative, so the
    * result is bit-identical under ANY partitioning or fold order
    * with O(1) per-node aggregation state, map-side partials
    * collapsing hub fan-in before the shuffle. The dangling-mass
    * aggregate uses the same exact decimal sum (a double sum there
    * was order-dependent). Per step each rank is
    * fl(0.15/n + 0.85·dm/n) + toDouble(Σ dec₁₈(0.85·r_src/outd)) —
    * two float ops around an exact core, ≤ 10⁻¹⁸-scale quantization
    * per step, invisible at the round-6 output.
    *
    * The dense-id oracle path above keeps its (src, j)-ordered float
    * fold instead: its in-degree is the synthetic generator's
    * balls-in-bins load, O(log n / log log n) w.h.p. — provably
    * bounded rows, and the fold stays bit-identical to the DuckDB
    * recursion. */
  def g1PagerankEdges(edges0: DataFrame, iters: Int = Iters): DataFrame = {
    val edges = edges0
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val nodes = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outd = edges.groupBy(col("src")).agg(count(lit(1)).as("outd"))
    val eo = edges.join(outd, "src")
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // nodes with no out-links — the dangling set whose rank mass is
    // redistributed; a (possibly large) FRAME, semi-joined not collected
    val noOut = nodes
      .join(outd.select(col("src").as("v")), Seq("v"), "left_anti")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = nodes.count()
      require(n > 0, "g1PagerankEdges: empty edge list")
      val base = 0.15 / n
      // sentinel contribution keeps sink-only nodes in the aggregate
      // (an exact decimal + 0 no-op)
      val sentinel = nodes.select(col("v").as("dst"),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,18)").as("c"))
      var ranks = nodes.select(col("v"), lit(1.0 / n).as("r"))
      for (t <- 1 to iters) {
        // exact decimal sum — a double sum over the dangling set was
        // fold-order-dependent (latent nondeterminism on multi-node
        // dangling sets); ≤ n terms of ≤ 1 fit decimal(38,18) with
        // 10 integer digits of headroom from sum's +10 widening
        val dang = ranks.join(noOut, Seq("v"), "left_semi")
          .agg(coalesce(sum(col("r").cast("decimal(38,18)")),
            lit(java.math.BigDecimal.ZERO)).cast("double").as("dm"))
        val contribs = eo
          .join(ranks, col("src") === col("v"))
          .select(col("dst"),
            (lit(Damping) * (col("r") / col("outd").cast("double")))
              .cast("decimal(38,18)").as("c"))
          .unionByName(sentinel)
        // O(1) per-node state: exact order-free decimal sum, hub
        // fan-in collapsed by map-side partial aggregation — no
        // in-degree-sized collect_list row anywhere
        val next = contribs
          .groupBy(col("dst"))
          .agg(sum(col("c")).as("s"))
          .crossJoin(broadcast(dang)) // one row — in-plan, not a head()
          .select(col("dst").as("v"),
            (lit(base) + lit(Damping) * col("dm") / lit(n.toDouble)
              + col("s").cast("double")).as("r"))
        ranks = if (t % CkptEvery == 0 && t < iters) graft.Ckpt(next) else next
      }
      graft.Ckpt(ranks)
        .select(col("v").as("node"), round(col("r"), 6).as("pagerank"))
        .orderBy("node")
    } finally {
      eo.unpersist(blocking = true)
      noOut.unpersist(blocking = true)
      nodes.unpersist(blocking = true)
    }
  }

  /** DuckDB oracle for [[g1Pagerank]] — identical edge hash, identical
    * (src, j)-ordered fold from the identical base; the rank vector
    * recurses as one list-valued row (q31's single-row pattern), with
    * the static CTEs MATERIALIZED so the recursion doesn't re-derive
    * them each step. */
  def g1OracleSql(iters: Int = Iters): String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni FROM documents),
      edges AS MATERIALIZED (
        SELECT src, j,
          CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      inb AS MATERIALIZED (
        SELECT d.doc_id AS dst,
          coalesce(i.ins, CAST([] AS STRUCT(src BIGINT, j BIGINT)[])) AS ins
        FROM documents d
        LEFT JOIN (
          SELECT dst, list_sort(list(struct_pack(src := src, j := j))) AS ins
          FROM edges GROUP BY dst) i ON i.dst = d.doc_id),
      inm AS MATERIALIZED (
        SELECT list_transform(
          list_sort(list(struct_pack(dst := dst, ins := ins))),
          s -> s['ins']) AS m
        FROM inb),
      pr AS (
        SELECT 0 AS k,
          list_transform(generate_series(1, ni),
            i -> CAST(1.0 AS DOUBLE) / n) AS r
        FROM nn
        UNION ALL
        SELECT k + 1,
          list_transform(generate_series(1, ni), v ->
            list_reduce(
              list_prepend(CAST(0.15 AS DOUBLE) / n,
                list_transform(inm.m[v], e ->
                  CAST($Damping AS DOUBLE)
                    * (pr.r[CAST(e['src'] AS INT) + 1]
                       / CAST($OutDeg AS DOUBLE)))),
              (acc, x) -> acc + x))
        FROM pr, nn, inm WHERE k < $iters)
      SELECT i - 1 AS doc_id, round(f.r[i], 6) AS pagerank,
        CAST(len(inm.m[i]) AS BIGINT) AS n_in
      FROM (SELECT r FROM pr WHERE k = $iters) f,
        inm, (SELECT unnest(generate_series(1, ni)) AS i FROM nn) t
      ORDER BY doc_id"""

  /** g10: label-propagation community detection (Raghavan et al.
    * 2007) over the derived undirected doc graph — the classic
    * near-linear community finder (which topical/spam cluster does
    * each page sit in), the structure readout BETWEEN g2's components
    * (too coarse) and g5's cores (density, not membership).
    *
    * Rule, made fully deterministic: each synchronous step every node
    * adopts the label carried by the PLURALITY of its neighbours,
    * ties broken by the SMALLEST label — no randomness, no visit
    * order. Step count is FIXED BY CONTRACT ([[LpaIters]]): unlike
    * g2/g5's monotone iterations, synchronous LPA has NO guaranteed
    * fixpoint (a bipartite pair flip-flops forever), so "the label
    * vector after exactly K plurality steps" is the only
    * scale-stable exact semantics — the g1 class of contract, not a
    * convergence knob.
    *
    * Skew discipline (r12): the plurality is computed as TWO
    * CASCADED O(1)-state aggregates — count by (node, label), then
    * min of (−count, label) by node — so per-node state is a single
    * struct, NEVER a neighbour-label list; a 10⁷-degree hub costs
    * map-side-combined (node, label) partials, no degree-sized row
    * anywhere (this is the two-exchange shape the g5 histogram fold
    * uses, with the histogram itself folded away). Adjacency pinned
    * partitioned by src, lineage checkpointed on the cadence, pins
    * released before return. */
  val LpaIters = 8

  def g10Lpa(spark: SparkSession, dir: String): DataFrame =
    g10Lpa(Tables.load(spark, dir, "documents"))

  def g10Lpa(docs0: DataFrame, iters: Int = LpaIters): DataFrame = {
    val spine = docs0.select(col("doc_id"))
    val n = denseN(spine, "g10")
    // the derived MULTIgraph exactly as the oracle re-derives it:
    // both orientations, parallel edges kept (multiplicity weights
    // the plurality), no self-edges
    val fwd = syntheticFwd(spine, n).select(col("src"), col("dst"))
    lpaCore(fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst"))), iters)
  }

  /** General LPA entry — an EXPLICIT (src, dst) edge list with
    * arbitrary sparse 64-bit node ids, SIMPLE-graph semantics
    * (self-loops dropped, parallel edges collapsed — the g5Edges
    * convention, so a repeated edge can't double-vote). */
  def g10LpaEdges(edges0: DataFrame, iters: Int = LpaIters): DataFrame = {
    val simple = simpleUndirected(
      edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))
    lpaCore(simple.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(simple.select(col("b").as("src"), col("a").as("dst"))),
      iters)
  }

  /** K synchronous plurality steps over the both-orientations edge
    * frame (every endpoint appears as dst, so no sentinel is needed
    * and no node drops out of the aggregate). Labels init to node id.
    * Output is the community rollup (g2's shape). */
  private def lpaCore(und0: DataFrame, iters: Int): DataFrame =
    lpaLabels(und0, iters)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("v")).as("min_node"),
        max(col("v")).as("max_node"))
      .orderBy("community")

  /** The per-node (v, label) frame after exactly `iters` synchronous
    * plurality steps — [[lpaCore]]'s loop, shared with g18's
    * modularity scoring. Returned checkpointed. */
  private def lpaLabels(und0: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"g10 needs at least one step, got $iters")
    val und = und0.repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      und.count()
      var labels = und.select(col("src").as("v")).distinct()
        .select(col("v"), col("v").as("label"))
      for (t <- 1 to iters) {
        val next = und
          .join(labels.select(col("v").as("src"), col("label")), "src")
          .groupBy(col("dst"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("dst"))
          // plurality with min-label tie-break as ONE struct-min:
          // (−cnt, label) minimal ⇔ cnt maximal, then label minimal.
          // −cnt is always safe (cnt ≥ 1); labels are never negated.
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
            .as("b"))
          .select(col("dst").as("v"), col("b.l").as("label"))
        labels = if (t % CkptEvery == 0 && t < iters) graft.Ckpt(next)
          else next
      }
      graft.Ckpt(labels)
    } finally und.unpersist(blocking = true)
  }

  /** DuckDB oracle for [[g10Lpa]] — the same K plurality steps over a
    * single list-valued row: per node, the neighbour-label multiset
    * maps to distinct labels, each scored (−count, label), and the
    * struct-least wins — identical rule, identical tie-break. */
  def g10OracleSql(iters: Int = LpaIters): String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni FROM documents),
      fwd AS MATERIALIZED (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      und AS MATERIALIZED (
        SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
      adj AS MATERIALIZED (
        SELECT list_transform(
          list_sort(list(struct_pack(dst := dst, ns := ns))),
          s -> s['ns']) AS m
        FROM (SELECT dst, list(src) AS ns FROM und GROUP BY dst) g),
      lpa AS (
        SELECT 0 AS k,
          list_transform(generate_series(1, ni), i -> i - 1) AS lab
        FROM nn
        UNION ALL
        SELECT k + 1,
          list_transform(generate_series(1, ni), v ->
            list_reduce(
              list_transform(
                list_distinct(list_transform(adj.m[v],
                  u -> lpa.lab[CAST(u AS INT) + 1])),
                d -> struct_pack(
                  nc := -len(list_filter(
                    list_transform(adj.m[v],
                      u -> lpa.lab[CAST(u AS INT) + 1]),
                    x -> x = d)),
                  l := d)),
              (a, b) -> CASE WHEN a < b THEN a ELSE b END)['l']) AS lab
        FROM lpa, nn, adj WHERE k < $iters)
      SELECT label AS community, count(*) AS n_members,
        min(v) AS min_node, max(v) AS max_node
      FROM (
        SELECT i - 1 AS v, f.lab[i] AS label
        FROM (SELECT lab FROM lpa WHERE k = $iters) f,
          (SELECT unnest(generate_series(1, ni)) AS i FROM nn) t)
      GROUP BY community ORDER BY community"""

  /** g2: connected components over the same derived link graph,
    * undirected — min-label propagation, the standard massive-graph
    * CC algorithm (HashToMin family): every step each node takes the
    * min of its own label and its neighbours'. All-integer state ⇒
    * EXACT, no float discipline needed at all.
    *
    * Scale shape: the undirected adjacency is materialized once,
    * partitioned by src, and pinned; each step is one join + one
    * min-aggregate shuffle; labels checkpoint on the g1 cadence.
    * The step count is NOT fixed: both engine and oracle iterate to
    * the fixpoint, which is unique (the component minimum everywhere)
    * and order-independent, so the determinism contract survives any
    * data size — a fixed budget tuned at one scale is exactly the
    * knob that breaks at 100× (g5 did, at 10×, in r10). Convergence
    * is checked every [[CkptEvery]] steps against the previous
    * checkpoint; labels are monotone non-increasing, so equality
    * across a whole check period certifies the fixpoint. A provable
    * runaway cap (min-label needs ≤ diameter < n steps) still fails
    * loudly on a genuine bug instead of looping forever. */
  def g2Components(spark: SparkSession, dir: String): DataFrame =
    g2Components(Tables.load(spark, dir, "documents"))

  def g2Components(docs0: DataFrame,
                   maxSteps: Long = Long.MaxValue): DataFrame = {
    val spine = docs0.select(col("doc_id"))
    val n = denseN(spine, "g2")
    val docs = spine.persist(StorageLevel.MEMORY_AND_DISK)
    val fwd = syntheticFwd(docs, n).select(col("src"), col("dst"))
    componentsCore(docs.select(col("doc_id").as("v")), fwd, maxSteps, Seq(docs))
  }

  /** General CC entry — an EXPLICIT (src, dst) edge list with arbitrary
    * sparse 64-bit node ids (edges are treated as undirected; the node
    * spine is the distinct endpoint set). Same iteration core as the
    * oracle path — all-integer, so generalizing costs nothing in
    * determinism. `maxSteps` is a loud runaway guard (and a test
    * lever), NOT a tuning knob: the loop stops at the fixpoint. */
  def g2ComponentsEdges(edges0: DataFrame,
                        maxSteps: Long = Long.MaxValue,
                        tag: String = "g2_edges"): DataFrame = {
    val edges = edges0.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val nodes = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
      .distinct()
    componentsCore(nodes, edges, maxSteps, Nil, tag)
  }

  /** Min-label propagation over nodes(v) + directed edge pairs (both
    * orientations and per-node self-edges are added here), iterated
    * TO THE FIXPOINT by [[fixpoint]] (labels are non-increasing).
    * Caps at min(maxSteps, n + period) — min-label converges
    * in ≤ diameter ≤ n-1 steps, so the derived cap only fires on a
    * genuine bug. Pins the undirected adjacency partitioned by src for
    * the per-step join, then RELEASES every pin (plus `release`, the
    * caller's own pinned inputs) before returning — persisted frames
    * must not outlive the query. */
  private def componentsCore(nodes: DataFrame, fwd: DataFrame,
                             maxSteps: Long,
                             release: Seq[DataFrame],
                             tag: String = "g2_components"): DataFrame = {
    val und = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      // a self-edge per node keeps every node in the propagation
      // aggregate (the sentinel idiom) and carries its own label
      .unionByName(nodes.select(col("v").as("src"), col("v").as("dst")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = nodes.count()
      val cap = math.min(maxSteps, n + CkptEvery)
      val init = nodes.select(col("v"), col("v").as("label"))
      val (labels, steps) = fixpoint(init, "label", cap, n,
        s"min-label propagation on $n nodes ($tag)")(labelStep(und, min))
      graft.Meter.steps(nodes.sparkSession, tag, steps)
      labels.groupBy(col("label").as("component"))
        .agg(count(lit(1)).as("n_members"), min(col("v")).as("min_doc"),
          max(col("v")).as("max_doc"))
        .orderBy("component")
    } finally {
      und.unpersist(blocking = true)
      release.foreach(_.unpersist(blocking = true))
    }
  }

  /** One min/max label-propagation step for [[componentsCore]] and
    * [[sccLabelsCore]]'s coloring/marking passes. `adj` must carry a
    * self-edge per node (the sentinel that keeps every node in the
    * aggregate and carries its own label forward) and should be
    * persisted by the caller (it is re-joined every step); `fold` is
    * the per-dst monotone aggregate (min for coloring, max for marks). */
  private def labelStep(adj: DataFrame, fold: org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column)(labels: DataFrame): DataFrame = adj
    .join(labels, col("src") === col("v"))
    .groupBy(col("dst"))
    .agg(fold(col("label")).as("label"))
    .select(col("dst").as("v"), col("label"))

  /** One min-plus relaxation step over `und(src, dst, w)` for the
    * (v, keys…, dist) state: dist'(v) = min over incoming (dist(u) + w).
    * `keys` are extra state columns the fold keeps apart (the pivot
    * `seed` of the multi-source BFS in [[g11Centrality]] and
    * [[g16Betweenness]]); the single-source [[wspCore]] passes none. */
  private def minPlusStep(und: DataFrame, keys: String*)(
      dist: DataFrame): DataFrame = und
    .join(dist, col("src") === col("v"))
    .groupBy(col("dst") +: keys.map(col): _*)
    .agg(min(col("dist") + col("w")).as("dist"))
    .select((col("dst").as("v") +: keys.map(col)) :+ col("dist"): _*)

  /** The exact-sum fixpoint driver behind every data-derived graph
    * loop (g2/g6 components, g5/g7 k-core, g8/g12/g15 shortest paths,
    * the g11/g16 multi-source BFS, g19's coloring and marking passes,
    * g20's condensation levels). Runs `step` [[CkptEvery]] times per
    * period, then marks the state (`mark`, lineage truncation) and
    * probes its exact value total; stops when a period leaves the
    * total unchanged. Returns (converged state, steps run).
    *
    * Why the total certifies the fixpoint: the caller guarantees that
    * `value` is per-row MONOTONE in one direction (labels and
    * distances non-increasing, h-indices non-increasing, levels
    * non-decreasing) and that every row survives every step (the
    * self-edge sentinel or a left join), so the sum is unchanged over
    * a period iff no value moved — at every intermediate step too, so
    * the previous mark already was the fixpoint. One scan aggregate
    * per period instead of an n-row self-join. DECIMAL(38,0) keeps it
    * exact at any size (the worst case n·|value| ≈ 2⁶³·2⁶³ < 10³⁸; an
    * int64 sum could wrap a genuine change to apparent equality).
    *
    * Runaway guard: `cap` bounds steps actually EXECUTED — each period
    * runs at most cap − steps steps, and a period with none left fails
    * loudly with `what`, so a cap below the cadence still fires;
    * equality over a SHORT final period (k ≥ 1, monotone values) still
    * certifies. Callers derive the cap from the data so it fires only
    * on a genuine bug. `size` is the caller's row count: 0 runs no
    * period (and records 0 steps).
    *
    * `mark` defaults to the lazy checkpoint: the probe right after
    * each mark is a full-scan aggregate, so it materializes the blocks
    * in the SAME job — one action per period (r19, guide §2.4 fewer
    * actions). This driver is the one place the graph loops pair the
    * lazy mark with that probe. k-core passes the eager checkpoint
    * instead (measured, r19: the fusion cost g5 ~40% — the h-index
    * agg's expensive merge then runs inside the probe's AQE-coalesced
    * final stage; the eager checkpoint keeps it on the full reduce
    * parallelism). */
  private def fixpoint(init: DataFrame, value: String, cap: Long,
      size: Long, what: String,
      mark: DataFrame => DataFrame = graft.Ckpt.lazily)(
      step: DataFrame => DataFrame): (DataFrame, Long) = {
    def tot(df: DataFrame): java.math.BigDecimal = df
      .agg(coalesce(sum(col(value).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    var cur = mark(init)
    var curTot = tot(cur)
    var steps = 0L
    var converged = size == 0L
    while (!converged) {
      val k = math.min(CkptEvery.toLong, cap - steps)
      require(k > 0, s"$what not converged after $steps steps (cap $cap)")
      var nxt = cur
      for (_ <- 1L to k) nxt = step(nxt)
      steps += k
      val nm = mark(nxt)
      val nmTot = tot(nm)
      converged = nmTot.compareTo(curTot) == 0
      cur = nm
      curTot = nmTot
    }
    (cur, steps)
  }

  /** DuckDB oracle for [[g2Components]] — the same min-label
    * propagation over a single list-valued row, recursed TO THE
    * FIXPOINT: each row carries the previous label vector `p`, the
    * recursion continues while `p <> lab`, and the terminal row (the
    * unique one with `p = lab`) is the converged state. No step-count
    * parameter — engine and oracle agree because the fixpoint is
    * unique, not because they ran the same number of steps. */
  def g2OracleSql(): String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni FROM documents),
      fwd AS MATERIALIZED (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      und AS MATERIALIZED (
        SELECT src, dst FROM fwd
        UNION ALL SELECT dst, src FROM fwd
        UNION ALL SELECT doc_id, doc_id FROM documents),
      adj AS MATERIALIZED (
        SELECT list_transform(
          list_sort(list(struct_pack(dst := dst, ns := ns))),
          s -> s['ns']) AS m
        FROM (SELECT dst, list(DISTINCT src) AS ns FROM und GROUP BY dst) g),
      cc AS (
        SELECT 0 AS k,
          list_transform(generate_series(1, ni), i -> i - 1) AS lab,
          CAST(NULL AS BIGINT[]) AS p
        FROM nn
        UNION ALL
        SELECT k + 1,
          list_transform(generate_series(1, ni), v ->
            list_reduce(list_transform(adj.m[v], u ->
              cc.lab[CAST(u AS INT) + 1]), (a, b) -> least(a, b))) AS lab,
          cc.lab AS p
        FROM cc, nn, adj WHERE p IS NULL OR p <> lab)
      SELECT label AS component, count(*) AS n_members,
        min(v) AS min_doc, max(v) AS max_doc
      FROM (
        SELECT i - 1 AS v, f.lab[i] AS label
        FROM (SELECT lab FROM cc WHERE p = lab) f,
          (SELECT unnest(generate_series(1, ni)) AS i FROM nn) t)
      GROUP BY component ORDER BY component"""

  /** g5: k-core decomposition — every node's CORENESS (the largest k
    * such that the node survives in the k-core), via the iterated
    * h-index scheme (Lü et al. 2016): start from degree, repeatedly
    * replace each node's value with the h-index of its neighbours'
    * values; the sequence is monotone non-increasing and converges to
    * coreness exactly. The density ladder behind "drop the periphery,
    * keep the engaged core" analyses.
    *
    * Distributed shape (g2's discipline): simple undirected adjacency
    * pinned partitioned by src, one join + one per-node aggregate per
    * step (the h-index is an in-row fold over the sorted neighbour
    * values, bounded by degree), lineage checkpointed on the cadence.
    * All integers — exact.
    *
    * The step count is NOT fixed: both engine and oracle iterate to
    * the (unique, order-independent) coreness fixpoint. The r10 scale
    * lesson lives here: a constant 24-step budget tuned on the
    * 500-node graph failed the moment the corpus grew 10× (the sf0.1
    * graph needs 43 steps) — exactly the "dies at 100× scale-up"
    * failure class. The derived runaway cap is provable (each
    * unconverged check period strictly decreases the all-integer
    * value total, which starts at Σdeg = 2|E|), so it only fires on
    * a genuine bug. */
  def g5Kcore(spark: SparkSession, dir: String): DataFrame =
    g5Kcore(Tables.load(spark, dir, "documents"))

  def g5Kcore(docs0: DataFrame,
              maxSteps: Long = Long.MaxValue): DataFrame = {
    val docs = docs0.select(col("doc_id"))
    val n = denseN(docs, "g5")
    val fwd = syntheticFwd(docs, n)
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    kcoreCore(fwd, maxSteps)
  }

  /** General k-core entry — an EXPLICIT (src, dst) edge list with
    * arbitrary sparse 64-bit node ids; self-loops dropped, parallel
    * edges collapsed (simple-graph semantics, the k-core convention).
    * `maxSteps` is a loud runaway guard (and a test lever), NOT a
    * tuning knob: the loop stops at the fixpoint. */
  def g5KcoreEdges(edges0: DataFrame,
                   maxSteps: Long = Long.MaxValue,
                   tag: String = "g5_edges"): DataFrame = {
    val simple = edges0
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    kcoreCore(simple, maxSteps, tag)
  }

  /** Iterated h-index over the simple undirected edge set (a, b),
    * run TO THE FIXPOINT by [[fixpoint]], checkpointed eagerly: the
    * h-index sequence is per-node monotone non-increasing (Lü et al.
    * 2016) and every node keeps a row (both orientations pinned).
    * Derived cap: every unconverged period strictly decreases the
    * all-integer value total, which starts at Σdeg = 2|E| — so the
    * loop observes convergence within 2|E|+1 periods, i.e.
    * (2|E|+1)·[[CkptEvery]] steps; anything past min(maxSteps, that)
    * is a genuine bug and fails loudly. Message-passing shape is
    * g2's exactly: the edge set is pinned partitioned by src — the
    * per-step JOIN key — so at scale the adjacency never moves (only
    * the node-scale value frame
    * shuffles into the join; locally Spark broadcasts it). Because
    * `und` carries both orientations, "join values on src, fold by
    * dst" computes the same per-node neighbour multiset as the
    * converse orientation (r11: the original joined on dst against
    * the src pin, which re-shuffled the whole adjacency every step
    * once the value frame outgrows a broadcast). The pin is released
    * before return.
    *
    * Per-node fold state is a SPARSE value→count HISTOGRAM inside
    * the native [[graft.functions.expressions.HIndexAgg]] aggregate,
    * not a neighbour value list (r11 verdict #1): the h-index needs
    * only how many neighbours hold each distinct value, so per-node
    * state is bounded by the DISTINCT neighbour-value count —
    * ≤ min(degree, O(√(2|E|))) (k distinct positive h-values each
    * backed by a node of degree ≥ its value forces Σvalues ≤ 2|E|,
    * so k = O(√|E|)) — instead of O(degree). Being a regular typed
    * aggregate (the BloomFilterAggregate pattern) it PARTIAL-merges
    * map-side — a 10⁷-degree power-law hub's same-valued spokes
    * collapse per map partition — and the step keeps the ONE
    * edge-scale exchange of the original list fold (the r12 interim
    * two-aggregate rewrite bounded the row but paid a second
    * exchange; the custom aggregate gets both properties at once,
    * PlanSpec-gated). All-integer, order-free, deterministic. */
  private def kcoreCore(fwd: DataFrame, maxSteps: Long,
                        tag: String = "g5_kcore"): DataFrame = {
    val und = fwd.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(fwd.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val m2 = und.count() // = 2|E|
      val init = und.groupBy(col("dst")).agg(count(lit(1)).as("c"))
        .select(col("dst").as("v"), col("c"))
      // Tried and REVERTED (r19 #2): SHUFFLE_HASH on the value side to
      // skip the per-step sort-merge sorts — measured g7 10.2 → 12.5 s
      // (StageProbe A/B). The per-step cost is the hIndexAgg histogram
      // merge itself, not the sorts; the hash build only added
      // per-step work.
      val (cur, steps) = fixpoint(init, "c",
        math.min(maxSteps, (m2 + 1) * CkptEvery), m2,
        s"h-index iteration on $m2 edge ends ($tag)",
        mark = graft.Ckpt(_)) { nxt =>
        und.join(nxt.select(col("v").as("src"), col("c").as("cn")), "src")
          .groupBy(col("dst"))
          .agg(graft.GraftFunctions.hIndexAgg(col("cn")).as("c"))
          .select(col("dst").as("v"), col("c"))
      }
      graft.Meter.steps(fwd.sparkSession, tag, steps)
      cur.groupBy(col("c").as("coreness"))
        .agg(count(lit(1)).as("n_nodes"), min(col("v")).as("min_doc"),
          max(col("v")).as("max_doc"))
        .orderBy("coreness")
    } finally und.unpersist(blocking = true)
  }

  /** DuckDB oracle for [[g5Kcore]] — the same h-index iteration over
    * a single list-valued row, recursed TO THE FIXPOINT (g2's carried
    * `p` pattern): the terminal row, the unique one with `p = c`, is
    * the coreness vector. No step-count parameter. */
  def g5OracleSql(): String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni FROM documents),
      fwd AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM (
          SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
          FROM (
            SELECT doc_id AS src, j,
              (((doc_id * 7 + j) % 1000000000) * 2654435761)
                % 2147483647 % n AS dst0, n
            FROM documents, nn, generate_series(1, $OutDeg) t(j)) e) s),
      und AS (SELECT a AS src, b AS dst FROM fwd
              UNION ALL SELECT b, a FROM fwd),
      adj AS MATERIALIZED (
        SELECT list_transform(
          list_sort(list(struct_pack(src := src, ns := ns))),
          s -> s['ns']) AS m
        FROM (SELECT src, list(dst) AS ns FROM und GROUP BY src) g),
      core AS (
        SELECT 0 AS k,
          list_transform(adj.m, ns -> CAST(len(ns) AS BIGINT)) AS c,
          CAST(NULL AS BIGINT[]) AS p
        FROM adj
        UNION ALL
        SELECT k + 1,
          list_transform(adj.m, ns ->
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(
                list_reverse(list_sort(list_transform(ns,
                  u -> core.c[CAST(u AS INT) + 1]))),
                (x, i) -> CAST(CASE WHEN x >= i THEN 1 ELSE 0 END AS BIGINT))),
              (a, b) -> a + b)) AS c,
          core.c AS p
        FROM core, adj WHERE p IS NULL OR p <> c)
      SELECT c_val AS coreness, count(*) AS n_nodes,
        min(v) AS min_doc, max(v) AS max_doc
      FROM (
        SELECT i - 1 AS v, f.c[i] AS c_val
        FROM (SELECT c FROM core WHERE p = c) f,
          (SELECT unnest(generate_series(1, ni)) AS i FROM nn) t)
      GROUP BY coreness ORDER BY coreness"""

  /** g6: connected components over a REAL relation with SPARSE ids —
    * the customer–order bipartite graph (customer nodes as
    * −(o_custkey+1), order nodes as o_orderkey: disjoint by sign,
    * arbitrary 64-bit values). This is the general
    * [[g2ComponentsEdges]] entry exercised end to end through the
    * full DuckDB oracle (the synthetic doc-graph queries only cover
    * the dense-id path): the oracle dense-ranks the sparse node set
    * into index space, runs the SAME min-label fixpoint recursion,
    * and maps back to node values. Components here are customer
    * stars (diameter 2), so the fixpoint lands in a couple of steps
    * at any scale — the structure probe is g7's richer graph. */
  def g6CcSparse(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.load(spark, dir, "orders")
      .select((-(col("o_custkey") + 1)).as("src"),
        col("o_orderkey").as("dst"))
    g2ComponentsEdges(edges, tag = "g6_cc_sparse")
      .select(col("component"), col("n_members"),
        col("min_doc").as("min_node"), col("max_doc").as("max_node"))
  }

  /** DuckDB oracle for [[g6CcSparse]] — dense-rank the sparse node
    * set, min-label to the fixpoint over index space with labels
    * CARRYING NODE VALUES (the engine's labels are node ids, so the
    * recursion starts from the sorted value list, not 0..n−1), map
    * back by position. */
  def g6OracleSql: String = """
      WITH RECURSIVE
      edges0 AS MATERIALIZED (
        SELECT -(o_custkey + 1) AS a, o_orderkey AS b FROM orders),
      nodes AS MATERIALIZED (
        SELECT DISTINCT v FROM (
          SELECT a AS v FROM edges0 UNION ALL SELECT b FROM edges0) t),
      nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni FROM nodes),
      idx AS MATERIALIZED (
        SELECT v, CAST(row_number() OVER (ORDER BY v) AS INT) AS i FROM nodes),
      vals AS MATERIALIZED (SELECT list(v ORDER BY v) AS vs FROM nodes),
      und AS MATERIALIZED (
        SELECT ia.i AS src, ib.i AS dst FROM edges0 e
          JOIN idx ia ON ia.v = e.a JOIN idx ib ON ib.v = e.b
        UNION ALL
        SELECT ib.i, ia.i FROM edges0 e
          JOIN idx ia ON ia.v = e.a JOIN idx ib ON ib.v = e.b
        UNION ALL SELECT i, i FROM idx),
      adj AS MATERIALIZED (
        SELECT list_transform(list_sort(list(struct_pack(dst := dst, ns := ns))),
          s -> s['ns']) AS m
        FROM (SELECT dst, list(DISTINCT src) AS ns FROM und GROUP BY dst) g),
      cc AS (
        SELECT 0 AS k, vals.vs AS lab, CAST(NULL AS BIGINT[]) AS p FROM vals
        UNION ALL
        SELECT k + 1,
          list_transform(generate_series(1, ni), x ->
            list_reduce(list_transform(adj.m[x], u ->
              cc.lab[CAST(u AS INT)]), (a, b) -> least(a, b))) AS lab,
          cc.lab AS p
        FROM cc, nn, adj WHERE p IS NULL OR p <> lab)
      SELECT label AS component, count(*) AS n_members,
        min(v) AS min_node, max(v) AS max_node
      FROM (
        SELECT vals.vs[i] AS v, f.lab[i] AS label
        FROM (SELECT lab FROM cc WHERE p = lab) f, vals,
          (SELECT unnest(generate_series(1, ni)) AS i FROM nn) t)
      GROUP BY component ORDER BY component"""

  /** g7: k-core over the order–part co-purchase bipartite graph
    * (parts as −(l_partkey+1), orders as l_orderkey) — a REAL
    * relation whose coreness ladder is non-trivial (1..6 on the test
    * corpora: parts are hubs, orders have 1–7 lineitems), exercising
    * the general [[g5KcoreEdges]] fixpoint end to end through a full
    * oracle on sparse ids. Parallel (order, part) pairs collapse via
    * the entry's simple-graph dedup; sign-disjoint id spaces make
    * self-loops impossible by construction. */
  def g7KcoreSparse(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.load(spark, dir, "lineitem")
      .select((-(col("l_partkey") + 1)).as("src"),
        col("l_orderkey").as("dst"))
    g5KcoreEdges(edges, tag = "g7_kcore_sparse")
      .select(col("coreness"), col("n_nodes"),
        col("min_doc").as("min_node"), col("max_doc").as("max_node"))
  }

  /** DuckDB oracle for [[g7KcoreSparse]] — dense-rank node space,
    * the same h-index fixpoint recursion as g5's oracle (1-based
    * indices, so no +1 shift), values mapped back by position. */
  def g7OracleSql: String = """
      WITH RECURSIVE
      edges0 AS MATERIALIZED (
        SELECT DISTINCT -(l_partkey + 1) AS a, l_orderkey AS b FROM lineitem),
      nodes AS MATERIALIZED (
        SELECT DISTINCT v FROM (
          SELECT a AS v FROM edges0 UNION ALL SELECT b FROM edges0) t),
      nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni FROM nodes),
      idx AS MATERIALIZED (
        SELECT v, CAST(row_number() OVER (ORDER BY v) AS INT) AS i FROM nodes),
      vals AS MATERIALIZED (SELECT list(v ORDER BY v) AS vs FROM nodes),
      und AS MATERIALIZED (
        SELECT ia.i AS src, ib.i AS dst FROM edges0 e
          JOIN idx ia ON ia.v = e.a JOIN idx ib ON ib.v = e.b
        UNION ALL
        SELECT ib.i, ia.i FROM edges0 e
          JOIN idx ia ON ia.v = e.a JOIN idx ib ON ib.v = e.b),
      adj AS MATERIALIZED (
        SELECT list_transform(list_sort(list(struct_pack(src := src, ns := ns))),
          s -> s['ns']) AS m
        FROM (SELECT src, list(dst) AS ns FROM und GROUP BY src) g),
      core AS (
        SELECT 0 AS k,
          list_transform(adj.m, ns -> CAST(len(ns) AS BIGINT)) AS c,
          CAST(NULL AS BIGINT[]) AS p
        FROM adj
        UNION ALL
        SELECT k + 1,
          list_transform(adj.m, ns ->
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(
                list_reverse(list_sort(list_transform(ns,
                  u -> core.c[CAST(u AS INT)]))),
                (x, i) -> CAST(CASE WHEN x >= i THEN 1 ELSE 0 END AS BIGINT))),
              (a, b) -> a + b)) AS c,
          core.c AS p
        FROM core, adj WHERE p IS NULL OR p <> c)
      SELECT c_val AS coreness, count(*) AS n_nodes,
        min(v) AS min_node, max(v) AS max_node
      FROM (
        SELECT vals.vs[i] AS v, f.c[i] AS c_val
        FROM (SELECT c FROM core WHERE p = c) f, vals,
          (SELECT unnest(generate_series(1, ni)) AS i FROM nn) t)
      GROUP BY coreness ORDER BY coreness"""

  /** g4: degree assortativity — the Pearson correlation of endpoint
    * degrees over the simple undirected edge set (Newman 2002), the
    * one-number summary of whether hubs link to hubs (positive) or to
    * leaves (negative); what a crawl-graph analyst reads before
    * trusting PageRank-style authority at all. Every edge contributes
    * BOTH orientations (the standard undirected convention). All
    * sums are exact integers (degrees are small, Σd⁴-scale terms fit
    * BIGINT easily at any realistic degree); the single float
    * division happens once at the end, identically phrased in both
    * engines. Scale shape: degree aggregate + one degree-annotation
    * join pass + one global aggregate — no quadratic anything. The
    * degree table has one row PER NODE (corpus cardinality), so it is
    * deliberately NOT hinted broadcast: the annotation is a plain
    * shuffle join on the endpoint key (AQE may still elect broadcast
    * when stats show the graph is small — the planner's call, not a
    * corpus-scale driver pin). */
  def g4Assortativity(spark: SparkSession, dir: String): DataFrame =
    g4Assortativity(Tables.load(spark, dir, "documents"))

  def g4Assortativity(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"))
    val n = denseN(docs, "g4")
    g4Core(simpleUndirected(syntheticFwd(docs, n)))
  }

  /** General assortativity entry — an EXPLICIT (src, dst) edge list
    * with arbitrary (sparse, 64-bit, even negative) node ids, the
    * g1/g2/g5 Edges-variant convention: the dense-id `require` above
    * guards only the synthetic-generator path the oracle re-derives;
    * the metric itself never indexes by id. */
  def g4AssortativityEdges(edges0: DataFrame): DataFrame =
    g4Core(simpleUndirected(
      edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))))

  /** g13: log₂-bucketed DEGREE HISTOGRAM — the hub-preflight every
    * operator in this file assumes someone ran: before trusting a
    * salting cap, a band-bucket bound or a per-node fold's memory
    * model on a new graph, you read its degree distribution. Buckets
    * are powers of two (the heavy-tail convention), and the bucket
    * index is computed EXACTLY as `length(bin(d)) − 1` — the binary
    * digit count, a pure integer expression both engines share —
    * never `floor(log2(d))`, whose libm ulp flips buckets at exact
    * powers of two (the e20 lesson applied where it would actually
    * bite: degrees land ON powers of two constantly). Per bucket:
    * node count, exact min/max degree, and the node share.
    *
    * Scale shape: one degree aggregate (map-side combined), one
    * bucket-scale rollup (≤ 64 rows by construction — log₂ of any
    * 64-bit degree), a one-row broadcast total. Nothing quadratic,
    * nothing per-node in the output. */
  def g13DegreeHist(spark: SparkSession, dir: String): DataFrame =
    g13DegreeHist(Tables.load(spark, dir, "documents"))

  def g13DegreeHist(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"))
    val n = denseN(docs, "g13")
    g13Core(simpleUndirected(syntheticFwd(docs, n)))
  }

  /** General entry — explicit (src, dst) edge list, arbitrary sparse
    * 64-bit ids (the Edges-variant convention). */
  def g13DegreeHistEdges(edges0: DataFrame): DataFrame =
    g13Core(simpleUndirected(
      edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))))

  private def g13Core(simple: DataFrame): DataFrame = {
    val deg = simple.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val tot = deg.agg(count(lit(1)).as("nt"))
    deg
      .withColumn("bucket", (length(bin(col("d"))) - 1).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("d")).as("min_degree"), max(col("d")).as("max_degree"))
      .crossJoin(broadcast(tot)) // one row — in-plan, not a head()
      .select(col("bucket"),
        expr("shiftleft(cast(1 as bigint), cast(bucket as int))")
          .as("degree_lo"),
        col("n_nodes"), col("min_degree"), col("max_degree"),
        round(col("n_nodes").cast("double") / col("nt").cast("double"), 6)
          .as("share"))
      .orderBy("bucket")
  }

  /** DuckDB oracle for [[g13DegreeHist]] — g4's derived-graph CTEs,
    * the identical digit-count bucket expression. */
  def g13OracleSql: String = s"""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      fwd AS (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      simple AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM fwd),
      deg AS (
        SELECT v, count(*) AS d FROM (
          SELECT a AS v FROM simple UNION ALL SELECT b FROM simple) t
        GROUP BY v),
      tot AS (SELECT count(*) AS nt FROM deg),
      bk AS (SELECT length(bin(d)) - 1 AS bucket, d FROM deg)
      SELECT bucket,
        CAST(1 AS BIGINT) << bucket AS degree_lo,
        count(*) AS n_nodes,
        min(d) AS min_degree, max(d) AS max_degree,
        round(CAST(count(*) AS DOUBLE) / CAST(any_value(tt.nt) AS DOUBLE), 6)
          AS share
      FROM bk, tot tt
      GROUP BY bucket ORDER BY bucket"""

  /** Simple undirected form: self-loops dropped, each edge once as
    * (min, max). Id-agnostic. */
  private def simpleUndirected(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  private def g4Core(simple: DataFrame): DataFrame = {
    val deg = simple.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val both = simple.select(col("a").as("x"), col("b").as("y"))
      .unionByName(simple.select(col("b").as("x"), col("a").as("y")))
      .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
    both.agg(count(lit(1)).as("m2"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx")).as("sx"),
        sum(col("dx") * col("dx")).as("sxx"))
      .select(col("m2"),
        graft.GraftFunctions.roundz((col("m2").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
          / (col("m2").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")), 6)
          .as("assortativity"))
  }

  /** DuckDB oracle for [[g4Assortativity]] — identical sums, one
    * identically-phrased division. By x/y symmetry of the
    * both-orientations list, Σdx = Σdy and Σdx² = Σdy², so the
    * Pearson formula needs only the x-side moments. */
  def g4OracleSql: String = s"""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      fwd AS (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      simple AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM fwd),
      deg AS MATERIALIZED (
        SELECT v, count(*) AS d FROM (
          SELECT a AS v FROM simple UNION ALL SELECT b FROM simple) t
        GROUP BY v),
      both_ AS (
        SELECT dx.d AS dx, dy.d AS dy FROM (
          SELECT a AS x, b AS y FROM simple
          UNION ALL SELECT b, a FROM simple) u
        JOIN deg dx ON dx.v = u.x
        JOIN deg dy ON dy.v = u.y)
      SELECT count(*) AS m2,
        (round((CAST(count(*) AS DOUBLE) * CAST(sum(dx * dy) AS DOUBLE)
            - CAST(sum(dx) AS DOUBLE) * CAST(sum(dx) AS DOUBLE))
          / (CAST(count(*) AS DOUBLE) * CAST(sum(dx * dx) AS DOUBLE)
            - CAST(sum(dx) AS DOUBLE) * CAST(sum(dx) AS DOUBLE)), 6) + 0.0)
          AS assortativity
      FROM both_"""

  /** g8: single-source BFS hop distance over the derived document
    * graph (undirected, source = doc 0) — the reachability/radius
    * probe a crawl-graph pipeline runs before trusting any
    * diffusion-style authority metric (how many hops until the whole
    * corpus is covered; which pockets are unreachable).
    *
    * Iteration discipline is g2/g5's, NOT a fixed step budget: the
    * hop-distance vector is all-integer and per-node monotone
    * NON-INCREASING (each step takes min(own, min over neighbours+1),
    * the self-edge carrying weight 0 so "own" rides the same
    * aggregate), so [[fixpoint]] runs it to the unique fixpoint with
    * a derived runaway cap (BFS converges in ≤ diameter ≤ n−1 steps). Unreachable nodes hold the `n` infinity
    * sentinel at the fixpoint and are reported as −1.
    *
    * 100 TB contract: the weighted adjacency is pinned partitioned by
    * `src` (the per-step join key), so each step pays ONE edge-scale
    * exchange (the dst aggregate) — identical shape and PlanSpec gate
    * as g2/g5. */
  def g8Bfs(spark: SparkSession, dir: String): DataFrame =
    g8Bfs(Tables.load(spark, dir, "documents"))

  def g8Bfs(docs0: DataFrame, maxSteps: Long = Long.MaxValue): DataFrame = {
    val docs = docs0.select(col("doc_id"))
    val n = denseN(docs, "g8")
    bfsCore(docs.select(col("doc_id").as("v")),
      syntheticFwd(docs, n).select(col("src"), col("dst")), 0L, maxSteps)
  }

  /** General BFS entry — an EXPLICIT (src, dst) edge list with
    * arbitrary sparse 64-bit node ids, treated undirected; the node
    * spine is the distinct endpoint set. `maxSteps` is a loud runaway
    * guard (and a test lever), NOT a tuning knob. */
  def g8BfsEdges(edges0: DataFrame, source: Long,
                 maxSteps: Long = Long.MaxValue,
                 tag: String = "g8_edges"): DataFrame = {
    val edges = edges0.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val nodes = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
      .distinct()
    // a source that is no edge endpoint would silently produce an
    // all-unreachable answer with no source row at all — a typo'd
    // source must fail loudly, not look like an empty reachability set
    require(nodes.filter(col("v") === source).count() == 1,
      s"g8 source $source is not a node of the edge list")
    bfsCore(nodes, edges, source, maxSteps, tag)
  }

  /** Min-plus relaxation to the fixpoint: dist'(v) = min over incoming
    * (dist(u) + w) where real edges carry w = 1 in both orientations
    * and a per-node self-edge carries w = 0 (so the min includes the
    * node's own value — monotone non-increasing by construction, and
    * the sentinel keeps every node in the aggregate). Runs on
    * [[fixpoint]], cap n + period. */
  private def bfsCore(nodes: DataFrame, fwd: DataFrame, source: Long,
                      maxSteps: Long, tag: String = "g8_bfs"): DataFrame =
    // hop distance = the unit-weight special case; any real hop
    // distance is ≤ n−1, so n is a safe infinity
    wspCore(nodes, fwd.select(col("src"), col("dst"), lit(1L).as("w")),
      source, maxSteps, tag, infOf = identity)

  /** Weighted min-plus relaxation core — Bellman–Ford as the g2/g5
    * fixpoint loop: real edges carry POSITIVE integer weights in both
    * orientations, the per-node weight-0 self-edge keeps "own value"
    * in the min (monotone non-increasing by construction), and
    * [[fixpoint]] runs to the unique shortest-distance fixpoint.
    * Bellman–Ford needs ≤ n−1 full relaxation rounds REGARDLESS of
    * weights (each round extends every shortest path by ≥ 1 edge), so
    * the derived cap n + period carries over from the unit-weight
    * case unchanged. `infOf(n)` must exceed any real distance —
    * callers pass n for hops, n·maxW for weights. */
  private def wspCore(nodes: DataFrame, wedges: DataFrame, source: Long,
                      maxSteps: Long, tag: String,
                      infOf: Long => Long): DataFrame = {
    val und = wedges
      .unionByName(wedges.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      .unionByName(nodes.select(col("v").as("src"), col("v").as("dst"),
        lit(0L).as("w")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = nodes.count()
      val inf = infOf(n)
      val init = nodes.select(col("v"),
        when(col("v") === source, lit(0L)).otherwise(lit(inf)).as("dist"))
      val (dist, steps) = fixpoint(init, "dist",
        math.min(maxSteps, n + CkptEvery), n,
        s"BFS relaxation on $n nodes ($tag)")(minPlusStep(und))
      graft.Meter.steps(nodes.sparkSession, tag, steps)
      dist.select(col("v"),
        when(col("dist") >= inf, lit(-1L)).otherwise(col("dist")).as("dist"))
        .orderBy("v")
    } finally und.unpersist(blocking = true)
  }

  /** g12: WEIGHTED single-source shortest paths — Bellman–Ford over
    * the derived doc graph with deterministic positive integer edge
    * weights w = 1 + (src + dst) mod [[WspMaxW]] (link cost standing
    * in for latency/hop quality; the oracle re-derives it), source =
    * doc 0. g8 answers "how many hops"; this answers "what does the
    * cheapest route COST" — the weighted-path capability (routing,
    * weighted influence radius) the unit-BFS can't express. Same
    * fixpoint discipline and ONE-exchange step as g8 through the
    * shared [[wspCore]]; the cap is weight-independent (≤ n−1
    * Bellman–Ford rounds), the infinity sentinel is n·maxW. All
    * integers — exact. */
  val WspMaxW = 5

  def g12Wsp(spark: SparkSession, dir: String): DataFrame =
    g12Wsp(Tables.load(spark, dir, "documents"))

  def g12Wsp(docs0: DataFrame, maxSteps: Long = Long.MaxValue): DataFrame = {
    val docs = docs0.select(col("doc_id"))
    val n = denseN(docs, "g12")
    val wedges = syntheticFwd(docs, n).select(col("src"), col("dst"),
      (lit(1L) + pmod(col("src") + col("dst"), lit(WspMaxW.toLong))).as("w"))
    wspCore(docs.select(col("doc_id").as("v")), wedges, 0L, maxSteps,
      "g12_wsp", n => WspMaxW * n)
  }

  /** General weighted-shortest-path entry — an EXPLICIT
    * (src, dst, w) edge list with arbitrary sparse 64-bit node ids
    * and POSITIVE integer weights (validated with one aggregate —
    * a zero/negative weight voids the monotone-fixpoint argument and
    * must refuse loudly, not loop). Treated undirected. */
  def g12WspEdges(edges0: DataFrame, source: Long,
                  maxSteps: Long = Long.MaxValue): DataFrame = {
    val edges = edges0.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w"))
    val nodes = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
      .distinct()
    // min(w) skips NULLs, so it alone would wave through (or NPE on)
    // an edge list with null weights and the relaxation would then
    // silently DROP those edges instead of refusing loudly (r12
    // ADVICE). Count nulls in the same one-pass aggregate.
    val mm = edges.agg(min(col("w")), max(col("w")),
      count(lit(1)), count(when(col("w").isNull, 1))).head()
    require(mm.getLong(2) > 0, "g12 needs a non-empty edge list")
    require(mm.getLong(3) == 0,
      s"g12 needs non-null weights, saw ${mm.getLong(3)} null w rows")
    require(mm.getLong(0) >= 1,
      s"g12 needs positive integer weights, saw min ${mm.getLong(0)}")
    val maxW = mm.getLong(1)
    require(nodes.filter(col("v") === source).count() == 1,
      s"g12 source $source is not a node of the edge list")
    wspCore(nodes, edges, source, maxSteps, "g12_edges", n => maxW * n)
  }

  /** DuckDB oracle for [[g12Wsp]] — g8's list recursion with the
    * derived weights riding in the adjacency structs; unreachable ⇒
    * the n·maxW sentinel ⇒ −1. */
  def g12OracleSql(): String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni,
          count(*) * $WspMaxW AS inf FROM documents),
      fwd AS MATERIALIZED (
        SELECT src, dst, 1 + (src + dst) % $WspMaxW AS w
        FROM (
          SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
          FROM (
            SELECT doc_id AS src, j,
              (((doc_id * 7 + j) % 1000000000) * 2654435761)
                % 2147483647 % n AS dst0, n
            FROM documents, nn, generate_series(1, $OutDeg) t(j)) e) s),
      und AS MATERIALIZED (
        SELECT src, dst, w FROM fwd
        UNION ALL SELECT dst, src, w FROM fwd),
      adj AS MATERIALIZED (
        SELECT list_transform(
          list_sort(list(struct_pack(dst := dst, ns := ns))),
          s -> s['ns']) AS m
        FROM (SELECT dst, list(struct_pack(u := src, w := w)) AS ns
              FROM und GROUP BY dst) g),
      sp AS (
        SELECT 0 AS k,
          list_transform(generate_series(1, ni),
            i -> CASE WHEN i = 1 THEN CAST(0 AS BIGINT) ELSE inf END) AS d,
          CAST(NULL AS BIGINT[]) AS p
        FROM nn
        UNION ALL
        SELECT k + 1,
          list_transform(generate_series(1, ni), v ->
            least(sp.d[CAST(v AS INT)],
              list_reduce(list_prepend(inf,
                list_transform(adj.m[CAST(v AS INT)],
                  e -> sp.d[CAST(e['u'] AS INT) + 1] + e['w'])),
                (a, b) -> least(a, b)))) AS d,
          sp.d AS p
        FROM sp, nn, adj WHERE p IS NULL OR p <> d)
      SELECT i - 1 AS v,
        CASE WHEN f.d[i] >= inf THEN CAST(-1 AS BIGINT) ELSE f.d[i] END AS dist
      FROM (SELECT d FROM sp WHERE p = d) f, nn,
        (SELECT unnest(generate_series(1, ni)) AS i FROM nn) t
      ORDER BY v"""

  /** DuckDB oracle for [[g8Bfs]] — the same min-plus relaxation over a
    * single list-valued row, recursed TO THE FIXPOINT (g2's carried
    * `p` pattern; the explicit least(own, …) replaces the engine's
    * weight-0 self-edge). Unreachable ⇒ the `n` sentinel ⇒ −1. */
  def g8OracleSql(): String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni FROM documents),
      fwd AS MATERIALIZED (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      und AS MATERIALIZED (
        SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
      adj AS MATERIALIZED (
        SELECT list_transform(
          list_sort(list(struct_pack(dst := dst, ns := ns))),
          s -> s['ns']) AS m
        FROM (SELECT dst, list(DISTINCT src) AS ns FROM und GROUP BY dst) g),
      bfs AS (
        SELECT 0 AS k,
          list_transform(generate_series(1, ni),
            i -> CASE WHEN i = 1 THEN CAST(0 AS BIGINT) ELSE n END) AS d,
          CAST(NULL AS BIGINT[]) AS p
        FROM nn
        UNION ALL
        SELECT k + 1,
          list_transform(generate_series(1, ni), v ->
            least(bfs.d[CAST(v AS INT)],
              list_reduce(list_prepend(n,
                list_transform(adj.m[CAST(v AS INT)],
                  u -> bfs.d[CAST(u AS INT) + 1] + 1)),
                (a, b) -> least(a, b)))) AS d,
          bfs.d AS p
        FROM bfs, nn, adj WHERE p IS NULL OR p <> d)
      SELECT i - 1 AS v,
        CASE WHEN f.d[i] >= n THEN CAST(-1 AS BIGINT) ELSE f.d[i] END AS dist
      FROM (SELECT d FROM bfs WHERE p = d) f, nn,
        (SELECT unnest(generate_series(1, ni)) AS i FROM nn) t
      ORDER BY v"""

  /** Multi-source BFS behind [[g11Centrality]] and [[g16Betweenness]]:
    * (v, seed, dist) for the `nSeeds` deterministic pivots — the
    * smallest (Knuth-hash, id) rank, an S-row frame broadcast into the
    * init crossJoin — relaxed by [[minPlusStep]] over
    * `und(src, dst, w)` to the [[fixpoint]] (weight-0 self-edges keep
    * every pair in the aggregate, per-pair monotone non-increasing),
    * cap n + period. Unreached pairs keep dist = n. Returns
    * (state, steps). */
  private def multiSourceBfs(nodes: DataFrame, und: DataFrame, n: Long,
      nSeeds: Int, maxSteps: Long, what: String): (DataFrame, Long) = {
    val seeds = nodes.select(col("v").as("seed"),
        pmod(pmod(col("v"), lit(1000000000L)) * lit(2654435761L),
          lit(2147483647L)).as("hk"))
      .orderBy(col("hk"), col("seed"))
      .limit(nSeeds)
      .select(col("seed"))
    val init = nodes.crossJoin(broadcast(seeds))
      .select(col("v"), col("seed"),
        when(col("v") === col("seed"), lit(0L)).otherwise(lit(n)).as("dist"))
    fixpoint(init, "dist", math.min(maxSteps, n + CkptEvery), n,
      s"$what on $n nodes × $nSeeds seeds")(minPlusStep(und, "seed"))
  }

  /** g11: harmonic centrality from SAMPLED sources (the
    * Eppstein–Wang estimator family) — per node, Σ 1/d(s, v) over a
    * fixed set of [[G11Seeds]] pivot nodes, the "how close is this
    * page to everywhere" readout between degree (too local) and
    * PageRank (authority, not distance). Exact all-pairs harmonic
    * centrality is O(n·E) — dead at any scale; pivot sampling is the
    * standard estimator, and the pivot rule here is DETERMINISTIC:
    * the S nodes with the smallest Knuth-hash rank (hash ties broken
    * by id) — pseudo-random spread, bit-reproducible in both engines,
    * no rand().
    *
    * Iteration: ONE [[multiSourceBfs]] — state is (node, seed, dist),
    * S× the g8 frame, relaxed by g8's min-plus step. Cost: one
    * (edge×S)-scale exchange per step — S single-source BFS runs
    * would pay the same total exchanges but S× the scheduling and S
    * separate adjacency passes.
    *
    * Determinism of the final fold: each 1/d contribution is rounded
    * to 12 decimals and summed as DECIMAL(38,12) — exact and
    * order-free (the repo's Dec discipline), reproduced digit-for-
    * digit by the oracle. Unreachable pairs (dist = the n sentinel)
    * and the seed's own zero row are excluded; nodes reaching no
    * seed report harmonic 0 with n_reached 0. */
  val G11Seeds = 4

  def g11Centrality(spark: SparkSession, dir: String): DataFrame =
    g11Centrality(Tables.load(spark, dir, "documents"))

  def g11Centrality(docs0: DataFrame, nSeeds: Int = G11Seeds,
                    maxSteps: Long = Long.MaxValue): DataFrame = {
    val spine = docs0.select(col("doc_id"))
    val n = denseN(spine, "g11")
    require(nSeeds >= 1 && nSeeds <= n, s"g11 seeds $nSeeds outside 1..$n")
    val nodes = spine.select(col("doc_id").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fwd = syntheticFwd(spine, n).select(col("src"), col("dst"))
    val und = fwd
      .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .select(col("src"), col("dst"), lit(1L).as("w"))
      .unionByName(nodes.select(col("v").as("src"), col("v").as("dst"),
        lit(0L).as("w")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      und.count()
      val inf = n
      val (dist, steps) = multiSourceBfs(nodes, und, n, nSeeds, maxSteps,
        "multi-source BFS")
      graft.Meter.steps(nodes.sparkSession, "g11_centrality", steps)
      val contrib = dist
        .filter(col("dist") > 0 && col("dist") < inf)
        .groupBy(col("v"))
        .agg(count(lit(1)).as("n_reached"),
          sum(round(lit(1.0) / col("dist").cast("double"), 12)
            .cast("decimal(38,12)")).as("hsum"))
      nodes.join(contrib, Seq("v"), "left_outer")
        .select(col("v").as("doc_id"),
          coalesce(col("n_reached"), lit(0L)).as("n_reached"),
          round(coalesce(col("hsum"),
            lit(java.math.BigDecimal.ZERO).cast("decimal(38,12)"))
            .cast("double"), 6).as("harmonic"))
        .orderBy("doc_id")
    } finally {
      und.unpersist(blocking = true)
      nodes.unpersist(blocking = true)
    }
  }

  /** DuckDB oracle for [[g11Centrality]] — the same deterministic
    * pivot rule, one list-valued BFS recursion PER SEED ROW (each row
    * recurses to its own fixpoint via the carried `p`), the same
    * round-12 decimal contributions. */
  def g11OracleSql(nSeeds: Int = G11Seeds): String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni FROM documents),
      fwd AS MATERIALIZED (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      und AS MATERIALIZED (
        SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
      adj AS MATERIALIZED (
        SELECT list_transform(
          list_sort(list(struct_pack(dst := dst, ns := ns))),
          s -> s['ns']) AS m
        FROM (SELECT dst, list(DISTINCT src) AS ns FROM und GROUP BY dst) g),
      seeds AS MATERIALIZED (
        SELECT doc_id AS seed FROM documents
        ORDER BY ((doc_id % 1000000000) * 2654435761) % 2147483647, doc_id
        LIMIT $nSeeds),
      bfs AS (
        SELECT 0 AS k, s.seed AS seed,
          list_transform(generate_series(1, ni),
            i -> CASE WHEN i - 1 = s.seed THEN CAST(0 AS BIGINT)
                 ELSE n END) AS d,
          CAST(NULL AS BIGINT[]) AS p
        FROM seeds s, nn
        UNION ALL
        SELECT k + 1, seed,
          list_transform(generate_series(1, ni), v ->
            least(bfs.d[CAST(v AS INT)],
              list_reduce(list_prepend(n,
                list_transform(adj.m[CAST(v AS INT)],
                  u -> bfs.d[CAST(u AS INT) + 1] + 1)),
                (a, b) -> least(a, b)))) AS d,
          bfs.d AS p
        FROM bfs, nn, adj WHERE p IS NULL OR p <> d)
      SELECT t.doc_id,
        CAST(count(CASE WHEN dv > 0 AND dv < n THEN 1 END) AS BIGINT)
          AS n_reached,
        round(CAST(coalesce(sum(CASE WHEN dv > 0 AND dv < n
            THEN CAST(round(1.0 / dv, 12) AS DECIMAL(38,12)) END),
          CAST(0 AS DECIMAL(38,12))) AS DOUBLE), 6) AS harmonic
      FROM (
        SELECT d.doc_id, f.d[CAST(d.doc_id AS INT) + 1] AS dv, nn.n
        FROM (SELECT seed, d FROM bfs WHERE p = d) f,
          documents d, nn) t
      GROUP BY t.doc_id ORDER BY t.doc_id"""

  /** g3: triangle counting + global clustering coefficient over the
    * simple undirected form of the derived graph — the classic
    * massive-graph structure metric (community density, spam/bot
    * subgraph detection).
    *
    * Scale design — the Suri–Vassilvitskii orientation: every simple
    * edge is directed from its (degree, id)-SMALLER endpoint to the
    * larger, so each triangle is generated by exactly ONE wedge at its
    * lowest-degree corner and per-node out-degree is O(√E) on any
    * graph — the wedge self-join fan-out is bounded even under power-
    * law skew, where a plain id-orientation would square the hub
    * degree. Wedges close against the oriented edge list with one
    * equi-join. All integers ⇒ exact; the clustering coefficient is
    * one rounded division at the very end. */
  def g3Triangles(spark: SparkSession, dir: String): DataFrame =
    g3Triangles(Tables.load(spark, dir, "documents"))

  def g3Triangles(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"))
    val n = denseN(docs, "g3")
    g3Core(docs.agg(count(lit(1)).as("n_nodes")),
      simpleUndirected(syntheticFwd(docs, n)))
  }

  /** General triangle-count entry — an EXPLICIT (src, dst) edge list
    * with arbitrary (sparse, 64-bit, even negative) node ids; the
    * (degree, id) orientation and wedge closure never index by id, so
    * the dense-id `require` above guards only the synthetic-generator
    * path. n_nodes counts distinct endpoints (an edge list carries no
    * isolated nodes). */
  def g3TrianglesEdges(edges0: DataFrame): DataFrame = {
    val simple = simpleUndirected(
      edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")))
    val nodes = simple.select(explode(array(col("a"), col("b"))).as("v"))
      .distinct()
    g3Core(nodes.agg(count(lit(1)).as("n_nodes")), simple)
  }

  /** Shared g3/g14 triangle machinery: per-node degrees and the
    * (degree, id)-oriented edge list (u → v iff (d_u, u) < (d_v, v)),
    * checkpointed — the orientation that bounds wedge fan-out at
    * O(√E) per node on any graph, hubs included. */
  private def orientByDegree(simple: DataFrame): (DataFrame, DataFrame) = {
    val deg = simple.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withDeg = simple
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val oriented = graft.Ckpt(withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("v"),
          col("db").as("dv"), col("b").as("vid")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"),
          col("da").as("dv"), col("a").as("vid"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv")))
    (deg, oriented)
  }

  /** Wedges at the lowest-(degree, id) corner of each potential
    * triangle — exactly one wedge generates each triangle. */
  private def orientedWedges(oriented: DataFrame): DataFrame = {
    val o1 = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val o2 = oriented.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    o1.join(o2, "u")
      .filter(struct(col("dx"), col("x")) < struct(col("dy"), col("y")))
  }

  private def g3Core(nNodes: DataFrame, simple: DataFrame): DataFrame = {
    val (deg, oriented) = orientByDegree(simple)
    val wedges = orientedWedges(oriented)
    val tris = wedges.join(oriented.select(col("u").as("x"),
        col("v").as("y")), Seq("x", "y"), "left_semi")
    // single-row aggregates composed in-plan (no driver-side math)
    nNodes
      .crossJoin(simple.agg(count(lit(1)).as("n_edges")))
      .crossJoin(deg.agg(sum(expr("d * (d - 1) div 2")).as("n_wedges")))
      .crossJoin(tris.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0, lit(0.0)).otherwise(
          round(lit(3.0) * col("n_triangles").cast("double")
            / col("n_wedges").cast("double"), 6)).as("clustering"))
  }

  /** DuckDB oracle for [[g3Triangles]] — same derivation, same
    * (degree, id) orientation, same one-wedge-per-triangle closure. */
  def g3OracleSql: String = s"""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      fwd AS (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      simple AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM fwd),
      deg AS MATERIALIZED (
        SELECT v, count(*) AS d FROM (
          SELECT a AS v FROM simple UNION ALL SELECT b FROM simple) t
        GROUP BY v),
      oriented AS MATERIALIZED (
        SELECT CASE WHEN (da.d, s.a) < (db.d, s.b) THEN s.a ELSE s.b END AS u,
          CASE WHEN (da.d, s.a) < (db.d, s.b) THEN s.b ELSE s.a END AS v,
          CASE WHEN (da.d, s.a) < (db.d, s.b) THEN db.d ELSE da.d END AS dv
        FROM simple s
        JOIN deg da ON da.v = s.a
        JOIN deg db ON db.v = s.b),
      wedges AS (
        SELECT o1.v AS x, o2.v AS y
        FROM oriented o1 JOIN oriented o2 ON o1.u = o2.u
        WHERE (o1.dv, o1.v) < (o2.dv, o2.v)),
      tris AS (
        SELECT count(*) AS t FROM wedges w
        WHERE EXISTS (SELECT 1 FROM oriented o
                      WHERE o.u = w.x AND o.v = w.y))
      SELECT n AS n_nodes,
        (SELECT count(*) FROM simple) AS n_edges,
        (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
        (SELECT t FROM tris) AS n_triangles,
        CASE WHEN (SELECT sum(d * (d - 1) // 2) FROM deg) = 0 THEN 0.0
          ELSE round(CAST(3.0 AS DOUBLE)
            * CAST((SELECT t FROM tris) AS DOUBLE)
            / CAST((SELECT sum(d * (d - 1) // 2) FROM deg) AS DOUBLE), 6)
          END AS clustering
      FROM nn"""

  /** g14: LOCAL clustering coefficient profile — per-node
    * c_v = 2·t_v / (d_v·(d_v−1)) (t_v = triangles at v; c_v ≐ 0 for
    * d < 2), aggregated into g13's log₂ degree buckets. g3 answers
    * "how clustered is the graph" in one number; this answers the
    * question community/spam analysts actually ask — DO HIGH-DEGREE
    * NODES CLOSE TRIANGLES (organic neighbourhoods) or not (crawl
    * hubs, link farms)? The degree-bucket × avg-LCC curve is that
    * dashboard.
    *
    * Per-node triangle counts come from g3's machinery run ONE
    * exchange further: each triangle is generated exactly once at its
    * lowest-(degree, id) corner, then credited to all THREE corners
    * (explode + count — triangle-scale, the same cardinality g3
    * already enumerates). The (degree, id) orientation keeps wedge
    * fan-out O(√E) per node, hubs included.
    *
    * Determinism: per-node c_v is rounded to 12 dp and summed as
    * DECIMAL(38,12) (t28's order-free fold); the bucket average is
    * one double division phrased identically in both engines.
    *
    * 100 TB contract: wedge join bounded by the orientation; the
    * per-corner credit is one explode (3× triangles) + one count
    * shuffle; output is ≤ 64 buckets. No per-node state beyond a
    * count; no windows. */
  def g14LocalClustering(spark: SparkSession, dir: String): DataFrame =
    g14LocalClustering(Tables.load(spark, dir, "documents"))

  def g14LocalClustering(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"))
    val n = denseN(docs, "g14")
    g14Core(simpleUndirected(syntheticFwd(docs, n)))
  }

  /** General entry — explicit (src, dst) edge list, arbitrary sparse
    * 64-bit ids (the Edges-variant convention). */
  def g14LocalClusteringEdges(edges0: DataFrame): DataFrame =
    g14Core(simpleUndirected(
      edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))))

  private def g14Core(simple: DataFrame): DataFrame = {
    val (deg, oriented) = orientByDegree(simple)
    // inner join (not semi): the wedge row carries corners u, x, y
    val tris = orientedWedges(oriented)
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
    val perNode = tris
      .select(explode(array(col("u"), col("x"), col("y"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v"), col("d"),
        coalesce(col("t"), lit(0L)).as("t"))
      .withColumn("lccq",
        when(col("d") < 2, lit(0.0))
          .otherwise(round(lit(2.0) * col("t").cast("double")
            / (col("d") * (col("d") - 1)).cast("double"), 12))
          .cast("decimal(38,12)"))
      .withColumn("bucket", (length(bin(col("d"))) - 1).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("t")).as("n_corner_triangles"),
        round(sum(col("lccq")).cast("double")
          / count(lit(1)).cast("double"), 6).as("avg_lcc"))
      .orderBy("bucket")
  }

  /** DuckDB oracle for [[g14LocalClustering]] — g3's derivation and
    * orientation, the corner credit, the identical round-12 /
    * DECIMAL(38,12) fold and bucket average. */
  def g14OracleSql: String = s"""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      fwd AS (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      simple AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM fwd),
      deg AS MATERIALIZED (
        SELECT v, count(*) AS d FROM (
          SELECT a AS v FROM simple UNION ALL SELECT b FROM simple) t
        GROUP BY v),
      oriented AS MATERIALIZED (
        SELECT CASE WHEN (da.d, s.a) < (db.d, s.b) THEN s.a ELSE s.b END AS u,
          CASE WHEN (da.d, s.a) < (db.d, s.b) THEN s.b ELSE s.a END AS v,
          CASE WHEN (da.d, s.a) < (db.d, s.b) THEN db.d ELSE da.d END AS dv
        FROM simple s
        JOIN deg da ON da.v = s.a
        JOIN deg db ON db.v = s.b),
      tris AS (
        SELECT o1.u AS u, o1.v AS x, o2.v AS y
        FROM oriented o1 JOIN oriented o2 ON o1.u = o2.u
        WHERE (o1.dv, o1.v) < (o2.dv, o2.v)
          AND EXISTS (SELECT 1 FROM oriented o
                      WHERE o.u = o1.v AND o.v = o2.v)),
      pn AS (
        SELECT v, count(*) AS t FROM (
          SELECT u AS v FROM tris
          UNION ALL SELECT x FROM tris
          UNION ALL SELECT y FROM tris) c
        GROUP BY v),
      lcc AS (
        SELECT deg.v, deg.d, coalesce(pn.t, 0) AS t,
          CAST(CASE WHEN deg.d < 2 THEN 0.0
            ELSE round(2.0 * CAST(coalesce(pn.t, 0) AS DOUBLE)
              / CAST(deg.d * (deg.d - 1) AS DOUBLE), 12) END
            AS DECIMAL(38,12)) AS lccq
        FROM deg LEFT JOIN pn ON pn.v = deg.v)
      SELECT length(bin(d)) - 1 AS bucket,
        count(*) AS n_nodes,
        CAST(sum(t) AS BIGINT) AS n_corner_triangles,
        round(CAST(sum(lccq) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
          AS avg_lcc
      FROM lcc GROUP BY bucket ORDER BY bucket"""

  /** g15: DIAMETER estimate by the classic DOUBLE-SWEEP BFS (Magnien–
    * Latapy–Habib) — the graph-radius preflight behind watermark-style
    * iteration budgets: BFS from a fixed root, then BFS again from the
    * farthest node found; the second eccentricity is a diameter LOWER
    * bound that is exact on trees and empirically tight on real
    * graphs, at the cost of TWO BFS passes instead of the hopeless
    * all-pairs O(n·E). Deterministic end to end: both sweeps are g8's
    * exact integer fixpoint (shared [[bfsCore]] — weight-0 self-edges,
    * exact-sum probe, one edge-scale exchange per step), and the
    * farthest-node pick breaks distance ties on the SMALLER id in
    * both engines. Output is one row: root, its farthest node +
    * eccentricity, the second sweep's farthest node + the diameter
    * bound, unreachable count, node count.
    *
    * 100 TB contract: exactly 2× g8's cost — the second source is a
    * one-row planning scalar (the next BFS needs it as a literal),
    * everything else composes in-plan; final rollup is one aggregate
    * with an in-plan struct-argmax (no extra pass for the argmax). */
  def g15Diameter(spark: SparkSession, dir: String): DataFrame =
    g15Diameter(Tables.load(spark, dir, "documents"))

  def g15Diameter(docs0: DataFrame, maxSteps: Long = Long.MaxValue)
      : DataFrame = {
    val docs = docs0.select(col("doc_id"))
    val n = denseN(docs, "g15")
    g15Core(docs.select(col("doc_id").as("v")),
      syntheticFwd(docs, n).select(col("src"), col("dst")), 0L, maxSteps)
  }

  /** General entry — explicit (src, dst) edge list, arbitrary sparse
    * 64-bit ids; root = the smallest node id. */
  def g15DiameterEdges(edges0: DataFrame,
                       maxSteps: Long = Long.MaxValue): DataFrame = {
    val edges = edges0.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val nodes = edges.select(explode(array(col("src"), col("dst"))).as("v"))
      .distinct()
    val r = nodes.agg(min(col("v"))).head()
    require(!r.isNullAt(0), "g15 needs a non-empty edge list")
    g15Core(nodes, edges, r.getLong(0), maxSteps, tag = "g15_edges")
  }

  private def g15Core(nodes: DataFrame, fwd: DataFrame, root: Long,
                      maxSteps: Long, tag: String = "g15"): DataFrame = {
    val d1 = bfsCore(nodes, fwd, root, maxSteps, s"${tag}_pass1")
    // farthest reachable node (max dist, tie → min id): a one-row
    // planning scalar — the second sweep needs its source as a literal
    val far1 = d1.filter(col("dist") >= 0)
      .orderBy(col("dist").desc, col("v")).head()
    val (u, ecc) = (far1.getLong(0), far1.getLong(1))
    val d2 = bfsCore(nodes, fwd, u, maxSteps, s"${tag}_pass2")
    d2.agg(
        max(struct(col("dist").as("d"), (-col("v")).as("nv"))).as("m"),
        count(when(col("dist") < 0, 1)).as("n_unreachable"),
        count(lit(1)).as("n_nodes"))
      .select(lit(root).as("source"), lit(u).as("far_node"),
        lit(ecc).as("ecc_source"),
        (-col("m.nv")).as("far_node2"), col("m.d").as("diameter_lb"),
        col("n_unreachable"), col("n_nodes"))
  }

  /** DuckDB oracle for [[g15Diameter]] — g8's recursion run twice,
    * the second seeded from the first sweep's (max dist, min id)
    * argmax; the sweeps chain through one WITH RECURSIVE. */
  def g15OracleSql(): String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni FROM documents),
      fwd AS MATERIALIZED (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      und AS MATERIALIZED (
        SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
      adj AS MATERIALIZED (
        SELECT list_transform(
          list_sort(list(struct_pack(dst := dst, ns := ns))),
          s -> s['ns']) AS m
        FROM (SELECT dst, list(DISTINCT src) AS ns FROM und GROUP BY dst) g),
      bfs AS (
        SELECT 0 AS k,
          list_transform(generate_series(1, ni),
            i -> CASE WHEN i = 1 THEN CAST(0 AS BIGINT) ELSE n END) AS d,
          CAST(NULL AS BIGINT[]) AS p
        FROM nn
        UNION ALL
        SELECT k + 1,
          list_transform(generate_series(1, ni), v ->
            least(bfs.d[CAST(v AS INT)],
              list_reduce(list_prepend(n,
                list_transform(adj.m[CAST(v AS INT)],
                  u -> bfs.d[CAST(u AS INT) + 1] + 1)),
                (a, b) -> least(a, b)))) AS d,
          bfs.d AS p
        FROM bfs, nn, adj WHERE p IS NULL OR p <> d),
      f1 AS MATERIALIZED (
        SELECT i, f.d[i] AS dist
        FROM (SELECT d FROM bfs WHERE p = d) f, nn,
          (SELECT unnest(generate_series(1, ni)) AS i FROM nn) t),
      e1 AS MATERIALIZED (
        SELECT max(CASE WHEN dist < n THEN dist END) AS ecc,
          CAST(min(CASE WHEN dist =
            (SELECT max(CASE WHEN dist < n THEN dist END) FROM f1, nn)
            THEN i END) AS INT) AS ui
        FROM f1, nn),
      bfs2 AS (
        SELECT 0 AS k,
          list_transform(generate_series(1, ni),
            i -> CASE WHEN i = e1.ui THEN CAST(0 AS BIGINT) ELSE n END)
            AS d,
          CAST(NULL AS BIGINT[]) AS p
        FROM nn, e1
        UNION ALL
        SELECT k + 1,
          list_transform(generate_series(1, ni), v ->
            least(bfs2.d[CAST(v AS INT)],
              list_reduce(list_prepend(n,
                list_transform(adj.m[CAST(v AS INT)],
                  u -> bfs2.d[CAST(u AS INT) + 1] + 1)),
                (a, b) -> least(a, b)))) AS d,
          bfs2.d AS p
        FROM bfs2, nn, adj WHERE p IS NULL OR p <> d),
      f2 AS MATERIALIZED (
        SELECT i, f.d[i] AS dist
        FROM (SELECT d FROM bfs2 WHERE p = d) f, nn,
          (SELECT unnest(generate_series(1, ni)) AS i FROM nn) t)
      SELECT CAST(0 AS BIGINT) AS source,
        CAST((SELECT ui FROM e1) - 1 AS BIGINT) AS far_node,
        (SELECT ecc FROM e1) AS ecc_source,
        CAST(min(CASE WHEN dist =
          (SELECT max(CASE WHEN dist < n THEN dist END) FROM f2, nn)
          THEN i END) - 1 AS BIGINT) AS far_node2,
        max(CASE WHEN dist < n THEN dist END) AS diameter_lb,
        CAST(count(CASE WHEN dist >= n THEN 1 END) AS BIGINT)
          AS n_unreachable,
        n AS n_nodes
      FROM f2, nn GROUP BY n"""

  /** Pivot count for [[g16Betweenness]] — g11's sampling rule. */
  val G16Seeds = 4

  def g16Betweenness(spark: SparkSession, dir: String): DataFrame =
    g16Betweenness(Tables.load(spark, dir, "documents"))

  /** g16: SAMPLED betweenness centrality (Brandes 2001 accumulation
    * over Eppstein–Wang-style pivots) — the "who sits on the traffic"
    * centrality g11's harmonic (closeness family) does not give:
    * delta_s(v) sums, over shortest paths FROM pivot s, the fraction
    * passing THROUGH v. Exact all-pairs Brandes is O(n·E) — dead at
    * scale — so the estimate sums dependencies from [[G16Seeds]]
    * deterministic pivots (smallest Knuth-hash rank, id tie-break —
    * g11's rule, reproducible under re-runs and re-shards).
    *
    * Three phases, all on the (v, seed) keyed state so every pivot
    * rides ONE shared exchange per step (never S separate BFS runs):
    * (1) multi-source BFS distances — g11's [[multiSourceBfs]]
    * (steps recorded); (2) path counts sigma, level-synchronous: sigma(v) =
    * Σ sigma(u) over edge-predecessors one level nearer the pivot —
    * a driver loop over BFS levels (bounded by the graph's
    * eccentricity, the quantity g15 measures), each step one
    * edge-scale equi-join + count-style aggregate, sigma summed as
    * DECIMAL(38,0) (path counts explode combinatorially — integer
    * exact up to 38 digits, the same overflow headroom class as
    * g1's DECIMAL rank); (3) Brandes' backward accumulation,
    * descending the same levels: delta(v) = sigma_v · Σ_succ
    * round((1 + delta_w)/sigma_w, 12), each per-successor term
    * round-12 quantized and summed as DECIMAL(38,12) (order-free —
    * partitioning-independent), one double multiply per node per
    * level. Per-node state is one row — no neighbour lists, hub-safe.
    * Betweenness = Σ over pivots of delta (pivot's own row excluded),
    * an exact decimal fold, rounded once at the end.
    *
    * The simple-graph contract: sigma counts paths over the DISTINCT
    * undirected neighbour relation (parallel derived edges would
    * multiply path counts), so the traversal edge set is de-duplicated
    * — exactly the `list(DISTINCT ...)` the oracle's adjacency takes. */
  def g16Betweenness(docs0: DataFrame, nSeeds: Int = G16Seeds,
                     maxSteps: Long = Long.MaxValue): DataFrame = {
    val spine = docs0.select(col("doc_id"))
    val n = denseN(spine, "g16")
    require(nSeeds >= 1 && nSeeds <= n, s"g16 seeds $nSeeds outside 1..$n")
    val nodes = spine.select(col("doc_id").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fwd = syntheticFwd(spine, n).select(col("src"), col("dst"))
    // simple undirected neighbour relation — sigma's path-count
    // semantics require de-duplicated edges
    val adj = fwd
      .unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val undSelf = adj.select(col("src"), col("dst"), lit(1L).as("w"))
      .unionByName(nodes.select(col("v").as("src"), col("v").as("dst"),
        lit(0L).as("w")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      undSelf.count()
      val inf = n
      // ---- phase 1: multi-source BFS distances (g11's fixpoint) ----
      val (distF, steps) = multiSourceBfs(nodes, undSelf, n, nSeeds,
        maxSteps, "g16 BFS")
      // highest populated BFS level — a one-row planning scalar that
      // bounds both the forward and backward level loops
      val maxLev = Option(distF.filter(col("dist") < inf)
        .agg(max(col("dist"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      graft.Meter.steps(nodes.sparkSession, "g16_betweenness", steps + 2 * maxLev)
      // ---- phase 2: path counts, level-synchronous ----
      val lvlSigma = new scala.collection.mutable.ArrayBuffer[DataFrame]()
      var sig = graft.Ckpt(distF.filter(col("dist") === 0L)
        .select(col("v"), col("seed"),
          lit(java.math.BigDecimal.ONE).cast("decimal(38,0)").as("sigma")))
      lvlSigma += sig
      for (lev <- 1L to maxLev) {
        sig = graft.Ckpt(adj
          .join(sig.select(col("v").as("src"), col("seed"), col("sigma")),
            Seq("src"))
          .select(col("dst").as("v"), col("seed"), col("sigma"))
          .join(distF.filter(col("dist") === lev).select("v", "seed"),
            Seq("v", "seed"), "left_semi")
          .groupBy("v", "seed")
          .agg(sum(col("sigma")).as("sigma")))
        lvlSigma += sig
      }
      // ---- phase 3: Brandes backward accumulation ----
      var delta = graft.Ckpt(lvlSigma(maxLev.toInt)
        .select(col("v"), col("seed"), col("sigma"), lit(0.0).as("delta")))
      val acc = new scala.collection.mutable.ArrayBuffer[DataFrame]()
      if (maxLev >= 1L) acc += delta
      for (lev <- (maxLev - 1) to 0L by -1L) {
        val terms = adj
          .join(delta.select(col("v").as("dst"), col("seed"),
            round((lit(1.0) + col("delta")) / col("sigma").cast("double"), 12)
              .cast("decimal(38,12)").as("t")), Seq("dst"))
          .select(col("src").as("v"), col("seed"), col("t"))
          .join(distF.filter(col("dist") === lev).select("v", "seed"),
            Seq("v", "seed"), "left_semi")
          .groupBy("v", "seed").agg(sum(col("t")).as("ts"))
        delta = graft.Ckpt(lvlSigma(lev.toInt)
          .join(terms, Seq("v", "seed"), "left_outer")
          .select(col("v"), col("seed"), col("sigma"),
            when(col("ts").isNull, lit(0.0)).otherwise(
              round(col("sigma").cast("double") * col("ts").cast("double"),
                12)).as("delta")))
        if (lev >= 1L) acc += delta
      }
      val bc =
        if (acc.isEmpty) nodes.select(col("v"),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,12)").as("b"))
          .limit(0)
        else acc.reduce(_ unionByName _)
          .groupBy("v")
          .agg(sum(col("delta").cast("decimal(38,12)")).as("b"))
      nodes.join(bc, Seq("v"), "left_outer")
        .select(col("v").as("doc_id"),
          round(coalesce(col("b"),
            lit(java.math.BigDecimal.ZERO).cast("decimal(38,12)"))
            .cast("double"), 6).as("betweenness"))
        .orderBy("doc_id")
    } finally {
      undSelf.unpersist(blocking = true)
      adj.unpersist(blocking = true)
      nodes.unpersist(blocking = true)
    }
  }

  /** DuckDB oracle for [[g16Betweenness]] — g11's list-valued per-seed
    * BFS recursion, then the same level-synchronous sigma recursion
    * (HUGEINT — the DECIMAL(38,0) twin), then the same descending
    * delta recursion with identical round-12 term quantization,
    * decimal term sums and per-node double multiply. */
  def g16OracleSql(nSeeds: Int = G16Seeds): String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni FROM documents),
      fwd AS MATERIALIZED (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      und AS MATERIALIZED (
        SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
      adj AS MATERIALIZED (
        SELECT list_transform(
          list_sort(list(struct_pack(dst := dst, ns := ns))),
          s -> s['ns']) AS m
        FROM (SELECT dst, list(DISTINCT src) AS ns FROM und GROUP BY dst) g),
      seeds AS MATERIALIZED (
        SELECT doc_id AS seed FROM documents
        ORDER BY ((doc_id % 1000000000) * 2654435761) % 2147483647, doc_id
        LIMIT $nSeeds),
      bfs AS (
        SELECT 0 AS k, s.seed AS seed,
          list_transform(generate_series(1, ni),
            i -> CASE WHEN i - 1 = s.seed THEN CAST(0 AS BIGINT)
                 ELSE n END) AS d,
          CAST(NULL AS BIGINT[]) AS p
        FROM seeds s, nn
        UNION ALL
        SELECT k + 1, seed,
          list_transform(generate_series(1, ni), v ->
            least(bfs.d[CAST(v AS INT)],
              list_reduce(list_prepend(n,
                list_transform(adj.m[CAST(v AS INT)],
                  u -> bfs.d[CAST(u AS INT) + 1] + 1)),
                (a, b) -> least(a, b)))) AS d,
          bfs.d AS p
        FROM bfs, nn, adj WHERE p IS NULL OR p <> d),
      fdist AS MATERIALIZED (SELECT seed, d FROM bfs WHERE p = d),
      ml AS MATERIALIZED (
        SELECT coalesce(max(dv), 0) AS maxlev FROM (
          SELECT unnest(d) AS dv FROM fdist), nn WHERE dv < n),
      sig AS (
        SELECT 0 AS k, seed, d,
          list_transform(generate_series(1, ni), i ->
            CASE WHEN d[CAST(i AS INT)] = 0 THEN CAST(1 AS HUGEINT)
            ELSE CAST(0 AS HUGEINT) END) AS s
        FROM fdist, nn
        UNION ALL
        SELECT k + 1, seed, d,
          list_transform(generate_series(1, ni), v ->
            CASE WHEN d[CAST(v AS INT)] = k + 1 THEN
              coalesce(list_sum(list_transform(adj.m[CAST(v AS INT)],
                u -> CASE WHEN d[CAST(u AS INT) + 1] = k
                     THEN s[CAST(u AS INT) + 1]
                     ELSE CAST(0 AS HUGEINT) END)), CAST(0 AS HUGEINT))
            ELSE s[CAST(v AS INT)] END) AS s
        FROM sig, nn, adj, ml WHERE k < ml.maxlev),
      fsig AS MATERIALIZED (
        SELECT sig.seed, sig.d, sig.s FROM sig, ml WHERE sig.k = ml.maxlev),
      del AS (
        SELECT 0 AS t, seed, d, s,
          list_transform(generate_series(1, ni),
            i -> CAST(0.0 AS DOUBLE)) AS dl
        FROM fsig, nn
        UNION ALL
        SELECT t + 1, seed, d, s,
          list_transform(generate_series(1, ni), v ->
            CASE WHEN d[CAST(v AS INT)] = ml.maxlev - (t + 1) THEN
              round(CAST(s[CAST(v AS INT)] AS DOUBLE) * CAST(
                coalesce(list_sum(list_transform(adj.m[CAST(v AS INT)],
                  u -> CASE WHEN d[CAST(u AS INT) + 1] = ml.maxlev - t
                       THEN CAST(round((1.0 + dl[CAST(u AS INT) + 1])
                         / CAST(s[CAST(u AS INT) + 1] AS DOUBLE), 12)
                         AS DECIMAL(38,12))
                       ELSE CAST(0 AS DECIMAL(38,12)) END)),
                  CAST(0 AS DECIMAL(38,12))) AS DOUBLE), 12)
            ELSE dl[CAST(v AS INT)] END) AS dl
        FROM del, nn, adj, ml WHERE t < ml.maxlev),
      fdel AS MATERIALIZED (
        SELECT del.seed, del.d, del.dl FROM del, ml WHERE del.t = ml.maxlev)
      SELECT t.doc_id,
        round(CAST(coalesce(sum(CASE WHEN dv >= 1 AND dv < n
            THEN CAST(dlv AS DECIMAL(38,12)) END),
          CAST(0 AS DECIMAL(38,12))) AS DOUBLE), 6) AS betweenness
      FROM (
        SELECT d.doc_id, f.d[CAST(d.doc_id AS INT) + 1] AS dv,
          f.dl[CAST(d.doc_id AS INT) + 1] AS dlv, nn.n
        FROM fdel f, documents d, nn) t
      GROUP BY t.doc_id ORDER BY t.doc_id"""

  /** Candidate horizon of [[g17LinkPredict]] — the endpoint is "the
    * K strongest missing links", not a full quadratic score table. */
  final val G17TopK = 20

  /** g17: LINK PREDICTION by common-neighbor evidence — the "which
    * edge is missing" counterpart of the descriptive graph family
    * (the crawl-frontier / related-source suggestion a link-graph
    * pipeline runs after the census ops): for every NON-adjacent
    * pair (x < y) sharing at least one neighbor, the common-neighbor
    * count and the Adamic–Adar score AA = Σ_{z ∈ N(x)∩N(y)} 1/ln d_z
    * (Adamic & Adar 2003 — hub centers are down-weighted because a
    * shared hub is weak evidence). Output = the [[G17TopK]] strongest
    * candidates by (AA desc, x, y).
    *
    * Determinism: per-center weights 1/ln(d) are round-12 quantized
    * DECIMAL(13,12) and summed order-free as DECIMAL; the ranking
    * compares the EXACT decimal sum (ties broken on ids), so the
    * top-K horizon is engine- and partitioning-stable; the double
    * cast + round(6) happens once, after the horizon.
    *
    * Scale shape: candidate pairs are generated as wedges at their
    * common neighbor — per-center cost d_z², the hub-quadratic risk
    * class — so the Edges entry takes `maxCenterDegree` (d17's
    * df-cut discipline): centers above the cap are EXCLUDED from
    * evidence and LOUDLY counted in `n_capped_centers` (for AA the
    * cut is also principled: a dropped center contributes the
    * smallest possible weight 1/ln d). The default is uncapped and
    * exact — the oracle gate runs exact; a raw web-scale link graph
    * sets the cap. The final top-K is a TakeOrdered (map-side heap),
    * never a full sort. */
  def g17LinkPredict(spark: SparkSession, dir: String): DataFrame =
    g17LinkPredict(Tables.load(spark, dir, "documents"))

  def g17LinkPredict(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"))
    val n = denseN(docs, "g17")
    g17Core(simpleUndirected(syntheticFwd(docs, n)))
  }

  /** General entry — explicit (src, dst) edge list, arbitrary sparse
    * 64-bit ids; `maxCenterDegree` caps the wedge fan-out per common
    * neighbor (uncapped = exact). */
  def g17LinkPredictEdges(edges0: DataFrame,
      maxCenterDegree: Long = Long.MaxValue): DataFrame =
    g17Core(simpleUndirected(
      edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))), maxCenterDegree)

  private def g17Core(simple: DataFrame,
      maxCenterDegree: Long = Long.MaxValue): DataFrame = {
    val deg = simple.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val adj = simple.select(col("a").as("z"), col("b").as("x"))
      .union(simple.select(col("b").as("z"), col("a").as("x")))
    val withDeg = graft.Ckpt(adj
      .join(deg.select(col("v").as("z"), col("d")), "z"))
    val nCapped = withDeg.filter(col("d") > maxCenterDegree)
      .agg(countDistinct(col("z")).as("n_capped_centers"))
    // d >= 2: a degree-1 center has one neighbor, so it can form no
    // wedge — dropping it is semantics-preserving AND removes the
    // 1/ln(1) = Infinity weight, which Spark would silently null on
    // the DECIMAL cast while DuckDB aborts the cast outright.
    val kept = withDeg.filter(col("d") <= maxCenterDegree && col("d") >= 2)
      .withColumn("w", round(lit(1.0) / log(col("d").cast("double")), 12)
        .cast("decimal(13,12)"))
    val cand = kept.select(col("z"), col("x"), col("w"))
      .join(kept.select(col("z"), col("x").as("y")), "z")
      .filter(col("x") < col("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("cn"), sum(col("w")).as("aaq"))
    cand
      .join(simple.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
      .crossJoin(broadcast(nCapped)) // one row — in-plan, not a head()
      .orderBy(col("aaq").desc, col("x"), col("y"))
      .limit(G17TopK)
      .select(col("x"), col("y"), col("cn"),
        round(col("aaq").cast("double"), 6).as("adamic_adar"),
        col("n_capped_centers"))
  }

  /** DuckDB oracle for [[g17LinkPredict]] — identical wedge-at-center
    * derivation, round-12 decimal weights, exact-decimal ranking. */
  def g17OracleSql: String = s"""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      fwd AS (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      simple AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM fwd),
      deg AS (
        SELECT v, count(*) AS d FROM (
          SELECT a AS v FROM simple UNION ALL SELECT b FROM simple) t
        GROUP BY v),
      adj AS (
        SELECT a AS z, b AS x FROM simple
        UNION ALL SELECT b, a FROM simple),
      kept AS MATERIALIZED (
        SELECT z, x,
          CAST(round(1.0 / ln(CAST(d AS DOUBLE)), 12) AS DECIMAL(13,12)) AS w
        FROM adj JOIN deg ON adj.z = deg.v
        WHERE d >= 2),
      cand AS (
        SELECT p.x AS x, q.x AS y, count(*) AS cn, sum(p.w) AS aaq
        FROM kept p JOIN kept q ON p.z = q.z AND p.x < q.x
        GROUP BY 1, 2)
      SELECT x, y, cn,
        round(CAST(aaq AS DOUBLE), 6) AS adamic_adar,
        CAST(0 AS BIGINT) AS n_capped_centers
      FROM cand
      WHERE NOT EXISTS (SELECT 1 FROM simple s
                        WHERE s.a = cand.x AND s.b = cand.y)
      ORDER BY aaq DESC, x, y LIMIT $G17TopK"""

  /** Candidate pairs reported by [[g27JaccardLink]]. */
  final val G27TopK = 20

  /** g27: NEIGHBORHOOD-JACCARD LINK PREDICTION (Liben-Nowell &
    * Kleinberg 2003) — the normalized companion to g17's Adamic–Adar
    * on the doc-graph page: for non-adjacent (x, y),
    * J = |N(x)∩N(y)| / |N(x)∪N(y)| = cn/(d_x + d_y − cn). Where AA
    * asks "how RARE are the shared neighbors", Jaccard asks "how much
    * of both neighborhoods is shared" — a hub pair with 3 common
    * neighbors among hundreds scores near 0 here while AA still
    * accumulates; the two lists genuinely disagree, which is why link
    * prediction suites report both. Candidates come from the same
    * wedge generation as g17 (only pairs with cn ≥ 1 can score > 0,
    * so no non-wedge pair is ever enumerated).
    *
    * Determinism: cn, d_x, d_y are exact integers; J is ONE double
    * division of exact integers on the round-9 ranking grid with
    * (x, y) id tie-breaks, output re-rounded to 6 — phrased
    * identically in both engines; TakeOrdered horizon, never a full
    * sort.
    *
    * Scale shape: g17's exactly — the wedge join is the quadratic-risk
    * path and the Edges entry takes the same `maxCenterDegree` hub cap
    * (a capped center drops its wedges = minimum contribution, the
    * principled floor; the union denominator keeps FULL degrees, so
    * capped scores are conservative underestimates). Degree joins are
    * node-scale, unhinted — AQE broadcasts them while genuinely
    * small. */
  def g27JaccardLink(spark: SparkSession, dir: String): DataFrame =
    g27JaccardLink(Tables.load(spark, dir, "documents"))

  def g27JaccardLink(docs0: DataFrame): DataFrame = {
    val docs = docs0.select(col("doc_id"))
    val n = denseN(docs, "g27")
    g27Core(simpleUndirected(syntheticFwd(docs, n)))
  }

  /** General entry — explicit (src, dst) edge list, arbitrary sparse
    * 64-bit ids; `maxCenterDegree` caps the wedge fan-out per common
    * neighbor (uncapped = exact). */
  def g27JaccardLinkEdges(edges0: DataFrame,
      maxCenterDegree: Long = Long.MaxValue): DataFrame =
    g27Core(simpleUndirected(
      edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))), maxCenterDegree)

  private def g27Core(simple: DataFrame,
      maxCenterDegree: Long = Long.MaxValue): DataFrame = {
    val deg = simple.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val adj = simple.select(col("a").as("z"), col("b").as("x"))
      .union(simple.select(col("b").as("z"), col("a").as("x")))
    val withDeg = graft.Ckpt(adj
      .join(deg.select(col("v").as("z"), col("d")), "z"))
    val nCapped = withDeg.filter(col("d") > maxCenterDegree)
      .agg(countDistinct(col("z")).as("n_capped_centers"))
    // d >= 2 mirrors g17: a degree-1 center forms no wedge
    val kept = withDeg.filter(col("d") <= maxCenterDegree && col("d") >= 2)
      .select(col("z"), col("x"))
    val cand = kept
      .join(kept.select(col("z"), col("x").as("y")), "z")
      .filter(col("x") < col("y"))
      .groupBy("x", "y")
      .agg(count(lit(1)).as("cn"))
    cand
      .join(simple.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
      .join(deg.select(col("v").as("x"), col("d").as("d_x")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("d_y")), "y")
      .withColumn("jq", round(col("cn").cast("double")
        / (col("d_x") + col("d_y") - col("cn")).cast("double"), 9))
      .crossJoin(broadcast(nCapped)) // one row — in-plan, not a head()
      .orderBy(col("jq").desc, col("x"), col("y"))
      .limit(G27TopK)
      .select(col("x"), col("y"), col("cn"), col("d_x"), col("d_y"),
        round(col("jq"), 6).as("jaccard"), col("n_capped_centers"))
  }

  /** DuckDB oracle for [[g27JaccardLink]] — identical wedge candidate
    * derivation, exact-integer census, round-9 ranking grid. */
  def g27OracleSql: String = s"""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      fwd AS (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      simple AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM fwd),
      deg AS (
        SELECT v, count(*) AS d FROM (
          SELECT a AS v FROM simple UNION ALL SELECT b FROM simple) t
        GROUP BY v),
      adj AS (
        SELECT a AS z, b AS x FROM simple
        UNION ALL SELECT b, a FROM simple),
      kept AS MATERIALIZED (
        SELECT z, x
        FROM adj JOIN deg ON adj.z = deg.v
        WHERE d >= 2),
      cand AS (
        SELECT p.x AS x, q.x AS y, count(*) AS cn
        FROM kept p JOIN kept q ON p.z = q.z AND p.x < q.x
        GROUP BY 1, 2),
      scored AS (
        SELECT cand.x, cand.y, cn, dx.d AS d_x, dy.d AS d_y,
          round(CAST(cn AS DOUBLE)
            / CAST(dx.d + dy.d - cn AS DOUBLE), 9) AS jq
        FROM cand
        JOIN deg dx ON dx.v = cand.x
        JOIN deg dy ON dy.v = cand.y
        WHERE NOT EXISTS (SELECT 1 FROM simple s
                          WHERE s.a = cand.x AND s.b = cand.y))
      SELECT x, y, cn, d_x, d_y, round(jq, 6) AS jaccard,
        CAST(0 AS BIGINT) AS n_capped_centers
      FROM scored
      ORDER BY jq DESC, x, y LIMIT $G27TopK"""

  /** Outer Borůvka round budget of [[g28Msf]] — components at least
    * halve per round (the merge is a FULL collapse, see
    * [[MsfDoubling]]), so 12 covers 4096 initial components; the
    * entry's graphs converge in 3–5. LOUD require on overrun. */
  final val MsfRounds = 12

  /** Pointer-doubling unroll depth of the g28 ORACLE: parent chains
    * have strictly decreasing selection keys (a component's partner
    * chose a key ≤ the one pointing at it), so chains are acyclic with
    * depth < #nodes and 2^16 doubling fully collapses any oracle-scale
    * graph (≤ 65536 nodes — the verify corpora carry ≤ 20 k parts;
    * extra unroll steps past the fixpoint are identity no-ops). The
    * ENGINE does not use this cap: [[msfFromEdges]] derives its LOUD
    * doubling budget from the bit-length of the observed id space, so
    * any id width collapses fully. */
  final val MsfDoubling = 16

  /** g28: MAXIMUM-WEIGHT SPANNING FOREST via Borůvka over the part
    * CO-PURCHASE graph (g24's relation; weight = number of orders
    * containing both parts) — the single-linkage backbone a
    * recommender or category-layout job extracts from a co-occurrence
    * graph: the strongest-connection tree per component. Maximum
    * forest = minimum under the TOTAL edge order (−cnt, a, b), packed
    * into ONE integer key ((maxCnt − cnt)·(P+1)² + a·(P+1) + b), so
    * ties are impossible and the MSF is unique — Borůvka's cut
    * property then guarantees every selected edge belongs to it.
    *
    * Per round: (1) each component's minimum outgoing key via one
    * edge-scale exchange (two-sided union + min — map-side partials);
    * (2) selected keys accumulate as a set; (3) merge: each component
    * points at its chosen partner, mutual pairs break to
    * least(c, partner) (the self-rooted anchor), then [[MsfDoubling]]
    * pointer-doubling steps collapse every label-scale chain to its
    * root — a FULL component collapse, so no non-forest edge can ever
    * look "outgoing" in a later round. Convergence = the exact
    * outgoing-edge count probe hitting 0 (rounds recorded in
    * the bench's fixpoint steps), budget [[MsfRounds]] LOUD.
    *
    * Determinism: everything is exact integer arithmetic — keys,
    * labels, counts; no float enters at any point (the output is the
    * edge list itself). The oracle replays the identical rounds as a
    * fixed unroll with g11-style list state.
    *
    * Scale shape: pair generation is fact-scale with per-order
    * fan-out ≤ C(7,2); each round is one edge-scale exchange plus
    * label-scale parent joins; the doubling ladder is label-scale ×
    * ⌈log₂ N⌉. The key is packed in DECIMAL(38,0) — exact 128-bit
    * integer arithmetic, no float anywhere — so any id space with
    * (maxCnt+1)·(P+1)² < 10³⁸ fits (node ids to ~10¹² alongside
    * counts to ~10¹²; a LOUD require guards the boundary), and the
    * doubling budget is derived from the bit-length of the observed
    * max id, so a 1000× id-space scale-up changes nothing. */
  def g28Msf(spark: SparkSession, dir: String): DataFrame =
    msfFromEdges(coPurchasePairs(spark, dir), tag = "g28_msf")

  /** The part co-purchase pair aggregate behind [[g28Msf]] and
    * [[g29SingleLinkage]] — the families' one fact-scale stage. */
  private def coPurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    // keyed fanout (r19 #2, refining g24's r19 Tables.parallel): the
    // 2-column scan is a couple of parquet splits, so the per-order
    // pair fan-out ran on 3 tasks. Hashing by the JOIN KEY instead of
    // round-robin (a) skips the keyless repartition's
    // sortBeforeRepartition pass and (b) lets the self-join reuse the
    // one exchange for both sides — the join's own two edge-scale
    // exchanges disappear (orders carry ≤ 7 lineitems, so the key
    // spreads evenly at any width).
    val l = Tables.fanout(Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")), col("l_orderkey"))
    l.as("x")
      .join(l.select(col("l_orderkey"), col("l_partkey").as("pb")).as("y"),
        Seq("l_orderkey"))
      .filter(col("l_partkey") < col("pb"))
      .groupBy(col("l_partkey").as("a"), col("pb").as("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[g28Msf]]'s forest as a CHECKPOINTED frame — the build behind
    * `graft.Memo.msf`: the MSF is the single-linkage dendrogram
    * (Gower & Ross 1969), so every dendrogram consumer
    * ([[g29SingleLinkage]]'s cuts, any future cut level) needs
    * exactly this frame. At 100 TB this is the materialized forest
    * TABLE all cut levels read. */
  def g28ForestFrame(spark: SparkSession, dir: String): DataFrame =
    graft.Ckpt(msfCore(coPurchasePairs(spark, dir), "g28_msf")._1)

  /** Number of weakest forest edges [[g29SingleLinkage]] cuts — the
    * dendrogram level a category-browse endpoint asks for. */
  final val G29Cuts = 24

  /** g29: SINGLE-LINKAGE DENDROGRAM CUTS over [[g28Msf]]'s maximum
    * spanning forest — the clustering the MSF exists for: cutting the
    * k weakest forest edges yields exactly the single-linkage
    * clustering at level k+initial components (Gower & Ross 1969: the
    * MSF IS the single-linkage dendrogram). Output is one row per
    * cluster: `cluster` (min member id — partition-determined, so
    * independent of merge-anchor internals), member count, kept-edge
    * count (always n_nodes − 1 per tree cluster — the acyclicity
    * invariant rides along as a column), and total linkage weight.
    *
    * "Weakest" is exact and total: ascending cnt, ties broken by
    * DESCENDING (a, b) — precisely the reverse of the MSF selection
    * key's (−cnt, a, b) order, so the cut set is the unique bottom-k
    * of the same total order the forest was built under.
    *
    * Scale shape: the forest is label-scale (≤ nodes − 1 rows), the
    * cut is one TakeOrdered(k) over it, the re-labeling is Borůvka on
    * a forest (O(log n) rounds of label-scale exchanges — NOT
    * diameter-bound min-label propagation, which a path-shaped tree
    * would stretch to n rounds), and the summaries are two
    * label-scale aggregates. Nothing touches the fact table past
    * g28's pair aggregate. */
  def g29SingleLinkage(spark: SparkSession, dir: String): DataFrame =
    g29SingleLinkageEdges(coPurchasePairs(spark, dir), G29Cuts,
      tag = "g29_single_linkage")

  /** [[g29SingleLinkage]]'s core over an (a, b, cnt) weighted edge
    * frame — split out for planted specs. Cut-off singletons label as
    * themselves; Borůvka anchors are always member ids (see
    * [[msfCore]]), so a singleton's id can never collide with another
    * cluster's label. */
  def g29SingleLinkageEdges(edges0: DataFrame, cuts: Int,
      tag: String = "g29_single_linkage"): DataFrame = {
    val (forest0, _) = msfCore(edges0, tag + "_msf")
    g29CutsOverForest(graft.Ckpt(forest0), cuts, tag)
  }

  /** [[g29SingleLinkage]]'s label-scale tail over an already
    * MATERIALIZED forest frame (a, b, cnt) — the memo-reuse entry
    * point (r17 verdict #1): the forest IS the dendrogram, so a
    * consumer holding [[g28ForestFrame]]'s checkpoint pays only the
    * bottom-k cut, the forest-scale Borůvka re-label, and two
    * label-scale aggregates — nothing fact-scale. The caller owns the
    * forest's materialization (pass a [[graft.Ckpt]]'d frame, as both
    * call sites do: a lazy forest would re-run the Borůvka once per
    * downstream action). */
  def g29CutsOverForest(forest: DataFrame, cuts: Int,
      tag: String = "g29_single_linkage"): DataFrame = {
    require(cuts >= 0, s"$tag: cuts must be non-negative, got $cuts")
    val cut = forest.orderBy(col("cnt").asc, col("a").desc, col("b").desc)
      .limit(cuts).select(col("a"), col("b"))
    val kept = forest.join(broadcast(cut), Seq("a", "b"), "left_anti")
    val (_, labels) = msfCore(kept, tag + "_cc")
    val nodes = forest.select(col("a").as("v"))
      .union(forest.select(col("b"))).distinct()
    val lab = graft.Ckpt(nodes
      .join(labels, Seq("v"), "left_outer")
      .select(col("v"), coalesce(col("c"), col("v")).as("c")))
    val nn = lab.groupBy("c")
      .agg(count(lit(1)).as("n_nodes"), min(col("v")).as("cluster"))
    val ecl = kept.join(lab.select(col("v").as("a"), col("c")), "a")
      .groupBy("c")
      .agg(count(lit(1)).as("n_edges"), sum(col("cnt")).as("sum_cnt"))
    nn.join(ecl, Seq("c"), "left_outer")
      .select(col("cluster"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("sum_cnt"), lit(0L)).as("sum_cnt"))
      .orderBy("cluster")
  }

  /** g30: CLUSTER STABILITY ACROSS DENDROGRAM CUTS — the robustness
    * read a clustering consumer wants before trusting a cut level
    * (Hennig 2007's stability-by-comparison idea at the adjacent-cut
    * granularity): compare [[g29SingleLinkage]]'s clustering at
    * [[G29Cuts]] with the one at [[G29Cuts]] + 1 and report, per
    * coarse cluster, the Jaccard overlap with its best-matching fine
    * cluster. Single-linkage cuts are NESTED — removing one more edge
    * splits exactly one cluster — so the best match B of a coarse A
    * satisfies B ⊆ A and J(A, B) = |B|/|A|: every untouched cluster
    * scores exactly 1.0 and the split cluster scores its larger
    * fragment's share (low = the cut level sits on a fragile merge).
    *
    * The nesting also buys the plan: ONE Borůvka re-label (the FINE
    * clustering) serves both levels — the coarse labels are the fine
    * labels with the two clusters containing the split edge e* (the
    * strongest of the cuts+1 removed edges) merged, a one-row
    * broadcast fix-up instead of a second Borůvka. When the forest
    * has ≤ cuts edges there is no e* and the levels coincide (every
    * cluster 1.0).
    *
    * Determinism: labels/sizes are exact integers off the unique MSF
    * total order; the only float is the final |B|/|A| division,
    * roundz-6. Scale shape: label-scale throughout given the forest —
    * the registry entry reuses g28's memoized forest, so NOTHING
    * fact-scale runs; one bottom-(k+1) TakeOrdered, one forest
    * Borůvka, two label-scale aggregates. */
  def g30ClusterStability(spark: SparkSession, dir: String): DataFrame =
    g30StabilityOverForest(g28ForestFrame(spark, dir), G29Cuts)

  /** [[g30ClusterStability]]'s core over a MATERIALIZED forest frame
    * (a, b, cnt) — split out for planted specs and the memo path. */
  def g30StabilityOverForest(forest: DataFrame, cuts: Int,
      tag: String = "g30_cluster_stability"): DataFrame = {
    require(cuts >= 0, s"$tag: cuts must be non-negative, got $cuts")
    val cut = graft.Ckpt(forest
      .orderBy(col("cnt").asc, col("a").desc, col("b").desc)
      .limit(cuts + 1))
    val kept = forest.join(broadcast(cut), Seq("a", "b"), "left_anti")
    val (_, labels) = msfCore(kept, tag + "_cc")
    val nodes = forest.select(col("a").as("v"))
      .union(forest.select(col("b"))).distinct()
    val fine = graft.Ckpt(nodes
      .join(labels, Seq("v"), "left_outer")
      .select(col("v"), coalesce(col("c"), col("v")).as("cb")))
    // e* = the (cuts+1)-th weakest edge, present only when the forest
    // is deep enough; the rank window is (cuts+1)-bounded (constant
    // non-foldable key per the repo's WindowExec discipline)
    val eStar = cut
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("a") * 0)
          .orderBy(col("cnt").asc, col("a").desc, col("b").desc)))
      .filter(col("rk") === cuts + 1)
    // fine labels of e*'s endpoints as a ONE-ROW frame (nulls when no
    // e* exists, so the merge fix-up below is the identity)
    val ends = eStar
      .join(fine.select(col("v").as("a"), col("cb").as("cs1")), "a")
      .join(fine.select(col("v").as("b"), col("cb").as("cs2")), "b")
      .agg(min(col("cs1")).as("cs1"), min(col("cs2")).as("cs2"))
    val coarse = fine
      .crossJoin(broadcast(ends)) // one-row split-edge labels (g30)
      .select(col("v"), col("cb"),
        when(col("cb") === col("cs1") || col("cb") === col("cs2"),
          least(col("cs1"), col("cs2"))).otherwise(col("cb")).as("ca"))
    val nnA = coarse.groupBy("ca")
      .agg(count(lit(1)).as("n_nodes"), min(col("v")).as("cluster"))
    val ch = coarse.groupBy(col("ca"), col("cb"))
      .agg(count(lit(1)).as("nb"))
      .groupBy("ca")
      .agg(count(lit(1)).as("n_children"), max(col("nb")).as("largest_child"))
    nnA.join(ch, Seq("ca"))
      .select(col("cluster"), col("n_nodes"), col("n_children"),
        col("largest_child"),
        graft.GraftFunctions.roundz(
          col("largest_child").cast("double") / col("n_nodes").cast("double"),
          6).as("jaccard"))
      .orderBy("cluster")
  }

  /** [[g28Msf]]'s core over an (a, b, cnt) weighted undirected edge
    * frame (a < b, non-negative long ids) — split out for planted
    * specs. The selection key ((maxCnt − cnt)·(P+1)² + a·(P+1) + b)
    * is packed in DECIMAL(38,0), so the total order (−cnt, a, b) is
    * exact for any id space with (maxCnt+1)·(P+1)² < 10³⁸, and the
    * pointer-doubling budget is ⌈log₂(P+2)⌉ + 2 (chains are acyclic
    * with depth < #nodes ≤ P+1, so 2^budget always covers; the inner
    * probe exits at the fixpoint long before the cap). */
  def msfFromEdges(edges0: DataFrame, tag: String = "g28_msf"): DataFrame =
    msfCore(edges0, tag)._1.orderBy("a", "b")

  /** The Borůvka loop behind [[msfFromEdges]] and
    * [[g29SingleLinkageEdges]]: returns the UNSORTED forest edge
    * frame (a, b, cnt) and the converged component labels (v, c) —
    * every c is the id of some member node of its component (the
    * merge anchor is always `least` of two member labels), which
    * [[g29SingleLinkageEdges]] relies on for collision-free singleton
    * labeling. */
  private[operators] def msfCore(edges0: DataFrame,
      tag: String): (DataFrame, DataFrame) = {
    val spark = edges0.sparkSession
    // checkpoint FIRST, bounds off the materialized frame (r19 #2:
    // the head() used to run the full fact-scale pair aggregate once
    // and the Ckpt right after ran it AGAIN — StageProbe showed the
    // duplicated 3-task scan + pair-fanout stages, ~2.5 s on g28)
    val e = graft.Ckpt(edges0.select(col("a"), col("b"), col("cnt")))
    val bounds = e.agg(max(col("b")).as("p"), max(col("cnt")).as("mx"))
      .head()
    if (bounds.isNullAt(0)) {
      val emptyE = e.limit(0)
      return (emptyE,
        emptyE.select(col("a").as("v"), col("a").as("c")).limit(0))
    }
    val p = bounds.getLong(0)
    val mx = bounds.getLong(1)
    require(p >= 1 && mx >= 1, s"$tag: degenerate edge frame (p=$p, mx=$mx)")
    require(
      (BigInt(mx) + 1) * (BigInt(p) + 1) * (BigInt(p) + 1)
        < BigInt(10).pow(38),
      s"$tag: packed DECIMAL(38,0) key overflow (maxCnt=$mx, maxId=$p)")
    val doublingBudget = 64 - java.lang.Long.numberOfLeadingZeros(p + 1) + 2
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    // the packed DECIMAL(38,0) key is COMPUTED PER USE in a projection
    // (round 1's selection scan and the final semi-join), never carried
    // in the checkpointed edge frame: materializing the 16-byte key on
    // every edge row cost g28 +55 MB of shuffle/checkpoint volume for
    // a value that is a pure function of (cnt, a, b) already on the
    // row (r17 verdict #2). Rounds >= 2 run on the CONTRACTED pair
    // frame (below), which is component²-bounded, so the key it
    // carries is not fact-scale.
    def packKey: Column =
      (((lit(mx).cast(d38) - col("cnt").cast(d38))
        * lit(p + 1).cast(d38) + col("a").cast(d38))
        * lit(p + 1).cast(d38) + col("b").cast(d38))
    // one scan for the node set (was an a-union-b double scan)
    val nodes = e.select(explode(array(col("a"), col("b"))).as("v"))
      .distinct()
    var comp = graft.Ckpt(nodes.select(col("v"), col("v").as("c")))
    var selected = graft.Ckpt(e.select(packKey.as("key")).limit(0))
    // Borůvka WITH CONTRACTION (r19 #2, guide §2.4): the old loop
    // re-joined the full fact-scale edge frame against the node→
    // component map EVERY round (two edge-scale sort-merge exchanges
    // per round — the label frame is node-scale, so it must not rely
    // on a broadcast at 100 TB). All any later round needs is the
    // minimum outgoing KEY per component, and min distributes over
    // the per-pair grouping, so after each merge the edge set is
    // CONTRACTED to one row per unordered component pair carrying
    // min(key): rounds >= 2 touch only this component²-bounded frame,
    // strictly shrinking per round. Selection, merging and the final
    // forest are bit-identical — the per-component minimum over the
    // contracted frame equals the minimum over all edges.
    //
    // The merge target rides IN the min as min(struct(key, partner)):
    // keys are globally unique, so the struct min is the exact argmin
    // and the old edge-scale `w JOIN ec ON key` re-attach is gone.
    var ecur: DataFrame = e.select(packKey.as("key"),
      col("a").as("ca"), col("b").as("cb")) // round 1: identity labels
    var round = 0L
    var more = true // bounds proved e non-empty; round 1 needs no probe
    while (more) {
      require(round < MsfRounds,
        s"$tag: Boruvka not converged within $MsfRounds rounds")
      // one materialized pass: both consumers below (selected union,
      // par0's self-join) read the blocks, so round 1's fact-scale
      // aggregate runs exactly once
      val w = graft.Ckpt(ecur
        .select(col("ca").as("c"),
          struct(col("key"), col("cb").as("partner")).as("kp"))
        .union(ecur.select(col("cb"),
          struct(col("key"), col("ca").as("partner"))))
        .groupBy("c").agg(min(col("kp")).as("kp"))
        .select(col("c"), col("kp.key").as("key"),
          col("kp.partner").as("partner")))
      // lazy: materializes under the next round's selected chain or
      // the final semi-join — selected is never scanned mid-round
      selected = graft.Ckpt.statsLazily(
        selected.union(w.select(col("key"))).distinct())
      // mutual pairs break to least(c, partner) — the self-rooted
      // anchor; par's domain is the ACTIVE components (everything in
      // w), which is closed under the chase: every par value is
      // itself a component with an outgoing edge
      val par0 = w
        .join(w.select(col("c").as("partner"), col("key").as("pkey")),
          "partner")
        .select(col("c"),
          when(col("pkey") === col("key"),
            least(col("c"), col("partner")))
            .otherwise(col("partner")).as("par"))
      var par = graft.Ckpt.stats(par0.select(col("c").as("id"), col("par")))
      // stats-reset checkpoint EVERY doubling step: an un-checkpointed
      // self-join ladder doubles the plan per step and Catalyst's
      // sizeInBytes statistics explode as N^(2^k) BigIntegers — the
      // optimizer, not the data, becomes the bottleneck. The probe
      // exits at the fixpoint (typically 2–4 steps); the oracle's
      // fixed MsfDoubling-step unroll is a no-op past it. The probe
      // is a full-scan changed-count AGGREGATE over the lazily-marked
      // step frame, so materialization and probe share one job
      // (r19 #2, guide §2.4 fewer actions).
      var stable = false
      var k = 0
      while (!stable) {
        require(k < doublingBudget,
          s"$tag: pointer doubling not converged within $doublingBudget steps")
        val nxt = graft.Ckpt.statsLazily(par.as("p")
          .join(par.select(col("id").as("j"), col("par").as("par2"))
            .as("q"), col("p.par") === col("q.j"))
          .select(col("p.id").as("id"), col("par2").as("par"),
            col("p.par").as("prev")))
        stable = nxt.agg(count(when(col("par") =!= col("prev"), lit(1))))
          .head().getLong(0) == 0L
        par = nxt.select(col("id"), col("par"))
        k += 1
      }
      // node→component map: components without an outgoing edge keep
      // their label (they are finished components — par's domain is
      // active components only). Lazy: nothing scans comp until the
      // final return (or g29's tail), so the per-round map update
      // costs zero jobs here.
      comp = graft.Ckpt.statsLazily(comp
        .join(par.select(col("id"), col("par")), col("c") === col("id"),
          "left_outer")
        .select(col("v"), coalesce(col("par"), col("c")).as("c")))
      round += 1
      // contract: relabel the pair frame by the merged components,
      // drop intra-component rows, keep min(key) per unordered pair;
      // the next round's count probe materializes the mark
      ecur = graft.Ckpt.lazily(ecur
        .join(par.select(col("id").as("ca"), col("par").as("nca")), "ca")
        .join(par.select(col("id").as("cb"), col("par").as("ncb")), "cb")
        .filter(col("nca") =!= col("ncb"))
        .select(col("key"), least(col("nca"), col("ncb")).as("ca"),
          greatest(col("nca"), col("ncb")).as("cb"))
        .groupBy("ca", "cb").agg(min(col("key")).as("key")))
      more = ecur.count() > 0L
    }
    graft.Meter.steps(spark, tag, round)
    // bloom prefilter before the forest semi-join (r19 #2, g24's
    // verdict-blessed shape): only forest edges survive (≤ nodes − 1
    // of the full edge frame — <1% on the co-purchase graph), yet the
    // semi join exchanged and sorted EVERY edge by its 16-byte key.
    // The bloom over the selected keys drops definitely-non-forest
    // rows in-row before the exchange; false positives only ride to
    // the unchanged exact semi join, so the forest is bit-identical.
    // Sized from the known node-count bound (forest ≤ p+1 edges),
    // clamped to the runtime-filter defaults; selected is non-empty
    // here (round 1 always selects), so the bloom is never NULL.
    import org.apache.spark.sql.graftshim.GraftShim
    val selItems = math.min(math.max(p + 1, 1L), 4000000L)
    val selBloom = selected.agg(GraftShim.bloomAggColumn(
      xxhash64(col("key")), selItems,
      math.min(selItems * 10L, 67000000L)).as("bf"))
    (e.withColumn("key", packKey)
      .filter(GraftShim.bloomMightContainSubquery(
        selBloom, xxhash64(col("key"))))
      .join(selected, Seq("key"), "left_semi")
      .select(col("a"), col("b"), col("cnt")), comp)
  }

  /** DuckDB oracle for [[g28Msf]] — a FIXED [[MsfRounds]]-round unroll
    * of the identical Borůvka rounds (post-fixpoint rounds are
    * provable no-ops: no outgoing edge ⇒ empty winners ⇒ identity
    * parent list ⇒ unchanged labels — g24's unroll argument), with
    * the label state as a g11-style in-row list and each merge as
    * [[MsfDoubling]] one-row list_transform doubling steps. The key
    * is packed in HUGEINT (DuckDB's exact 128-bit integer), mirroring
    * the engine's DECIMAL(38,0) pack bit-for-bit on the shared
    * domain. */
  def g28OracleSql(rounds: Int = MsfRounds,
      doubling: Int = MsfDoubling): String = {
    val sb = new StringBuilder
    sb.append(s"""
      WITH ec0 AS MATERIALIZED (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS cnt
        FROM lineitem x JOIN lineitem y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2),
      mm AS (SELECT max(cnt) AS mx FROM ec0),
      pp AS (SELECT max(b) AS p, CAST(max(b) AS INT) AS pi FROM ec0),
      ids AS MATERIALIZED (
        SELECT unnest(generate_series(1, pi + 1)) AS i FROM pp),
      e AS MATERIALIZED (
        SELECT a, b, cnt,
          (CAST(mx - cnt AS HUGEINT) * (p + 1) + a) * (p + 1) + b AS key
        FROM ec0, mm, pp),
      sel0 AS (SELECT key FROM e WHERE false),
      c0 AS (SELECT list(CAST(i - 1 AS BIGINT) ORDER BY i) AS cl FROM ids)""")
    boruvkaRoundsSql(sb, "e", "", rounds, doubling)
    sb.append(s"""
      SELECT e.a, e.b, e.cnt
      FROM e JOIN sel$rounds s ON s.key = e.key
      ORDER BY a, b""")
    sb.toString
  }

  /** Appends `rounds` unrolled Borůvka rounds over edge CTE `$e`
    * (columns a, b, cnt, key) with label-list state `${pfx}c0`
    * (caller-provided identity list) and selected-key accumulator
    * `${pfx}sel0` — the shared generator behind [[g28OracleSql]]
    * (pfx = "") and [[g29OracleSql]]'s kept-forest re-labeling
    * (pfx = "k"). Final CTEs: labels `${pfx}c$rounds`, keys
    * `${pfx}sel$rounds`. */
  private def boruvkaRoundsSql(sb: StringBuilder, e: String, pfx: String,
      rounds: Int, doubling: Int): Unit = {
    for (r <- 1 to rounds) {
      val q = r - 1
      sb.append(s""",
      ${pfx}er$r AS MATERIALIZED (
        SELECT cl[CAST(a + 1 AS INT)] AS ca, cl[CAST(b + 1 AS INT)] AS cb,
          key
        FROM $e, ${pfx}c$q
        WHERE cl[CAST(a + 1 AS INT)] <> cl[CAST(b + 1 AS INT)]),
      ${pfx}wr$r AS MATERIALIZED (
        SELECT c, min(key) AS key FROM (
          SELECT ca AS c, key FROM ${pfx}er$r
          UNION ALL SELECT cb, key FROM ${pfx}er$r) t
        GROUP BY 1),
      ${pfx}sel$r AS (
        SELECT key FROM ${pfx}sel$q UNION SELECT key FROM ${pfx}wr$r),
      ${pfx}we$r AS (
        SELECT w.c, w.key,
          CASE WHEN w.c = er.ca THEN er.cb ELSE er.ca END AS partner
        FROM ${pfx}wr$r w JOIN ${pfx}er$r er ON er.key = w.key),
      ${pfx}pr$r AS (
        SELECT we.c,
          CASE WHEN w2.key = we.key THEN least(we.c, we.partner)
            ELSE we.partner END AS par
        FROM ${pfx}we$r we JOIN ${pfx}wr$r w2 ON w2.c = we.partner),
      ${pfx}pl${r}_0 AS (
        SELECT list(coalesce(par, i - 1) ORDER BY i) AS pl
        FROM ids LEFT JOIN ${pfx}pr$r ON ${pfx}pr$r.c = ids.i - 1)""")
      for (k <- 1 to doubling) {
        sb.append(s""",
      ${pfx}pl${r}_$k AS (
        SELECT list_transform(pl, x -> pl[CAST(x + 1 AS INT)]) AS pl
        FROM ${pfx}pl${r}_${k - 1})""")
      }
      sb.append(s""",
      ${pfx}c$r AS (
        SELECT list_transform(cl, x -> pl[CAST(x + 1 AS INT)]) AS cl
        FROM ${pfx}c$q, ${pfx}pl${r}_$doubling)""")
    }
  }

  /** DuckDB oracle for [[g29SingleLinkage]] — replays the g28 forest
    * unroll, cuts the bottom-k of the same total order, re-labels the
    * kept forest with a SECOND unrolled Borůvka pass (prefix `k`;
    * keys carried forward from the first pass — the component
    * PARTITION, which is all the output depends on, is key-order
    * independent), and aggregates the partition. Cut-off singletons
    * keep their identity label from the `ids` lattice. */
  def g29OracleSql(cuts: Int = G29Cuts, rounds: Int = MsfRounds,
      doubling: Int = MsfDoubling): String = {
    val sb = new StringBuilder
    sb.append(s"""
      WITH ec0 AS MATERIALIZED (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS cnt
        FROM lineitem x JOIN lineitem y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2),
      mm AS (SELECT max(cnt) AS mx FROM ec0),
      pp AS (SELECT max(b) AS p, CAST(max(b) AS INT) AS pi FROM ec0),
      ids AS MATERIALIZED (
        SELECT unnest(generate_series(1, pi + 1)) AS i FROM pp),
      e AS MATERIALIZED (
        SELECT a, b, cnt,
          (CAST(mx - cnt AS HUGEINT) * (p + 1) + a) * (p + 1) + b AS key
        FROM ec0, mm, pp),
      sel0 AS (SELECT key FROM e WHERE false),
      c0 AS (SELECT list(CAST(i - 1 AS BIGINT) ORDER BY i) AS cl FROM ids)""")
    boruvkaRoundsSql(sb, "e", "", rounds, doubling)
    sb.append(s""",
      forest AS MATERIALIZED (
        SELECT e.a, e.b, e.cnt, e.key
        FROM e JOIN sel$rounds s ON s.key = e.key),
      cutk AS MATERIALIZED (
        SELECT a, b FROM forest
        ORDER BY cnt ASC, a DESC, b DESC LIMIT $cuts),
      kept AS MATERIALIZED (
        SELECT a, b, cnt, key FROM forest f
        WHERE NOT EXISTS (SELECT 1 FROM cutk c
                          WHERE c.a = f.a AND c.b = f.b)),
      ksel0 AS (SELECT key FROM kept WHERE false),
      kc0 AS (SELECT list(CAST(i - 1 AS BIGINT) ORDER BY i) AS cl FROM ids)""")
    boruvkaRoundsSql(sb, "kept", "k", rounds, doubling)
    sb.append(s""",
      nodes AS (SELECT a AS v FROM forest UNION SELECT b FROM forest),
      lab AS MATERIALIZED (
        SELECT v, cl[CAST(v + 1 AS INT)] AS c FROM nodes, kc$rounds),
      nn AS (SELECT c, count(*) AS n_nodes, min(v) AS cluster
             FROM lab GROUP BY 1),
      ecl AS (SELECT l.c, count(*) AS n_edges,
                CAST(sum(k.cnt) AS BIGINT) AS sum_cnt
              FROM kept k JOIN lab l ON l.v = k.a GROUP BY 1)
      SELECT nn.cluster AS cluster, nn.n_nodes AS n_nodes,
        CAST(coalesce(ecl.n_edges, 0) AS BIGINT) AS n_edges,
        CAST(coalesce(ecl.sum_cnt, 0) AS BIGINT) AS sum_cnt
      FROM nn LEFT JOIN ecl ON ecl.c = nn.c
      ORDER BY cluster""")
    sb.toString
  }

  /** DuckDB oracle for [[g30ClusterStability]] — the g29 double
    * unroll ([[boruvkaRoundsSql]] for the forest, then for the kept
    * forest at cuts+1) plus the identical split-edge fix-up: the
    * coarse labels are the fine labels with e*'s two clusters merged
    * via a one-row CROSS JOIN (null cs1/cs2 when no e* exists), then
    * the same census/Jaccard arithmetic on the shared round grid. */
  def g30OracleSql(cuts: Int = G29Cuts, rounds: Int = MsfRounds,
      doubling: Int = MsfDoubling): String = {
    val sb = new StringBuilder
    sb.append(s"""
      WITH ec0 AS MATERIALIZED (
        SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS cnt
        FROM lineitem x JOIN lineitem y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2),
      mm AS (SELECT max(cnt) AS mx FROM ec0),
      pp AS (SELECT max(b) AS p, CAST(max(b) AS INT) AS pi FROM ec0),
      ids AS MATERIALIZED (
        SELECT unnest(generate_series(1, pi + 1)) AS i FROM pp),
      e AS MATERIALIZED (
        SELECT a, b, cnt,
          (CAST(mx - cnt AS HUGEINT) * (p + 1) + a) * (p + 1) + b AS key
        FROM ec0, mm, pp),
      sel0 AS (SELECT key FROM e WHERE false),
      c0 AS (SELECT list(CAST(i - 1 AS BIGINT) ORDER BY i) AS cl FROM ids)""")
    boruvkaRoundsSql(sb, "e", "", rounds, doubling)
    sb.append(s""",
      forest AS MATERIALIZED (
        SELECT e.a, e.b, e.cnt, e.key
        FROM e JOIN sel$rounds s ON s.key = e.key),
      cutk AS MATERIALIZED (
        SELECT a, b, cnt FROM forest
        ORDER BY cnt ASC, a DESC, b DESC LIMIT ${cuts + 1}),
      kept AS MATERIALIZED (
        SELECT a, b, cnt, key FROM forest f
        WHERE NOT EXISTS (SELECT 1 FROM cutk c
                          WHERE c.a = f.a AND c.b = f.b)),
      ksel0 AS (SELECT key FROM kept WHERE false),
      kc0 AS (SELECT list(CAST(i - 1 AS BIGINT) ORDER BY i) AS cl FROM ids)""")
    boruvkaRoundsSql(sb, "kept", "k", rounds, doubling)
    sb.append(s""",
      nodes AS (SELECT a AS v FROM forest UNION SELECT b FROM forest),
      fine AS MATERIALIZED (
        SELECT v, cl[CAST(v + 1 AS INT)] AS cb FROM nodes, kc$rounds),
      est AS (
        SELECT a, b FROM (
          SELECT a, b, row_number()
            OVER (ORDER BY cnt ASC, a DESC, b DESC) AS rk
          FROM cutk) r WHERE rk = ${cuts + 1}),
      ends AS (
        SELECT min(la.cb) AS cs1, min(lb.cb) AS cs2
        FROM est
        JOIN fine la ON la.v = est.a
        JOIN fine lb ON lb.v = est.b),
      coarse AS (
        SELECT v, cb,
          CASE WHEN cb = cs1 OR cb = cs2 THEN least(cs1, cs2)
               ELSE cb END AS ca
        FROM fine, ends),
      nna AS (SELECT ca, count(*) AS n_nodes, min(v) AS cluster
              FROM coarse GROUP BY 1),
      nnb AS (SELECT ca, cb, count(*) AS nb FROM coarse GROUP BY 1, 2),
      ch AS (SELECT ca, count(*) AS n_children, max(nb) AS largest_child
             FROM nnb GROUP BY 1)
      SELECT nna.cluster AS cluster, nna.n_nodes AS n_nodes,
        CAST(ch.n_children AS BIGINT) AS n_children,
        CAST(ch.largest_child AS BIGINT) AS largest_child,
        (round(CAST(ch.largest_child AS DOUBLE)
          / CAST(nna.n_nodes AS DOUBLE), 6) + 0.0) AS jaccard
      FROM nna JOIN ch ON ch.ca = nna.ca
      ORDER BY cluster""")
    sb.toString
  }

  /** g18: MODULARITY of the g10 LPA partition (Newman & Girvan 2004)
    * — the number that says whether the detected communities are real
    * structure or noise: Q = Σ_c (e_c/m − (d_c/2m)²) over the simple
    * undirected graph, where e_c counts intra-community edges, d_c
    * sums member degrees, m is the edge count. Q ≈ 0 means the
    * partition captures no more intra-edges than a degree-preserving
    * random graph would; Q ≳ 0.3 is conventional "has communities".
    * Labels come from the SAME [[lpaLabels]] fixpoint g10 reports, so
    * the score certifies exactly the partition the browse endpoint
    * shows.
    *
    * Determinism: e_c, d_c, m are exact integers; each community's
    * contribution is ONE double expression (with t = d_c/(2m)
    * factored so t·t is the identical multiply in both engines)
    * quantized round-12 into DECIMAL and summed order-free; the final
    * Q rounds once through roundz (contributions are signed).
    *
    * Scale shape: LPA's cost (one edge-scale exchange per step,
    * [[LpaIters]] steps); after labels, one edge-scale double label
    * join for e_c, one node-scale join for d_c, then everything is
    * community-bounded. One-row m broadcast composes in-plan. */
  def g18Modularity(spark: SparkSession, dir: String): DataFrame =
    g18Modularity(Tables.load(spark, dir, "documents"))

  def g18Modularity(docs0: DataFrame, iters: Int = LpaIters): DataFrame = {
    val docs = docs0.select(col("doc_id"))
    val n = denseN(docs, "g18")
    g18Core(simpleUndirected(syntheticFwd(docs, n)), iters)
  }

  /** General entry — explicit (src, dst) edge list, arbitrary sparse
    * 64-bit ids. */
  def g18ModularityEdges(edges0: DataFrame,
                         iters: Int = LpaIters): DataFrame =
    g18Core(simpleUndirected(
      edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))), iters)

  private def g18Core(simple0: DataFrame, iters: Int): DataFrame = {
    val simple = graft.Ckpt(simple0)
    val labels = lpaLabels(
      simple.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(simple.select(col("b").as("src"), col("a").as("dst"))),
      iters)
    val m = simple.agg(count(lit(1)).as("m"))
    val intra = simple
      .join(labels.select(col("v").as("a"), col("label").as("la")), "a")
      .join(labels.select(col("v").as("b"), col("label").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(count(lit(1)).as("ec"))
    val deg = simple.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val dc = deg.join(labels, "v")
      .groupBy(col("label").as("community"))
      .agg(sum(col("d")).as("dcs"), count(lit(1)).as("nm"))
    val terms = dc.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .withColumn("t",
        col("dcs").cast("double") / (lit(2L) * col("m")).cast("double"))
      .withColumn("contrib",
        round(coalesce(col("ec"), lit(0L)).cast("double")
          / col("m").cast("double") - col("t") * col("t"), 12)
          .cast("decimal(25,12)"))
    labels.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(m))
      .crossJoin(terms.agg(count(lit(1)).as("n_communities"),
        sum(col("contrib")).as("q")))
      .select(col("n_nodes"), col("m").as("n_edges"),
        col("n_communities"),
        graft.GraftFunctions.roundz(col("q").cast("double"), 6)
          .as("modularity"))
  }

  /** DuckDB oracle for [[g18Modularity]] — g10's LPA recursion for
    * the labels, then the identical integer censuses and round-12
    * contribution lattice. */
  def g18OracleSql(iters: Int = LpaIters): String = s"""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      fwd AS (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      simple AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM fwd),
      und AS (
        SELECT a AS src, b AS dst FROM simple
        UNION ALL SELECT b, a FROM simple),
      lab0 AS (
        SELECT src AS v, src AS label FROM (SELECT DISTINCT src FROM und)),
      ${(1 to iters).map { t =>
        val prev = if (t == 1) "lab0" else s"lab${t - 1}"
        s"""lab$t AS MATERIALIZED (
        SELECT u.dst AS v,
          -(max(struct_pack(nc := cnt, l := -label))['l']) AS label
        FROM (
          SELECT u.dst, p.label, count(*) AS cnt
          FROM und u JOIN $prev p ON p.v = u.src
          GROUP BY u.dst, p.label) u
        GROUP BY u.dst)"""
      }.mkString(",\n      ")},
      labels AS MATERIALIZED (SELECT v, label FROM lab$iters),
      m AS (SELECT count(*) AS m FROM simple),
      deg AS (
        SELECT v, count(*) AS d FROM (
          SELECT a AS v FROM simple UNION ALL SELECT b FROM simple) t
        GROUP BY v),
      intra AS (
        SELECT la.label AS community, count(*) AS ec
        FROM simple s
        JOIN labels la ON la.v = s.a
        JOIN labels lb ON lb.v = s.b
        WHERE la.label = lb.label
        GROUP BY 1),
      dc AS (
        SELECT label AS community, sum(d) AS dcs
        FROM deg JOIN labels ON labels.v = deg.v
        GROUP BY 1),
      terms AS (
        SELECT CAST(round(
          CAST(coalesce(ec, 0) AS DOUBLE) / CAST(m AS DOUBLE)
            - (CAST(dcs AS DOUBLE) / CAST(2 * m AS DOUBLE))
              * (CAST(dcs AS DOUBLE) / CAST(2 * m AS DOUBLE)), 12)
          AS DECIMAL(25,12)) AS contrib
        FROM dc LEFT JOIN intra USING (community), m)
      SELECT (SELECT count(*) FROM labels) AS n_nodes,
        any_value(m.m) AS n_edges,
        count(*) AS n_communities,
        (round(CAST(sum(contrib) AS DOUBLE), 6) + 0.0) AS modularity
      FROM terms, m"""

  /** g19: STRONGLY CONNECTED COMPONENTS of the DIRECTED link graph —
    * the directed complement of g2/g6 (which symmetrize): on a web/
    * citation graph the giant SCC vs in/out-periphery split (the
    * "bow-tie") is the structure a source-weighting pipeline actually
    * wants, and mutual reachability is what distinguishes a citation
    * ring from a chain. Output is g2's shape: one row per SCC keyed by
    * its minimum member id.
    *
    * Algorithm — iterative forward-color / backward-mark peeling
    * (Orzan's coloring, the standard distributed SCC shape; FW-BW's
    * pivot reachability is the special case with one color): each
    * round on the remaining subgraph
    *   (1) FORWARD min-label propagation to the exact fixpoint:
    *       c(v) = min id over v's ancestors ∪ {{v}} — so each color
    *       class sits inside the descendant set of its root r
    *       (c(r) = r);
    *   (2) BACKWARD mark propagation from the roots along reversed
    *       edges RESTRICTED to same-color pairs, to the fixpoint:
    *       marked(v) ⇔ v →* r within the class. The restriction is
    *       lossless (standard argument: any v→*r path node w has
    *       r →* w and every ancestor of w is an ancestor of r, so
    *       c(w) = r exactly);
    *   (3) every marked set IS the SCC of its root (F ∩ B) — emit
    *       them ALL, peel, repeat on the remainder.
    * Both inner loops are [[labelStep]] runs on [[fixpoint]] (exact-sum
    * probe, Ckpt cadence, loud runaway caps); the outer
    * peel is capped by `maxRounds` (default n + 1 — a pure runaway
    * guard: each round removes ≥ 1 node). Every round removes every
    * root SCC simultaneously, so round count is bounded by the depth
    * of the condensation's min-id peeling order, not by SCC count —
    * on hash-random link graphs the giant SCC + shallow periphery
    * peel in a handful of rounds. Per round the work is
    * O(diameter) edge-scale exchanges against a pinned adjacency —
    * the g2 cost class with a constant-factor outer dial, the
    * published trade for distributed SCC (Tarjan is inherently
    * sequential).
    *
    * Determinism: all-integer labels and marks; fixpoints are unique
    * regardless of execution order. */
  def g19Scc(spark: SparkSession, dir: String): DataFrame =
    g19Scc(Tables.load(spark, dir, "documents"))

  def g19Scc(docs0: DataFrame, maxRounds: Long = Long.MaxValue): DataFrame = {
    val spine = docs0.select(col("doc_id"))
    val n = denseN(spine, "g19")
    sccCore(spine.select(col("doc_id").as("v")),
      syntheticFwd(spine, n).select(col("src"), col("dst")), maxRounds,
      "g19_scc")
  }

  /** General SCC entry — explicit DIRECTED (src, dst) edge list with
    * arbitrary sparse 64-bit ids; the node spine is the distinct
    * endpoint set. */
  def g19SccEdges(edges0: DataFrame, maxRounds: Long = Long.MaxValue,
      tag: String = "g19_edges"): DataFrame = {
    val edges = edges0.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val nodes = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
      .distinct()
    sccCore(nodes, edges, maxRounds, tag)
  }

  private def sccCore(nodes0: DataFrame, edges0: DataFrame,
      maxRounds: Long, tag: String): DataFrame = {
    val labels = sccLabelsCore(nodes0, edges0, maxRounds, tag)
    labels.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), min(col("v")).as("min_doc"),
        max(col("v")).as("max_doc"))
      .orderBy("component")
  }

  /** The per-node (v, component) SCC assignment behind [[sccCore]] —
    * split out so [[g20Condensation]] contracts the SAME peel instead
    * of re-running it. */
  private def sccLabelsCore(nodes0: DataFrame, edges0: DataFrame,
      maxRounds: Long, tag: String): DataFrame = {
    // lazy marks on `remaining`: the per-round count probe (and the
    // eager edges checkpoint that reads it) materialize the blocks in
    // the same job (r19, guide §2.4 fewer actions)
    var remaining = graft.Ckpt.lazily(nodes0.select(col("v")))
    var edges = graft.Ckpt(edges0.select(col("src"), col("dst")))
    var nLeft = remaining.count()
    val cap = math.min(maxRounds, nLeft + 1)
    var assigned: DataFrame = null
    var rounds = 0L
    var innerSteps = 0L
    while (nLeft > 0) {
      require(rounds < cap,
        s"SCC peel not converged after $rounds rounds, $nLeft nodes " +
          s"left (cap $cap, $tag)")
      // (1) forward coloring on the remaining subgraph
      val fadj = edges
        .unionByName(remaining.select(col("v").as("src"), col("v").as("dst")))
        .repartition(col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val (colors, cSteps) = fixpoint(
        remaining.select(col("v"), col("v").as("label")), "label",
        nLeft + CkptEvery, nLeft, s"SCC coloring on $nLeft nodes ($tag)")(
        labelStep(fadj, min))
      fadj.unpersist(blocking = true)
      // (2) backward marks within color classes: keep only same-color
      // edges, REVERSED (marks flow head → tail), plus the sentinel
      // self-edges; seed = the roots
      val cs = colors.select(col("v").as("src"), col("label").as("cs"))
      val cd = colors.select(col("v").as("dst"), col("label").as("cd"))
      val badj = edges.join(cs, "src").join(cd, "dst")
        .filter(col("cs") === col("cd"))
        .select(col("dst").as("src"), col("src").as("dst"))
        .unionByName(remaining.select(col("v").as("src"), col("v").as("dst")))
        .repartition(col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val seed = colors.select(col("v"),
        when(col("label") === col("v"), 1L).otherwise(0L).as("label"))
      val (marks, mSteps) = fixpoint(seed, "label", nLeft + CkptEvery,
        nLeft, s"SCC marking on $nLeft nodes ($tag)")(labelStep(badj, max))
      badj.unpersist(blocking = true)
      innerSteps += cSteps + mSteps
      // (3) peel every root SCC at once
      val scc = graft.Ckpt(marks.filter(col("label") === 1L)
        .select(col("v"))
        .join(colors, "v")
        .select(col("v"), col("label").as("component")))
      assigned = if (assigned == null) scc else assigned.unionByName(scc)
      remaining = graft.Ckpt.lazily(
        remaining.join(scc.select(col("v")), Seq("v"), "left_anti"))
      edges = graft.Ckpt(edges
        .join(remaining.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(remaining.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst")))
      rounds += 1
      nLeft = remaining.count()
    }
    graft.Meter.steps(nodes0.sparkSession, tag, innerSteps)
    graft.Meter.steps(nodes0.sparkSession, tag + "_rounds", rounds)
    if (assigned == null)
      nodes0.select(col("v"), col("v").as("component")).limit(0)
    else assigned
  }

  /** DuckDB oracle for [[g19Scc]] — full transitive closure of the
    * synthetic directed graph via one recursive CTE (pair space is
    * n², the ORACLE's luxury — the engine never materializes it);
    * scc(v) = min u with v →* u ∧ u →* v (v itself iff v is on a
    * cycle, else the singleton fallback). */
  def g19OracleSql: String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n FROM documents),
      fwd AS MATERIALIZED (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      reach AS (
        SELECT src AS a, dst AS b FROM fwd
        UNION
        SELECT r.a, f.dst FROM reach r JOIN fwd f ON r.b = f.src),
      mut AS (
        SELECT r1.a AS v, min(r1.b) AS mn
        FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
        GROUP BY r1.a),
      scc AS (
        SELECT doc_id AS v, coalesce(mn, doc_id) AS component
        FROM documents LEFT JOIN mut ON mut.v = doc_id)
      SELECT component, count(*) AS n_members,
        min(v) AS min_doc, max(v) AS max_doc
      FROM scc GROUP BY component ORDER BY component"""

  /** g20: CONDENSATION DAG LAYERS — contract [[g19Scc]]'s components
    * and assign every SCC its LONGEST-PATH-FROM-A-SOURCE level in the
    * (provably acyclic) condensation: the bow-tie "IN → core → OUT"
    * coordinate a link-graph pipeline actually consumes (level 0 =
    * pure upstream; the giant SCC sits mid-ladder; deep levels =
    * terminal sinks). Output is one row per level with the SCC/node
    * census.
    *
    * Shape: SCC labels ride [[sccLabelsCore]] (the SAME peel as g19 —
    * one machine, two consumers); condensation edges are one
    * label-join + distinct of the edge list; the level ladder is the
    * standard monotone fixpoint lvl(c) = max(lvl(c), 1 + max over
    * predecessors), which converges in ≤ condensation-depth steps
    * (after k steps every SCC of depth ≤ k is final). [[fixpoint]]
    * certifies it (levels are monotone non-decreasing integers
    * bounded by C − 1); the loud cap is C + 1 steps — past
    * that is a genuine bug (a cycle in the "DAG" = a broken SCC
    * contraction).
    *
    * Scale: per step ONE condensation-edge-scale join against the
    * level frame; the condensation of a 100 TB web graph is itself
    * edge-scale in the worst case (all-singleton SCCs) — the ladder
    * stays distributed, nothing collects. */
  def g20Condensation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val spine = docs.select(col("doc_id"))
    val n = denseN(spine, "g20")
    val edges = syntheticFwd(spine, n).select(col("src"), col("dst"))
    condensationCore(spine.select(col("doc_id").as("v")), edges,
      "g20_condensation")
  }

  /** General condensation entry — explicit DIRECTED (src, dst) edges,
    * sparse 64-bit ids (g19SccEdges' contract). */
  def g20CondensationEdges(edges0: DataFrame,
      tag: String = "g20_edges"): DataFrame = {
    val edges = edges0.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val nodes = edges.select(col("src").as("v"))
      .unionByName(edges.select(col("dst").as("v")))
      .distinct()
    condensationCore(nodes, edges, tag)
  }

  private def condensationCore(nodes: DataFrame, edges: DataFrame,
      tag: String): DataFrame = {
    val labels = graft.Ckpt(
      sccLabelsCore(nodes, edges, Long.MaxValue, tag + "_scc"))
    val cedges = graft.Ckpt(edges
      .join(labels.select(col("v").as("src"), col("component").as("csrc")),
        "src")
      .join(labels.select(col("v").as("dst"), col("component").as("cdst")),
        "dst")
      .filter(col("csrc") =!= col("cdst"))
      .select(col("csrc"), col("cdst"))
      .distinct())
    val cnodes = graft.Ckpt(labels.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members")))
    val nC = cnodes.count()
    // levels never exceed C − 1, so C + 1 steps is the loud cap: past
    // it the contraction left a cycle
    val (lvl, steps) = fixpoint(cnodes.select(col("component").as("c"),
      lit(0L).as("lvl")), "lvl", nC + 1, nC,
      s"condensation levels on $nC SCCs ($tag)") { cur =>
      val fromPreds = cedges
        .join(cur.select(col("c").as("csrc"), col("lvl").as("plvl")),
          "csrc")
        .groupBy(col("cdst"))
        .agg((max(col("plvl")) + 1L).as("cand"))
        .select(col("cdst").as("c"), col("cand"))
      cur.join(fromPreds, Seq("c"), "left")
        .select(col("c"),
          greatest(col("lvl"), coalesce(col("cand"), lit(0L))).as("lvl"))
    }
    graft.Meter.steps(nodes.sparkSession, tag, steps)
    lvl.join(cnodes, col("c") === col("component"))
      .groupBy(col("lvl").as("level"))
      .agg(count(lit(1)).as("n_sccs"), sum(col("n_members")).as("n_nodes"),
        min(col("c")).as("min_comp"), max(col("c")).as("max_comp"))
      .orderBy("level")
  }

  /** DuckDB oracle for [[g20Condensation]] — g19's transitive-closure
    * SCC labels, contracted edges, and the longest-path level via a
    * deduplicating recursive walk from the sources (the condensation
    * is a DAG, so the walk terminates; UNION bounds rows by
    * SCCs × depth). */
  def g20OracleSql: String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n FROM documents),
      fwd AS MATERIALIZED (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      reach AS (
        SELECT src AS a, dst AS b FROM fwd
        UNION
        SELECT r.a, f.dst FROM reach r JOIN fwd f ON r.b = f.src),
      mut AS (
        SELECT r1.a AS v, min(r1.b) AS mn
        FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
        GROUP BY r1.a),
      labels AS MATERIALIZED (
        SELECT doc_id AS v, coalesce(mn, doc_id) AS component
        FROM documents LEFT JOIN mut ON mut.v = doc_id),
      cedges AS MATERIALIZED (
        SELECT DISTINCT l1.component AS csrc, l2.component AS cdst
        FROM fwd
        JOIN labels l1 ON fwd.src = l1.v
        JOIN labels l2 ON fwd.dst = l2.v
        WHERE l1.component <> l2.component),
      comps AS MATERIALIZED (
        SELECT component, count(*) AS n_members FROM labels GROUP BY 1),
      lp AS (
        SELECT component AS c, 0 AS lvl FROM comps
        WHERE component NOT IN (SELECT cdst FROM cedges)
        UNION
        SELECT cdst, lvl + 1 FROM lp JOIN cedges ON lp.c = cedges.csrc),
      lev AS (SELECT c, max(lvl) AS level FROM lp GROUP BY 1)
      SELECT CAST(level AS BIGINT) AS level, count(*) AS n_sccs,
        CAST(sum(n_members) AS BIGINT) AS n_nodes,
        min(c) AS min_comp, max(c) AS max_comp
      FROM lev JOIN comps ON c = component
      GROUP BY 1 ORDER BY 1"""

  /** g21: RECIPROCITY + DYAD CENSUS of the directed link graph — the
    * classic "is linking mutual or broadcast?" statistic (Wasserman &
    * Faust's dyad census, restricted to the connected dyads): mutual
    * pairs M (both directions present), asymmetric pairs A (exactly
    * one), r = reciprocated-link fraction = 2M / (2M + A). High r on
    * a citation graph flags ring-like mutual-citation structure —
    * the directed sibling of g3's triangle screen.
    *
    * Shape: ONE edge-scale left-semi self-join of the distinct edge
    * set against its own reversal (hash join on the composite key) +
    * one aggregate. All integers; one round-6 division. */
  def g21Reciprocity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val spine = docs.select(col("doc_id"))
    val n = denseN(spine, "g21")
    g21ReciprocityEdges(syntheticFwd(spine, n).select(col("src"), col("dst")))
  }

  /** General reciprocity entry — explicit DIRECTED (src, dst) edges,
    * arbitrary 64-bit ids; self-loops dropped, parallel edges
    * collapsed (the dyad census is about PAIRS). */
  def g21ReciprocityEdges(edges0: DataFrame): DataFrame = {
    val e = edges0
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val mutual = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast( // one-row frame (ContractSpec class)
        mutual.agg(count(lit(1)).as("n_mutual_links"))))
      .select(col("n_edges"), col("n_mutual_links"),
        expr("n_mutual_links div 2").as("n_mutual_pairs"),
        (col("n_edges") - col("n_mutual_links")).as("n_asym_pairs"),
        round(col("n_mutual_links").cast("double")
          / col("n_edges").cast("double"), 6).as("reciprocity"))
  }

  /** DuckDB oracle for [[g21Reciprocity]] — identical distinct edge
    * set, reversal semi-join, and census arithmetic. */
  def g21OracleSql: String = s"""
      WITH nn AS MATERIALIZED (SELECT count(*) AS n FROM documents),
      fwd AS MATERIALIZED (
        SELECT DISTINCT src,
          CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      ed AS (SELECT src, dst FROM fwd WHERE src <> dst),
      mut AS (
        SELECT count(*) AS n_mutual_links FROM ed
        WHERE EXISTS (SELECT 1 FROM ed r
                      WHERE r.src = ed.dst AND r.dst = ed.src)),
      tot AS (SELECT count(*) AS n_edges FROM ed)
      SELECT n_edges, n_mutual_links,
        CAST(n_mutual_links / 2 AS BIGINT) AS n_mutual_pairs,
        n_edges - n_mutual_links AS n_asym_pairs,
        round(CAST(n_mutual_links AS DOUBLE) / CAST(n_edges AS DOUBLE), 6)
          AS reciprocity
      FROM tot, mut"""

  /** g23: HITS HUBS & AUTHORITIES (Kleinberg 1999) — the two-sided
    * complement of g1's single authority score on a DIRECTED graph:
    * a(v) = Σ_{u→v} h(u) and h(v) = Σ_{v→u} a(u), iterated; a curated
    * link page is a strong HUB, the pages it points at are strong
    * AUTHORITIES — the distinction a source-weighting pipeline wants
    * when "points at good content" and "is good content" diverge.
    * Fixed [[Iters]] mutual-reinforcement steps by g1's contract
    * (float-valued, no finite fixpoint); each half-step max-abs
    * normalized (the scale-free choice that needs no order-sensitive
    * global sum).
    *
    * Distributed shape: TWO pinned adjacency copies — forward pinned
    * by src (the hub step reads a(dst) grouped back to src) and
    * reversed pinned by its own join key (the authority step) — so at
    * scale the edges never move; only the node-scale score frame
    * shuffles into each join (g5's pin law, both directions). Per
    * half-step sums are g1's discipline: sort_array(collect_list)
    * sequential folds in (contributor, j) order, bit-exact vs the
    * oracle's list folds; sentinel rows keep degree-0 nodes with an
    * exact + 0.0 no-op. The per-half-step max rides a one-row
    * broadcast. */
  def g23Hits(spark: SparkSession, dir: String,
      iters: Int = Iters): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val spine = docs.select(col("doc_id"))
    val n = denseN(spine, "g23")
    require(iters >= 1, s"g23 needs at least one iteration, got $iters")
    hitsCore(spine, syntheticFwd(spine, n), iters)
  }

  /** General HITS entry — explicit DIRECTED (src, dst) edges (sparse
    * 64-bit ids, parallel edges collapsed); nodes = the endpoint
    * set. */
  def g23HitsEdges(edges0: DataFrame, iters: Int = Iters): DataFrame = {
    val e = edges0.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    val nodes = e.select(col("src").as("doc_id"))
      .unionByName(e.select(col("dst").as("doc_id"))).distinct()
    hitsCore(nodes, e.select(col("src"), lit(0L).as("j"), col("dst")), iters)
  }

  private def hitsCore(spine0: DataFrame, edges0: DataFrame,
      iters: Int): DataFrame = {
    val spine2 = spine0.select(col("doc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fwd = edges0
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rev = edges0
      .select(col("dst").as("src"), col("j"), col("src").as("dst"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sentinelA = spine2.select(lit(-1L).as("src"), lit(0L).as("j"),
        col("doc_id").as("dst"), lit(0.0).as("c"))
      def fold(contribs: DataFrame): DataFrame = contribs
        .groupBy(col("dst"))
        .agg(sort_array(collect_list(struct(col("src"), col("j"), col("c"))))
          .as("cs"))
        .select(col("dst").as("v"),
          aggregate(col("cs"), lit(0.0),
            (acc, x) => acc + x.getField("c")).as("s"))
      def normalized(raw: DataFrame): DataFrame = raw
        .crossJoin(broadcast(raw.agg(max(col("s")).as("mx")))) // one row
        .select(col("v"), (col("s") / col("mx")).as("s"))
      var hubs = spine2.select(col("doc_id").as("v"), lit(1.0).as("s"))
      var auth = hubs
      for (t <- 1 to iters) {
        // authority step: contributions flow ALONG edges (u → v adds
        // h(u) at v) — the forward pin's join key is src
        auth = graft.Ckpt(normalized(fold(fwd
          .join(hubs, col("src") === col("v"))
          .select(col("src"), col("j"), col("dst"), col("s").as("c"))
          .unionByName(sentinelA))))
        // hub step: contributions flow AGAINST edges (v → u reads
        // a(u) back at v) — the reversed pin's join key is its src
        hubs = graft.Ckpt(normalized(fold(rev
          .join(auth, col("src") === col("v"))
          .select(col("src"), col("j"), col("dst"), col("s").as("c"))
          .unionByName(sentinelA))))
      }
      graft.Ckpt(hubs.select(col("v").as("doc_id"), col("s").as("hub"))
        .join(auth.select(col("v").as("doc_id"), col("s").as("auth")),
          "doc_id")
        .select(col("doc_id"), round(col("hub"), 6).as("hub"),
          round(col("auth"), 6).as("auth"))
        .orderBy("doc_id"))
    } finally {
      fwd.unpersist(blocking = true)
      rev.unpersist(blocking = true)
      spine2.unpersist(blocking = true)
    }
  }

  /** DuckDB oracle for [[g23Hits]] — g1's list-state recursion with
    * both score vectors; in-lists sorted by (contributor, j) with the
    * sentinel's leading exact 0.0, folds and max-normalization
    * mirrored per half-step. */
  def g23OracleSql(iters: Int = Iters): String = s"""
      WITH RECURSIVE nn AS MATERIALIZED (
        SELECT count(*) AS n, CAST(count(*) AS INT) AS ni FROM documents),
      edges AS MATERIALIZED (
        SELECT src, j,
          CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      inm AS MATERIALIZED (
        SELECT list_transform(
          list_sort(list(struct_pack(dst := dst, ins := ins))),
          s -> s['ins']) AS m
        FROM (
          SELECT d.doc_id AS dst,
            coalesce(i.ins, CAST([] AS STRUCT(src BIGINT, j BIGINT)[]))
              AS ins
          FROM documents d
          LEFT JOIN (
            SELECT dst, list_sort(list(struct_pack(src := src, j := j)))
              AS ins
            FROM edges GROUP BY dst) i ON i.dst = d.doc_id)),
      outm AS MATERIALIZED (
        SELECT list_transform(
          list_sort(list(struct_pack(src := src, outs := outs))),
          s -> s['outs']) AS m
        FROM (
          SELECT d.doc_id AS src,
            coalesce(o.outs, CAST([] AS STRUCT(dst BIGINT, j BIGINT)[]))
              AS outs
          FROM documents d
          LEFT JOIN (
            SELECT src, list_sort(list(struct_pack(dst := dst, j := j)))
              AS outs
            FROM edges GROUP BY src) o ON o.src = d.doc_id)),
      it AS (
        SELECT 0 AS k,
          list_transform(generate_series(1, ni),
            i -> CAST(1.0 AS DOUBLE)) AS h,
          list_transform(generate_series(1, ni),
            i -> CAST(1.0 AS DOUBLE)) AS a
        FROM nn
        UNION ALL
        SELECT s2.k + 1,
          list_transform(s2.hr, x -> x /
            list_reduce(s2.hr, (acc, y) -> greatest(acc, y))),
          s2.an
        FROM (
          SELECT s1.k, s1.an,
            list_transform(generate_series(1, s1.ni), v ->
              list_reduce(
                list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(outm.m[v],
                    e -> s1.an[CAST(e['dst'] AS INT) + 1])),
                (acc, x) -> acc + x)) AS hr
          FROM (
            SELECT s0.k, s0.ni,
              list_transform(s0.ar, x -> x /
                list_reduce(s0.ar, (acc, y) -> greatest(acc, y))) AS an
            FROM (
              SELECT it.k, nn.ni,
                list_transform(generate_series(1, nn.ni), v ->
                  list_reduce(
                    list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(inm.m[v],
                        e -> it.h[CAST(e['src'] AS INT) + 1])),
                    (acc, x) -> acc + x)) AS ar
              FROM it, nn, inm WHERE it.k < $iters) s0) s1, outm) s2)
      SELECT i - 1 AS doc_id,
        round(f.h[i], 6) AS hub, round(f.a[i], 6) AS auth
      FROM (SELECT h, a FROM it WHERE k = $iters) f,
        (SELECT unnest(generate_series(1, ni)) AS i FROM nn) t
      ORDER BY doc_id"""

  /** Walk length for [[g22RandomWalks]] — a CONTRACT constant (g1's
    * class): the walk corpus is a training-data artifact whose length
    * is a pipeline hyperparameter, not a convergence question. */
  final val WalkLen = 8

  /** g22: DETERMINISTIC RANDOM-WALK CORPUS — one [[WalkLen]]-step
    * walk from every node, the input a node2vec/DeepWalk-class
    * embedding trainer consumes (walks ARE the sentences). "Random"
    * is the repo's Knuth hash of (current node, step): fully
    * deterministic and engine-reproducible, the property a replayable
    * pipeline needs from its walk generator (re-runs must emit the
    * same corpus or downstream shard hashes churn).
    *
    * Step rule: from node v at step s, move to the h(v,s)-th
    * out-neighbor in sorted-dst order (h mod out-degree); a dead-end
    * absorbs (the walk stays — documented, matches the absorbing
    * convention of PageRank's dangling mass). The synthetic corpus
    * graph has no dead ends; the edges entry can.
    *
    * Shape: the adjacency (with per-neighbor rank and degree) is
    * built ONCE, pinned partitioned by src; each of the [[WalkLen]]
    * unrolled steps is ONE equi-join of the walker frame against it
    * (walkers shuffle to the adjacency, never the reverse — g5's pin
    * law). Path state is an in-row array (walker-scale, length ≤
    * WalkLen+1). NO RNG anywhere.
    *
    * Scale: WalkLen joins of an n-walker frame against an edge-scale
    * pinned adjacency — embarrassingly parallel, skew-free (every
    * walker does O(1) work per step; a hub's in-walkers spread over
    * its partition). */
  def g22RandomWalks(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val spine = docs.select(col("doc_id"))
    val n = denseN(spine, "g22")
    g22RandomWalksEdges(syntheticFwd(spine, n).select(col("src"), col("dst")),
      spine.select(col("doc_id").as("v")))
  }

  /** General walk entry — explicit DIRECTED (src, dst) edges; starts
    * default to the distinct endpoint set. */
  def g22RandomWalksEdges(edges0: DataFrame,
      starts0: DataFrame = null): DataFrame = {
    val e = edges0
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct()
    val starts =
      if (starts0 != null) starts0.select(col("v").cast("long").as("v"))
      else e.select(col("src").as("v"))
        .unionByName(e.select(col("dst").as("v"))).distinct()
    val wAdj = Window.partitionBy("src").orderBy("dst")
    val adj = graft.Ckpt(e
      .withColumn("r", row_number().over(wAdj).cast("long") - 1L)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src"))))
      .repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def h(v: Column, s: Int): Column = pmod(
        pmod(v * 7 + s, lit(1000000000L)) * lit(2654435761L),
        lit(2147483647L))
      var walk = starts.select(col("v").as("start"), col("v").as("cur"),
        array(col("v")).as("path"))
      for (s <- 1 to WalkLen) {
        val nxt = walk
          .join(adj.withColumnRenamed("src", "cur"), Seq("cur"), "left")
          .filter(col("r").isNull || col("r") === pmod(h(col("cur"), s),
            col("deg")))
          .select(col("start"),
            coalesce(col("dst"), col("cur")).as("cur"),
            array_append(col("path"),
              coalesce(col("dst"), col("cur"))).as("path"))
        walk = if (s % CkptEvery == 0) graft.Ckpt(nxt) else nxt
      }
      graft.Ckpt(walk.select(col("start"),
        concat_ws(">",
          expr("transform(path, x -> CAST(x AS STRING))")).as("path"),
        col("cur").as("final_node"),
        size(array_distinct(col("path"))).cast("long").as("n_unique"))
        .orderBy("start"))
    } finally adj.unpersist(blocking = true)
  }

  /** DuckDB oracle for [[g22RandomWalks]] — sorted adjacency lists +
    * the identical hash step, unrolled [[WalkLen]] hops. */
  def g22OracleSql: String = {
    def step(s: Int): String = s"""
      w$s AS (
        SELECT start,
          CASE WHEN ns IS NULL THEN cur
            ELSE ns[CAST((((cur * 7 + $s) % 1000000000) * 2654435761)
              % 2147483647 % len(ns) AS INT) + 1] END AS cur,
          path || '>' || CAST(CASE WHEN ns IS NULL THEN cur
            ELSE ns[CAST((((cur * 7 + $s) % 1000000000) * 2654435761)
              % 2147483647 % len(ns) AS INT) + 1] END AS VARCHAR) AS path,
          CASE WHEN ns IS NULL THEN visited
            ELSE list_append(visited,
              ns[CAST((((cur * 7 + $s) % 1000000000) * 2654435761)
                % 2147483647 % len(ns) AS INT) + 1]) END AS visited
        FROM (SELECT w.*, adj.ns FROM w${s - 1} w
              LEFT JOIN adj ON adj.src = w.cur))"""
    s"""
      WITH nn AS MATERIALIZED (SELECT count(*) AS n FROM documents),
      fwd AS MATERIALIZED (
        SELECT DISTINCT src,
          CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      adj AS MATERIALIZED (
        SELECT src, list_sort(list(dst)) AS ns FROM fwd GROUP BY 1),
      w0 AS (
        SELECT doc_id AS start, doc_id AS cur,
          CAST(doc_id AS VARCHAR) AS path, [doc_id] AS visited
        FROM documents),
      ${(1 to WalkLen).map(step).mkString(",")}
      SELECT start, path, cur AS final_node,
        CAST(len(list_distinct(visited)) AS BIGINT) AS n_unique
      FROM w$WalkLen ORDER BY start"""
  }

  /** k of the k-truss peel (g24): every surviving edge sits in ≥ k−2
    * triangles INSIDE the truss. k = 10 is the value at which the
    * co-purchase graph's peel genuinely cascades (96% of edges peel
    * over 7 live rounds at sf0.01) — k = 4 removes almost nothing on
    * a graph this triangle-dense, the vacuity that deferred this
    * operator in r16 on the OutDeg-3 link graph. */
  val TrussK = 10
  /** Peel-round budget: the engine REQUIRES convergence within this
    * many rounds (loud failure, never a silent truncation) and the
    * oracle unrolls exactly this many — a round after the fixpoint is
    * a provable no-op (the support filter is idempotent on a
    * converged edge set), so the engine's early exit and the oracle's
    * fixed unroll land on identical edge sets. Measured: 8 rounds at
    * sf0.01, 3 at sf0.1, 1 at sf0.001 — 12 is headroom, and the
    * no-op tail runs on the already-peeled (small) edge set. */
  val TrussRounds = 12

  /** Per-edge triangle support of a simple undirected (a < b) edge
    * frame — g3's one-wedge-per-triangle machinery run one exchange
    * further: each triangle found at its lowest-(degree, id) corner
    * is credited to all THREE of its edges (explode + count,
    * triangle-scale). The (degree, id) orientation bounds wedge
    * fan-out at O(√E) per node, hubs included. */
  private def trussSupport(e: DataFrame, nEdges: Long): DataFrame = {
    import org.apache.spark.sql.graftshim.GraftShim
    val (_, oriented) = orientByDegree(e)
    val wedges = orientedWedges(oriented)
    // Bloom prefilter before the wedge exchange (r19, guide §3.2):
    // the (x, y) semi-join against the oriented edge set is the
    // suite's largest shuffle (~390 MB of wedge rows at sf0.1) and
    // only ~4% of wedges close a triangle. A bloom over the oriented
    // edge keys — built per peel round from the CURRENT edge set,
    // sized from its edge count — drops definitely-non-closing wedges
    // IN-ROW before they are exchanged. False positives only ride to
    // the semi join, which stays exact, so the support frame (and the
    // oracle) is bit-identical with or without the filter; a NULL
    // bloom (empty edge set) keeps nothing, which is the correct "no
    // triangles" answer. The filter rides as a scalar subquery (d14's
    // InjectRuntimeFilter shape — nothing collects to the driver),
    // and the sizing is clamped to the runtime-filter conf defaults
    // (4M items / 64M bits): past the clamp the fpp degrades
    // gracefully — more surviving wedges, never a failure or a wrong
    // answer.
    val estItems = math.min(math.max(nEdges, 1L), 4000000L)
    val numBits = math.min(estItems * 10L, 67000000L)
    val bloomDf = oriented.agg(GraftShim.bloomAggColumn(
      xxhash64(col("u"), col("v")), estItems, numBits).as("bf"))
    val wedgesF = wedges.filter(GraftShim.bloomMightContainSubquery(
      bloomDf, xxhash64(col("x"), col("y"))))
    val tris = wedgesF.join(oriented.select(col("u").as("x"),
      col("v").as("y")), Seq("x", "y"), "left_semi")
    tris.select(explode(array(
        struct(least(col("u"), col("x")).as("a"),
          greatest(col("u"), col("x")).as("b")),
        struct(least(col("u"), col("y")).as("a"),
          greatest(col("u"), col("y")).as("b")),
        struct(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b")))).as("t"))
      .groupBy(col("t.a").as("a"), col("t.b").as("b"))
      .agg(count(lit(1)).as("sup"))
  }

  /** g24: k-TRUSS of the part CO-PURCHASE graph — the cohesive-
    * subgraph mining step between g3's one-number triangle census and
    * g5's vertex-local k-core: the maximal subgraph in which EVERY
    * edge closes ≥ k−2 triangles with edges that themselves survive
    * (Cohen 2008). A k-core keeps a hub with k low-value neighbours;
    * a k-truss demands the neighbourhood agree with itself — the
    * standard community-backbone cut on co-occurrence graphs.
    *
    * The graph: parts are linked when some order contains both
    * (lineitem self-join on the order key — per-order fan-out is
    * C(items-per-order, 2), bounded by the schema's ≤7 lineitems per
    * order, so the pair generation is fact-scale with a constant
    * factor, never quadratic). Parallel pairs collapse via the simple-
    * graph dedup.
    *
    * The peel: each round recomputes per-edge support inside the
    * surviving subgraph ([[trussSupport]] — degree-oriented, wedge
    * fan-out O(√E)) and drops edges below k−2; an exact edge-count
    * probe certifies the fixpoint; the round budget is LOUD
    * ([[TrussRounds]]). All integers ⇒ bitwise oracle. Output: the
    * converged truss's support histogram (support → edge count) —
    * the dashboard row a backbone-extraction pipeline reads.
    *
    * 100 TB contract: each round is one triangle enumeration over the
    * CURRENT edge set (monotonically shrinking — the first peel
    * usually removes the bulk) + one edge-keyed count exchange;
    * nothing collects; per-round cost = O(E^1.5) with the orientation
    * bound, times a loudly-capped round count. */
  def g24Ktruss(spark: SparkSession, dir: String): DataFrame = {
    // keyed fanout (r19 #2, refining the r19 Tables.parallel shape):
    // the two-column lineitem scan is a couple of parquet splits, so
    // the CPU-dense per-order pair fan-out (C(items, 2) per order)
    // ran on 3 tasks. Hashing by the JOIN KEY instead of round-robin
    // skips the keyless repartition's sortBeforeRepartition pass and
    // lets the self-join reuse the one exchange for both sides
    // (orders carry ≤ 7 lineitems — no skew at any width).
    val l = Tables.fanout(Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")), col("l_orderkey"))
    val pairs = l.as("x")
      .join(l.select(col("l_orderkey"), col("l_partkey").as("pb")).as("y"),
        Seq("l_orderkey"))
      .filter(col("l_partkey") < col("pb"))
      .select(col("l_partkey").as("src"), col("pb").as("dst"))
    g24KtrussEdges(pairs, TrussK, tag = "g24_ktruss")
  }

  /** General k-truss entry — an explicit (src, dst) edge list with
    * arbitrary 64-bit ids; undirected simple form, self-loops
    * dropped. `maxRounds` is the loud peel budget. */
  def g24KtrussEdges(edges0: DataFrame, k: Int = TrussK,
      maxRounds: Long = TrussRounds, tag: String = "g24_ktruss"): DataFrame = {
    require(k >= 3, s"$tag: k-truss needs k >= 3, got $k")
    // EAGER checkpoints in this loop (measured, r19): the peel's
    // per-round work chains NARROWLY on the checkpointed edge frame
    // (AQE broadcast-joins the degree frame, so the orientation keeps
    // e's partitioning) — a lazily-marked frame materializes AQE-
    // coalesced to ~1 partition under the count probe and the next
    // round's whole orientation ran serial (StageProbe: 4.5 s 1-task
    // stages, wall 24→56 s). The eager materialization keeps the
    // map-side parallel; the one extra job per round is noise next to
    // that.
    var e = graft.Ckpt(simpleUndirected(
      edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))))
    var n = e.count()
    var steps = 0L
    var converged = false
    // the certifying round's support frame IS the final truss's
    // support (nothing dropped ⇒ the supports it computed are the
    // converged subgraph's) — keep it so the output histogram costs
    // no extra triangle pass
    var supJoined: DataFrame = null
    while (!converged) {
      require(steps < maxRounds,
        s"$tag: peel not converged within $maxRounds rounds (edges=$n)")
      supJoined = graft.Ckpt(e
        .join(trussSupport(e, n), Seq("a", "b"), "left_outer")
        .select(col("a"), col("b"),
          coalesce(col("sup"), lit(0L)).as("sup")))
      val next = supJoined.filter(col("sup") >= k - 2)
        .select(col("a"), col("b"))
      val m = next.count()
      steps += 1
      if (m == n) converged = true else { e = graft.Ckpt(next); n = m }
    }
    graft.Meter.steps(edges0.sparkSession, tag, steps)
    supJoined
      .groupBy(col("sup").as("support")).agg(count(lit(1)).as("n_edges"))
      .orderBy("support")
  }

  /** g26: ATTRIBUTE HOMOPHILY / categorical assortativity (Newman
    * 2003, eq. 2) of the directed link graph with the document SOURCE
    * as the node attribute — g4 answers "do high-degree nodes link to
    * high-degree nodes"; this answers the curation question "do
    * documents link WITHIN their source" (a crawl whose links never
    * leave their domain needs different dedup/mixing treatment than
    * one that cross-links):
    * r = (Σᵢ e_ii − Σᵢ a_i·b_i) / (1 − Σᵢ a_i·b_i), with e the
    * source×source edge-fraction mixing matrix, a/b its row/column
    * sums. r = 1 is perfect homophily; r ≈ 0 is source-blind linking;
    * r < 0 is disassortative.
    *
    * ALL-INTEGER determinism: with m edges, n_within = Σᵢ m_ii and
    * sp = Σᵢ row_i·col_i (exact BIGINTs — m² ~ 10¹² at sf0.1, far
    * under the 9.2·10¹⁸ ceiling; the category space is
    * sources²-bounded), r = (m·n_within − sp)/(m² − sp) is ONE double
    * division of exact integers on a round-6 grid (roundz — r is
    * signed). Degenerate m² = sp (a single category) yields NULL
    * identically in both engines.
    *
    * Scale: one edge-scale distinct + two dimension joins + a
    * category²-bounded mixing census. */
  def g26Homophily(spark: SparkSession, dir: String): DataFrame = {
    val docs0 = Tables.load(spark, dir, "documents")
    val docs = docs0.select(col("doc_id"))
    val n = denseN(docs, "g26")
    g26HomophilyEdges(
      syntheticFwd(docs, n).select(col("src"), col("dst")).distinct(),
      docs0.select(col("doc_id").as("node"), col("source").as("cat")))
  }

  /** General homophily entry — an explicit directed (src, dst) edge
    * list plus a (node, cat) attribute frame; edges whose endpoint
    * lacks an attribute row are dropped (inner joins — stated, not
    * silent: the mixing matrix is only defined over labeled nodes). */
  def g26HomophilyEdges(edges0: DataFrame, attrs: DataFrame): DataFrame = {
    val e = edges0
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .join(attrs.select(col("node").as("src"), col("cat").as("ca")), "src")
      .join(attrs.select(col("node").as("dst"), col("cat").as("cb")), "dst")
    val mix = graft.Ckpt(e.groupBy("ca", "cb").agg(count(lit(1)).as("cnt")))
    val m = mix.agg(sum(col("cnt")).as("m"))
    val rows = mix.groupBy("ca").agg(sum(col("cnt")).as("rc"))
    val cols = mix.groupBy("cb").agg(sum(col("cnt")).as("cc"))
    val sp = rows.join(cols, col("ca") === col("cb"))
      .agg(coalesce(sum(col("rc") * col("cc")), lit(0L)).as("sp"))
    val within = mix.filter(col("ca") === col("cb"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_within"))
    m.crossJoin(broadcast(within)) // one-row within census (g26)
      .crossJoin(broadcast(sp)) // one-row sum-of-products (g26)
      .select(col("m").as("n_edges"), col("n_within"),
        round(col("n_within").cast("double") / col("m").cast("double"), 6)
          .as("frac_within"),
        when(col("m") * col("m") =!= col("sp"),
          graft.GraftFunctions.roundz(
            (col("m") * col("n_within") - col("sp")).cast("double")
              / (col("m") * col("m") - col("sp")).cast("double"), 6))
          .as("assortativity"))
  }

  /** DuckDB oracle for [[g26Homophily]] — identical synthetic edges,
    * source joins, and the all-integer mixing arithmetic. */
  def g26OracleSql: String = s"""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      fwd AS (
        SELECT DISTINCT src,
          CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      lab AS (
        SELECT f.src, f.dst, da.source AS ca, db.source AS cb
        FROM (SELECT * FROM fwd WHERE src <> dst) f
        JOIN documents da ON da.doc_id = f.src
        JOIN documents db ON db.doc_id = f.dst),
      mix AS (SELECT ca, cb, count(*) AS cnt FROM lab GROUP BY 1, 2),
      mm AS (SELECT sum(cnt) AS m FROM mix),
      rws AS (SELECT ca, sum(cnt) AS rc FROM mix GROUP BY 1),
      cls AS (SELECT cb, sum(cnt) AS cc FROM mix GROUP BY 1),
      spx AS (
        SELECT coalesce(sum(rc * cc), 0) AS sp
        FROM rws JOIN cls ON ca = cb),
      wi AS (
        SELECT coalesce(sum(cnt), 0) AS n_within
        FROM mix WHERE ca = cb)
      SELECT CAST(m AS BIGINT) AS n_edges,
        CAST(n_within AS BIGINT) AS n_within,
        round(CAST(n_within AS DOUBLE) / CAST(m AS DOUBLE), 6)
          AS frac_within,
        CASE WHEN m * m <> sp THEN
          (round(CAST(m * n_within - sp AS DOUBLE)
            / CAST(m * m - sp AS DOUBLE), 6) + 0.0) END AS assortativity
      FROM mm, wi, spx"""

  /** DuckDB oracle for [[g24Ktruss]] — identical co-purchase edge
    * derivation and a FIXED [[TrussRounds]]-round unroll of the same
    * support-filter peel (rounds past the fixpoint are no-ops), then
    * the same final support histogram. All-integer ⇒ bitwise. */
  def g24OracleSql(k: Int = TrussK, rounds: Int = TrussRounds): String = {
    def round(i: Int): String = s"""
      u$i AS (SELECT a AS s, b AS t FROM e${i - 1}
              UNION ALL SELECT b, a FROM e${i - 1}),
      s$i AS (SELECT e.a, e.b, count(*) AS sup
              FROM e${i - 1} e
              JOIN u$i x ON x.s = e.a
              JOIN u$i y ON y.s = e.b AND y.t = x.t
              GROUP BY e.a, e.b),
      e$i AS MATERIALIZED (
        SELECT e.a, e.b FROM e${i - 1} e LEFT JOIN s$i USING (a, b)
        WHERE coalesce(sup, 0) >= ${k - 2})"""
    s"""
      WITH e0 AS MATERIALIZED (
        SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
          greatest(x.l_partkey, y.l_partkey) AS b
        FROM lineitem x JOIN lineitem y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
      ${(1 to rounds).map(round).mkString(",")},
      uf AS (SELECT a AS s, b AS t FROM e$rounds
             UNION ALL SELECT b, a FROM e$rounds),
      sf AS (SELECT e.a, e.b, count(*) AS sup
             FROM e$rounds e
             JOIN uf x ON x.s = e.a
             JOIN uf y ON y.s = e.b AND y.t = x.t
             GROUP BY e.a, e.b)
      SELECT CAST(coalesce(sup, 0) AS BIGINT) AS support,
        count(*) AS n_edges
      FROM e$rounds e LEFT JOIN sf USING (a, b)
      GROUP BY 1 ORDER BY 1"""
  }

  /** Degree thresholds the rich-club coefficient is evaluated at —
    * g13's power-of-two ladder, rendered identically into both
    * engines. */
  val RichClubThresholds: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)

  /** g31: RICH-CLUB COEFFICIENT ladder (Zhou & Mondragón 2004) — do
    * the hubs form a club? φ(k) = 2·E_{>k} / (N_{>k}·(N_{>k}−1)):
    * among the N_{>k} nodes of degree > k, the fraction of possible
    * edges actually present, per threshold k in
    * [[RichClubThresholds]]. φ rising toward 1 at high k = an
    * oligarchic core (the Internet-AS signature); flat φ = hubs
    * ignore each other. The degree-side companion of g4's
    * assortativity scalar (g4 averages over ALL edges; the ladder
    * shows WHERE the mixing lives). Fewer than two qualifying nodes →
    * NULL φ identically in both engines (no possible edges to be a
    * fraction of). (Colizza et al. 2006's rewiring-normalized
    * variant needs a randomized null — out of scope by the repo's
    * determinism contract, documented here.)
    *
    * Determinism: degree, node, and edge censuses are exact integers;
    * φ is ONE double expression phrased identically in both engines,
    * rounded once.
    *
    * Scale shape: the edge-scale work is one degree aggregate + the
    * two degree-annotation joins (g4's class); both histograms
    * (node-degree, edge-min-degree) are aggregate-bounded, and the
    * threshold ladder join is (thresholds × histogram)-bounded.
    * Nothing iterated; output is one row per threshold. */
  def g31RichClub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"))
    val n = denseN(docs, "g31")
    g31Core(simpleUndirected(syntheticFwd(docs, n)))
  }

  /** General entry — explicit (src, dst) edge list, arbitrary sparse
    * 64-bit ids (the Edges-variant convention). */
  def g31RichClubEdges(edges0: DataFrame): DataFrame =
    g31Core(simpleUndirected(
      edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))))

  private def g31Core(simple: DataFrame): DataFrame = {
    val deg = simple.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val dh = deg.groupBy("d").agg(count(lit(1)).as("nd"))
    val em = simple
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(least(col("da"), col("db")).as("m"))
      .groupBy("m").agg(count(lit(1)).as("ne"))
    val sess = simple.sparkSession
    import sess.implicits._
    val ladder = RichClubThresholds.toDF("k")
    val nk = ladder.join(dh, col("d") > col("k"), "left_outer")
      .groupBy("k").agg(coalesce(sum(col("nd")), lit(0L)).as("n_rich"))
    val ek = ladder.join(em, col("m") > col("k"), "left_outer")
      .groupBy("k").agg(coalesce(sum(col("ne")), lit(0L)).as("e_rich"))
    nk.join(ek, "k")
      .select(col("k"), col("n_rich"), col("e_rich"),
        when(col("n_rich") >= 2, round(
          lit(2.0) * col("e_rich").cast("double")
          / (col("n_rich").cast("double")
            * (col("n_rich") - 1).cast("double")), 6)).as("phi"))
      .orderBy("k")
  }

  /** DuckDB oracle for [[g31RichClub]] — g13's derived-graph CTEs,
    * identical histograms, ladder, and φ expression. */
  def g31OracleSql: String = s"""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      fwd AS (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      simple AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM fwd),
      deg AS (
        SELECT v, count(*) AS d FROM (
          SELECT a AS v FROM simple UNION ALL SELECT b FROM simple) t
        GROUP BY v),
      dh AS (SELECT d, count(*) AS nd FROM deg GROUP BY 1),
      em AS (
        SELECT least(da.d, db.d) AS m, count(*) AS ne
        FROM simple
        JOIN deg da ON da.v = simple.a
        JOIN deg db ON db.v = simple.b
        GROUP BY 1),
      ladder(k) AS (VALUES ${RichClubThresholds.map(k => s"($k)").mkString(", ")}),
      nk AS (
        SELECT k, coalesce(sum(nd), 0) AS n_rich
        FROM ladder LEFT JOIN dh ON d > k GROUP BY 1),
      ek AS (
        SELECT k, coalesce(sum(ne), 0) AS e_rich
        FROM ladder LEFT JOIN em ON m > k GROUP BY 1)
      SELECT CAST(k AS INT) AS k, CAST(n_rich AS BIGINT) AS n_rich,
        CAST(e_rich AS BIGINT) AS e_rich,
        CASE WHEN n_rich >= 2 THEN
          round(2.0 * CAST(e_rich AS DOUBLE)
            / (CAST(n_rich AS DOUBLE) * CAST(n_rich - 1 AS DOUBLE)), 6)
          END AS phi
      FROM nk JOIN ek USING (k) ORDER BY k"""

  /** g32: AVERAGE-NEAREST-NEIGHBOUR-DEGREE CURVE knn(k)
    * (Pastor-Satorras, Vázquez & Vespignani 2001) over the derived
    * document graph — the FULL degree-correlation profile that g4's
    * assortativity collapses to one Pearson number and g31's rich-club
    * reads only at the top: for each degree k, the mean degree of the
    * neighbours of degree-k nodes. A rising curve means hubs attach to
    * hubs (assortative), a falling one means hubs fan out to leaves
    * (disassortative, the router/crawl-graph shape) — the first plot a
    * graph analyst draws after g13's degree histogram.
    *
    * knn(k) = Σ_{v: d(v)=k} Σ_{u∈N(v)} d(u) / (k·n_k): the mean over
    * degree-k nodes of their mean neighbour degree, which the
    * both-orientations edge list computes with NO per-node division —
    * each degree-k node contributes exactly k annotated rows, so the
    * per-degree row count IS k·n_k and the whole curve is exact
    * integer sums with ONE rounded division per degree bucket.
    *
    * Scale shape: g4's exactly — one degree aggregate (map-side
    * combined), two degree-annotation joins over the edge list
    * (deliberately NOT broadcast-pinned: the degree table is
    * node-cardinality; AQE may elect broadcast when small), then a
    * degree-bounded rollup (≤ max-degree rows). Nothing quadratic,
    * nothing iterated. */
  def g32KnnDegree(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"))
    val n = denseN(docs, "g32")
    g32Core(simpleUndirected(syntheticFwd(docs, n)))
  }

  /** General entry — explicit (src, dst) edge list, arbitrary sparse
    * 64-bit ids (the Edges-variant convention). */
  def g32KnnDegreeEdges(edges0: DataFrame): DataFrame =
    g32Core(simpleUndirected(
      edges0.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))))

  private def g32Core(simple: DataFrame): DataFrame = {
    val deg = simple.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val nk = deg.groupBy(col("d").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
    val both = simple.select(col("a").as("x"), col("b").as("y"))
      .unionByName(simple.select(col("b").as("x"), col("a").as("y")))
      .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
    both.groupBy(col("dx").as("degree"))
      .agg(count(lit(1)).as("n_ends"), sum(col("dy")).as("s_nbr"))
      .join(nk, "degree")
      .select(col("degree"), col("n_nodes"), col("s_nbr"),
        round(col("s_nbr").cast("double") / col("n_ends").cast("double"), 6)
          .as("knn"))
      .orderBy("degree")
  }

  /** DuckDB oracle for [[g32KnnDegree]] — g4's derived-graph and
    * annotation CTEs, identical integer sums and rounded division. */
  def g32OracleSql: String = s"""
      WITH nn AS (SELECT count(*) AS n FROM documents),
      fwd AS (
        SELECT src, CASE WHEN dst0 = src THEN (dst0 + 1) % n ELSE dst0 END AS dst
        FROM (
          SELECT doc_id AS src, j,
            (((doc_id * 7 + j) % 1000000000) * 2654435761)
              % 2147483647 % n AS dst0, n
          FROM documents, nn, generate_series(1, $OutDeg) t(j)) e),
      simple AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM fwd),
      deg AS MATERIALIZED (
        SELECT v, count(*) AS d FROM (
          SELECT a AS v FROM simple UNION ALL SELECT b FROM simple) t
        GROUP BY v),
      nk AS (SELECT d AS degree, count(*) AS n_nodes FROM deg GROUP BY 1),
      both_ AS (
        SELECT dx.d AS dx, dy.d AS dy FROM (
          SELECT a AS x, b AS y FROM simple
          UNION ALL SELECT b, a FROM simple) u
        JOIN deg dx ON dx.v = u.x
        JOIN deg dy ON dy.v = u.y),
      pk AS (
        SELECT dx AS degree, count(*) AS n_ends, sum(dy) AS s_nbr
        FROM both_ GROUP BY 1)
      SELECT degree, n_nodes, CAST(s_nbr AS BIGINT) AS s_nbr,
        round(CAST(s_nbr AS DOUBLE) / CAST(n_ends AS DOUBLE), 6) AS knn
      FROM pk JOIN nk USING (degree) ORDER BY degree"""
}
