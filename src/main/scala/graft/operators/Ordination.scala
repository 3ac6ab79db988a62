package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ordination over the sample-dissimilarity matrix — the analysis the
  * reference's comparison layer feeds into its sample-plot views:
  * classical PCoA (metric MDS).
  *
  * Numerical design: eigensolvers are library- and order-dependent, so
  * this uses FIXED-COUNT POWER ITERATION over the double-centered Gram
  * matrix where every reduction is a SEQUENTIAL index-order fold over
  * arrays — the same deterministic-fold discipline as the cosine /
  * SRP oracles — making every iteration bit-reproducible in a DuckDB
  * recursive CTE (full oracle, no rows-only concession). Axes beyond
  * the first come from Hotelling deflation (B_{a+1} = B_a − λ_a
  * v_a v_aᵀ / v_aᵀv_a, λ_a the Rayleigh quotient), applied a-1 times
  * — the axis count is a parameter, not a hard-coded pair (r6).
  *
  * Iteration count: [[Iters]] = 40 per axis (r7; was 12). The count is
  * a determinism contract — the oracle runs the IDENTICAL recursion,
  * so both engines agree bitwise at any count — but it must ALSO be a
  * convergence guarantee: r7's spectral audit showed the r6 count of
  * 12 left axis-2/3 residuals ‖Bv − λv‖∞/λ₁ at 10⁻³ (the test
  * spectra's trailing eigengaps are as close as λ₄/λ₃ ≈ 0.9), i.e.
  * plot axes wrong in the 2nd decimal. 40 iterations puts every
  * residual under 10⁻⁶ on all three test corpora with orders of
  * margin, and ScaleSpec now gates convergence INDEPENDENTLY — a
  * local 200-iteration eigensolve over the same matrix, not the
  * engine recursion agreeing with itself.
  *
  * Scale shape: the only fact-scale work is the abundance aggregation
  * inside [[Relational.q30BrayCurtis]]. Everything after runs on the
  * aggregate-bounded sample×sample matrix, carried as ONE row of
  * array<array<double>> (samples are a dimension: 25 here, thousands
  * at most — megabytes, not fact-scale). Each power-iteration step is
  * a tiny checkpointed job; lineage is truncated every couple of steps
  * ([[graft.Ckpt]]) exactly like d7's label-propagation loop.
  */
object Ordination {

  /** Power-iteration count per axis, shared by both Spark forms and
    * both oracle-SQL generators — one constant so the recursion depth
    * can never drift between engine and oracle. 40 is convergence-
    * gated (see class doc), not tuned for the bench. */
  final val Iters = 40

  /** Fold helpers mirrored 1:1 by the oracle's list_reduce calls. */
  private def foldSum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)
  private def foldMaxAbs(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => greatest(acc, abs(x)))

  def q31Pcoa(spark: SparkSession, dir: String, iters: Int = Iters): DataFrame =
    pcoa(graft.Memo.bc.get(spark, dir), iters)

  /** Eigenvalue summary of the same ordination: one row per axis with
    * the Rayleigh-quotient eigenvalue and its share of total inertia
    * (trace of the centered Gram matrix = Σ of ALL eigenvalues) — the
    * "% variance explained" label on the reference's ordination plot
    * axes. k = 3 shows the axis count is free, not a hard-coded 2. */
  def q31cPcoaEigen(spark: SparkSession, dir: String, k: Int = 3,
      iters: Int = Iters): DataFrame =
    pcoaEigen(graft.Memo.bc.get(spark, dir), k, iters)

  /** The single-row centered Gram pipeline shared by [[pcoa]] and
    * [[pcoaEigen]]: symmetric D² assembly → one array<array<double>>
    * row → double centering B = −½ (D² − rm_i − rm_j + gmean). */
  private def centeredGram(bc0: DataFrame): DataFrame = {
    // checkpointed: the symmetric-matrix assembly references the pair
    // frame four ways; materializing the bounded 300-row result keeps
    // the fact-scale aggregation inside q30 from re-running per branch
    val bc = graft.Ckpt(bc0)
    // endpoint set in one pass (a two-branch union reads bc twice)
    val names = bc.select(explode(array(col("sample_a"), col("sample_b")))
      .as("si")).distinct()
    val sym = bc.select(col("sample_a").as("si"), col("sample_b").as("sj"),
        (col("bray_curtis") * col("bray_curtis")).as("d2"))
      .union(bc.select(col("sample_b"), col("sample_a"),
        (col("bray_curtis") * col("bray_curtis"))))
      .union(names.select(col("si"), col("si").as("sj"), lit(0.0).as("d2")))
    // symmetric D² matrix rows, canonically ordered by sample name both
    // ways (sort_array on (name, value) structs pins fold order)
    val rows = sym.groupBy("si")
      .agg(transform(sort_array(collect_list(struct(col("sj"), col("d2")))),
        s => s("d2")).as("row"))
    val mat = rows
      .agg(transform(sort_array(collect_list(struct(col("si"), col("row")))),
        s => s("row")).as("d2m"),
        sort_array(collect_list(col("si"))).as("samples"))
      .select(col("d2m"), col("samples"), size(col("samples")).as("n"))
      // ordination needs ≥2 samples; on a degenerate corpus the global
      // agg still emits one row with n=0 and sequence(1, 0) would run
      // DESCENDING into out-of-bounds element_at — emit nothing, like
      // the oracle's empty recursion
      .filter(col("n") >= 2)
    mat
      .withColumn("rm", transform(col("d2m"), r => foldSum(r) / col("n")))
      .withColumn("gmean", foldSum(col("rm")) / col("n"))
      .select(col("samples"), col("n"),
        transform(sequence(lit(1), col("n")), i =>
          transform(sequence(lit(1), col("n")), j =>
            lit(-0.5) * (element_at(element_at(col("d2m"), i), j)
              - element_at(col("rm"), i) - element_at(col("rm"), j)
              + col("gmean")))).as("gm"))
  }

  /** e₁ start vector (the all-ones start lies in the centered matrix's
    * null space). */
  private def e1(n: Column): Column =
    transform(sequence(lit(1), n),
      i => when(i === 1, lit(1.0)).otherwise(lit(0.0)))

  /** Fixed-count power iteration, max-abs normalized each step —
    * BATCHED: all `iters` steps run inside ONE `aggregate` fold
    * expression over `sequence(1, iters)`, so an axis costs one job
    * instead of ~iters/3 single-row jobs (r17 verdict #3: the
    * ordination family paid ~50 s of per-step scheduling latency at
    * sf0.1 — the cost was the job count, never the data). Each fold
    * step is the exact former per-step projection — matvec, then a
    * let-bound max-abs normalize (the nested transform-over-
    * one-element-array binds `vv` and `m` once each, so nothing is
    * re-evaluated) — identical arithmetic in identical order, so the
    * output is BITWISE unchanged and the oracle recursion
    * ([[axisSql]]) still mirrors it step for step.
    *
    * `init` is checkpointed first: the fold references the Gram
    * column once per matvec row, and an unmaterialized deflation
    * expression behind it would otherwise be inlined (CollapseProject)
    * into every reference. */
  private def iterate(init: DataFrame, gmCol: String, vCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, s"power iteration needs iters >= 1, got $iters")
    val st = graft.Ckpt(init)
    graft.Ckpt(st.withColumn(vCol,
      aggregate(sequence(lit(1), lit(iters)), col(vCol), (acc, _) =>
        element_at(transform(array(
            transform(sequence(lit(1), col("n")), i =>
              foldSum(zip_with(element_at(col(gmCol), i), acc,
                (a, b) => a * b)))), vv =>
          element_at(transform(array(foldMaxAbs(vv)), m =>
            transform(vv, x => x / m)), 1)), 1))))
  }

  /** Axes 1..k by repeated (iterate → Rayleigh quotient → deflate):
    * returns the single-row frame with `samples`, `n`, `trace`,
    * `v_a` / `lam_a` / `lam_den_a` for each axis a. All sequential
    * folds, mirrored op-for-op in the oracle generator. */
  private[operators] def powerAxes(centered: DataFrame, k: Int,
      iters: Int): DataFrame = {
    var st = centered.withColumn("trace",
      foldSum(transform(sequence(lit(1), col("n")),
        i => element_at(element_at(col("gm"), i), i))))
    var gm = "gm"
    for (a <- 1 to k) {
      st = iterate(st.withColumn(s"v_$a", e1(col("n"))), gm, s"v_$a", iters)
      st = st
        .withColumn("bv", transform(sequence(lit(1), col("n")), i =>
          foldSum(zip_with(element_at(col(gm), i), col(s"v_$a"), (x, y) => x * y))))
        .withColumn(s"lam_num_$a", foldSum(zip_with(col(s"v_$a"), col("bv"), (x, y) => x * y)))
        .withColumn(s"lam_den_$a", foldSum(transform(col(s"v_$a"), x => x * x)))
        .withColumn(s"lam_$a", col(s"lam_num_$a") / col(s"lam_den_$a"))
      val next = if (a < k) {
        val nm = s"gm_${a + 1}"
        val deflated = st.withColumn(nm, transform(sequence(lit(1), col("n")), i =>
          transform(sequence(lit(1), col("n")), j =>
            element_at(element_at(col(gm), i), j)
              - col(s"lam_$a") * element_at(col(s"v_$a"), i)
                * element_at(col(s"v_$a"), j) / col(s"lam_den_$a"))))
          .drop(gm) // the pre-deflation matrix is n² doubles — never carry two
        gm = nm
        deflated
      } else st
      st = graft.Ckpt(next.drop("bv", s"lam_num_$a"))
    }
    st
  }

  /** Single-row PCoA over any pairwise-dissimilarity frame
    * (sample_a, sample_b, bray_curtis — upper triangle). */
  def pcoa(bc0: DataFrame, iters: Int = Iters): DataFrame = {
    val st = powerAxes(centeredGram(bc0), 2, iters)
    // sign convention: first component of each axis non-negative
    st
      .withColumn("sgn1",
        when(element_at(col("v_1"), 1) >= 0, lit(1.0)).otherwise(lit(-1.0)))
      .withColumn("sgn2",
        when(element_at(col("v_2"), 1) >= 0, lit(1.0)).otherwise(lit(-1.0)))
      .select(posexplode(transform(sequence(lit(1), col("n")), i =>
        struct(element_at(col("samples"), i).as("sample"),
          graft.GraftFunctions.roundz(
            element_at(col("v_1"), i) * col("sgn1"), 6).as("axis1"),
          graft.GraftFunctions.roundz(
            element_at(col("v_2"), i) * col("sgn2"), 6).as("axis2")))))
      .select(col("col.sample").as("sample"),
        col("col.axis1").as("axis1"), col("col.axis2").as("axis2"))
      .orderBy("sample")
  }

  /** (axis, eigenvalue, pct_var) rows for axes 1..k — the plot-axis
    * labels. pct_var = λ_a / trace(B); Bray–Curtis is non-Euclidean so
    * some of the trace belongs to negative eigenvalues, which keeps
    * the shares honest rather than inflated (the convention the
    * reference's plotting stack uses for its axis percentages). */
  def pcoaEigen(bc0: DataFrame, k: Int = 3, iters: Int = Iters): DataFrame = {
    val st = powerAxes(centeredGram(bc0), k, iters)
    st.select(posexplode(array((1 to k).map(a =>
        struct(lit(a).as("axis"),
          graft.GraftFunctions.roundz(col(s"lam_$a"), 6).as("eigenvalue"),
          graft.GraftFunctions.roundz(col(s"lam_$a") / col("trace"), 6)
            .as("pct_var"))): _*)))
      .select(col("col.axis").as("axis"),
        col("col.eigenvalue").as("eigenvalue"), col("col.pct_var").as("pct_var"))
      .orderBy("axis")
  }

  /** BLOCK-PARTITIONED PCoA — the 100 TB-scale form of [[q31Pcoa]].
    *
    * [[q31Pcoa]] carries the whole Gram matrix in ONE row of
    * array<array<double>>: a single-task O(n²·iters) computation that
    * is fine while samples are a small dimension (n² doubles ≈ 32 MB
    * at n = 2 000) but dead at a real reference deployment's 10⁴–10⁵
    * samples. This variant distributes the SAME arithmetic:
    *
    *   - the D²/Gram matrix is (i, j, v) TRIPLES spread across the
    *     cluster (n² rows — at n = 10⁵ that's 10¹⁰ rows ≈ 240 GB,
    *     shuffle-partitionable, never resident in one task);
    *   - a power-iteration step is broadcast-join + aggregate: the
    *     n-entry vector broadcasts to the triples, products group by
    *     row index i;
    *   - every dimension-bounded side (ids, vector, scalars) is an
    *     explicit `broadcast`, so the only shuffle per step is the
    *     n²-row group-by — the minimum a distributed mat-vec needs.
    *
    * BIT-IDENTICAL to the single-row form (and so shares its DuckDB
    * oracle): double addition is order-sensitive, so per-row sums are
    * NOT `sum()` aggregates (shuffle-order-dependent) but
    * collect_list → sort_array → sequential fold in index order — the
    * exact add sequence of the single-row form's array folds. The
    * per-group collected list is one matrix ROW (n doubles, ~800 KB at
    * n = 10⁵) — bounded by the sample dimension, not the corpus.
    * max-abs normalization uses a plain max (order-independent).
    *
    * Lineage: the triples matrix is checkpointed once and reused by
    * all k×iters steps; the iterated vector is checkpointed every
    * `ckptEvery` steps (plan depth stays bounded, jobs stay tiny). */
  def q31PcoaBlocked(spark: SparkSession, dir: String, iters: Int = Iters,
      ckptEvery: Int = 3): DataFrame =
    pcoaBlocked(graft.Memo.bc.get(spark, dir), iters, ckptEvery)

  /** Blocked eigenvalue summary — bit-identical to [[pcoaEigen]]
    * (spec-gated), distributed like [[pcoaBlocked]]. */
  def q31dPcoaBlockedEigen(spark: SparkSession, dir: String, k: Int = 3,
      iters: Int = Iters, ckptEvery: Int = 3): DataFrame =
    pcoaBlockedEigen(graft.Memo.bc.get(spark, dir), k, iters, ckptEvery)

  /** Sample-count bound for the single-row form: n² doubles in ONE
    * task row — ~32 MB at n = 2 000, the documented comfort edge.
    * Past it the blocked (i, j, v)-triples form is the only shape
    * that survives (SURVEY §4). */
  final val SingleRowMaxSamples = 2000

  /** The form decision, exposed for spec-gating. */
  def useSingleRow(n: Long, maxSingleRow: Int = SingleRowMaxSamples): Boolean =
    n <= maxSingleRow

  /** Samples present in the dissimilarity frame — the dimension that
    * picks the form. One count over an aggregate-bounded frame (n²
    * rows max), a planning-time action like AQE's stats collection. */
  private def sampleCount(bc0: DataFrame): Long =
    bc0.select(explode(array(col("sample_a"), col("sample_b"))).as("s"))
      .agg(countDistinct(col("s"))).head().getLong(0)

  /** AUTO-SELECTING PCoA (r6 verdict ask #6): counts the sample
    * dimension and picks [[pcoa]] (single-row, cheapest while the
    * matrix fits one task) or [[pcoaBlocked]] (distributed triples)
    * against [[SingleRowMaxSamples]] — a caller can no longer run the
    * single-row form off a cliff at 10⁴ samples. The two forms are
    * bit-identical (ScaleSpec), so the switch never changes results,
    * only the physical shape. */
  def pcoaAuto(bc0: DataFrame, iters: Int = Iters, ckptEvery: Int = 3,
      maxSingleRow: Int = SingleRowMaxSamples): DataFrame =
    if (useSingleRow(sampleCount(bc0), maxSingleRow)) pcoa(bc0, iters)
    else pcoaBlocked(bc0, iters, ckptEvery)

  /** Auto-selecting eigenvalue summary — same switch as [[pcoaAuto]]. */
  def pcoaEigenAuto(bc0: DataFrame, k: Int = 3, iters: Int = Iters,
      ckptEvery: Int = 3,
      maxSingleRow: Int = SingleRowMaxSamples): DataFrame =
    if (useSingleRow(sampleCount(bc0), maxSingleRow)) pcoaEigen(bc0, k, iters)
    else pcoaBlockedEigen(bc0, k, iters, ckptEvery)

  /** sequential index-order fold over collected (idx, x) pairs — the
    * blocked mirror of the single-row form's foldSum over an array */
  private def idxFold(pairs: Column): Column =
    aggregate(transform(sort_array(pairs), s => s("x")),
      lit(0.0), (acc, x) => acc + x)
  /** per-row sorted fold back into a single-row array in index order */
  private def toRow(grouped: DataFrame, out: String): DataFrame =
    grouped.agg(transform(
      sort_array(collect_list(struct(col("i"), col("x")))),
      s => s("x")).as(out))

  /** Shared blocked prelude: dense 1-based ids in sample-name order,
    * the single-row (n) frame, and the centered Gram matrix as
    * distributed (i, j, b) triples. */
  private def blockedPrelude(bc0: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val bc = graft.Ckpt(bc0)
    // dense 1-based ids in sample-name order, so index order == the
    // single-row form's name-sorted array order. The ranking window is
    // bounded by the sample DIMENSION (10⁴–10⁵ rows, megabytes in one
    // partition); constant non-foldable key per the repo's
    // WindowExec-warning discipline.
    val ids = graft.Ckpt(
      bc.select(explode(array(col("sample_a"), col("sample_b")))
          .as("sample")).distinct()
        .withColumn("i", row_number().over(
          Window.partitionBy(length(col("sample")) * 0).orderBy("sample"))))
    val nf = broadcast(ids.agg(max(col("i")).as("n")).filter(col("n") >= 2))
    // symmetric D² triples: both orientations of each pair + zero diagonal
    val half = bc
      .join(broadcast(ids.select(col("sample").as("sample_a"), col("i").as("ti"))), "sample_a")
      .join(broadcast(ids.select(col("sample").as("sample_b"), col("i").as("tj"))), "sample_b")
      .select(col("ti"), col("tj"),
        (col("bray_curtis") * col("bray_curtis")).as("d2"))
    // both orientations in ONE pass over the pair frame (a two-branch
    // union evaluates its upstream twice — an extra full read of the
    // n²/2-row frame at scale); the zero diagonal unions from the
    // dimension-bounded ids
    val trip = half.select(explode(array(
        struct(col("ti").as("i"), col("tj").as("j"), col("d2")),
        struct(col("tj").as("i"), col("ti").as("j"), col("d2")))).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.d2").as("d2"))
      .union(ids.select(col("i"), col("i").as("j"), lit(0.0).as("d2")))
    // double centering as joins: rm_i (row means), grand mean, then
    // b_ij = −½ (d2 − rm_i − rm_j + gmean) — operand-for-operand the
    // single-row expression
    val rm = trip.groupBy("i")
      .agg(idxFold(collect_list(struct(col("j"), col("d2").as("x")))).as("rs"))
      .crossJoin(nf)
      .select(col("i"), (col("rs") / col("n")).as("rm"))
    val gmean = rm
      .agg(idxFold(collect_list(struct(col("i"), col("rm").as("x")))).as("gs"))
      .crossJoin(nf).select((col("gs") / col("n")).as("gmean"))
    // Row-grouped matrix (r18 optimization round, guide §2.4 "remove
    // shuffles outright"): the per-iteration groupBy(i) exchange the
    // r10 note below describes is ELIMINATED by materializing the
    // matrix as n rows of j-SORTED (j, b) arrays ONCE — each mat-vec
    // is then a map-side in-row fold (identical add order: ascending
    // j, acc from 0.0 — the exact idxFold sequence) plus the single
    // global collect, i.e. ONE exchange per step instead of two.
    // Row width is the sample dimension (10⁵ doubles ≈ 1.6 MB/row at
    // the blocked form's design point — the same width as the
    // broadcast vector the form already requires), so the n²-in-one-
    // task cliff this form exists to avoid stays avoided: the n²
    // payload is distributed across n rows.
    //
    // Partitioning note (r10, measured, PRE-rows-form): pre-
    // partitioning the triples by i did NOT help the per-iteration
    // groupBy(i) — a DISK_ONLY localCheckpoint comes back as a bare
    // `Scan ExistingRDD` with no outputPartitioning, so Catalyst
    // re-inserted the exchange anyway. The rows form removes that
    // exchange structurally instead of via partitioning metadata.
    val b = graft.Ckpt(trip
      .join(broadcast(rm.select(col("i"), col("rm").as("rmi"))), "i")
      .join(broadcast(rm.select(col("i").as("j"), col("rm").as("rmj"))), "j")
      .crossJoin(broadcast(gmean))
      .select(col("i"), col("j"), (lit(-0.5) *
        (col("d2") - col("rmi") - col("rmj") + col("gmean"))).as("b"))
      .groupBy("i")
      .agg(sort_array(collect_list(struct(col("j"), col("b")))).as("arr")))
    (ids, nf, b)
  }

  /** One mat-vec over the row-grouped matrix: the dimension-bounded
    * VECTOR rides as a single-row array broadcast into the n matrix
    * rows (10⁵ doubles ≈ 800 KB — always broadcastable); each row's
    * product-sum is an IN-ROW fold over its j-sorted (j, b) array —
    * the identical operand order as the former per-(i, j) triple
    * groupBy + idxFold (ascending j, acc from 0.0), with the groupBy
    * exchange gone — then the per-row sums collect back to a
    * single-row array (the one exchange per step). Only the matrix is
    * ever corpus-of-pairs-scale. */
  private def matVec(m: DataFrame, vrow: DataFrame, vExpr: Column => Column,
      out: String): DataFrame =
    toRow(m.crossJoin(broadcast(vrow))
      .select(col("i"),
        aggregate(transform(col("arr"), e => e("b") * vExpr(e("j"))),
          lit(0.0), (acc, x) => acc + x).as("x")), out)

  /** Blocked power iteration carrying (varr = unnormalized B·v, mdiv =
    * its max-abs); the division is applied at each USE (x/m per
    * product), which is the same double as the single-row form's
    * pre-divided vector element. */
  private def blockedIterate(m: DataFrame, v0: DataFrame, iters: Int,
      ckptEvery: Int): DataFrame = {
    var v = v0
    for (k <- 1 to iters) {
      val next = matVec(m, v,
          j => element_at(col("varr"), j) / col("mdiv"), "varr")
        .select(col("varr"), foldMaxAbs(col("varr")).as("mdiv"))
      v = if (k % ckptEvery == 0 || k == iters) graft.Ckpt(next) else next
    }
    v.select(transform(col("varr"), x => x / col("mdiv")).as("varr"))
  }

  /** Axes 1..k of the blocked form: per axis the normalized vector
    * (single-row `varr`) and, when `needLams`, the Rayleigh scalars
    * (single-row `lam_num`/`lam_den` — computed via one extra
    * distributed mat-vec, also required for deflation of axis a+1).
    *
    * ONE materialized Gram across all axes (the carried r7-r10 ask):
    * the Hotelling deflation `b − (λ/den)·v_i·v_j` is NOT written out
    * as a second pairs-scale matrix per axis — it stays a LAZY
    * map-side projection composed over the single checkpointed `b0`,
    * recomputed as a fused multiply-add inside every later mat-vec
    * scan. Elementwise the deflated value is the identical double
    * either way (same operand order), so results — and the oracle —
    * are bit-for-bit unchanged; what changes is the I/O shape: no
    * n²-scale write + storage per extra axis, which at 10⁵ samples is
    * hundreds of GB per axis on a cluster. Only the SCALARS are
    * materialized (a one-row Ckpt), so re-reading the lazy deflation
    * never re-runs the B·v chain that produced them. */
  private def blockedAxes(b0: DataFrame, v0: DataFrame, k: Int, iters: Int,
      ckptEvery: Int, needLams: Boolean): Seq[(DataFrame, Option[DataFrame])] = {
    var m = b0
    (1 to k).map { a =>
      val v = blockedIterate(m, v0, iters, ckptEvery)
      if (a < k || needLams) {
        // Hotelling deflation scalars: B·v via one distributed
        // mat-vec, the Rayleigh quotient as the single-row form's
        // zip_with/fold shapes
        val bv = matVec(m, v, j => element_at(col("varr"), j), "bvarr")
        val scal = graft.Ckpt(v.crossJoin(bv).select(col("varr"),
          foldSum(zip_with(col("varr"), col("bvarr"), (x, y) => x * y))
            .as("lam_num"),
          foldSum(transform(col("varr"), x => x * x)).as("lam_den")))
        if (a < k) {
          // one dimension-bounded head() per AXIS (k−1 ≤ 2 total, off a
          // 1-row checkpointed frame) — a planning-time action in the
          // sampleCount class, NOT a per-iteration driver loop. The
          // scalars ride into the deflation as literals: same doubles,
          // same operand order (bit-identical, oracle unchanged), and
          // the lazy deflated matrix carries no broadcast to rebuild
          // on every later mat-vec scan.
          val r = scal.head()
          val varr = r.getSeq[Double](0)
          val ln = r.getDouble(1)
          val ld = r.getDouble(2)
          // rows-form deflation: the same fused multiply-add per
          // element (identical operand order — b − (λnum/λden)·v_i·
          // v_j/λden), composed lazily over the row arrays
          m = m.select(col("i"), transform(col("arr"), e =>
            struct(e("j").as("j"), (e("b") -
              (lit(ln) / lit(ld))
                * element_at(typedLit(varr), col("i"))
                * element_at(typedLit(varr), e("j")) / lit(ld)).as("b")))
            .as("arr"))
        }
        (v, Some(scal))
      } else (v, None)
    }
  }

  /** Blocked PCoA over any pairwise-dissimilarity frame — same input
    * contract as [[pcoa]]; bit-identical output by construction. */
  def pcoaBlocked(bc0: DataFrame, iters: Int = Iters,
      ckptEvery: Int = 3): DataFrame = {
    val (ids, nf, b) = blockedPrelude(bc0)
    // e₁ start, gated on n ≥ 2 like the single-row form's filter
    val v0 = nf.select(transform(sequence(lit(1), col("n")),
      i => when(i === 1, lit(1.0)).otherwise(lit(0.0))).as("varr"),
      lit(1.0).as("mdiv"))
    val axes = blockedAxes(b, v0, 2, iters, ckptEvery, needLams = false)
    val v1 = axes(0)._1
    val v2 = axes(1)._1
    // sign convention + explode back to (sample, axis1, axis2) rows —
    // the same tail as the single-row form
    v1.crossJoin(v2.select(col("varr").as("v2arr")))
      .crossJoin(broadcast(nf))
      .crossJoin(broadcast(ids.agg(
        sort_array(collect_list(col("sample"))).as("samples"))))
      .withColumn("sgn1",
        when(element_at(col("varr"), 1) >= 0, lit(1.0)).otherwise(lit(-1.0)))
      .withColumn("sgn2",
        when(element_at(col("v2arr"), 1) >= 0, lit(1.0)).otherwise(lit(-1.0)))
      .select(posexplode(transform(sequence(lit(1), col("n")), i =>
        struct(element_at(col("samples"), i).as("sample"),
          graft.GraftFunctions.roundz(
            element_at(col("varr"), i) * col("sgn1"), 6).as("axis1"),
          graft.GraftFunctions.roundz(
            element_at(col("v2arr"), i) * col("sgn2"), 6).as("axis2")))))
      .select(col("col.sample").as("sample"),
        col("col.axis1").as("axis1"), col("col.axis2").as("axis2"))
      .orderBy("sample")
  }

  /** Blocked (axis, eigenvalue, pct_var) — [[pcoaEigen]]'s distributed
    * twin. The trace is an index-order fold over the diagonal triples;
    * every Rayleigh scalar is already a single-row broadcast frame. */
  def pcoaBlockedEigen(bc0: DataFrame, k: Int = 3, iters: Int = Iters,
      ckptEvery: Int = 3): DataFrame = {
    val (_, nf, b) = blockedPrelude(bc0)
    val v0 = nf.select(transform(sequence(lit(1), col("n")),
      i => when(i === 1, lit(1.0)).otherwise(lit(0.0))).as("varr"),
      lit(1.0).as("mdiv"))
    val axes = blockedAxes(b, v0, k, iters, ckptEvery, needLams = true)
    // diagonal via PURE element selection from each row's j-sorted
    // array (no arithmetic — a 0.0 + b re-fold could flip a −0.0
    // diagonal), then the same index-order fold as before
    val trace = broadcast(b
      .select(col("i"), element_at(
        filter(col("arr"), e => e("j") === col("i")), 1)("b").as("x"))
      .agg(idxFold(collect_list(struct(col("i"), col("x"))))
        .as("trace")))
    val lamRow = axes.zipWithIndex.map {
      case ((_, Some(scal)), idx) =>
        scal.select((col("lam_num") / col("lam_den")).as(s"lam_${idx + 1}"))
      case _ => sys.error("unreachable: needLams = true")
    }.reduce(_.crossJoin(_))
    lamRow.crossJoin(trace)
      .select(posexplode(array((1 to k).map(a =>
        struct(lit(a).as("axis"),
          graft.GraftFunctions.roundz(col(s"lam_$a"), 6).as("eigenvalue"),
          graft.GraftFunctions.roundz(col(s"lam_$a") / col("trace"), 6)
            .as("pct_var"))): _*)))
      .select(col("col.axis").as("axis"),
        col("col.eigenvalue").as("eigenvalue"), col("col.pct_var").as("pct_var"))
      .orderBy("axis")
  }

  // ---------------------------------------------------------------
  // DuckDB oracles: identical folds through recursive CTEs, generated
  // per axis so the axis count is as free as in the Spark forms.
  //
  // The per-axis CTEs (cent/g$a/fin$a/ray$a) are AS MATERIALIZED:
  // DuckDB inlines plain CTEs, so the recursive it${a+1} would
  // re-evaluate g${a+1} — and with it the ENTIRE previous axis's
  // recursion — on every one of its `iters` steps: ~iters× work per
  // deflation level (iters² for axis 3; 49 s at Iters = 40 vs 0.5 s
  // materialized, measured r7). Semantics unchanged, evaluation once.
  // ---------------------------------------------------------------

  /** Shared prefix: Bray–Curtis pairs → symmetric D² → single-row
    * matrix (`cent` with samples/n/gm) — mirrors [[centeredGram]]. */
  private val CentPrefix: String = """
      WITH RECURSIVE ab AS (
        SELECT n_name, p_type, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, p_type),
      tot AS (SELECT n_name, sum(qty) AS s FROM ab GROUP BY n_name),
      cm AS (
        SELECT a.n_name AS sample_a, b.n_name AS sample_b,
          sum(least(a.qty, b.qty)) AS c
        FROM ab a JOIN ab b ON a.p_type = b.p_type AND a.n_name < b.n_name
        GROUP BY 1, 2),
      bc AS (
        SELECT ta.n_name AS sample_a, tb.n_name AS sample_b,
          round(1.0 - 2.0 * CAST(coalesce(cm.c, 0) AS DOUBLE)
            / (CAST(ta.s AS DOUBLE) + CAST(tb.s AS DOUBLE)), 6) AS d
        FROM tot ta JOIN tot tb ON ta.n_name < tb.n_name
        LEFT JOIN cm ON cm.sample_a = ta.n_name AND cm.sample_b = tb.n_name),
      sym AS (
        SELECT sample_a AS si, sample_b AS sj, d*d AS d2 FROM bc
        UNION ALL SELECT sample_b, sample_a, d*d FROM bc
        UNION ALL SELECT n_name, n_name, CAST(0.0 AS DOUBLE) FROM tot),
      rows_ AS (
        SELECT si, list_transform(
          list_sort(list(struct_pack(sj := sj, d2 := d2))), s -> s['d2']) AS r
        FROM sym GROUP BY si),
      mat AS (
        SELECT list_transform(list_sort(list(struct_pack(si := si, r := r))),
                 s -> s['r']) AS d2m,
               list_sort(list(si)) AS samples,
               count(*) AS n
        FROM rows_),
      cent AS MATERIALIZED (
        SELECT samples, n,
          list_transform(generate_series(1, CAST(n AS INT)), i ->
            list_transform(generate_series(1, CAST(n AS INT)), j ->
              -0.5 * (d2m[i][j] - rm[i] - rm[j] + gmean))) AS gm
        FROM (
          SELECT samples, n, d2m, rm,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE), rm), (acc, x) -> acc + x) / n AS gmean
          FROM (
            SELECT samples, n, d2m,
              list_transform(d2m, r ->
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE), r), (acc, x) -> acc + x) / n) AS rm
            FROM mat) t1) t2
        WHERE n >= 2)"""

  private val CentCteG1: String =
    CentPrefix + """,
      g1 AS MATERIALIZED (SELECT n, gm FROM cent)"""

  /** CTEs for one axis: power recursion over g$a, the finalized vector
    * (fin$a), and — when `deflate` — the Rayleigh scalars (ray$a) and
    * the deflated next matrix (g${a+1}). Fold-for-fold the Spark
    * [[iterate]]/[[powerAxes]] expressions. */
  private[operators] def axisSql(a: Int, iters: Int,
      deflate: Boolean): String = {
    val core = s"""
      it$a AS (
        SELECT 0 AS k,
          list_transform(generate_series(1, CAST(n AS INT)),
            i -> CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS v
        FROM g$a
        UNION ALL
        SELECT k + 1,
          list_transform(vv, x -> x /
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(vv, y -> abs(y))), (acc, x2) -> greatest(acc, x2)))
        FROM (
          SELECT it$a.k,
            list_transform(generate_series(1, CAST(g$a.n AS INT)), i ->
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(generate_series(1, CAST(g$a.n AS INT)),
                  j -> g$a.gm[i][j] * it$a.v[j])), (acc, x) -> acc + x)) AS vv
          FROM it$a, g$a WHERE it$a.k < $iters) t),
      fin$a AS MATERIALIZED (
        SELECT v, CASE WHEN v[1] >= 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS sgn
        FROM it$a WHERE k = $iters)"""
    val defl = s"""
      ray$a AS MATERIALIZED (
        SELECT g.n, g.gm, f.v,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, CAST(g.n AS INT)), i ->
              f.v[i] * list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(generate_series(1, CAST(g.n AS INT)),
                  j -> g.gm[i][j] * f.v[j])), (acc, x) -> acc + x))),
            (acc, x) -> acc + x) AS lam_num,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(f.v, x -> x * x)), (acc, x) -> acc + x) AS lam_den
        FROM g$a g, fin$a f),
      g${a + 1} AS MATERIALIZED (
        SELECT n, list_transform(generate_series(1, CAST(n AS INT)), i ->
          list_transform(generate_series(1, CAST(n AS INT)), j ->
            gm[i][j] - (lam_num / lam_den) * v[i] * v[j] / lam_den)) AS gm
        FROM ray$a)"""
    if (deflate) core + "," + defl else core
  }

  /** DuckDB oracle for q31/q31b: two axes of sample coordinates. */
  def q31OracleSql(iters: Int = Iters): String =
    CentCteG1 + "," +
      axisSql(1, iters, deflate = true) + "," +
      axisSql(2, iters, deflate = false) + s""",
      idx AS (
        SELECT unnest(generate_series(1, CAST(n AS INT))) AS i, samples
        FROM cent)
      SELECT idx.samples[idx.i] AS sample,
        (round(fin1.v[idx.i] * fin1.sgn, 6) + 0.0) AS axis1,
        (round(fin2.v[idx.i] * fin2.sgn, 6) + 0.0) AS axis2
      FROM idx, fin1, fin2
      ORDER BY sample"""

  /** DuckDB oracle for q31c/q31d: k axes of (eigenvalue, pct_var).
    * Every axis needs its Rayleigh CTE, so all k deflate. */
  def q31cOracleSql(k: Int = 3, iters: Int = Iters): String =
    CentCteG1 + "," +
      (1 to k).map(a => axisSql(a, iters, deflate = true)).mkString(",") + s""",
      trc AS (
        SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(generate_series(1, CAST(n AS INT)), i -> gm[i][i])),
          (acc, x) -> acc + x) AS trace
        FROM cent)
      SELECT axis, (round(lam, 6) + 0.0) AS eigenvalue,
        (round(lam / trace, 6) + 0.0) AS pct_var
      FROM (${(1 to k).map(a =>
        s"SELECT $a AS axis, lam_num / lam_den AS lam FROM ray$a")
        .mkString("\n        UNION ALL ")}) lams, trc
      ORDER BY axis"""

  /** Power-iteration count per CA axis — CA's spectrum (6-taxon
    * chi-square residual Gram) is not PCoA's, so it gets its own
    * convergence-gated constant (ScaleSpec runs the independent local
    * eigensolve at exactly this count, PCoA-gate style; 60 left the
    * axis-2 residual at 3.2e-5 on the sf0.001 spectrum). */
  final val CaIters = 120

  /** q73: CORRESPONDENCE ANALYSIS (Hirschfeld 1935 / Benzécri; the
    * unconstrained core of vegan's cca) — the contingency-table
    * ordination the comparison page offers beside PCoA (q31) and NMDS
    * (q72): chi-square-standardized residuals
    * S_ij = (p_ij − r_i·c_j)/√(r_i·c_j) over the (sample, taxon)
    * abundance table. The trivial CA axis is annihilated by
    * construction (Σ_j S_ij·√c_j = 0), so no explicit centering is
    * needed; the row-side Gram A = S·Sᵀ (samples × samples, q31's
    * single-row form) feeds the SAME fixed-count power machinery
    * ([[powerAxes]]) and the SAME per-axis oracle generator
    * ([[axisSql]] — reused verbatim, only the matrix-prep CTE
    * differs). Output = PRINCIPAL row coordinates
    * F_ia = u_i·σ_a/√r_i (u the unit eigenvector, σ = √λ — the
    * weighted-chi-square plot scaling vegan draws), roundz-6 with the
    * q31 sign convention.
    *
    * Scale shape: one fact-scale abundance aggregate (q30/q52's
    * shared leaf shape); the dense cell frame is samples × taxa
    * (dimension-bounded), the Gram assembly and iteration are q31's
    * single-row jobs; q31b's triples path is the 10⁴⁺-sample form. */
  /** q78: WEIGHTED-AVERAGES SPECIES SCORES onto the PCoA ordination
    * (vegan wascores — how metaMDS/PCoA plots get their species
    * points when the ordination itself has no species side, unlike
    * CA's q76 transition formula): the score of taxon j on axis a is
    * the abundance-weighted mean of the site scores,
    * wa_ja = Σ_i w_ij·x_ia / Σ_i w_ij — a taxon sits at the centroid
    * of the sites it occupies, pulled toward where it is abundant.
    * Axes are q31's PUBLISHED coordinates (the round-6 outputs, so
    * the oracle can join its own q31 recursion's output verbatim).
    *
    * Determinism: the denominator is the EXACT DECIMAL abundance sum
    * (order-free); the numerator folds w·x in sample order (t17's
    * sort_array discipline — doubles never sum shuffle-ordered);
    * one division per (taxon, axis), roundz-6. A weighted mean lies
    * in [min x, max x] — corpus-gated in the spec.
    *
    * Scale shape: the fact-scale abundance aggregate (shared shape
    * with q73) + q31's chain; the join/rollup after is (samples ×
    * taxa)-bounded with per-taxon fold state ≤ the sample dim. */
  def q78Wascores(spark: SparkSession, dir: String,
      iters: Int = Iters): DataFrame = {
    val ab = graft.Memo.abq.get(spark, dir)
    wascoresFromInputs(ab,
      if (iters == Iters) graft.Memo.pcoa.get(spark, dir)
      else q31Pcoa(spark, dir, iters))
  }

  /** [[q78Wascores]]'s core over the sparse (n_name, p_type,
    * qty DECIMAL) abundance frame and a (sample, axis1, axis2) site-
    * score frame — split out for planted specs. */
  def wascoresFromInputs(ab0: DataFrame, scores: DataFrame): DataFrame = {
    val ab = graft.Ckpt(ab0)
    ab.join(scores, col("n_name") === col("sample"))
      .groupBy(col("p_type").as("taxon"))
      .agg(sum(col("qty")).as("den"),
        sort_array(collect_list(struct(col("sample"),
          col("qty").cast("double").as("w"),
          col("axis1").as("a1"), col("axis2").as("a2")))).as("cells"))
      .select(col("taxon"),
        graft.GraftFunctions.roundz(
          aggregate(col("cells"), lit(0.0),
            (acc, c) => acc + c("w") * c("a1"))
            / col("den").cast("double"), 6).as("wa1"),
        graft.GraftFunctions.roundz(
          aggregate(col("cells"), lit(0.0),
            (acc, c) => acc + c("w") * c("a2"))
            / col("den").cast("double"), 6).as("wa2"))
      .orderBy("taxon")
  }

  /** DuckDB oracle for [[q78Wascores]] — q31's full recursion as a
    * subquery (the q55 embed pattern), the identical sample-ordered
    * w·x folds, the exact DECIMAL denominator. */
  def q78OracleSql(iters: Int = Iters): String = {
    def fold(a: String) = s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(cells, c -> c['w'] * c['$a'])),
            (acc, x) -> acc + x)"""
    s"""
      WITH ab AS (
        SELECT n_name, p_type, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, p_type),
      q31 AS (SELECT * FROM (${q31OracleSql(iters)}) q),
      j AS (
        SELECT ab.p_type, ab.n_name AS sample, CAST(ab.qty AS DOUBLE) AS w,
          q31.axis1, q31.axis2
        FROM ab JOIN q31 ON q31.sample = ab.n_name),
      den AS (SELECT p_type, sum(qty) AS den FROM ab GROUP BY 1),
      g AS (
        SELECT p_type AS taxon,
          list_sort(list(struct_pack(sample := sample, w := w,
            a1 := axis1, a2 := axis2))) AS cells
        FROM j GROUP BY 1)
      SELECT g.taxon,
        (round(${fold("a1")} / CAST(den.den AS DOUBLE), 6) + 0.0) AS wa1,
        (round(${fold("a2")} / CAST(den.den AS DOUBLE), 6) + 0.0) AS wa2
      FROM g JOIN den ON den.p_type = g.taxon
      ORDER BY taxon"""
  }

  def q73Ca(spark: SparkSession, dir: String,
      iters: Int = CaIters): DataFrame = {
    val ab = graft.Memo.abq.get(spark, dir)
    caFromAbundance(ab, iters)
  }

  /** [[q73Ca]]'s core over a sparse (n_name, p_type, qty DECIMAL)
    * abundance matrix — split out for planted specs. Margins stay
    * exact DECIMAL until each SCALAR division (one double op per
    * cell, mirrored literally in the oracle); row/matrix assembly
    * follows q31's sort_array(struct) fold-order discipline. */
  def caFromAbundance(ab0: DataFrame, iters: Int = CaIters): DataFrame = {
    val mat = caMatrix(ab0)
    val withGm = mat
      .withColumn("gm", transform(sequence(lit(1), col("n")), i =>
        transform(sequence(lit(1), col("n")), k =>
          foldSum(zip_with(element_at(col("sm"), i),
            element_at(col("sm"), k), (x, y) => x * y)))))
      .select(col("samples"), col("n"), col("gm"), col("rvec"),
        col("sm"), col("taxa"), col("cvec"))
    val st = powerAxes(withGm, 2, iters)
    caScores(st)
  }

  /** q76: CA SPECIES (column) SCORES — the taxon half of q73's
    * biplot: principal column coordinates via the transition formula
    * G_ja = (Σ_i S_ij·u_ia)/√c_j with u the UNIT left vector (this
    * already carries σ_a: Sᵀu_a = σ_a·v_a, so no explicit eigenvalue
    * factor), sign convention tied to the ROW side (sgn of v_1[1]) so
    * sample and species points land in the SAME orientation — the
    * biplot invariant. Folds over i in sample order, roundz-6. */
  def q76CaSpecies(spark: SparkSession, dir: String,
      iters: Int = CaIters): DataFrame = {
    val ab = graft.Memo.abq.get(spark, dir)
    caSpeciesFromAbundance(ab, iters)
  }

  /** [[q76CaSpecies]]'s core — split out for planted specs. */
  def caSpeciesFromAbundance(ab0: DataFrame,
      iters: Int = CaIters): DataFrame = {
    val mat = caMatrix(ab0)
    val withGm = mat
      .withColumn("gm", transform(sequence(lit(1), col("n")), i =>
        transform(sequence(lit(1), col("n")), k =>
          foldSum(zip_with(element_at(col("sm"), i),
            element_at(col("sm"), k), (x, y) => x * y)))))
      .select(col("samples"), col("n"), col("gm"), col("rvec"),
        col("sm"), col("taxa"), col("cvec"))
    val st = powerAxes(withGm, 2, iters)
    def colScore(a: Int, j: Column): Column =
      graft.GraftFunctions.roundz(
        foldSum(transform(sequence(lit(1), col("n")), i =>
          element_at(element_at(col("sm"), i), j)
            * element_at(col(s"v_$a"), i)))
          * col(s"sgn$a") / sqrt(col(s"lam_den_$a"))
          / sqrt(element_at(col("cvec"), j)), 6)
    st
      .withColumn("sgn1",
        when(element_at(col("v_1"), 1) >= 0, lit(1.0)).otherwise(lit(-1.0)))
      .withColumn("sgn2",
        when(element_at(col("v_2"), 1) >= 0, lit(1.0)).otherwise(lit(-1.0)))
      .select(posexplode(transform(sequence(lit(1), size(col("taxa"))),
        j => struct(element_at(col("taxa"), j).as("taxon"),
          colScore(1, j).as("ca1"), colScore(2, j).as("ca2")))))
      .select(col("col.taxon").as("taxon"),
        col("col.ca1").as("ca1"), col("col.ca2").as("ca2"))
      .orderBy("taxon")
  }

  /** The single-row chi-square residual matrix shared by [[q73Ca]]
    * and [[q74Cca]]: (sm n×t, rvec, samples, n) with q31's list-sort
    * fold-order assembly. */
  private def caMatrix(ab0: DataFrame): DataFrame = {
    val ab = graft.Ckpt(ab0)
    val rs = ab.groupBy(col("n_name").as("si")).agg(sum(col("qty")).as("rs"))
    val cs = ab.groupBy(col("p_type").as("tj")).agg(sum(col("qty")).as("cs"))
    val gt = ab.agg(sum(col("qty")).as("g"))
    val cells = rs.crossJoin(cs).crossJoin(broadcast(gt))
      .join(ab.select(col("n_name").as("si"), col("p_type").as("tj"),
        col("qty")), Seq("si", "tj"), "left_outer")
      .select(col("si"), col("tj"),
        ((coalesce(col("qty"), lit(0).cast(graft.Dec.D2)).cast("double")
          / col("g").cast("double")
          - (col("rs").cast("double") / col("g").cast("double"))
            * (col("cs").cast("double") / col("g").cast("double")))
          / sqrt((col("rs").cast("double") / col("g").cast("double"))
            * (col("cs").cast("double") / col("g").cast("double"))))
          .as("s"))
    val rows = cells.groupBy("si")
      .agg(transform(sort_array(collect_list(struct(col("tj"), col("s")))),
        x => x("s")).as("srow"))
    val rowsR = rows.join(rs, "si").crossJoin(broadcast(gt))
      .select(col("si"), col("srow"),
        (col("rs").cast("double") / col("g").cast("double")).as("ri"))
    val colMargins = cs.crossJoin(broadcast(gt))
      .agg(transform(sort_array(collect_list(struct(col("tj"),
          (col("cs").cast("double") / col("g").cast("double")).as("cj")))),
          x => x("cj")).as("cvec"),
        sort_array(collect_list(col("tj"))).as("taxa"))
    rowsR
      .agg(transform(sort_array(collect_list(struct(col("si"), col("srow")))),
          x => x("srow")).as("sm"),
        transform(sort_array(collect_list(struct(col("si"), col("ri")))),
          x => x("ri")).as("rvec"),
        sort_array(collect_list(col("si"))).as("samples"))
      .crossJoin(broadcast(colMargins))
      .select(col("sm"), col("rvec"), col("samples"),
        size(col("samples")).as("n"), col("taxa"), col("cvec"))
      .filter(col("n") >= 2)
  }

  /** Principal row coordinates off a [[powerAxes]] state carrying
    * `rvec` — shared output stage of [[q73Ca]]/[[q74Cca]] (the CCA
    * caller aliases ca1/ca2 to cca1/cca2 and adds the det guard). */
  private def caScores(st0: DataFrame): DataFrame = {
    val st = st0
      .withColumn("sgn1",
        when(element_at(col("v_1"), 1) >= 0, lit(1.0)).otherwise(lit(-1.0)))
      .withColumn("sgn2",
        when(element_at(col("v_2"), 1) >= 0, lit(1.0)).otherwise(lit(-1.0)))
      .select(posexplode(transform(sequence(lit(1), col("n")), i =>
        struct(element_at(col("samples"), i).as("sample"),
          graft.GraftFunctions.roundz(
            element_at(col("v_1"), i) * col("sgn1")
              / sqrt(col("lam_den_1")) * sqrt(col("lam_1"))
              / sqrt(element_at(col("rvec"), i)), 6).as("ca1"),
          graft.GraftFunctions.roundz(
            element_at(col("v_2"), i) * col("sgn2")
              / sqrt(col("lam_den_2")) * sqrt(col("lam_2"))
              / sqrt(element_at(col("rvec"), i)), 6).as("ca2")))))
      .select(col("col.sample").as("sample"),
        col("col.ca1").as("ca1"), col("col.ca2").as("ca2"))
      .orderBy("sample")
    st
  }

  /** q74: CANONICAL CORRESPONDENCE ANALYSIS (ter Braak 1986; vegan
    * cca WITH constraints) — q73's ordination CONSTRAINED to the
    * environment: sample scores are restricted to linear combinations
    * of the three bioenv variables, so the axes show the community
    * variation the measured environment can explain (the direct-
    * gradient companion to q61's posthoc arrows). Algorithm (vegan's
    * cca.default, one pass): chi-square residuals S (q73's shared
    * matrix) → env columns weighted-centered by the row masses and
    * √r-scaled (X_r) → the projection of S's columns onto col(X_r)
    * via the CLOSED-FORM 3×3 weighted normal equations (q61's
    * no-iterative-solver discipline one dimension up: determinant +
    * adjugate, no matrix library) → power iteration on Ŝ·Ŝᵀ
    * ([[powerAxes]] + [[axisSql]] reused verbatim) → principal LC
    * row coordinates u_i·σ/√r_i. A singular constraint basis
    * (det = 0 exactly) NULL-propagates in both engines.
    *
    * Scale shape: q73's fact-scale aggregate + q61's env aggregates;
    * everything after is dimension-bounded single-row jobs. */
  def q74Cca(spark: SparkSession, dir: String,
      iters: Int = CaIters): DataFrame = {
    val ab = graft.Memo.abq.get(spark, dir)
    ccaFromInputs(ab, Relational.bioenvEnv(spark, dir), iters)
  }

  /** [[q74Cca]]'s core over the abundance matrix and a
    * (variable, n_name, v) environment frame with EXACTLY THREE
    * variables (the closed-form inverse is written for 3×3; a
    * different arity fails loudly via an explicit `raise_error` size
    * guard on every env row — `element_at` past an array's length is
    * NULL under the default non-ANSI mode, so without the guard a
    * 2-variable frame would NULL-propagate to all-null scores,
    * indistinguishable from the intended det = 0 singular-basis
    * output; r17 ADVICE). Split out for planted specs. */
  def ccaFromInputs(ab0: DataFrame, env0: DataFrame,
      iters: Int = CaIters): DataFrame =
    constrainedScores(caMatrix(ab0), env0, iters)
      .select(col("sample"), col("ca1").as("cca1"), col("ca2").as("cca2"))

  /** q75: REDUNDANCY ANALYSIS (Rao 1964; vegan rda) — the LINEAR
    * constrained ordination beside q74's chi-square one: the species
    * matrix is the column-centered RAW abundance (Euclidean geometry,
    * the choice when abundances are comparable across taxa), weights
    * are uniform, and the constraint projection/eigensolve is the
    * SAME shared chain ([[constrainedScores]] with r_i = 1/n — the
    * weighted machinery collapses to the unweighted one exactly:
    * weighted means become plain means and the √r column scale
    * cancels inside the hat matrix). Coordinates carry a uniform √n
    * factor relative to vegan's site-score convention (the shared
    * u_i·σ/√r_i scaling at r_i = 1/n) — documented, deterministic,
    * and irrelevant to the plot's geometry. */
  def q75Rda(spark: SparkSession, dir: String,
      iters: Int = CaIters): DataFrame = {
    val ab = graft.Memo.abq.get(spark, dir)
    rdaFromInputs(ab, Relational.bioenvEnv(spark, dir), iters)
  }

  /** [[q75Rda]]'s core — split out for planted specs. */
  def rdaFromInputs(ab0: DataFrame, env0: DataFrame,
      iters: Int = CaIters): DataFrame =
    constrainedScores(rdaMatrix(ab0), env0, iters)
      .select(col("sample"), col("ca1").as("rda1"), col("ca2").as("rda2"))

  /** q77: DISTANCE-BASED REDUNDANCY ANALYSIS (McArdle & Anderson
    * 2001; vegan dbrda) — the constrained companion of q31's PCoA and
    * the third leg of the vegan constrained-ordination triple beside
    * q74 (chi-square) and q75 (linear): "how much of the BRAY–CURTIS
    * structure does the measured environment explain?", asked
    * directly on the dissimilarity matrix with no species-matrix
    * detour. McArdle & Anderson's formulation: Gower-centered Gram
    * G from −½D² (q31's [[centeredGram]], negative eigenvalues kept —
    * their key point vs capscale's truncation) → hat-matrix
    * projection on BOTH sides, G' = H·G·H with H from the centered
    * env basis. H has rank ≤ 3, so G' is NEVER formed via two n×n
    * matrix products: H = X_r·M⁻¹·X_rᵀ factors the triple product to
    * G' = P·W·Pᵀ with P = X_r·M⁻¹ (n×3) and W = X_rᵀ·G·X_r (3×3) —
    * O(n²·3) instead of O(n³), the same dimension-bounded budget as
    * q74/q75. Then the SHARED eigensolve/scaling: [[powerAxes]] +
    * principal coordinates u_i·σ/√r_i at uniform r = 1/n, det = 0
    * NULL-propagating in both engines, roundz-6.
    *
    * Scale shape: q30's checkpointed fact aggregate is the only
    * corpus-scale work (shared with q31); everything after is
    * sample-dim-bounded single-row jobs (one batched fold per axis).
    * At 10⁴⁺ samples the Gram goes to q31b's distributed triples and
    * the rank-3 projection stays a broadcast of P/W. */
  def q77Dbrda(spark: SparkSession, dir: String,
      iters: Int = CaIters): DataFrame =
    dbrdaFromInputs(graft.Memo.bc.get(spark, dir),
      Relational.bioenvEnv(spark, dir), iters)

  /** [[q77Dbrda]]'s core over a (sample_a, sample_b, bray_curtis)
    * upper-triangle dissimilarity frame and the 3-variable env frame
    * (same [[constraintBasis]] arity guard) — split out for planted
    * specs. */
  def dbrdaFromInputs(bc0: DataFrame, env0: DataFrame,
      iters: Int = CaIters): DataFrame = {
    val g0 = centeredGram(bc0)
      .withColumn("rvec", transform(sequence(lit(1), col("n")), _ =>
        lit(1.0) / col("n").cast("double")))
    val chain = constraintBasis(g0, env0)
      // gx_ib = Σ_j G_ij · xr_jb — G's one appearance (n×3)
      .withColumn("gx", transform(sequence(lit(1), col("n")), i =>
        transform(sequence(lit(1), lit(3)), b =>
          foldSum(transform(sequence(lit(1), col("n")), j =>
            element_at(element_at(col("gm"), i), j)
              * element_at(element_at(col("xr"), j), b))))))
      // w_ab = Σ_i xr_ia · gx_ib = (X_rᵀ G X_r)_ab (3×3)
      .withColumn("w3", transform(sequence(lit(1), lit(3)), a =>
        transform(sequence(lit(1), lit(3)), b =>
          foldSum(transform(sequence(lit(1), col("n")), i =>
            element_at(element_at(col("xr"), i), a)
              * element_at(element_at(col("gx"), i), b))))))
      // p_ia = Σ_b xr_ib · minv_ba = (X_r M⁻¹)_ia (n×3)
      .withColumn("p3", transform(sequence(lit(1), col("n")), i =>
        transform(sequence(lit(1), lit(3)), a =>
          element_at(element_at(col("xr"), i), 1)
            * element_at(element_at(col("minv"), 1), a)
          + element_at(element_at(col("xr"), i), 2)
            * element_at(element_at(col("minv"), 2), a)
          + element_at(element_at(col("xr"), i), 3)
            * element_at(element_at(col("minv"), 3), a))))
      // pw_ib = Σ_a p_ia · w_ab (n×3)
      .withColumn("pw", transform(sequence(lit(1), col("n")), i =>
        transform(sequence(lit(1), lit(3)), b =>
          element_at(element_at(col("p3"), i), 1)
            * element_at(element_at(col("w3"), 1), b)
          + element_at(element_at(col("p3"), i), 2)
            * element_at(element_at(col("w3"), 2), b)
          + element_at(element_at(col("p3"), i), 3)
            * element_at(element_at(col("w3"), 3), b))))
      // G'_ik = Σ_b pw_ib · p_kb — REPLACES gm for the eigensolve
      .withColumn("gm", transform(sequence(lit(1), col("n")), i =>
        transform(sequence(lit(1), col("n")), k =>
          foldSum(zip_with(element_at(col("pw"), i),
            element_at(col("p3"), k), (x, y) => x * y)))))
      .select(col("samples"), col("n"), col("gm"), col("rvec"), col("det"))
    val st = powerAxes(chain, 2, iters)
    caScores(st
      .withColumn("v_1", when(col("det") =!= lit(0.0), col("v_1")))
      .withColumn("v_2", when(col("det") =!= lit(0.0), col("v_2"))))
      .select(col("sample"), col("ca1").as("dbrda1"),
        col("ca2").as("dbrda2"))
  }

  /** q86: PERMUTATION TEST FOR THE CONSTRAINED ORDINATION (vegan
    * `anova.cca`; McArdle & Anderson 2001; Legendre & Anderson 1999)
    * — the significance line under every published dbRDA/CCA: does
    * the environment explain MORE of the Bray–Curtis structure than
    * a random relabeling would? Pseudo-F = (tr(HGH)/m) /
    * (tr((I−H)G(I−H))/(n−m−1)) with m = 3 constraints, permuting the
    * sample↔environment pairing under the SHARED deterministic hash
    * deal (q46/q61's null, lifted into the single-row matrix world);
    * r² = tr(HGH)/tr(G) rides along (the "constrained inertia share"
    * vegan prints as the ordination header).
    *
    * NO eigensolve and NO n×n projection: H = X_r·M⁻¹·X_rᵀ is
    * idempotent, so tr(HGH) = tr(M⁻¹·W) with W = X_rᵀGX_r — a 3×3
    * trace; each permutation costs ONE n×3 product G·X_r[π] (the
    * q77 factoring, one more collapse: the test needs only the
    * trace, never the axes). tr((I−H)G(I−H)) = tr(G) − tr(HGH) by
    * the same idempotency, so the WHOLE test reads G once.
    *
    * Determinism: every product/trace is the index-order fold chain
    * q74–q77 already gate (identical IEEE sequences both engines);
    * the permutations are in-row array_sort deals over the exact
    * integer (hash, key) pairs — the SAME formula as
    * permutationBijection, rendered in-row; r² on the round-9 grid
    * drives the count. Degenerates are loud: singular env basis
    * (det = 0), zero total inertia, or n ≤ m+1 NULL every test
    * column identically in both engines; a perfect fit (zero
    * residual inertia) NULLs F only.
    *
    * Scale shape: q30's checkpointed fact aggregate is the only
    * corpus-scale work (shared with q31/q77); the test itself is
    * (P+1) × n² × 3 in-row arithmetic on the sample-dim-bounded
    * single row. At 10⁴⁺ samples the same trace identity runs over
    * q31b's distributed triples with X_r broadcast. */
  def q86AnovaDbrda(spark: SparkSession, dir: String): DataFrame =
    anovaDbrdaFromInputs(graft.Memo.bc.get(spark, dir),
      Relational.bioenvEnv(spark, dir),
      graft.Tables.dim(spark, dir, "nation")
        .select(col("n_name"), col("n_nationkey").as("k")))

  /** [[q86AnovaDbrda]]'s core over a (sample_a, sample_b,
    * bray_curtis) upper-triangle frame, the 3-variable env frame, and
    * an (n_name, k) integer-key frame (the deal's hash input; must
    * cover the samples — misalignment NULL-propagates loudly like the
    * env guard) — split out for planted specs. */
  def anovaDbrdaFromInputs(bc0: DataFrame, env0: DataFrame,
      keys: DataFrame): DataFrame = {
    val P = Relational.PermanovaPerms
    val g0 = centeredGram(bc0)
      .withColumn("rvec", transform(sequence(lit(1), col("n")), _ =>
        lit(1.0) / col("n").cast("double")))
    val karr = keys.agg(
      transform(sort_array(collect_list(struct(col("n_name"), col("k")))),
        x => x("k")).as("karr0"),
      sort_array(collect_list(col("n_name"))).as("ksamples"))
    val st = constraintBasis(g0, env0)
      .crossJoin(broadcast(karr))
      .withColumn("kk", transform(sequence(lit(1), col("n")), i =>
        when(element_at(col("ksamples"), i)
          === element_at(col("samples"), i),
          element_at(col("karr0"), i))))
      .withColumn("tg", foldSum(transform(sequence(lit(1), col("n")),
        i => element_at(element_at(col("gm"), i), i))))
      .withColumn("pis", transform(sequence(lit(0), lit(P)), p =>
        when(p === lit(0), sequence(lit(1), col("n")))
          .otherwise(transform(array_sort(
            transform(sequence(lit(1), col("n")), i => struct(
              pmod(pmod(element_at(col("kk"), i) * lit(1000003L)
                + p.cast("long"), lit(1000000000L)) * lit(2654435761L),
                lit(2147483647L)).as("h"),
              element_at(col("kk"), i).as("t"),
              i.as("idx")))), s => s("idx")))))
      .withColumn("cs", transform(col("pis"), pi =>
        element_at(transform(array(
          transform(sequence(lit(1), col("n")), i =>
            transform(sequence(lit(1), lit(3)), b =>
              foldSum(transform(sequence(lit(1), col("n")), j =>
                element_at(element_at(col("gm"), i), j)
                  * element_at(element_at(col("xr"),
                      element_at(pi, j)), b)))))),
          gxp => element_at(transform(array(
            transform(sequence(lit(1), lit(3)), a =>
              transform(sequence(lit(1), lit(3)), b =>
                foldSum(transform(sequence(lit(1), col("n")), i =>
                  element_at(element_at(col("xr"),
                      element_at(pi, i)), a)
                    * element_at(element_at(gxp, i), b)))))),
            w3p => foldSum(transform(sequence(lit(1), lit(3)), a =>
              foldSum(transform(sequence(lit(1), lit(3)), b =>
                element_at(element_at(col("minv"), a), b)
                  * element_at(element_at(w3p, b), a)))))), 1)), 1)))
      .withColumn("r2s", transform(col("cs"), c =>
        round(c / col("tg"), 9)))
      .withColumn("c0", element_at(col("cs"), 1))
      .withColumn("r20", element_at(col("r2s"), 1))
      .withColumn("nge", size(filter(slice(col("r2s"), 2, P),
        r => r >= col("r20"))))
    val ok = col("det") =!= lit(0.0) && col("tg") > lit(0.0)
    st.select(
      col("n").cast("long").as("n_samples"),
      round(col("tg"), 6).as("inertia_total"),
      when(ok, graft.GraftFunctions.roundz(col("c0"), 6))
        .as("inertia_constrained"),
      when(ok, graft.GraftFunctions.roundz(col("r20"), 6)).as("r2"),
      when(ok && col("n") > lit(4) && col("tg") - col("c0") > 0,
        graft.GraftFunctions.roundz(
        (col("c0") / lit(3.0))
          / ((col("tg") - col("c0"))
            / (col("n").cast("double") - lit(4.0))), 6)).as("f_stat"),
      lit(P.toLong).as("n_perms"),
      when(ok, col("nge").cast("long")).as("n_ge"),
      when(ok, round((col("nge") + 1).cast("double")
        / lit((P + 1).toDouble), 6)).as("p_value"))
  }

  /** DuckDB oracle for [[q86AnovaDbrda]] — q77's basis CTEs, the
    * identical in-row hash deal, fold chains, and trace identity. */
  def q86OracleSql(): String = {
    val P = Relational.PermanovaPerms
    def m(a: Int, b: Int) = s"mmx[$a][$b]"
    def inv(num: String) = s"($num) / det"
    val minv = Seq(
      Seq(inv(s"${m(2, 2)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 2)}"),
        inv(s"${m(1, 3)} * ${m(3, 2)} - ${m(1, 2)} * ${m(3, 3)}"),
        inv(s"${m(1, 2)} * ${m(2, 3)} - ${m(1, 3)} * ${m(2, 2)}")),
      Seq(inv(s"${m(1, 3)} * ${m(3, 2)} - ${m(1, 2)} * ${m(3, 3)}"),
        inv(s"${m(1, 1)} * ${m(3, 3)} - ${m(1, 3)} * ${m(3, 1)}"),
        inv(s"${m(1, 3)} * ${m(2, 1)} - ${m(1, 1)} * ${m(2, 3)}")),
      Seq(inv(s"${m(1, 2)} * ${m(2, 3)} - ${m(1, 3)} * ${m(2, 2)}"),
        inv(s"${m(1, 3)} * ${m(2, 1)} - ${m(1, 1)} * ${m(2, 3)}"),
        inv(s"${m(1, 1)} * ${m(2, 2)} - ${m(1, 2)} * ${m(2, 1)}")))
      .map(r => s"[${r.mkString(", ")}]").mkString("[", ", ", "]")
    CentPrefix + s""",
      rv AS (
        SELECT list_transform(generate_series(1, CAST(n AS INT)),
          i -> 1.0 / CAST(n AS DOUBLE)) AS rvec
        FROM cent)""" + EnvXmatCtes + s""",
      base AS (
        SELECT samples, n, gm, rvec,
          list_transform(generate_series(1, CAST(n AS INT)), i ->
            CASE WHEN xsamples[i] = samples[i] THEN xm0[i] END) AS xm
        FROM cent, rv, xmat),
      st1 AS (
        SELECT *, list_transform(generate_series(1, 3), a ->
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, CAST(n AS INT)), i ->
              rvec[i] * xm[i][a])), (acc, x) -> acc + x)) AS wm
        FROM base),
      st2 AS (
        SELECT *, list_transform(generate_series(1, CAST(n AS INT)), i ->
          list_transform(generate_series(1, 3), a ->
            sqrt(rvec[i]) * (xm[i][a] - wm[a]))) AS xr
        FROM st1),
      st3 AS (
        SELECT *, list_transform(generate_series(1, 3), a ->
          list_transform(generate_series(1, 3), b ->
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(generate_series(1, CAST(n AS INT)), i ->
                xr[i][a] * xr[i][b])), (acc, x) -> acc + x))) AS mmx
        FROM st2),
      st4 AS (
        SELECT *,
          ${m(1, 1)} * (${m(2, 2)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 2)})
            - ${m(1, 2)} * (${m(2, 1)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 1)})
            + ${m(1, 3)} * (${m(2, 1)} * ${m(3, 2)} - ${m(2, 2)} * ${m(3, 1)})
            AS det
        FROM st3),
      st5 AS (
        SELECT *, $minv AS minv FROM st4),
      karr AS (
        SELECT list_transform(list_sort(list(struct_pack(
            n_name := n_name, k := n_nationkey))), x -> x['k']) AS karr0,
          list_sort(list(n_name)) AS ksamples
        FROM nation),
      st6 AS (
        SELECT *, list_transform(generate_series(1, CAST(n AS INT)), i ->
            CASE WHEN ksamples[i] = samples[i] THEN karr0[i] END) AS kk,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, CAST(n AS INT)), i ->
              gm[i][i])), (acc, x) -> acc + x) AS tg
        FROM st5, karr),
      st7 AS (
        SELECT *, list_transform(generate_series(0, $P), p ->
          CASE WHEN p = 0 THEN generate_series(1, CAST(n AS INT))
          ELSE list_transform(list_sort(
            list_transform(generate_series(1, CAST(n AS INT)), i ->
              struct_pack(
                h := ((kk[i] * 1000003 + p) % 1000000000)
                  * 2654435761 % 2147483647,
                t := kk[i], idx := i))), s -> s['idx']) END) AS pis
        FROM st6),
      st8 AS (
        SELECT *, list_transform(pis, pi ->
          list_transform([list_transform(generate_series(1, CAST(n AS INT)),
              i -> list_transform(generate_series(1, 3), b ->
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(generate_series(1, CAST(n AS INT)), j ->
                    gm[i][j] * xr[pi[j]][b])), (acc, x) -> acc + x)))],
            gxp -> list_transform([list_transform(generate_series(1, 3),
                a -> list_transform(generate_series(1, 3), b ->
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(generate_series(1, CAST(n AS INT)), i ->
                      xr[pi[i]][a] * gxp[i][b])), (acc, x) -> acc + x)))],
              w3p -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(generate_series(1, 3), a ->
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(generate_series(1, 3), b ->
                      minv[a][b] * w3p[b][a])), (acc, x) -> acc + x))),
                (acc, x) -> acc + x))[1])[1]) AS cs
        FROM st7),
      st9 AS (
        SELECT *, list_transform(cs, c -> round(c / tg, 9)) AS r2s
        FROM st8),
      fin AS (
        SELECT n, det, tg, cs[1] AS c0, r2s[1] AS r20,
          len(list_filter(r2s[2:], r -> r >= r2s[1])) AS nge
        FROM st9)
      SELECT CAST(n AS BIGINT) AS n_samples,
        round(tg, 6) AS inertia_total,
        CASE WHEN det <> 0.0 AND tg > 0.0 THEN
          (round(c0, 6) + 0.0) END AS inertia_constrained,
        CASE WHEN det <> 0.0 AND tg > 0.0 THEN
          (round(r20, 6) + 0.0) END AS r2,
        CASE WHEN det <> 0.0 AND tg > 0.0 AND n > 4
            AND tg - c0 > 0 THEN
          (round((c0 / 3.0) / ((tg - c0) / (CAST(n AS DOUBLE) - 4.0)), 6)
            + 0.0) END AS f_stat,
        CAST($P AS BIGINT) AS n_perms,
        CASE WHEN det <> 0.0 AND tg > 0.0 THEN
          CAST(nge AS BIGINT) END AS n_ge,
        CASE WHEN det <> 0.0 AND tg > 0.0 THEN
          round(CAST(nge + 1 AS DOUBLE) / ${(P + 1).toDouble}, 6)
          END AS p_value
      FROM fin"""
  }

  /** q88: VARIATION PARTITIONING for the dbRDA (Borcard, Legendre &
    * Drapeau 1992; Peres-Neto et al. 2006; vegan `varpart`) — the
    * question AFTER q86 says "the environment matters": HOW MUCH of
    * the explained Bray–Curtis structure belongs to the wealth axis
    * alone (X1 = acctbal_mean), to the commerce axes alone
    * (X2 = {orders_per_cust, totalprice_mean}), and to their overlap?
    * Fractions from the three constrained fits via the standard
    * inclusion–exclusion on ADJUSTED R² (Ezekiel 1930 adjustment —
    * raw R² only grows with predictors, so unadjusted fractions are
    * biased): a = adj(X1∪X2) − adj(X2) (pure X1), c = adj(X1∪X2) −
    * adj(X1) (pure X2), b = adj(X1) + adj(X2) − adj(X1∪X2) (shared —
    * CAN be negative, the classic suppression signature), d =
    * 1 − adj(X1∪X2) (residual).
    *
    * No eigensolve, q86's trace identity three times over ONE basis:
    * tr(H_S·G·H_S) = tr(M_S⁻¹·W_S) where M_S/W_S are PRINCIPAL
    * SUBMATRICES of the full M = X_rᵀX_r and W = X_rᵀGX_r (the
    * centered/√r-scaled columns are subset-independent) — so X1 costs
    * one scalar division (w₁₁/m₁₁), X2 a closed-form 2×2, X1∪X2 the
    * existing 3×3 adjugate, and G is read ONCE for all three.
    *
    * Determinism: q77's exact fold chains end-to-end; every division
    * NULL-guarded (ANSI throws on /0); all ratio/fraction outputs
    * roundz (b is negative on suppressors). Degenerate inputs
    * (singular full basis, zero inertia, n ≤ 4) NULL every fraction
    * identically in both engines — det ≠ 0 makes M positive-definite,
    * so the subset minors are then automatically nonsingular.
    *
    * Scale shape: q86's — one checkpointed fact-scale BC aggregate,
    * then (n² × 3)-bounded in-row arithmetic on the single matrix
    * row; at 10⁴⁺ samples the identity runs over q31b's distributed
    * triples with X_r broadcast. */
  def q88Varpart(spark: SparkSession, dir: String): DataFrame =
    varpartFromInputs(graft.Memo.bc.get(spark, dir),
      Relational.bioenvEnv(spark, dir))

  /** [[q88Varpart]]'s core over a (sample_a, sample_b, bray_curtis)
    * upper-triangle frame and the 3-variable env frame (X1 = the
    * alphabetically first variable, X2 = the other two) — split out
    * for planted orthogonal/collinear specs. */
  def varpartFromInputs(bc0: DataFrame, env0: DataFrame): DataFrame = {
    val g0 = centeredGram(bc0)
      .withColumn("rvec", transform(sequence(lit(1), col("n")), _ =>
        lit(1.0) / col("n").cast("double")))
    def mmE(a: Int, b: Int) = element_at(element_at(col("mm"), a), b)
    def wE(a: Int, b: Int) = element_at(element_at(col("w3"), a), b)
    def miE(a: Int, b: Int) = element_at(element_at(col("minv"), a), b)
    val st = constraintBasis(g0, env0)
      .withColumn("tg", foldSum(transform(sequence(lit(1), col("n")),
        i => element_at(element_at(col("gm"), i), i))))
      .withColumn("gx", transform(sequence(lit(1), col("n")), i =>
        transform(sequence(lit(1), lit(3)), b =>
          foldSum(transform(sequence(lit(1), col("n")), j =>
            element_at(element_at(col("gm"), i), j)
              * element_at(element_at(col("xr"), j), b))))))
      .withColumn("w3", transform(sequence(lit(1), lit(3)), a =>
        transform(sequence(lit(1), lit(3)), b =>
          foldSum(transform(sequence(lit(1), col("n")), i =>
            element_at(element_at(col("xr"), i), a)
              * element_at(element_at(col("gx"), i), b))))))
      .withColumn("c12",
        miE(1, 1) * wE(1, 1) + miE(1, 2) * wE(2, 1) + miE(1, 3) * wE(3, 1)
          + miE(2, 1) * wE(1, 2) + miE(2, 2) * wE(2, 2)
          + miE(2, 3) * wE(3, 2)
          + miE(3, 1) * wE(1, 3) + miE(3, 2) * wE(2, 3)
          + miE(3, 3) * wE(3, 3))
      .withColumn("c1",
        wE(1, 1) / when(mmE(1, 1) =!= 0.0, mmE(1, 1)))
      .withColumn("det2",
        mmE(2, 2) * mmE(3, 3) - mmE(2, 3) * mmE(3, 2))
      .withColumn("c2",
        (mmE(3, 3) * wE(2, 2) - mmE(2, 3) * wE(3, 2)
          - mmE(3, 2) * wE(2, 3) + mmE(2, 2) * wE(3, 3))
          / when(col("det2") =!= 0.0, col("det2")))
    val nD = col("n").cast("double")
    def adj(c: Column, p: Int): Column =
      lit(1.0) - (lit(1.0) - c / col("tg")) * (nD - 1.0) /
        (nD - lit(1.0 + p))
    val ok = col("det").isNotNull && col("tg") > lit(0.0) &&
      col("n") > lit(4)
    val rz = graft.GraftFunctions.roundz _
    st.select(
      col("n").cast("long").as("n_samples"),
      round(col("tg"), 6).as("inertia_total"),
      when(ok, rz(col("c1") / col("tg"), 6)).as("r2_x1"),
      when(ok, rz(col("c2") / col("tg"), 6)).as("r2_x2"),
      when(ok, rz(col("c12") / col("tg"), 6)).as("r2_both"),
      when(ok, rz(adj(col("c1"), 1), 6)).as("adj_x1"),
      when(ok, rz(adj(col("c2"), 2), 6)).as("adj_x2"),
      when(ok, rz(adj(col("c12"), 3), 6)).as("adj_both"),
      when(ok, rz(adj(col("c12"), 3) - adj(col("c2"), 2), 6))
        .as("frac_x1_pure"),
      when(ok, rz(adj(col("c1"), 1) + adj(col("c2"), 2)
        - adj(col("c12"), 3), 6)).as("frac_shared"),
      when(ok, rz(adj(col("c12"), 3) - adj(col("c1"), 1), 6))
        .as("frac_x2_pure"),
      when(ok, rz(lit(1.0) - adj(col("c12"), 3), 6)).as("frac_resid"))
  }

  /** DuckDB oracle for [[q88Varpart]] — q86's basis CTEs, the subset
    * trace identities, and the identical adjusted-R² fractions. */
  def q88OracleSql(): String = {
    def m(a: Int, b: Int) = s"mmx[$a][$b]"
    def inv(num: String) = s"($num) / det"
    val minv = Seq(
      Seq(inv(s"${m(2, 2)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 2)}"),
        inv(s"${m(1, 3)} * ${m(3, 2)} - ${m(1, 2)} * ${m(3, 3)}"),
        inv(s"${m(1, 2)} * ${m(2, 3)} - ${m(1, 3)} * ${m(2, 2)}")),
      Seq(inv(s"${m(1, 3)} * ${m(3, 2)} - ${m(1, 2)} * ${m(3, 3)}"),
        inv(s"${m(1, 1)} * ${m(3, 3)} - ${m(1, 3)} * ${m(3, 1)}"),
        inv(s"${m(1, 3)} * ${m(2, 1)} - ${m(1, 1)} * ${m(2, 3)}")),
      Seq(inv(s"${m(1, 2)} * ${m(2, 3)} - ${m(1, 3)} * ${m(2, 2)}"),
        inv(s"${m(1, 3)} * ${m(2, 1)} - ${m(1, 1)} * ${m(2, 3)}"),
        inv(s"${m(1, 1)} * ${m(2, 2)} - ${m(1, 2)} * ${m(2, 1)}")))
      .map(r => s"[${r.mkString(", ")}]").mkString("[", ", ", "]")
    def adj(c: String, p: Int) =
      s"1.0 - (1.0 - $c / tg) * (CAST(n AS DOUBLE) - 1.0)" +
        s" / (CAST(n AS DOUBLE) - ${(1.0 + p)})"
    val okSql = "det <> 0.0 AND tg > 0.0 AND n > 4"
    CentPrefix + s""",
      rv AS (
        SELECT list_transform(generate_series(1, CAST(n AS INT)),
          i -> 1.0 / CAST(n AS DOUBLE)) AS rvec
        FROM cent)""" + EnvXmatCtes + s""",
      base AS (
        SELECT samples, n, gm, rvec,
          list_transform(generate_series(1, CAST(n AS INT)), i ->
            CASE WHEN xsamples[i] = samples[i] THEN xm0[i] END) AS xm
        FROM cent, rv, xmat),
      st1 AS (
        SELECT *, list_transform(generate_series(1, 3), a ->
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, CAST(n AS INT)), i ->
              rvec[i] * xm[i][a])), (acc, x) -> acc + x)) AS wm
        FROM base),
      st2 AS (
        SELECT *, list_transform(generate_series(1, CAST(n AS INT)), i ->
          list_transform(generate_series(1, 3), a ->
            sqrt(rvec[i]) * (xm[i][a] - wm[a]))) AS xr
        FROM st1),
      st3 AS (
        SELECT *, list_transform(generate_series(1, 3), a ->
          list_transform(generate_series(1, 3), b ->
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(generate_series(1, CAST(n AS INT)), i ->
                xr[i][a] * xr[i][b])), (acc, x) -> acc + x))) AS mmx
        FROM st2),
      st4 AS (
        SELECT *,
          ${m(1, 1)} * (${m(2, 2)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 2)})
            - ${m(1, 2)} * (${m(2, 1)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 1)})
            + ${m(1, 3)} * (${m(2, 1)} * ${m(3, 2)} - ${m(2, 2)} * ${m(3, 1)})
            AS det
        FROM st3),
      st5 AS (
        SELECT *, $minv AS minv FROM st4),
      gxw AS (
        SELECT *,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, CAST(n AS INT)), i ->
              gm[i][i])), (acc, x) -> acc + x) AS tg,
          list_transform(generate_series(1, CAST(n AS INT)), i ->
            list_transform(generate_series(1, 3), b ->
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(generate_series(1, CAST(n AS INT)), j ->
                  gm[i][j] * xr[j][b])), (acc, x) -> acc + x))) AS gx
        FROM st5),
      w3c AS (
        SELECT *, list_transform(generate_series(1, 3), a ->
          list_transform(generate_series(1, 3), b ->
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(generate_series(1, CAST(n AS INT)), i ->
                xr[i][a] * gx[i][b])), (acc, x) -> acc + x))) AS w3
        FROM gxw),
      tr1 AS (
        SELECT *,
          minv[1][1] * w3[1][1] + minv[1][2] * w3[2][1]
            + minv[1][3] * w3[3][1]
            + minv[2][1] * w3[1][2] + minv[2][2] * w3[2][2]
            + minv[2][3] * w3[3][2]
            + minv[3][1] * w3[1][3] + minv[3][2] * w3[2][3]
            + minv[3][3] * w3[3][3] AS c12,
          w3[1][1] / (CASE WHEN ${m(1, 1)} <> 0.0
            THEN ${m(1, 1)} END) AS c1,
          ${m(2, 2)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 2)} AS det2
        FROM w3c),
      tr2 AS (
        SELECT *,
          (${m(3, 3)} * w3[2][2] - ${m(2, 3)} * w3[3][2]
            - ${m(3, 2)} * w3[2][3] + ${m(2, 2)} * w3[3][3])
            / (CASE WHEN det2 <> 0.0 THEN det2 END) AS c2
        FROM tr1)
      SELECT CAST(n AS BIGINT) AS n_samples,
        round(tg, 6) AS inertia_total,
        CASE WHEN $okSql THEN (round(c1 / tg, 6) + 0.0) END AS r2_x1,
        CASE WHEN $okSql THEN (round(c2 / tg, 6) + 0.0) END AS r2_x2,
        CASE WHEN $okSql THEN (round(c12 / tg, 6) + 0.0) END AS r2_both,
        CASE WHEN $okSql THEN
          (round(${adj("c1", 1)}, 6) + 0.0) END AS adj_x1,
        CASE WHEN $okSql THEN
          (round(${adj("c2", 2)}, 6) + 0.0) END AS adj_x2,
        CASE WHEN $okSql THEN
          (round(${adj("c12", 3)}, 6) + 0.0) END AS adj_both,
        CASE WHEN $okSql THEN
          (round((${adj("c12", 3)}) - (${adj("c2", 2)}), 6) + 0.0)
          END AS frac_x1_pure,
        CASE WHEN $okSql THEN
          (round((${adj("c1", 1)}) + (${adj("c2", 2)})
            - (${adj("c12", 3)}), 6) + 0.0) END AS frac_shared,
        CASE WHEN $okSql THEN
          (round((${adj("c12", 3)}) - (${adj("c1", 1)}), 6) + 0.0)
          END AS frac_x2_pure,
        CASE WHEN $okSql THEN
          (round(1.0 - (${adj("c12", 3)}), 6) + 0.0) END AS frac_resid
      FROM tr2"""
  }

  /** Column-centered dense abundance matrix with uniform row weights
    * — [[q75Rda]]'s input to the shared constrained chain. */
  private def rdaMatrix(ab0: DataFrame): DataFrame = {
    val ab = graft.Ckpt(ab0)
    val sJ = ab.select(col("n_name").as("si")).distinct()
    val tJ = ab.select(col("p_type").as("tj")).distinct()
    val cells = sJ.crossJoin(tJ)
      .join(ab.select(col("n_name").as("si"), col("p_type").as("tj"),
        col("qty")), Seq("si", "tj"), "left_outer")
      .select(col("si"), col("tj"),
        coalesce(col("qty"), lit(0).cast(graft.Dec.D2)).cast("double")
          .as("s"))
    val rows = cells.groupBy("si")
      .agg(transform(sort_array(collect_list(struct(col("tj"), col("s")))),
        x => x("s")).as("srow"))
    rows
      .agg(transform(sort_array(collect_list(struct(col("si"), col("srow")))),
          x => x("srow")).as("sm"),
        sort_array(collect_list(col("si"))).as("samples"))
      .select(col("sm"), col("samples"), size(col("samples")).as("n"))
      .filter(col("n") >= 2)
      .withColumn("tt", size(element_at(col("sm"), 1)))
      .withColumn("cm", transform(sequence(lit(1), col("tt")), j =>
        foldSum(transform(sequence(lit(1), col("n")), i =>
          element_at(element_at(col("sm"), i), j)))
          / col("n").cast("double")))
      .withColumn("sm", transform(sequence(lit(1), col("n")), i =>
        transform(sequence(lit(1), col("tt")), j =>
          element_at(element_at(col("sm"), i), j)
            - element_at(col("cm"), j))))
      .withColumn("rvec", transform(sequence(lit(1), col("n")), _ =>
        lit(1.0) / col("n").cast("double")))
      .select(col("sm"), col("rvec"), col("samples"), col("n"))
  }

  /** The shared constrained-ordination chain behind [[q74Cca]] and
    * [[q75Rda]]: weighted-center/√r-scale the env columns, project
    * the matrix columns onto the constraint space via the closed-form
    * 3×3 weighted normal equations, eigensolve the constrained Gram,
    * emit det-guarded principal coordinates (columns ca1/ca2 for the
    * caller to alias). */
  /** The shared constraint BASIS: env rows guarded/aligned into
    * sample order, weighted-centered and √r-scaled (X_r), then the
    * closed-form 3×3 normal-equation pieces (mm, det, adjugate
    * inverse) appended as columns. Consumed by [[constrainedScores]]
    * (species-matrix projection — CCA/RDA) and [[dbrdaScores]]
    * (Gram-side projection — dbRDA); expression-for-expression the
    * oracle tails' st1–st5 CTEs. */
  private def constraintBasis(mat0: DataFrame,
      env0: DataFrame): DataFrame = {
    // arity guard (r17 ADVICE): the closed-form normal equations below
    // index env rows at 1..3; element_at past the length is NULL under
    // non-ANSI evaluation, so a wrong-arity env frame would otherwise
    // NULL-propagate to all-null scores — the det = 0 shape — instead
    // of failing. raise_error makes the wrong arity loud and names the
    // first offending sample.
    val envRows = env0.groupBy(col("n_name").as("si"))
      .agg(transform(sort_array(collect_list(struct(col("variable"),
        col("v")))), x => x("v")).as("xrow0"))
      .select(col("si"),
        when(size(col("xrow0")) === 3, col("xrow0"))
          .otherwise(raise_error(concat(
            lit("constrainedScores: the closed-form inverse is written "
              + "for EXACTLY 3 env variables per sample; sample "),
            col("si"), lit(" carries "),
            size(col("xrow0")).cast("string")))).as("xrow"))
    val mat = mat0
      .crossJoin(broadcast(envRows
        .agg(transform(sort_array(collect_list(struct(col("si"),
          col("xrow")))), x => x("xrow")).as("xm0"),
          sort_array(collect_list(col("si"))).as("xsamples"))))
    // env rows re-indexed into SAMPLE order with an explicit key
    // guard: a sample/env name drift NULL-propagates through the
    // whole chain (all-null output) instead of silently misaligning
    val withXm = mat.withColumn("xm",
      transform(sequence(lit(1), col("n")), i =>
        when(element_at(col("xsamples"), i)
          === element_at(col("samples"), i), element_at(col("xm0"), i))))
    def mm(a: Int, b: Int) =
      element_at(element_at(col("mm"), a), b)
    withXm
      .withColumn("wm", transform(sequence(lit(1), lit(3)), a =>
        foldSum(transform(sequence(lit(1), col("n")), i =>
          element_at(col("rvec"), i)
            * element_at(element_at(col("xm"), i), a)))))
      .withColumn("xr", transform(sequence(lit(1), col("n")), i =>
        transform(sequence(lit(1), lit(3)), a =>
          sqrt(element_at(col("rvec"), i))
            * (element_at(element_at(col("xm"), i), a)
              - element_at(col("wm"), a)))))
      .withColumn("mm", transform(sequence(lit(1), lit(3)), a =>
        transform(sequence(lit(1), lit(3)), b =>
          foldSum(transform(sequence(lit(1), col("n")), i =>
            element_at(element_at(col("xr"), i), a)
              * element_at(element_at(col("xr"), i), b))))))
      .withColumn("det",
        mm(1, 1) * (mm(2, 2) * mm(3, 3) - mm(2, 3) * mm(3, 2))
          - mm(1, 2) * (mm(2, 1) * mm(3, 3) - mm(2, 3) * mm(3, 1))
          + mm(1, 3) * (mm(2, 1) * mm(3, 2) - mm(2, 2) * mm(3, 1)))
      // singular basis: under ANSI mode the adjugate division below
      // would THROW on det = 0 instead of NULL-propagating as this
      // chain's contract states — divide by the NULL-guarded det so a
      // collinear env frame stays the documented all-NULL shape
      .withColumn("det", when(col("det") =!= lit(0.0), col("det")))
      .withColumn("minv", array(
        array((mm(2, 2) * mm(3, 3) - mm(2, 3) * mm(3, 2)) / col("det"),
          (mm(1, 3) * mm(3, 2) - mm(1, 2) * mm(3, 3)) / col("det"),
          (mm(1, 2) * mm(2, 3) - mm(1, 3) * mm(2, 2)) / col("det")),
        array((mm(1, 3) * mm(3, 2) - mm(1, 2) * mm(3, 3)) / col("det"),
          (mm(1, 1) * mm(3, 3) - mm(1, 3) * mm(3, 1)) / col("det"),
          (mm(1, 3) * mm(2, 1) - mm(1, 1) * mm(2, 3)) / col("det")),
        array((mm(1, 2) * mm(2, 3) - mm(1, 3) * mm(2, 2)) / col("det"),
          (mm(1, 3) * mm(2, 1) - mm(1, 1) * mm(2, 3)) / col("det"),
          (mm(1, 1) * mm(2, 2) - mm(1, 2) * mm(2, 1)) / col("det"))))
  }

  private def constrainedScores(mat0: DataFrame, env0: DataFrame,
      iters: Int): DataFrame = {
    val chain = constraintBasis(mat0, env0)
      .withColumn("t", size(element_at(col("sm"), 1)))
      .withColumn("bb", transform(sequence(lit(1), lit(3)), a =>
        transform(sequence(lit(1), col("t")), j =>
          foldSum(transform(sequence(lit(1), col("n")), i =>
            element_at(element_at(col("xr"), i), a)
              * element_at(element_at(col("sm"), i), j))))))
      .withColumn("ccm", transform(sequence(lit(1), lit(3)), a =>
        transform(sequence(lit(1), col("t")), j =>
          element_at(element_at(col("minv"), a), 1)
            * element_at(element_at(col("bb"), 1), j)
          + element_at(element_at(col("minv"), a), 2)
            * element_at(element_at(col("bb"), 2), j)
          + element_at(element_at(col("minv"), a), 3)
            * element_at(element_at(col("bb"), 3), j))))
      .withColumn("sh", transform(sequence(lit(1), col("n")), i =>
        transform(sequence(lit(1), col("t")), j =>
          element_at(element_at(col("xr"), i), 1)
            * element_at(element_at(col("ccm"), 1), j)
          + element_at(element_at(col("xr"), i), 2)
            * element_at(element_at(col("ccm"), 2), j)
          + element_at(element_at(col("xr"), i), 3)
            * element_at(element_at(col("ccm"), 3), j))))
      .withColumn("gm", transform(sequence(lit(1), col("n")), i =>
        transform(sequence(lit(1), col("n")), k =>
          foldSum(zip_with(element_at(col("sh"), i),
            element_at(col("sh"), k), (x, y) => x * y)))))
      .select(col("samples"), col("n"), col("gm"), col("rvec"), col("det"))
    val st = powerAxes(chain, 2, iters)
    caScores(st
      .withColumn("v_1", when(col("det") =!= lit(0.0), col("v_1")))
      .withColumn("v_2", when(col("det") =!= lit(0.0), col("v_2"))))
  }

  /** Matrix-prep CTEs for [[q73Ca]]'s oracle: the identical dense
    * chi-square residual cells, q31's list-sort fold-order assembly,
    * the row-weight vector, and the Gram `g1` the shared [[axisSql]]
    * recursion consumes. The prefix through `rv` ([[CaSPrep]]) is
    * shared with [[q74OracleSql]]. */
  private val CaSPrep: String = """
      WITH RECURSIVE ab AS (
        SELECT n_name, p_type, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, p_type),
      gt AS (SELECT sum(qty) AS g FROM ab),
      rs AS (SELECT n_name AS si, sum(qty) AS rs FROM ab GROUP BY 1),
      cs AS (SELECT p_type AS tj, sum(qty) AS cs FROM ab GROUP BY 1),
      cells AS (
        SELECT rs.si, cs.tj,
          (CAST(coalesce(ab.qty, 0) AS DOUBLE) / CAST(gt.g AS DOUBLE)
            - (CAST(rs.rs AS DOUBLE) / CAST(gt.g AS DOUBLE))
              * (CAST(cs.cs AS DOUBLE) / CAST(gt.g AS DOUBLE)))
            / sqrt((CAST(rs.rs AS DOUBLE) / CAST(gt.g AS DOUBLE))
              * (CAST(cs.cs AS DOUBLE) / CAST(gt.g AS DOUBLE))) AS s
        FROM rs CROSS JOIN cs CROSS JOIN gt
        LEFT JOIN ab ON ab.n_name = rs.si AND ab.p_type = cs.tj),
      rowsr AS (
        SELECT si, list_transform(
          list_sort(list(struct_pack(tj := tj, s := s))), x -> x['s']) AS srow
        FROM cells GROUP BY si),
      matr AS (
        SELECT list_transform(
            list_sort(list(struct_pack(si := si, srow := srow))),
            x -> x['srow']) AS sm,
          list_sort(list(si)) AS samples, count(*) AS n
        FROM rowsr),
      rv AS (
        SELECT list_transform(
          list_sort(list(struct_pack(si := rs.si,
            ri := CAST(rs.rs AS DOUBLE) / CAST(gt.g AS DOUBLE)))),
          x -> x['ri']) AS rvec
        FROM rs, gt)"""

  private val CaCte: String = CaSPrep + """,
      cv AS (
        SELECT list_transform(
            list_sort(list(struct_pack(tj := cs.tj,
              cj := CAST(cs.cs AS DOUBLE) / CAST(gt.g AS DOUBLE)))),
            x -> x['cj']) AS cvec,
          list_sort(list(tj)) AS taxa
        FROM cs, gt),
      cent AS MATERIALIZED (
        SELECT samples, n, sm, taxa, cvec,
          list_transform(generate_series(1, CAST(n AS INT)), i ->
            list_transform(generate_series(1, CAST(n AS INT)), k ->
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(generate_series(1, CAST(t AS INT)),
                  j -> sm[i][j] * sm[k][j])),
                (acc, x) -> acc + x))) AS gm,
          rvec
        FROM (SELECT samples, n, sm, len(sm[1]) AS t, rvec, taxa, cvec
              FROM matr, rv, cv) q
        WHERE n >= 2),
      g1 AS MATERIALIZED (SELECT n, gm FROM cent)"""

  /** DuckDB oracle for [[q73Ca]] — [[CaCte]]'s matrix prep, then the
    * SAME per-axis recursion [[q31OracleSql]] uses, then the
    * principal-coordinate scaling mirrored op-for-op. */
  def q73OracleSql(iters: Int = CaIters): String =
    CaCte + "," +
      axisSql(1, iters, deflate = true) + "," +
      axisSql(2, iters, deflate = true) + s""",
      idx AS (
        SELECT unnest(generate_series(1, CAST(n AS INT))) AS i,
          samples, rvec
        FROM cent)
      SELECT idx.samples[idx.i] AS sample,
        (round(fin1.v[idx.i] * fin1.sgn / sqrt(ray1.lam_den)
          * sqrt(ray1.lam_num / ray1.lam_den)
          / sqrt(idx.rvec[idx.i]), 6) + 0.0) AS ca1,
        (round(fin2.v[idx.i] * fin2.sgn / sqrt(ray2.lam_den)
          * sqrt(ray2.lam_num / ray2.lam_den)
          / sqrt(idx.rvec[idx.i]), 6) + 0.0) AS ca2
      FROM idx, fin1, fin2, ray1, ray2
      ORDER BY sample"""

  /** DuckDB oracle for [[q76CaSpecies]] — the same recursion, then
    * the transition-formula column scores mirrored fold-for-fold. */
  def q76OracleSql(iters: Int = CaIters): String = {
    def score(a: Int) =
      s"""(round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, CAST(cent.n AS INT)), i ->
              cent.sm[i][jdx.j] * fin$a.v[i])), (acc, x) -> acc + x)
          * fin$a.sgn / sqrt(ray$a.lam_den)
          / sqrt(cent.cvec[jdx.j]), 6) + 0.0)"""
    CaCte + "," +
      axisSql(1, iters, deflate = true) + "," +
      axisSql(2, iters, deflate = true) + s""",
      jdx AS (
        SELECT unnest(generate_series(1, CAST(len(taxa) AS INT))) AS j
        FROM cent)
      SELECT cent.taxa[jdx.j] AS taxon,
        ${score(1)} AS ca1,
        ${score(2)} AS ca2
      FROM jdx, cent, fin1, fin2, ray1, ray2
      ORDER BY taxon"""
  }

  /** DuckDB oracle for [[q74Cca]] — [[CaSPrep]]'s shared residual
    * matrix, q62's env CTE, the identical weighted-projection chain
    * (each stage a CTE layer mirroring one withColumn), the shared
    * [[axisSql]] recursion on the CONSTRAINED Gram, and the det-
    * guarded principal scaling. */
  def q74OracleSql(iters: Int = CaIters): String =
    CaSPrep + EnvXmatCtes + constrainedTailSql(iters, "cca1", "cca2")

  /** DuckDB oracle for [[q75Rda]] — the dense column-centered linear
    * matrix with uniform row weights, then the shared env/projection
    * tail. */
  def q75OracleSql(iters: Int = CaIters): String = RdaPrep +
    EnvXmatCtes + constrainedTailSql(iters, "rda1", "rda2")

  /** DuckDB oracle for [[q77Dbrda]] — q31's Gower-centered Gram prep
    * ([[CentPrefix]], the same `cent` the PCoA oracle eigensolves),
    * the shared env CTEs, the identical rank-3 projection chain
    * (each dbx CTE mirroring one engine withColumn: gx → w3 → p3 →
    * pw → G' = P·W·Pᵀ), then the shared [[axisSql]] recursion and
    * the det-guarded principal scaling at uniform weights. */
  def q77OracleSql(iters: Int = CaIters): String = {
    def m(a: Int, b: Int) = s"mmx[$a][$b]"
    def inv(num: String) = s"($num) / det"
    val minv = Seq(
      Seq(inv(s"${m(2, 2)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 2)}"),
        inv(s"${m(1, 3)} * ${m(3, 2)} - ${m(1, 2)} * ${m(3, 3)}"),
        inv(s"${m(1, 2)} * ${m(2, 3)} - ${m(1, 3)} * ${m(2, 2)}")),
      Seq(inv(s"${m(1, 3)} * ${m(3, 2)} - ${m(1, 2)} * ${m(3, 3)}"),
        inv(s"${m(1, 1)} * ${m(3, 3)} - ${m(1, 3)} * ${m(3, 1)}"),
        inv(s"${m(1, 3)} * ${m(2, 1)} - ${m(1, 1)} * ${m(2, 3)}")),
      Seq(inv(s"${m(1, 2)} * ${m(2, 3)} - ${m(1, 3)} * ${m(2, 2)}"),
        inv(s"${m(1, 3)} * ${m(2, 1)} - ${m(1, 1)} * ${m(2, 3)}"),
        inv(s"${m(1, 1)} * ${m(2, 2)} - ${m(1, 2)} * ${m(2, 1)}")))
      .map(r => s"[${r.mkString(", ")}]").mkString("[", ", ", "]")
    CentPrefix + s""",
      rv AS (
        SELECT list_transform(generate_series(1, CAST(n AS INT)),
          i -> 1.0 / CAST(n AS DOUBLE)) AS rvec
        FROM cent)""" + EnvXmatCtes + s""",
      base AS (
        SELECT samples, n, gm, rvec,
          list_transform(generate_series(1, CAST(n AS INT)), i ->
            CASE WHEN xsamples[i] = samples[i] THEN xm0[i] END) AS xm
        FROM cent, rv, xmat),
      st1 AS (
        SELECT *, list_transform(generate_series(1, 3), a ->
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, CAST(n AS INT)), i ->
              rvec[i] * xm[i][a])), (acc, x) -> acc + x)) AS wm
        FROM base),
      st2 AS (
        SELECT *, list_transform(generate_series(1, CAST(n AS INT)), i ->
          list_transform(generate_series(1, 3), a ->
            sqrt(rvec[i]) * (xm[i][a] - wm[a]))) AS xr
        FROM st1),
      st3 AS (
        SELECT *, list_transform(generate_series(1, 3), a ->
          list_transform(generate_series(1, 3), b ->
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(generate_series(1, CAST(n AS INT)), i ->
                xr[i][a] * xr[i][b])), (acc, x) -> acc + x))) AS mmx
        FROM st2),
      st4 AS (
        SELECT *,
          ${m(1, 1)} * (${m(2, 2)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 2)})
            - ${m(1, 2)} * (${m(2, 1)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 1)})
            + ${m(1, 3)} * (${m(2, 1)} * ${m(3, 2)} - ${m(2, 2)} * ${m(3, 1)})
            AS det
        FROM st3),
      st5 AS (
        SELECT *, $minv AS minv FROM st4),
      dbx1 AS (
        SELECT *, list_transform(generate_series(1, CAST(n AS INT)), i ->
          list_transform(generate_series(1, 3), b ->
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(generate_series(1, CAST(n AS INT)), j ->
                gm[i][j] * xr[j][b])), (acc, x) -> acc + x))) AS gx
        FROM st5),
      dbx2 AS (
        SELECT *, list_transform(generate_series(1, 3), a ->
          list_transform(generate_series(1, 3), b ->
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(generate_series(1, CAST(n AS INT)), i ->
                xr[i][a] * gx[i][b])), (acc, x) -> acc + x))) AS w3
        FROM dbx1),
      dbx3 AS (
        SELECT *, list_transform(generate_series(1, CAST(n AS INT)), i ->
          list_transform(generate_series(1, 3), a ->
            xr[i][1] * minv[1][a] + xr[i][2] * minv[2][a]
              + xr[i][3] * minv[3][a])) AS p3
        FROM dbx2),
      dbx4 AS (
        SELECT *, list_transform(generate_series(1, CAST(n AS INT)), i ->
          list_transform(generate_series(1, 3), b ->
            p3[i][1] * w3[1][b] + p3[i][2] * w3[2][b]
              + p3[i][3] * w3[3][b])) AS pw
        FROM dbx3),
      cent2 AS MATERIALIZED (
        SELECT samples, n, rvec, det,
          list_transform(generate_series(1, CAST(n AS INT)), i ->
            list_transform(generate_series(1, CAST(n AS INT)), k ->
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(generate_series(1, 3),
                  b -> pw[i][b] * p3[k][b])),
                (acc, x) -> acc + x))) AS gm
        FROM dbx4),
      g1 AS MATERIALIZED (SELECT n, gm FROM cent2),""" +
      axisSql(1, iters, deflate = true) + "," +
      axisSql(2, iters, deflate = true) + s""",
      idx AS (
        SELECT unnest(generate_series(1, CAST(n AS INT))) AS i,
          samples, rvec, det
        FROM cent2)
      SELECT idx.samples[idx.i] AS sample,
        CASE WHEN idx.det <> 0.0 THEN
          (round(fin1.v[idx.i] * fin1.sgn / sqrt(ray1.lam_den)
            * sqrt(ray1.lam_num / ray1.lam_den)
            / sqrt(idx.rvec[idx.i]), 6) + 0.0) END AS dbrda1,
        CASE WHEN idx.det <> 0.0 THEN
          (round(fin2.v[idx.i] * fin2.sgn / sqrt(ray2.lam_den)
            * sqrt(ray2.lam_num / ray2.lam_den)
            / sqrt(idx.rvec[idx.i]), 6) + 0.0) END AS dbrda2
      FROM idx, fin1, fin2, ray1, ray2
      ORDER BY sample"""
  }

  /** Matrix-prep CTEs for [[q75Rda]]'s oracle: dense raw abundance,
    * column-centered in index-order folds, uniform rvec — emitting
    * the same `matr`/`rv` names the shared tail consumes. */
  private val RdaPrep: String = """
      WITH RECURSIVE ab AS (
        SELECT n_name, p_type, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, p_type),
      cells AS (
        SELECT s.si, t.tj, CAST(coalesce(ab.qty, 0) AS DOUBLE) AS s
        FROM (SELECT DISTINCT n_name AS si FROM ab) s
        CROSS JOIN (SELECT DISTINCT p_type AS tj FROM ab) t
        LEFT JOIN ab ON ab.n_name = s.si AND ab.p_type = t.tj),
      rowsr AS (
        SELECT si, list_transform(
          list_sort(list(struct_pack(tj := tj, s := s))), x -> x['s']) AS srow
        FROM cells GROUP BY si),
      matr0 AS (
        SELECT list_transform(
            list_sort(list(struct_pack(si := si, srow := srow))),
            x -> x['srow']) AS sm,
          list_sort(list(si)) AS samples, count(*) AS n
        FROM rowsr),
      matr AS (
        SELECT list_transform(generate_series(1, CAST(n AS INT)), i ->
            list_transform(generate_series(1, CAST(tt AS INT)), j ->
              sm[i][j] - cm[j])) AS sm,
          samples, n
        FROM (
          SELECT sm, samples, n, len(sm[1]) AS tt,
            list_transform(generate_series(1, CAST(len(sm[1]) AS INT)), j ->
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(generate_series(1, CAST(n AS INT)),
                  i -> sm[i][j])), (acc, x) -> acc + x)
                / CAST(n AS DOUBLE)) AS cm
          FROM matr0) q0),
      rv AS (
        SELECT list_transform(generate_series(1, CAST(n AS INT)),
          i -> 1.0 / CAST(n AS DOUBLE)) AS rvec
        FROM matr)"""

  /** q62's env CTE + the variable-ordered env matrix — shared by the
    * q74/q75 oracles. */
  private val EnvXmatCtes: String = s""",
      cn AS MATERIALIZED (
        SELECT c_custkey, n_name FROM customer
        JOIN nation ON c_nationkey = n_nationkey),
      env AS MATERIALIZED (
        SELECT 'acctbal_mean' AS variable, n_name,
          round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 12) AS v
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        UNION ALL
        SELECT 'totalprice_mean', n_name,
          round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            / CAST(count(*) AS DOUBLE), 12)
        FROM orders JOIN cn ON o_custkey = c_custkey
        GROUP BY n_name
        UNION ALL
        SELECT 'orders_per_cust', o.n_name,
          round(CAST(o.no AS DOUBLE) / CAST(c.nc AS DOUBLE), 12)
        FROM (SELECT n_name, count(*) AS no FROM orders
              JOIN cn ON o_custkey = c_custkey GROUP BY 1) o
        JOIN (SELECT n_name, count(*) AS nc FROM cn GROUP BY 1) c
          ON o.n_name = c.n_name),
      envrows AS (
        SELECT n_name AS si, list_transform(
          list_sort(list(struct_pack(variable := variable, v := v))),
          x -> x['v']) AS xrow
        FROM env GROUP BY n_name),
      xmat AS (
        SELECT list_transform(
            list_sort(list(struct_pack(si := si, xrow := xrow))),
            x -> x['xrow']) AS xm0,
          list_sort(list(si)) AS xsamples
        FROM envrows)"""

  /** The constraint-projection + eigensolve + det-guarded principal
    * scaling — the oracle tail shared by [[q74OracleSql]] (chi-square
    * matrix, cca1/cca2) and [[q75OracleSql]] (centered linear matrix,
    * rda1/rda2). Consumes `matr`(sm, samples, n), `rv`(rvec) and
    * `xmat`; every stage CTE mirrors one engine withColumn. */
  private def constrainedTailSql(iters: Int, o1: String,
      o2: String): String = {
    def m(a: Int, b: Int) = s"mmx[$a][$b]"
    def inv(num: String) = s"($num) / det"
    val minv = Seq(
      Seq(inv(s"${m(2, 2)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 2)}"),
        inv(s"${m(1, 3)} * ${m(3, 2)} - ${m(1, 2)} * ${m(3, 3)}"),
        inv(s"${m(1, 2)} * ${m(2, 3)} - ${m(1, 3)} * ${m(2, 2)}")),
      Seq(inv(s"${m(1, 3)} * ${m(3, 2)} - ${m(1, 2)} * ${m(3, 3)}"),
        inv(s"${m(1, 1)} * ${m(3, 3)} - ${m(1, 3)} * ${m(3, 1)}"),
        inv(s"${m(1, 3)} * ${m(2, 1)} - ${m(1, 1)} * ${m(2, 3)}")),
      Seq(inv(s"${m(1, 2)} * ${m(2, 3)} - ${m(1, 3)} * ${m(2, 2)}"),
        inv(s"${m(1, 3)} * ${m(2, 1)} - ${m(1, 1)} * ${m(2, 3)}"),
        inv(s"${m(1, 1)} * ${m(2, 2)} - ${m(1, 2)} * ${m(2, 1)}")))
      .map(r => s"[${r.mkString(", ")}]").mkString("[", ", ", "]")
    s""",
      base AS (
        SELECT samples, n, sm, rvec,
          list_transform(generate_series(1, CAST(n AS INT)), i ->
            CASE WHEN xsamples[i] = samples[i] THEN xm0[i] END) AS xm
        FROM matr, rv, xmat
        WHERE n >= 2),
      st1 AS (
        SELECT *, list_transform(generate_series(1, 3), a ->
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(generate_series(1, CAST(n AS INT)), i ->
              rvec[i] * xm[i][a])), (acc, x) -> acc + x)) AS wm
        FROM base),
      st2 AS (
        SELECT *, list_transform(generate_series(1, CAST(n AS INT)), i ->
          list_transform(generate_series(1, 3), a ->
            sqrt(rvec[i]) * (xm[i][a] - wm[a]))) AS xr
        FROM st1),
      st3 AS (
        SELECT *, list_transform(generate_series(1, 3), a ->
          list_transform(generate_series(1, 3), b ->
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(generate_series(1, CAST(n AS INT)), i ->
                xr[i][a] * xr[i][b])), (acc, x) -> acc + x))) AS mmx
        FROM st2),
      st4 AS (
        SELECT *,
          ${m(1, 1)} * (${m(2, 2)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 2)})
            - ${m(1, 2)} * (${m(2, 1)} * ${m(3, 3)} - ${m(2, 3)} * ${m(3, 1)})
            + ${m(1, 3)} * (${m(2, 1)} * ${m(3, 2)} - ${m(2, 2)} * ${m(3, 1)})
            AS det
        FROM st3),
      st5 AS (
        SELECT *, $minv AS minv, len(sm[1]) AS t FROM st4),
      st6 AS (
        SELECT *, list_transform(generate_series(1, 3), a ->
          list_transform(generate_series(1, CAST(t AS INT)), j ->
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(generate_series(1, CAST(n AS INT)), i ->
                xr[i][a] * sm[i][j])), (acc, x) -> acc + x))) AS bb
        FROM st5),
      st7 AS (
        SELECT *, list_transform(generate_series(1, 3), a ->
          list_transform(generate_series(1, CAST(t AS INT)), j ->
            minv[a][1] * bb[1][j] + minv[a][2] * bb[2][j]
              + minv[a][3] * bb[3][j])) AS ccm
        FROM st6),
      st8 AS (
        SELECT *, list_transform(generate_series(1, CAST(n AS INT)), i ->
          list_transform(generate_series(1, CAST(t AS INT)), j ->
            xr[i][1] * ccm[1][j] + xr[i][2] * ccm[2][j]
              + xr[i][3] * ccm[3][j])) AS sh
        FROM st7),
      cent AS MATERIALIZED (
        SELECT samples, n, rvec, det,
          list_transform(generate_series(1, CAST(n AS INT)), i ->
            list_transform(generate_series(1, CAST(n AS INT)), k ->
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                list_transform(generate_series(1, CAST(t AS INT)),
                  j -> sh[i][j] * sh[k][j])),
                (acc, x) -> acc + x))) AS gm
        FROM st8),
      g1 AS MATERIALIZED (SELECT n, gm FROM cent),""" +
      axisSql(1, iters, deflate = true) + "," +
      axisSql(2, iters, deflate = true) + s""",
      idx AS (
        SELECT unnest(generate_series(1, CAST(n AS INT))) AS i,
          samples, rvec, det
        FROM cent)
      SELECT idx.samples[idx.i] AS sample,
        CASE WHEN idx.det <> 0.0 THEN
          (round(fin1.v[idx.i] * fin1.sgn / sqrt(ray1.lam_den)
            * sqrt(ray1.lam_num / ray1.lam_den)
            / sqrt(idx.rvec[idx.i]), 6) + 0.0) END AS $o1,
        CASE WHEN idx.det <> 0.0 THEN
          (round(fin2.v[idx.i] * fin2.sgn / sqrt(ray2.lam_den)
            * sqrt(ray2.lam_num / ray2.lam_den)
            / sqrt(idx.rvec[idx.i]), 6) + 0.0) END AS $o2
      FROM idx, fin1, fin2, ray1, ray2
      ORDER BY sample"""
  }

  /** Fixed Guttman-step count of [[q72Nmds]] — a determinism CONTRACT
    * (g1/s17's fixed-rounds discipline): engine and the spec's JVM
    * replica run exactly this many majorization steps from the
    * identical PCoA init, so the configuration is bit-reproducible
    * with no convergence test to disagree on. Convergence-motivated
    * too: from the metric init the stress trajectory on the test
    * corpora is flat well before step 12 (spec-gated:
    * stress(12) ≤ stress(0)). */
  final val NmdsIters = 12

  /** q72: NON-METRIC MULTIDIMENSIONAL SCALING (Kruskal 1964; the core
    * of vegan's metaMDS) — the single most-used ordination on a real
    * comparison page: find 2-D coordinates whose distances preserve
    * only the RANK ORDER of the Bray–Curtis dissimilarities. Each
    * fixed-contract iteration: (1) configuration distances d_ij;
    * (2) EXACT least-squares isotonic regression of d onto the fixed
    * dissimilarity rank order (ties broken (i, j)) via the minimax
    * characterization d̂_k = max_{a≤k} min_{b≥k} avg(d_a..d_b) —
    * expressed RELATIONALLY: one running-sum window gives prefix
    * sums, the (a, b) average lattice is a rank-bounded self-join, a
    * per-`a` descending-`b` cumulative min gives the inner min, and a
    * max-by-`b` aggregate the outer max (min/max on doubles are
    * order-free — no PAVA loop, no driver-side pass); (3) Kruskal
    * stress-1 = √(Σ(d−d̂)²/Σd²); (4) the Guttman transform
    * x'_u = n⁻¹ Σ_v (d̂_uv/d_uv)(x_u − x_v) with round-12 terms
    * summed in DECIMAL(38,12) (order-free), landing the new
    * configuration on the round-12 grid. Init = the q31 PCoA
    * configuration (vegan's recommended metric start), which also
    * pins the solution's rotation/reflection deterministically.
    *
    * WHY NO DuckDB ORACLE (the sanctioned spec-gated-only class,
    * authorized for NMDS by the r16 verdict): stress majorization has
    * no closed-form unique fixpoint — correctness is gated by a
    * bitwise JVM replica of the full 12-step trajectory plus planted
    * fixtures (a centered exact-metric configuration is a bitwise
    * FIXED POINT with stress 0, and stays one under any monotone
    * transform of the dissimilarities — the defining nonmetric
    * property; a rank violator pools and moves).
    *
    * Scale shape: the only fact-scale work is q30's checkpointed
    * abundance aggregate. The pair frame is sample-dim-bounded
    * (m = n(n−1)/2), the isotonic lattice m² — bounded by the SAMPLE
    * dimension, never the corpus (q68's lattice class). At 10⁴⁺
    * samples the lattice form dies like q31's single-row matrix does;
    * the blocked path is q31b's: distribute the (a, b) lattice as
    * triples and keep the same window/aggregate algebra. */
  def q72Nmds(spark: SparkSession, dir: String,
      iters: Int = NmdsIters): DataFrame = {
    val bc = graft.Memo.bc.get(spark, dir)
    nmds(bc, graft.Memo.pcoa.get(spark, dir), iters)
  }

  /** [[q72Nmds]]'s core over a (sample_a, sample_b, bray_curtis) pair
    * frame and a (sample, axis1, axis2) init — split out so planted
    * specs can feed exact geometries and arbitrary monotone
    * dissimilarity transforms directly. */
  def nmds(bc0: DataFrame, init0: DataFrame, iters: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val d3812 = "decimal(38,12)"
    val ids = graft.Ckpt(init0.select(col("sample"))
      .withColumn("i", row_number().over(W.orderBy("sample"))))
    val n = ids.count()
    require(n >= 2, s"nmds needs at least 2 samples, got $n")
    val pairs = graft.Ckpt(bc0
      .join(ids.select(col("sample").as("sample_a"), col("i")), "sample_a")
      .join(ids.select(col("sample").as("sample_b"), col("i").as("j")),
        "sample_b")
      .select(col("i"), col("j"),
        col("bray_curtis").cast("double").as("dd"))
      .withColumn("r", row_number().over(W.orderBy("dd", "i", "j"))))
    var cfg = graft.Ckpt.stats(init0.join(ids, "sample")
      .select(col("i"), col("axis1").cast("double").as("x"),
        col("axis2").cast("double").as("y")))
    // configuration distances on the fixed rank spine
    def distances(c: DataFrame): DataFrame = pairs
      .join(c.select(col("i"), col("x").as("xi"), col("y").as("yi")), "i")
      .join(c.select(col("i").as("j"), col("x").as("xj"),
        col("y").as("yj")), "j")
      .withColumn("d",
        sqrt((col("xi") - col("xj")) * (col("xi") - col("xj"))
          + (col("yi") - col("yj")) * (col("yi") - col("yj"))))
    // exact isotonic fit of d onto the rank order: the minimax
    // formula over the prefix-sum average lattice (rank-bounded)
    def disparities(dist: DataFrame): DataFrame = {
      val ps = dist.select(col("r"), col("d"))
        .withColumn("ps", sum(col("d")).over(W.orderBy("r")
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      val ab = ps
        .select(col("r").as("a"), col("ps").as("psa"), col("d").as("da"))
        .join(ps.select(col("r").as("b"), col("ps").as("psb")),
          col("a") <= col("b"))
        .withColumn("avg", (col("psb") - col("psa") + col("da"))
          / (col("b") - col("a") + lit(1)).cast("double"))
      ab.withColumn("smin", min(col("avg")).over(W.partitionBy("a")
          .orderBy(col("b").desc)
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
        .groupBy(col("b").as("r"))
        .agg(max(col("smin")).as("dhat"))
    }
    for (_ <- 1 to iters) {
      // dist stays LAZY (r18): it reads only checkpointed inputs
      // (pairs, cfg), so the dj checkpoint below evaluates the same
      // deterministic join twice within ONE action instead of paying
      // a third materialization action per step — 12 fewer jobs over
      // the contract iterations, identical doubles either way
      val dist = distances(cfg)
      val dj = graft.Ckpt.stats(dist.join(disparities(dist), "r")
        .withColumn("w", when(col("d") > lit(0.0),
          col("dhat") / col("d")).otherwise(lit(0.0))))
      val contrib = dj.select(col("i").as("s"),
          round(col("w") * (col("xi") - col("xj")), 12).as("tx"),
          round(col("w") * (col("yi") - col("yj")), 12).as("ty"))
        .unionByName(dj.select(col("j").as("s"),
          round(col("w") * (col("xj") - col("xi")), 12).as("tx"),
          round(col("w") * (col("yj") - col("yi")), 12).as("ty")))
        .groupBy("s")
        .agg(
          round(sum(col("tx").cast(d3812)).cast("double")
            / lit(n.toDouble), 12).as("nx"),
          round(sum(col("ty").cast(d3812)).cast("double")
            / lit(n.toDouble), 12).as("ny"))
      // stats-resetting checkpoint: cfg is ITERATED SELF-REFERENTIAL
      // state (each step joins cfg with frames derived from cfg), so a
      // plain checkpoint compounds sizeInBytes exponentially across the
      // 12 steps — the g28 planner-BigInteger failure mode
      cfg = graft.Ckpt.stats(cfg.join(contrib, col("i") === col("s"),
          "left_outer")
        .select(col("i"), coalesce(col("nx"), col("x")).as("x"),
          coalesce(col("ny"), col("y")).as("y")))
    }
    val distF = graft.Ckpt.stats(distances(cfg))
    val stress = distF.join(disparities(distF), "r")
      .agg(
        sum(round((col("d") - col("dhat")) * (col("d") - col("dhat")), 12)
          .cast(d3812)).as("num"),
        sum(round(col("d") * col("d"), 12).cast(d3812)).as("den"))
      .select(when(col("den") > 0,
        graft.GraftFunctions.roundz(
          sqrt(col("num").cast("double") / col("den").cast("double")), 6))
        .as("stress1"))
    cfg.join(ids, "i")
      .crossJoin(broadcast(stress)) // one-row final stress (q72)
      .select(col("sample"),
        graft.GraftFunctions.roundz(col("x"), 6).as("axis1"),
        graft.GraftFunctions.roundz(col("y"), 6).as("axis2"),
        col("stress1"))
      .orderBy("sample")
  }
}
