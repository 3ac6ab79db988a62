package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main. Emits ONE JSON line whose LAST fields are the
  * primary numbers: `...,"value":N,"queries":{...}}`.
  *
  * The primary timing is NOOP-MATERIALIZED — every result row is
  * produced and handed to the noop datasource-v2 sink. `count()` alone
  * lets Catalyst join-eliminate and column-prune work that doesn't
  * feed the count (it hid a 15× HOF re-evaluation for a full round).
  *
  * Timing protocol (r6): every query runs THREE times; the FIRST rep
  * is discarded (it pays that plan shape's one-time codegen + JIT —
  * up to 10–18 s on the hash-heavy dedup plans) and the reported
  * number is the min of the remaining two. ALL raw rep times are
  * printed under `"raw"` so a loaded machine is visible in the
  * artifact itself instead of masquerading as a code regression —
  * r5's artifact read 4.4× slower purely from driver-machine load,
  * and min-of-2 couldn't prove otherwise.
  *
  * Failure protocol (r11): `"failed"` is a name→MESSAGE map, not a
  * bare name list — r10's g5 convergence failure reached the artifact
  * as just a name while the reason went to stderr, which the driver's
  * bounded tail capture dropped, and diagnosing it cost a 7-minute
  * re-run. Semantics: a query appears in `failed` when AT LEAST ONE
  * rep threw (the message is the first failure's); if only a later
  * rep failed, the surviving warm reps still report a (valid) min, so
  * a query can carry both a failed entry and a plausible time — the
  * -1 raw entries say which reps died. A query whose reported value
  * is -1 had no surviving warm rep and contributes nothing to the
  * suite total.
  *
  * Field ORDER is part of the contract with the harness: the driver
  * captures only a bounded TAIL of the line (the round-3 artifact kept
  * just the legacy count map and lost the materialized numbers), so
  * `value`/`queries` go last (raw reps go BEFORE them) and per-query
  * seconds are rounded to 3 decimals to keep the whole primary
  * section inside a ~2 KB window.
  *
  * Plan-shape telemetry (r12 verdict #6): each rep is one
  * [[Meter.measure]] interval. `shuffle_bytes` maps each key to
  * `[bytesRead, bytesWritten]` and `fixpoint_steps` maps each key that
  * ran an iterative loop to `{tag: steps}`, both from the SAME warm rep
  * whose time is reported — deterministic per plan, so a lost
  * broadcast, a new exchange or extra steps show as a diff even when
  * wall time is noise.
  * Cross-run gate (r12 verdict #4): keys whose reported min exceeds
  * [[CrossRunGate]]× their value in the newest committed BENCH_LOCAL
  * artifact get one extra end-of-suite rep and, if still slow, land
  * in the `suspect` map — load is flagged as load.
  */
object Bench {

  /** Warm-rep max/min ratio above which a query earns one extra
    * end-of-suite rep (see the contention sanity gate below). */
  val SpreadGate = 3.0

  /** Round-over-round ratio above which a query's reported time is
    * treated as contention-suspect: if this run's min exceeds
    * CrossRunGate × the previous committed artifact's value, the query
    * gets ONE more end-of-suite rep, and if still above the gate it is
    * listed in the artifact's `suspect` map (r12: the committed
    * close-out artifact reported q1 at 7.6 s from a loaded box while
    * the same-day clean run had 0.86 s — every warm rep was polluted,
    * so the within-run spread gate couldn't see it; only a cross-run
    * reference can). */
  val CrossRunGate = 3.0

  /** Prior values below this aren't gated — a 0.05 s → 0.2 s move is
    * scheduling noise, not contention evidence. */
  val CrossRunFloorSec = 0.2

  /** JSON string escape (Verify's rules): backslash, quote, and ALL
    * control chars — exception messages routinely carry newlines. */
  private[graft] def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Run every query `reps` times against `sfDir` and render the
    * one-line JSON artifact, plus a COMPACT headline line (value, key
    * counts, failed/suspect — no per-key maps). The driver's capture
    * is a bounded TAIL of stdout and the full line overflowed it at
    * 246 keys (BENCH_r16 `parsed: null`), so main prints the full
    * line first and the short headline line LAST — the headline
    * always survives a fixed-size tail capture intact. Factored out
    * of main so the failure path is spec-gated (ContractSpec) instead
    * of trusted — r9/r10 both shipped artifact bugs in exactly this
    * code. */
  private[graft] def benchLine(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      reps: Int,
      prior: Map[String, Double] = Map.empty): (String, String) = {
    // A rep that throws must not masquerade as a (fast) timing — r9
    // benched five analysis-broken queries as the wall time of their
    // exception. Track the FIRST failure message per query; failures
    // surface in the artifact's "failed" map and as -1 raw entries.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def time(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try { body; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        if (!failed.contains(name)) failed(name) = msg
        System.err.println(s"[bench] $name FAILED: $msg")
        -1.0
      }
    }
    def noopWrite(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val names = queries.keys.toSeq.sorted
    // one rep = (wall seconds, its Meter reading): wall time on a shared
    // box is noisy, shuffle bytes and fixpoint steps are deterministic
    // properties of the executed plan (r12 verdict #6), so a lost
    // broadcast, a new exchange or extra steps show in the artifact
    // even under load. Each rep is its own measured interval, so
    // nothing one query does is attributed to another.
    type Rep = (Double, Meter.Reading)
    def rep(name: String): Rep =
      Meter.measure(spark)(time(name)(noopWrite(queries(name)(spark, sfDir))))
    // rep 1 = cold (plan codegen + JIT), discarded; reported value =
    // min of the warm reps. Raw times for ALL reps go in the artifact.
    // A query whose first rep throws is not re-run (same exception 3×
    // would just triple the noise); its raw entry is [-1].
    val rawTimes0: Seq[(String, Seq[Rep])] =
      names.map { name =>
        val first = rep(name)
        val rest = if (first._1 < 0) Nil else Seq.fill(reps - 1)(rep(name))
        name -> (first +: rest)
      }
    // Contention sanity gate (r11, the r8-r10 carried ask): a loaded
    // box shows up as wild warm-rep spread (r10's committed d11 triple
    // was [8.9, 25.6, 55.5] for a true 2.1 s query). Any query whose
    // warm max/min exceeds SpreadGate gets ONE more rep at the END of
    // the suite — by then whatever contended has usually passed, and
    // min-of-warm picks the clean number. The extra rep is visible in
    // the raw array (length reps+1), so the artifact still shows the
    // pollution instead of hiding it.
    val rawTimes1: Seq[(String, Seq[Rep])] =
      rawTimes0.map { case (name, ts) =>
        val warm = (if (ts.size > 1) ts.drop(1) else ts).map(_._1).filter(_ >= 0)
        val spread = warm.nonEmpty && warm.min > 0 && warm.max / warm.min > SpreadGate
        if (spread) {
          System.err.println(f"[bench] $name warm spread ${warm.max / warm.min}%.1f× — one clean-up rep")
          name -> (ts :+ rep(name))
        } else name -> ts
      }
    // GRAFT_BENCH_REPS=1 must not crash: with a single rep there is no
    // cold rep to discard, so the lone time IS the reported time.
    // Failed queries (raw [-1]) report -1 — visibly broken, and they
    // do NOT contribute to the suite total.
    def warmOf(ts: Seq[Rep]): Seq[Rep] =
      (if (ts.size > 1) ts.drop(1) else ts).filter(_._1 >= 0)
    def minWarm(ts: Seq[Rep]): Double = {
      val warm = warmOf(ts)
      if (warm.isEmpty) -1.0 else warm.map(_._1).min
    }
    // Cross-run sanity gate (r12 verdict #4): the within-run spread
    // gate is blind when EVERY warm rep is polluted (r12's close-out
    // run reported q1 at 7.6 s; the same-day clean run had 0.86 s).
    // Against the previous committed artifact: a reported min above
    // CrossRunGate × its prior value earns ONE more end-of-suite rep;
    // if still above the gate, the key lands in the artifact's
    // `suspect` map — the jump is flagged as load, not silently
    // recorded as a code regression.
    val rawTimes: Seq[(String, Seq[Rep])] =
      rawTimes1.map { case (name, ts) =>
        val v = minWarm(ts)
        val p = prior.getOrElse(name, -1.0)
        if (v > 0 && p >= CrossRunFloorSec && v > CrossRunGate * p) {
          System.err.println(
            f"[bench] $name $v%.2f s vs prior $p%.2f s (>${CrossRunGate}×) — one cross-run rep")
          name -> (ts :+ rep(name))
        } else name -> ts
      }
    val matTimes = rawTimes.map { case (n, ts) => n -> minWarm(ts) }
    // shuffle bytes and steps of the SAME warm rep whose time is
    // reported — the clean rep's plan is the one the numbers describe
    val reported = rawTimes.map { case (n, ts) =>
      n -> warmOf(ts).minByOption(_._1).map(_._2)
    }
    val suspect = matTimes.filter { case (n, v) =>
      val p = prior.getOrElse(n, -1.0)
      v > 0 && p >= CrossRunFloorSec && v > CrossRunGate * p
    }

    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(ts: Seq[(String, Double)]): String =
      ts.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    def jraw(ts: Seq[(String, Seq[Rep])]): String =
      ts.map { case (k, vs) =>
        s"\"" + k + "\":" + vs.map(v => r3(v._1)).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val total = matTimes.map(_._2).filter(_ >= 0).sum
    val failedJson = failed.toSeq.sortBy(_._1)
      .map { case (k, v) => jq(k) + ":" + jq(v) }.mkString("{", ",", "}")
    // Fixpoint step counts (r11 verdict #2): each iterative graph
    // operator records the relaxation steps its DATA needed (g5 took
    // 43 at sf0.1 vs 24 at sf0.01 — the class of silent cost growth
    // wall time alone can't attribute). Emitting them per artifact
    // makes a data regen that doubles an iteration's step count
    // visible as a diff, not a mystery slowdown. Keyed by the registry
    // key that recorded them, then by loop tag; keys without steps
    // are left out.
    val stepsJson = reported.sortBy(_._1)
      .flatMap { case (k, r) => r.map(_.steps).filter(_.nonEmpty).map(k -> _) }
      .map { case (k, steps) =>
        jq(k) + ":" + steps.toSeq.sortBy(_._1)
          .map { case (tag, n) => jq(tag) + ":" + n }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
    val suspectJson = suspect.sortBy(_._1)
      .map { case (k, v) => jq(k) + ":" + r3(v) }.mkString("{", ",", "}")
    // [read, written] per key, from the reported (min-warm) rep
    val shuffleJson = reported.sortBy(_._1)
      .map { case (k, r) =>
        val (rd, wr) = r.fold((-1L, -1L))(m => (m.shuffleRead, m.shuffleWrite))
        jq(k) + s":[$rd,$wr]"
      }.mkString("{", ",", "}")
    // headline fields FIRST in the full line (r16 verdict), per-key
    // maps after; the compact line repeats the headline alone so the
    // driver's bounded tail capture always holds one complete line
    def head(fj: String, sj: String) =
      s""""metric":"total","unit":"sec","sf":"$sfDir",""" +
        s""""materialized":true,"runs":$reps,"protocol":"drop-first-min-rest",""" +
        s""""value":${r3(total)},"n_keys":${matTimes.size},""" +
        s""""n_failed":${failed.size},"n_suspect":${suspect.size},""" +
        s""""failed":$fj,"suspect":$sj"""
    val full = s"{${head(failedJson, suspectJson)}," +
      s""""fixpoint_steps":$stepsJson,"shuffle_bytes":$shuffleJson,""" +
      s""""raw":${jraw(rawTimes)},"queries":${jmap(matTimes)}}"""
    // mass failure must not balloon the headline past the capture
    // window; n_failed/n_suspect keep the count either way
    val compact =
      if (failedJson.length + suspectJson.length > 1200) s"{${head("{}", "{}")}}"
      else s"{${head(failedJson, suspectJson)}}"
    (full, compact)
  }

  /** Per-query seconds from the newest committed BENCH_LOCAL_r*.json
    * (the builder's clean full-registry artifact — preferred over the
    * driver's BENCH_r*.json, whose r12 close-out capture was itself
    * the polluted run this gate exists to catch). With `sf` given,
    * an artifact whose `"sf"` names another data directory is skipped:
    * a time at another scale is no reference (artifacts without `sf`
    * still count). Best-effort: any parse/IO failure returns empty,
    * and the cross-run gate simply doesn't fire. */
  private[graft] def loadPriorQueries(
      dir: java.nio.file.Path = java.nio.file.Paths.get("."),
      sf: Option[String] = None): Map[String, Double] =
    try {
      import scala.jdk.CollectionConverters._
      val pat = java.util.regex.Pattern.compile(
        "BENCH_LOCAL_r0*([0-9]+)(_[0-9]+)?\\.json")
      def read(p: java.nio.file.Path): String =
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val sfOf = java.util.regex.Pattern.compile("\"sf\":\"([^\"]*)\"")
      def sameSf(txt: String): Boolean = {
        val m = sfOf.matcher(txt)
        !m.find() || sf.forall(_ == m.group(1))
      }
      val all = java.nio.file.Files.list(dir).iterator().asScala
        .flatMap { p =>
          val m = pat.matcher(p.getFileName.toString)
          if (m.matches()) Some((m.group(1).toInt, read(p))) else None
        }.filter(t => sameSf(t._2)).toSeq
      if (all.isEmpty) return Map.empty
      // A round can carry several artifacts (the timestamp-suffixed
      // siblings a late re-run writes); r12's round had one clean and
      // one polluted. The per-key MIN across the newest round's
      // artifacts is the clean reference by construction.
      val maxRound = all.map(_._1).max
      def parse(txt: String): Map[String, Double] = {
        val qIdx = txt.lastIndexOf("\"queries\":")
        if (qIdx < 0) return Map.empty
        val kv = java.util.regex.Pattern
          .compile("\"([^\"]+)\":(-?[0-9]+(?:\\.[0-9]+)?)")
          .matcher(txt.substring(qIdx))
        val b = Map.newBuilder[String, Double]
        while (kv.find()) b += kv.group(1) -> kv.group(2).toDouble
        b.result()
      }
      all.filter(_._1 == maxRound).map(t => parse(t._2))
        .foldLeft(Map.empty[String, Double]) { (acc, m) =>
          (acc.keySet ++ m.keySet).map { k =>
            val vs = Seq(acc.get(k), m.get(k)).flatten.filter(_ > 0)
            k -> (if (vs.isEmpty) -1.0 else vs.min)
          }.toMap
        }.filter(_._2 > 0)
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "3").toInt
    val spark = LocalSession()
    // Warm-up: trigger file listing, codegen, and JIT once so the
    // first timed query doesn't pay session start-up costs.
    try SparkEntry.queries.get("q1_pricing_summary")
      .foreach(_(spark, sfDir).count())
    catch { case _: Throwable => }

    // GRAFT_BENCH_ONLY=k1,k2 restricts the run (local iteration only;
    // the driver sets no env and always benches the full registry)
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val (line, headline) = benchLine(spark, sfDir,
      SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) },
      reps, prior = loadPriorQueries(sf = Some(sfDir)))
    println(line)
    // compact headline LAST: the driver keeps a bounded tail of
    // stdout, so the final short line is the one guaranteed to land
    // complete in its capture (the full line above overflows it)
    println(headline)
    // The driver's artifact is a BOUNDED TAIL of stdout: the r6
    // BENCH_r6.json lost its "raw" arrays and the first 11 per-query
    // entries to front-truncation. Persist the FULL line to a repo
    // file per round so the committed evidence never depends on the
    // capture window. Round = max existing BENCH_r<k>.json + 1 (the
    // driver writes its file after this main runs).
    try {
      val cwd = java.nio.file.Paths.get(".")
      val pat = java.util.regex.Pattern.compile("BENCH_r0*([0-9]+)\\.json")
      val it = java.nio.file.Files.list(cwd).iterator()
      var maxR = 0
      while (it.hasNext) {
        val m = pat.matcher(it.next().getFileName.toString)
        if (m.matches()) maxR = math.max(maxR, m.group(1).toInt)
      }
      // Collision-safe: a late re-run (e.g. the driver's post-close pass
      // on a loaded box) must never clobber committed evidence. If the
      // round's artifact already exists, write a timestamp-suffixed
      // sibling instead and leave the original untouched.
      val target0 = cwd.resolve(s"BENCH_LOCAL_r${maxR + 1}.json")
      val target =
        if (java.nio.file.Files.exists(target0))
          cwd.resolve(s"BENCH_LOCAL_r${maxR + 1}_${System.currentTimeMillis()}.json")
        else target0
      java.nio.file.Files.write(target, (line + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // bench must still report on a read-only cwd
    spark.stop()
  }
}
