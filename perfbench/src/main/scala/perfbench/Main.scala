package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** What the traced run measured for one op. */
final case class OpLayer(build: Double, plan: Double, exec: Double,
    load: Double, all: Counts, execCounts: Counts, idle: Double,
    classes: Long, compileNs: Long, filesListed: Long, outputFiles: Long)

/** One op as it ran. `rows` is kept for the correctness check, which
  * runs after the timed phase. */
final case class Done(spec: JsonNode, pass: Int, traced: Boolean,
    latency: Double, rows: Array[Row], cols: Seq[String], error: String,
    layer: Option[OpLayer]) {
  def name: String = spec.get("name").asText
  def kind: String = spec.get("kind").asText
}

/** Runs one workload of the user-flow benchmark in this JVM:
  * `perfbench.Main <plan.json> <result.json>`.
  *
  * The plan, which run.py derives from the run seed, names the data,
  * the warm-up ops and the timed passes. Set-up is the SparkSession
  * with GraftExtensions, the listing of the workload's tables and one
  * cold pass of warm-up ops; it ends when the first timed op starts.
  * The timed phase then runs whole passes while the next one is
  * expected to end within the plan's `seconds` (at least one pass). A
  * traced run runs at least three: untraced, untraced, traced, then
  * alternating. It reports the per-layer metrics of its traced passes
  * and the cost of tracing as their wall time minus that of its
  * untraced passes after the first, which still runs slower while the
  * JIT settles. */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = args match {
    // `--sql <ops.json> <sql.json>`: the DuckDB SQL of each op, no session
    case Array("--sql", ops, out) =>
      val sql = mapper.readTree(new File(ops)).elements.asScala.map(Oracle.sql)
      mapper.writeValue(new File(out), sql.toSeq.asJava)
    case Array(plan, out) => mapper.writeValue(new File(out), run(mapper.readTree(new File(plan))))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def files(dir: Path): Long =
    if (!Files.isDirectory(dir)) 0L
    else Files.walk(dir).iterator.asScala.count { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.toLong

  def run(plan: JsonNode): JMap[String, AnyRef] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val cores = plan.get("cores").asInt
    val data = plan.get("data").asText
    val out = plan.get("out").asText
    val seconds = plan.get("seconds").asDouble
    val traceRun = plan.get("trace").asBoolean

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark)
    val ops = new Ops(spark, data, out, tracer)

    def runOp(pass: Int, spec: JsonNode, traced: Boolean): Done = {
      val id = spec.get("id").asText
      val name = spec.get("name").asText
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compile0 = CodeGenerator.compileTime
      val listed0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      var rows: Array[Row] = null
      var cols: Seq[String] = Nil
      var error: String = null
      val t0 = System.nanoTime()
      tracer.op(id, name) {
        try {
          val df = tracer.phase("build")(ops.frame(spec))
          if (tracer.enabled) tracer.phase("plan")(df.queryExecution.executedPlan)
          rows = tracer.phase("exec")(df.collect())
          cols = df.schema.fieldNames.toSeq
        } catch {
          case e: Throwable =>
            error = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
            System.err.println(s"[perfbench] $id ($name) failed: $error")
        }
      }
      val latency = (System.nanoTime() - t0) / 1e9
      val layer = if (!traced) None else {
        val t = tracer.telemetry
        val exec = tracer.find(id, "exec")
        Some(OpLayer(
          build = tracer.seconds(id, "build"), plan = tracer.seconds(id, "plan"),
          exec = exec.map(_.seconds).getOrElse(0.0),
          load = tracer.seconds(id, "tables.load"),
          all = t.countsOf(id), execCounts = t.countsOf(id, "plan", "exec"),
          idle = exec.map(s => t.idleMs(id, s.startMs, s.endMs) / 1e3).getOrElse(0.0),
          classes = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0,
          compileNs = CodeGenerator.compileTime - compile0,
          filesListed = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - listed0,
          outputFiles = spec.get("kind").asText match {
            case "ingest" => files(Paths.get(out, "x14"))
            case "export" => files(Paths.get(out, "x6"))
            case _ => 0L
          }))
      }
      Done(spec, pass, traced, latency, rows, cols, error, layer)
    }

    // ---- set-up: session (above), table listing, one cold pass
    plan.get("tables").elements.asScala.foreach { t =>
      graft.Tables.load(spark, data, t.asText).schema
    }
    val warm = plan.get("warmup").elements.asScala.toSeq.map(runOp(-1, _, traced = false))
    val setupS = System.currentTimeMillis() / 1e3 - jvmStart

    // ---- timed phase
    final case class Pass(traced: Boolean, wall: Double, gc: Double, heapMb: Double)
    val passes = mutable.ArrayBuffer.empty[Pass]
    val done = mutable.ArrayBuffer.empty[Done]
    val planned = plan.get("passes").elements.asScala.toSeq
    val minPasses = if (traceRun) 3 else 1
    val classesBefore = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    while (i < planned.size &&
        (i < minPasses || elapsed + median(passes.map(_.wall).toSeq) <= seconds)) {
      val traced = traceRun && i > 0 && i % 2 == 0
      if (traced) { tracer.start(); heapPools.foreach(_.resetPeakUsage()) }
      val gc0 = gcMs
      val p0 = System.nanoTime()
      done ++= planned(i).elements.asScala.map(runOp(i, _, traced))
      val wall = (System.nanoTime() - p0) / 1e9
      if (traced) tracer.stop()
      passes += Pass(traced, wall, (gcMs - gc0) / 1e3,
        heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
      i += 1
    }
    val timedClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classesBefore

    // ---- outside the timed phase: encode results, compare repeats
    val result = new JMap[String, AnyRef]()
    result.put("setup_s", Double.box(setupS))
    result.put("timed_codegen_classes", Long.box(timedClasses))
    val passList = new JList[AnyRef]()
    passes.foreach { p =>
      val m = new JMap[String, AnyRef]()
      m.put("traced", Boolean.box(p.traced)); m.put("wall_s", Double.box(p.wall))
      passList.add(m)
    }
    result.put("passes", passList)

    val first = mutable.Map.empty[String, String]
    val opList = new JList[AnyRef]()
    (warm ++ done).foreach { d =>
      val m = new JMap[String, AnyRef]()
      m.put("id", d.spec.get("id").asText)
      m.put("name", d.name)
      m.put("pass", Int.box(d.pass))
      m.put("traced", Boolean.box(d.traced))
      m.put("latency_s", Double.box(d.latency))
      var error = d.error
      if (error == null) {
        val key = d.spec.get("check").asText
        val encoded = mapper.writeValueAsString(Cells.rows(d.rows))
        first.get(key) match {
          case None =>
            first(key) = encoded
            try m.put("sql", Oracle.sql(d.spec))
            catch { case e: IllegalArgumentException => error = e.getMessage }
            m.put("cols", d.cols.asJava)
            m.put("rows", Cells.rows(d.rows))
          case Some(prev) =>
            if (prev != encoded) error = "result differs from the first run of the same op"
        }
      }
      m.put("error", error)
      opList.add(m)
    }
    result.put("ops", opList)

    if (traceRun) {
      val tr = done.filter(_.traced).toSeq
      val ls = tr.flatMap(_.layer)
      val n = math.max(1, passes.count(_.traced)).toDouble
      def per(f: OpLayer => Double): Double = ls.map(f).sum / n
      val execS = per(_.exec)
      val layers = new JMap[String, AnyRef]()
      def put(k: String, v: Double): Unit = layers.put(k, Double.box(v))
      put("tables.load_s", per(_.load))
      put("scan.files_listed", per(_.filesListed))
      put("scan.input_bytes", per(_.all.inputBytes))
      put("scan.input_rows", per(_.all.inputRows))
      put("plan_s", per(_.plan))
      put("codegen.compile_s", per(_.compileNs / 1e9))
      put("codegen.classes", per(_.classes))
      put("build_s", per(_.build))
      put("build.jobs", per(l => (l.all.jobs - l.execCounts.jobs).toDouble))
      put("ckpt.bytes", per(_.all.ckptBytes))
      put("exec_s", execS)
      put("exec.jobs", per(_.execCounts.jobs))
      put("exec.stages", per(_.execCounts.stages))
      put("exec.tasks", per(_.execCounts.tasks))
      put("task.run_s", per(_.all.runMs / 1e3))
      put("task.cpu_s", per(_.all.cpuNs / 1e9))
      put("task.gc_s", per(_.all.gcMs / 1e3))
      put("task.retries", per(_.all.retries))
      put("shuffle.read_bytes", per(_.all.shuffleRead))
      put("shuffle.write_bytes", per(_.all.shuffleWrite))
      put("spill.bytes", per(_.all.spill))
      put("exec.core_util",
        if (execS > 0) per(_.execCounts.runMs / 1e3) / (execS * cores) else 0.0)
      put("driver.gap_s", per(_.idle))
      put("sched.delay_s", per(_.all.schedMs / 1e3))
      put("output.bytes", per(_.all.outputBytes))
      put("output.files", per(_.outputFiles))
      val tp = passes.filter(_.traced).toSeq
      put("jvm.gc_s", tp.map(_.gc).sum / n)
      put("jvm.heap_peak_mb", if (tp.isEmpty) 0.0 else tp.map(_.heapMb).max)
      put("trace.overhead_s",
        median(tp.map(_.wall)) - median(passes.drop(1).filterNot(_.traced).map(_.wall).toSeq))
      result.put("layers", layers)

      // per-step breakdown: where each step's time and bytes went
      val steps = new JMap[String, AnyRef]()
      tr.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ds) =>
        val k = ds.size.toDouble
        val l = ds.flatMap(_.layer)
        val m = new JMap[String, AnyRef]()
        def put(f: String, v: Double): Unit = m.put(f, Double.box(v))
        put("runs", k)
        put("build_s", l.map(_.build).sum / k)
        put("plan_s", l.map(_.plan).sum / k)
        put("exec_s", l.map(_.exec).sum / k)
        put("jobs", l.map(_.all.jobs).sum / k)
        put("shuffle_bytes", l.map(x => x.all.shuffleRead + x.all.shuffleWrite).sum / k)
        steps.put(name, m)
      }
      result.put("steps", steps)
      val spanList = new JList[AnyRef]()
      tracer.spans.foreach { s =>
        val m = new JMap[String, AnyRef]()
        m.put("id", Int.box(s.id)); m.put("name", s.name); m.put("parent", Int.box(s.parent))
        m.put("request", s.request)
        m.put("start_ms", Double.box(s.startMs)); m.put("end_ms", Double.box(s.endMs))
        spanList.add(m)
      }
      mapper.writeValue(new File(plan.get("spans").asText), spanList)
    }
    spark.stop()
    result
  }
}
