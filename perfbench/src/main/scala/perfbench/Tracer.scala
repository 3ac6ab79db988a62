package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Spans recorded from the benchmark's own files around its calls into
  * graft, plus the job attribution that goes with them. Off (every
  * method a plain call-through) outside traced passes, so untraced
  * timings carry no tracing cost. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val telemetry = new Telemetry(sc)
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var request = ""
  private var on = false

  def enabled: Boolean = on

  /** Starts a traced pass: the listener is attached only while one runs. */
  def start(): Unit = { sc.addSparkListener(telemetry); on = true }

  def stop(): Unit = {
    telemetry.drain()
    sc.removeSparkListener(telemetry)
    on = false
  }

  private def now: Double = System.nanoTime() / 1e6 - nanoOffsetMs
  // wall-clock ms with nanoTime resolution, comparable to job times
  private val nanoOffsetMs = System.nanoTime() / 1e6 - System.currentTimeMillis()

  def span[T](name: String)(body: => T): T =
    if (!on) body else {
      val id = spans.size
      spans += Span(id, name, stack.headOption.getOrElse(-1), request, now, Double.NaN)
      stack = id :: stack
      try body finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endMs = now)
      }
    }

  /** A span for one phase of an op; its jobs are tagged with the phase. */
  def phase[T](name: String)(body: => T): T =
    if (!on) body else {
      sc.setJobGroup(request, name)
      try span(name)(body) finally sc.clearJobGroup()
    }

  /** The root span of one op: every span and job inside belongs to it. */
  def op[T](id: String, name: String)(body: => T): T =
    if (!on) body else {
      request = id
      telemetry.opStarted(id)
      try span(name)(body) finally telemetry.drain()
    }

  def load[T](body: => T): T = span("tables.load")(body)

  /** Spans of op `id` named `name`, and their summed seconds. */
  def seconds(id: String, name: String): Double =
    spans.iterator.filter(s => s.request == id && s.name == name).map(_.seconds).sum
  def find(id: String, name: String): Option[Span] =
    spans.find(s => s.request == id && s.name == name)
}
