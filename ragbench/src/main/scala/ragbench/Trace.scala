package ragbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval. `parent` is the id of the span that caused it (0 at
  * the top level); spans of one request share `req`. Times are
  * milliseconds since the recorder started. */
final case class Span(id: Int, parent: Int, name: String, req: Int,
    startMs: Double, endMs: Double)

/** In-memory span recorder around the benchmark's calls into each layer.
  * Spans are kept until the run ends and then written out with the
  * result. When disabled, [[span]] only runs its body.
  *
  * The id of the innermost open span is also set as a Spark local
  * property, so every Spark job the body submits carries it; the
  * [[Counters]] listener turns those jobs into child spans named after
  * the engine file that issued them. */
final class Trace(val enabled: Boolean,
    sc: org.apache.spark.SparkContext) {

  val originNs: Long = System.nanoTime()
  val originWallMs: Long = System.currentTimeMillis()

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1

  def nowMs: Double = (System.nanoTime() - originNs) / 1e6

  def span[T](name: String, req: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      sc.setLocalProperty(Trace.SpanProperty, id.toString)
      val start = nowMs
      try body
      finally {
        spans += Span(id, parent, name, req, start, nowMs)
        open = open.tail
        sc.setLocalProperty(Trace.SpanProperty,
          open.headOption.map(_.toString).orNull)
      }
    }

  def recorded: Seq[Span] = spans.toSeq
}

object Trace {
  val SpanProperty = "ragbench.span"
  /** Recorder for untraced work: runs bodies and records nothing. */
  val Off = new Trace(false, null)
}
