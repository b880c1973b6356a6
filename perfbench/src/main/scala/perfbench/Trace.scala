package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext

/** One timed call into a layer: spans of one op share `op`; `parent` is
  * the enclosing span (0 at the top). Counters are snapshotted at both
  * boundaries. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, before: Snap, after: Snap)

/** In-memory span recorder. When off, `op` and `span` only run their
  * body. When on, every span tags the Spark jobs its thread starts with a
  * job group named after the span, and snapshots the collectors at entry
  * and exit. Spans nest on one stack, so one thread at a time may trace;
  * `begin`/`end` open and close a span across callbacks (stream ticks). */
final class Tracer(sc: SparkContext, collector: TaskCollector) {
  @volatile var on = false
  val spans = ArrayBuffer.empty[Span]
  private final case class Open(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, before: Snap, group: Seq[String])
  // The local properties setJobGroup sets (their constants are private
  // to Spark).
  private val groupKeys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")
  private var stack: List[Open] = Nil
  private var nextId = 1
  private var opId = 0

  def op[T](name: String)(body: => T): T =
    if (!on) body else { begin(name, op = true); try body finally end() }

  def span[T](name: String)(body: => T): T =
    if (!on) body else { begin(name); try body finally end() }

  /** Opens a span (a new op with `op`), whatever `on` says. */
  def begin(name: String, op: Boolean = false): Unit = {
    if (op) opId += 1
    val id = nextId
    nextId += 1
    val group = groupKeys.map(sc.getLocalProperty)
    val before = Jmx.snap(sc, collector)
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    stack = Open(id, stack.headOption.fold(0)(_.id), opId, name,
      System.nanoTime(), before, group) :: stack
  }

  /** Closes the innermost open span and puts back the job group (a
    * stream's own, say) that it replaced. */
  def end(): Unit = {
    val t1 = System.nanoTime()
    val o = stack.head
    stack = stack.tail
    groupKeys.zip(o.group).foreach { case (k, v) => sc.setLocalProperty(k, v) }
    spans += Span(o.id, o.parent, o.op, o.name, o.startNs, t1, o.before,
      Jmx.snap(sc, collector))
  }

  /** Spans with self time (duration minus time covered by children) and
    * counter deltas, as JSON-ready maps. */
  def report: Seq[Map[String, Any]] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.toSeq.sortBy(_.id).map { s =>
      val d = s.after - s.before
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs,
        "dur_ns" -> (s.endNs - s.startNs),
        "self_ns" -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)),
        "counters" -> K.names.indices.map(i => K.names(i) -> d(i)).toMap)
    }
  }
}
