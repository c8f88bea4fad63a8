package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory spans recorded around the calls the benchmark makes into
  * each layer. Spans are kept until the run ends and then written out.
  *
  * Layers, outermost first: `op` (the root span of one benchmark
  * operation), `table` (one `GraftTable` call), `spark` (one Spark job,
  * from [[JobListener]]), `fs` (one `graft://` filesystem call, from
  * [[TimedGraftFs]]) and `remote` (one call served by
  * [[LatencyRemoteFs]]). A span knows its op; a call on a Spark task
  * thread finds its op through the local property [[OpProperty]] that
  * tasks inherit, a call on the driver through a thread-local.
  */
object Trace {
  final case class Span(op: Long, layer: String, name: String,
      start: Long, end: Long)

  val OpProperty = "perfbench.op"

  @volatile var enabled = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val opLocal = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def clear(): Unit = spans.clear()
  def all: Seq[Span] = spans.asScala.toSeq

  /** The op the calling thread works for, or 0. */
  def currentOp: Long = {
    val v = opLocal.get.longValue
    if (v != 0L) v
    else {
      val tc = org.apache.spark.TaskContext.get()
      val p = if (tc == null) null else tc.getLocalProperty(OpProperty)
      if (p == null) 0L else p.toLong
    }
  }

  /** Runs `body` as op `id` on this thread (and, through Spark local
    * properties, in every task it schedules). */
  def withOp[T](id: Long, name: String, sc: Option[org.apache.spark.SparkContext])(
      body: => T): T = {
    opLocal.set(id)
    sc.foreach { c =>
      c.setLocalProperty(OpProperty, id.toString)
      c.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    }
    val t0 = System.nanoTime()
    try body
    finally {
      if (enabled) spans.add(Span(id, "op", name, t0, System.nanoTime()))
      opLocal.set(0L)
      sc.foreach { c =>
        c.setLocalProperty(OpProperty, null)
        c.clearJobGroup()
      }
    }
  }

  private val activeLayers = new ThreadLocal[mutable.Set[String]] {
    override def initialValue(): mutable.Set[String] = mutable.Set.empty
  }

  /** A span around one call into a layer, on the calling thread. A call
    * made while the same layer is already active on the thread (a
    * filesystem method calling another) belongs to the outer span. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val active = activeLayers.get
    if (!active.add(layer)) return body
    val op = currentOp
    val t0 = System.nanoTime()
    try body
    finally {
      active.remove(layer)
      spans.add(Span(op, layer, name, t0, System.nanoTime()))
    }
  }

  def remote(kind: String, t0: Long, t1: Long): Unit =
    if (enabled) spans.add(Span(currentOp, "remote", s"remote.$kind", t0, t1))

  def job(op: Long, jobId: Int, t0: Long, t1: Long): Unit =
    if (enabled) spans.add(Span(op, "spark", s"job.$jobId", t0, t1))

  val LayerDepth: Map[String, Int] =
    Map("op" -> 0, "table" -> 1, "spark" -> 2, "fs" -> 3, "remote" -> 4)

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer, summed over ops, in nanoseconds.
    *
    * A span's parent is the innermost span of the same op, of a higher
    * layer, whose interval contains it; its self time is its length minus
    * the part of it that its children's intervals cover. */
  def selfTimeByLayer(ss: Seq[Span]): Map[String, Long] = {
    val out = mutable.Map[String, Long]().withDefaultValue(0L)
    ss.filter(_.op != 0L).groupBy(_.op).values.foreach { opSpans =>
      val sorted = opSpans.sortBy(s => (LayerDepth(s.layer), s.start)).toIndexedSeq
      val children = mutable.Map[Int, mutable.ArrayBuffer[(Long, Long)]]()
      sorted.indices.foreach { i =>
        val s = sorted(i)
        val d = LayerDepth(s.layer)
        // innermost = highest-depth container of a strictly lower layer
        var best = -1
        var bestDepth = -1
        var j = 0
        while (j < sorted.size) {
          val p = sorted(j)
          val pd = LayerDepth(p.layer)
          // job times come from listener events in whole milliseconds
          val slack = if (p.layer == "spark" || s.layer == "spark") 1000000L else 0L
          if (pd < d && pd > bestDepth && p.start - slack <= s.start &&
              s.end <= p.end + slack) {
            best = j; bestDepth = pd
          }
          j += 1
        }
        if (best >= 0)
          children.getOrElseUpdate(best, mutable.ArrayBuffer()) += ((s.start, s.end))
      }
      sorted.indices.foreach { i =>
        val s = sorted(i)
        val covered = children.get(i).map(cs => unionLength(cs.toSeq)).getOrElse(0L)
        out(s.layer) += math.max(0L, (s.end - s.start) - covered)
      }
    }
    out.toMap
  }

  /** Writes every span as one CSV line: op,layer,name,start_ns,end_ns. */
  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(new java.io.BufferedWriter(
      new java.io.FileWriter(file)))
    try {
      w.println("op,layer,name,start_ns,end_ns")
      all.sortBy(_.start).foreach(s =>
        w.println(s"${s.op},${s.layer},${s.name},${s.start},${s.end}"))
    } finally w.close()
  }
}
