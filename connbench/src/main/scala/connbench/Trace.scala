package connbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import scala.collection.mutable

/** One timed call into a layer. `op` groups the spans of one operation
  * (an ingest job, a query, a generator append); `parent` is the id of
  * the enclosing span, -1 at the root. */
case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  /** The layer is the name's prefix up to the first dot. */
  def layer: String = name.takeWhile(_ != '.')
}

/** Span recorder kept in memory for the whole run. A disabled tracer
  * runs the body and records nothing, so untraced runs pay one branch. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  // (span id, op id) of the open spans on this thread, innermost first
  private val stack = new ThreadLocal[List[(Int, Long)]] {
    override def initialValue(): List[(Int, Long)] = Nil
  }
  private var nextId = 0
  private var nextOp = 0L

  /** A fresh operation id for the root spans of one request. */
  def newOp(): Long = synchronized { nextOp += 1; nextOp }

  def span[T](name: String, op: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get()
      val opId = if (op != 0L) op else parents.headOption.map(_._2).getOrElse(0L)
      stack.set((id, opId) :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        val parent = parents.headOption.map(_._1).getOrElse(-1)
        synchronized { spans += Span(id, parent, opId, name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toVector)

  /** Durations in ms of every span with this name. */
  def durationsMs(name: String): Seq[Double] =
    all.filter(_.name == name).map(_.durNs / 1e6)

  /** Write the spans as JSON lines, one span each. */
  def writeTo(path: Path, runId: String, append: Boolean = false): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.id).foreach { s =>
      sb.append(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""op":${s.op},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs}}""").append('\n')
    }
    val mode = if (append) Seq(StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      else Seq(StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
        StandardOpenOption.WRITE)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8), mode: _*)
  }
}

object Trace {
  /** Self time of each span: its duration minus the union of the
    * intervals its direct children cover (children of one span may run
    * on other threads and overlap each other). */
  def selfTimesNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue; var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total self time per layer, in seconds. */
  def selfSecondsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimesNs(spans)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => self(s.id)).sum / 1e9
    }
  }
}
