package perfbench

import scala.collection.mutable

/** Spans kept in memory while a traced run measures, written at exit.
  *
  * A span is (id, parent, name, start, end, run id). Parents come from a
  * per-thread stack, so nested calls into the library's layers form a
  * tree and each layer's self time is its wall time minus its children's.
  * With tracing off, [[span]] only runs its body.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, run: String)

  @volatile var enabled = false
  var runId = ""
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 1

  private def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        record(Span(id, parents.headOption.getOrElse(0), name, t0, t1, runId))
      }
    }

  /** A span whose end is only known later (the sink re-read inside
    * `runOne` ends when its count returns, outside any call we wrap). */
  def record(s: Span): Unit = if (enabled) synchronized { spans += s }
  def open(): (Int, Int) = (newId(), stack.get().headOption.getOrElse(0))
  /** Make `id` the parent of spans opened until [[pop]]. */
  def push(id: Int): Unit = stack.set(id :: stack.get())
  def pop(): Unit = stack.set(stack.get().drop(1))

  def all: Seq[Span] = synchronized { spans.toList }
  def count: Int = synchronized { spans.size }

  /** name -> (total wall s, self s, calls). */
  def selfTimes: Map[String, (Double, Double, Int)] = {
    val ss = all
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    ss.foreach(s => if (s.parent != 0) childNs(s.parent) += s.endNs - s.startNs)
    ss.groupBy(_.name).map { case (n, g) =>
      val total = g.map(s => s.endNs - s.startNs).sum
      val self = g.map(s => s.endNs - s.startNs - childNs(s.id)).sum
      n -> (total / 1e9, self / 1e9, g.size)
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val spans = all.sortBy(_.startNs)
    val base = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_s":${(s.startNs - base) / 1e9},"end_s":${(s.endNs - base) / 1e9},"run":"${s.run}"}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    ()
  }
}
