package perfbench

import org.apache.spark.SparkContext
import scala.collection.mutable.ArrayBuffer

/** One timed interval of the harness. `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, label: String, parent: Int,
    startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the harness's own calls into the engine.
  *
  * Spans nest on the driver thread. With `sc` set (traced runs) every
  * span also publishes its id as the Spark local property
  * [[Spans.Property]], so jobs, stages and tasks submitted inside it can
  * be attributed to it by a listener. Local properties are inherited by
  * threads created inside the span (a streaming query's execution
  * thread) and captured by Spark SQL's broadcast and subquery pools.
  * Untraced runs record the same spans without touching Spark.
  */
final class Spans {
  private val all = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var sc: Option[SparkContext] = None

  /** Publish span ids to `context` from now on (traced runs). */
  def publishTo(context: SparkContext): Unit = sc = Some(context)

  def records: Seq[Span] = all.toSeq

  def apply[T](name: String, label: String = "")(body: => T): T = {
    val s = Span(all.size, name, label, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime())
    all += s
    stack = s :: stack
    sc.foreach(_.setLocalProperty(Spans.Property, s.id.toString))
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.foreach(_.setLocalProperty(Spans.Property,
        stack.headOption.map(_.id.toString).orNull))
    }
  }

  /** Ids of `root` and every span below it. */
  def subtree(root: Int): Set[Int] = {
    val kids = all.groupBy(_.parent)
    def walk(id: Int): Set[Int] =
      kids.getOrElse(id, Nil).foldLeft(Set(id))((acc, c) => acc ++ walk(c.id))
    walk(root)
  }
}

object Spans {
  val Property = "perfbench.span"
}
