package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext

/** Spans around every call the benchmark makes into a layer of the
  * program. Kept in memory and written out once the run ends; a span costs
  * two `nanoTime` reads and one queue append. Tracing is switched per
  * thread so a traced pass and an untraced pass can alternate in one JVM.
  *
  * The same boundaries also tag Spark jobs: the phase and op id go into
  * the thread's local properties, which Spark copies onto every job the
  * thread submits, so [[SparkCounters]] can split its counts by phase. */
object Trace {
  final case class Span(
      id: Long, parent: Long, op: Long, name: String, start: Long, end: Long)

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val enabled = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  private val stack = ThreadLocal.withInitial(() => new java.util.ArrayDeque[Long]())
  private val currentOp = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  def on: Boolean = enabled.get

  /** Starts an op on this thread; returns its id. Every op gets an id,
    * traced or not, so op records and Spark jobs can be joined. */
  def beginOp(sc: SparkContext, traced: Boolean): Long = {
    val op = ids.incrementAndGet()
    currentOp.set(op)
    enabled.set(traced)
    stack.get.clear()
    sc.setLocalProperty("perfbench.op", op.toString)
    sc.setLocalProperty("perfbench.traced", if (traced) "1" else "0")
    op
  }

  /** Runs `body` as layer `name` in Spark phase `phase`. */
  def span[T](sc: SparkContext, name: String, phase: String)(body: => T): T = {
    val prevPhase = sc.getLocalProperty("perfbench.phase")
    sc.setLocalProperty("perfbench.phase", phase)
    try {
      if (!enabled.get) body
      else {
        val id = ids.incrementAndGet()
        val st = stack.get
        val parent = if (st.isEmpty) 0L else st.peek()
        st.push(id)
        val t0 = System.nanoTime()
        try body
        finally {
          done.add(Span(id, parent, currentOp.get, name, t0, System.nanoTime()))
          st.pop()
        }
      }
    } finally sc.setLocalProperty("perfbench.phase", prevPhase)
  }

  def spans: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    done.asScala.toSeq
  }
}
