package graft.ops

import java.util.concurrent.{ExecutionException, Executors, Future}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution

/** The verbs' ordered level writer: one thread per verb call, which runs
  * every [[graft.Target]] call of the verb in the order it is handed
  * over, while the caller's thread walks on.
  *
  * The walk collects level i's keys, hands level i's payload write over
  * ([[submit]]) and goes on to collect level i+1's keys. Before it hands
  * level i+1 over, it waits for level i's write. So at most one write is
  * in flight, and at most two levels are pinned at once: the one being
  * written and the one being collected. A walk of collects c and writes
  * w takes c₀ + max(w₀, c₁) + max(w₁, c₂) + w₂ instead of their sum.
  *
  * The writes run through `SQLExecution.withThreadLocalCaptured`, so
  * their jobs carry the caller's local properties (job group, scheduler
  * pool, a tracer's span id) and run under the caller's active session.
  *
  * The first failure on either side ends the verb. A failed write
  * surfaces at the walk's next hand-over, or when the walk ends; a
  * failed walk waits for the write in flight to finish. The first
  * failure is rethrown, with the other side's failure, if any, attached
  * as suppressed. The side that holds a pinned level unpersists it on
  * every path: the walk until it hands the level over, the write after.
  */
private[graft] final class LevelWriter private (spark: SparkSession) {
  @volatile private var thread: Option[Thread] = None
  private val pool = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, LevelWriter.ThreadName)
    t.setDaemon(true)
    thread = Some(t)
    t
  }
  private var inFlight: Option[Future[Unit]] = None
  private val first = new AtomicReference[Throwable]

  /** Wait for the write in flight, rethrowing its failure, then hand
    * `write` to the writer thread. */
  def submit(write: => Unit): Unit = {
    await()
    inFlight = Some(SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[ClassicSession], pool) {
      try write
      catch { case e: Throwable => first.compareAndSet(null, e); throw e }
    })
  }

  /** Wait for the write in flight, if any; rethrow its failure. */
  private def await(): Unit = inFlight.foreach { f =>
    inFlight = None
    try f.get()
    catch { case e: ExecutionException => throw e.getCause }
  }

  /** Stop the writer thread once it is idle, and wait for it to end. */
  private def shutdown(): Unit = {
    pool.shutdown()
    thread.foreach(_.join())
  }
}

private[graft] object LevelWriter {
  val ThreadName = "graft-level-writer"

  /** Run `walk` with a writer of its own; return once every write it
    * handed over is done. On failure, drain the other side and rethrow
    * the first failure, the other one suppressed. The writer thread has
    * ended when this returns or throws. */
  def run[T](spark: SparkSession)(walk: LevelWriter => T): T = {
    val w = new LevelWriter(spark)
    try {
      val out = walk(w)
      w.await()
      out
    } catch {
      case e: Throwable =>
        w.first.compareAndSet(null, e)
        val drained = try { w.await(); None } catch { case d: Throwable => Some(d) }
        val original = w.first.get
        (e +: drained.toSeq).filterNot(_ eq original).foreach(original.addSuppressed)
        throw original
    } finally w.shutdown()
  }
}
