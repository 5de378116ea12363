package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work done while a span was the innermost open one. */
final class SparkCounters {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var inputBytes, inputRecords, shuffleBytes, spillBytes = 0L
  var planMs = 0L

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    planMs += o.planMs
  }
}

/** One call into a layer: name, start, end and the span that caused it. */
final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
  var endNs: Long = -1L
  val spark = new SparkCounters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Keeps spans in memory and writes them out when the run ends.
  *
  * A span's id is published as a Spark local property, so jobs started
  * inside it — also from the streaming thread, which inherits the
  * properties of the thread that starts the query — carry it; the
  * listener attributes their stages and tasks to it. Planning time comes
  * from a QueryExecutionListener: each finished query is queued and
  * claimed by the innermost span that closes after it.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val pendingPlans = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  @volatile private var installed = false
  /** True while spans are recorded; false runs the same code untraced. */
  var on = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop))).foreach { id =>
        val s = spans.synchronized(spans(id.toInt))
        s.spark.synchronized(s.spark.jobs += 1)
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.spark.synchronized(s.spark.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val c = s.spark
        c.synchronized {
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pendingPlans.add(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      pendingPlans.add(qe.tracker.phases.values.map(_.durationMs).sum)
  }

  /** Starts recording. Listeners are registered on first use only, so an
    * untraced run carries none of them. */
  def enable(): Unit = {
    if (!installed) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(planListener)
      installed = true
    }
    on = true
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val s = spans.synchronized {
        val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
        spans += s
        s
      }
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, prev)
        PerfbenchBus.drain(sc)
        var p = pendingPlans.poll()
        while (p != null) {
          s.spark.planMs += p
          p = pendingPlans.poll()
        }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Duration minus the part of its interval that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var until = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, until)
      if (b > from) { covered += b - from; until = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Spark counters of a span and all its descendants. */
  def subtree(s: Span): SparkCounters = {
    val out = new SparkCounters
    val byParent = all.groupBy(_.parent)
    def go(x: Span): Unit = { out.add(x.spark); byParent.getOrElse(x.id, Nil).foreach(go) }
    go(s)
    out
  }

  /** One JSON object per span. */
  def write(path: String): Unit = {
    val lines = all.map { s =>
      val c = s.spark
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"task_ms":${c.taskMs},""" +
        s""""cpu_ns":${c.cpuNs},"gc_ms":${c.gcMs},"input_bytes":${c.inputBytes},""" +
        s""""input_records":${c.inputRecords},"shuffle_bytes":${c.shuffleBytes},""" +
        s""""spill_bytes":${c.spillBytes},"plan_ms":${c.planMs}}"""
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
