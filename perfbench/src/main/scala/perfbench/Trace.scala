package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval. `parent` is -1 for an op's root span; `op` ties
  * every span of one benchmark operation together. Spark job spans carry
  * the id of the span whose job group started them as their parent.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Span {

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (overlapping children counted once, children
    * clipped to the parent).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Task metrics summed over the tasks of the jobs a span started. */
final class Counters {
  var jobs, tasks, failedTasks: Long = 0L
  var runMs, cpuNs, gcMs, schedDelayMs: Long = 0L
  var inputBytes, inputRecords, shuffleWriteBytes, spillBytes, outputBytes: Long = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes
  }
}

/** Records spans in memory, from the thread that runs the ops. With
  * tracing off, `span` only runs its body. With tracing on, each span sets
  * a Spark job group named after itself, and a listener attributes every
  * job and task to the span that was innermost when the job started.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private var op = -1
  private val GroupPrefix = "perfbench-span-"
  /** Whether spans are recorded now; an enabled tracer can pause. */
  var active: Boolean = enabled
  /** Id of the most recently closed root span. */
  var lastRootId: Int = -1

  private val jobSpans = mutable.ArrayBuffer.empty[Span]
  private val jobStart = mutable.Map.empty[Int, (Int, Long)]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val counters = mutable.Map.empty[Int, Counters]

  // listener timestamps are wall-clock ms; spans use nanoTime
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.filter(_.startsWith(GroupPrefix)).map(_.drop(GroupPrefix.length).toInt).foreach { sid =>
        jobStart(e.jobId) = (sid, e.time)
        e.stageIds.foreach(stageSpan(_) = sid)
        counters.getOrElseUpdate(sid, new Counters).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (sid, t0) =>
        jobSpans += Span(-1, sid, -1, s"spark.job.${e.jobId}",
          t0 * 1000000L + wallToNano, e.time * 1000000L + wallToNano)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageId).foreach { sid =>
        val c = counters.getOrElseUpdate(sid, new Counters)
        c.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  /** Container bytes decoded by every geomedea scan of every finished
    * query, from the DSv2 metrics of its executed plan: the read side of
    * jobs whose queries the harness cannot see, such as compaction.
    */
  val scanBytes = new java.util.concurrent.atomic.AtomicLong()
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      scanBytes.addAndGet(PlanProbe.geomedeaScan(qe).bytes)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Start a new benchmark operation; its spans share the returned id. */
  def newOp(): Int = { op += 1; op }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      sc.setJobGroup(GroupPrefix + id, name)
      try body
      finally {
        val (_, _, t0) = stack.head
        stack = stack.tail
        done += Span(id, parent, op, name, t0, System.nanoTime())
        if (parent < 0) lastRootId = id
        stack.headOption match {
          case Some((pid, pname, _)) => sc.setJobGroup(GroupPrefix + pid, pname)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.GraftSparkShim.drainListeners(sc)

  /** All spans so far: the recorded ones plus one per Spark job, each job
    * given the op of the span that started it.
    */
  def spans: Seq[Span] = synchronized {
    val opOf = done.map(s => s.id -> s.op).toMap
    var id = nextId
    done.toSeq ++ jobSpans.map { j => id += 1; j.copy(id = id, op = opOf.getOrElse(j.parent, -1)) }
  }

  /** Counters of a span and all of its descendants. */
  def inclusive(spanIds: Set[Int]): Counters = synchronized {
    val kids = done.groupBy(_.parent)
    val out = new Counters
    def walk(id: Int): Unit = {
      counters.get(id).foreach(out.add)
      kids.getOrElse(id, Nil).foreach(s => walk(s.id))
    }
    spanIds.foreach(walk)
    out
  }

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }
}
