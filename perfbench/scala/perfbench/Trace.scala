package perfbench

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock shared by harness spans and listener events: listener
  * events carry epoch milliseconds, so spans are recorded on the same
  * axis (epoch ms as a double, with nanosecond-derived fractions). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span recorder. A span is (id, parent, name, op, start,
  * end); spans of one op share the op id. Nothing is written until the
  * run ends. Disabled recorders only time the body. */
final class Spans(enabled: Boolean) {
  import Spans.Span
  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1

  /** Time `body`; when enabled also record it as a child of the
    * innermost open span. Returns the body's value and its duration. */
  def apply[A](name: String, op: String)(body: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = Clock.nowMs()
    try {
      val a = body
      val t1 = Clock.nowMs()
      if (enabled) done += Span(id, parent, name, op, t0, t1)
      (a, t1 - t0)
    } catch {
      case e: Throwable =>
        if (enabled) done += Span(id, parent, name, op, t0, Clock.nowMs())
        throw e
    } finally stack = stack.tail
  }

  def toJson(arr: ArrayNode): Unit = done.foreach { s =>
    val o = arr.addObject()
    o.put("id", s.id); o.put("parent", s.parent); o.put("name", s.name)
    o.put("op", s.op); o.put("start", s.start); o.put("end", s.end)
  }
}

object Spans {
  private final case class Span(id: Int, parent: Int, name: String, op: String,
      start: Double, end: Double)
}

/** Raw events from Spark's public listener APIs, kept in memory and
  * dumped as-is; attribution and aggregation happen in
  * perfbench/bench/layers.py. Jobs carry the op id through the
  * local property [[Listeners.OpProperty]] the harness sets around
  * each op. Read the buffers only after `SparkContext.stop()`, which
  * drains the listener bus. */
final class Listeners {
  import Listeners._
  private val jobs = scala.collection.mutable.ArrayBuffer.empty[ObjectNode]
  private val jobEnds = scala.collection.mutable.Map.empty[Int, Long]
  private val sqlCallsites = scala.collection.mutable.Map.empty[Long, String]
  private val stages = scala.collection.mutable.Map.empty[Int, ObjectNode]
  private val plans = scala.collection.mutable.ArrayBuffer.empty[ObjectNode]
  private val progress = scala.collection.mutable.ArrayBuffer.empty[ObjectNode]

  val spark: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val o = Json.mapper.createObjectNode()
      val props = Option(e.properties)
      o.put("job", e.jobId)
      o.put("start", e.time.toDouble)
      o.put("op", props.flatMap(p => Option(p.getProperty(OpProperty))).getOrElse(""))
      // a job's call site, "<action> at File.scala:N": that of its SQL
      // execution when it has one (jobs of adaptive query stages run on
      // pool threads and lose their own), else its result stage's
      o.put("callsite", e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse(""))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => o.put("sql_execution", x.toLong))
      val st = o.putArray("stages")
      e.stageIds.foreach(st.add(_))
      jobs += o
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEnds(e.jobId) = e.time
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Listeners.this.synchronized {
        sqlCallsites(x.executionId) = x.description
      }
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val o = Json.mapper.createObjectNode()
      o.put("stage", i.stageId)
      o.put("tasks", i.numTasks)
      if (m != null) {
        o.put("task_ms", m.executorRunTime)
        o.put("task_cpu_ms", m.executorCpuTime / 1e6)
        o.put("input_bytes", m.inputMetrics.bytesRead)
        o.put("input_rows", m.inputMetrics.recordsRead)
        o.put("shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        o.put("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        o.put("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        o.put("output_rows", m.outputMetrics.recordsWritten)
        o.put("output_bytes", m.outputMetrics.bytesWritten)
      }
      stages(i.stageId) = o
    }
  }

  val plan: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Listeners.this.synchronized {
      val o = Json.mapper.createObjectNode()
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      o.put("start", ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble)
      o.put("analysis_ms", ms("analysis"))
      o.put("optimizer_ms", ms("optimization"))
      o.put("physical_ms", ms("planning"))
      plans += o
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Listeners.this.synchronized {
        val p = e.progress
        val o = Json.mapper.createObjectNode()
        o.put("start", java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
        o.put("input_rows", p.numInputRows)
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        o.put("trigger_ms", d("triggerExecution"))
        o.put("add_batch_ms", d("addBatch"))
        o.put("planning_ms", d("queryPlanning"))
        o.put("wal_commit_ms", d("walCommit"))
        progress += o
      }
  }

  def toJson(root: ObjectNode): Unit = synchronized {
    val js = root.putArray("jobs")
    jobs.foreach { j =>
      jobEnds.get(j.get("job").asInt).foreach(t => j.put("end", t.toDouble))
      Option(j.get("sql_execution")).flatMap(x => sqlCallsites.get(x.asLong))
        .foreach(j.put("callsite", _))
      js.add(j)
    }
    val ss = root.putArray("stages")
    stages.values.foreach(ss.add)
    val ps = root.putArray("plans")
    plans.foreach(ps.add)
    val sp = root.putArray("progress")
    progress.foreach(sp.add)
  }
}

object Listeners {
  val OpProperty = "perfbench.op"
}
