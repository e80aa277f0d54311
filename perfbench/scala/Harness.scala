package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import scala.collection.mutable

/** Minimal JSON encoder for the result file `run.py` reads. */
object Json {
  def enc(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => enc(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(enc).mkString("[", ",", "]")
    case xs: Array[_]         => enc(xs.toSeq)
    case other                => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }
}

/** One timed call of a closed loop: a call that throws is recorded as
  * failed with its message and contributes no latency sample. */
final case class Call(name: String, seconds: Double, ok: Boolean, error: String)

/** Closed loop with one caller and one outstanding call. */
final class Loop {
  val calls = mutable.ArrayBuffer[Call]()

  /** Time `body`; on an exception record the call as failed (never as
    * a time) and return None. */
  def time[A](name: String)(body: => A): Option[A] = {
    val t0 = System.nanoTime()
    try {
      val r = body
      calls += Call(name, (System.nanoTime() - t0) / 1e9, ok = true, null)
      Some(r)
    } catch {
      case scala.util.control.NonFatal(e) =>
        calls += Call(name, Double.NaN, ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  def samples(name: String): Seq[Double] = calls.filter(c => c.ok && c.name == name).map(_.seconds).toSeq
  def attempted: Int = calls.size
  def failed: Int = calls.count(!_.ok)
  def json: Seq[Map[String, Any]] = calls.toSeq.map(c =>
    Map("name" -> c.name, "seconds" -> (if (c.ok) c.seconds else null), "ok" -> c.ok, "error" -> c.error))
}

/** A traced interval around one call into a layer's public function. */
final case class Span(id: Int, name: String, parent: Int, t0: Long, t1: Long,
    attrs: Map[String, Any])

/** Per-span counters the listeners attribute through the local property
  * [[Tracer.Prop]]. */
final class SpanStats {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs, shuffleBytes, spillBytes, inputBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var scanRows, windowRows, aggMs, sortMs, peakMem = 0L
  val scanBytesByPath = mutable.Map[String, Long]()
  /** (execution id, operator, rows out) of every physical operator that
    * reports rows, for the floor decomposition. */
  val operatorRows = mutable.ArrayBuffer[Seq[Any]]()
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  def json: Map[String, Any] = {
    Map("jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
      "gc_ms" -> gcMs, "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
      "input_bytes" -> inputBytes,
      "job_intervals_ms" -> jobSpans.sortBy(_._1).map { case (a, b) => Seq(a, b) }.toSeq,
      "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
      "planning_ms" -> planningMs, "scan_rows" -> scanRows, "window_rows" -> windowRows,
      "agg_ms" -> aggMs, "sort_ms" -> sortMs, "peak_mem_bytes" -> peakMem,
      "scan_bytes_by_path" -> scanBytesByPath.toMap, "operator_rows" -> operatorRows.toSeq)
  }
}

/** Spans plus the Spark listeners that attribute jobs, stages, tasks and
  * SQL metrics to them. With `on = false` every method is a pass-through
  * and no listener is installed, so untraced timings carry no tracing
  * cost. Everything stays in memory until [[json]] at the end of a run. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer.Prop
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val stats = mutable.Map[Int, SpanStats]()
  private val jobSpan = mutable.Map[Int, Int]()
  private val stageJob = mutable.Map[Int, Int]()
  private val execSpan = mutable.Map[Long, Int]()
  private val jobStarts = mutable.Map[Int, Long]()
  private val jobEnds = mutable.Map[Int, Long]()
  private def statsOf(span: Int) = stats.getOrElseUpdate(span, new SpanStats)

  private val listener: SparkListener = if (!on) null else new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(0)
      jobSpan(e.jobId) = span
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.getOrElseUpdate(x.toLong, span))
      statsOf(span).jobs += 1
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobEnds(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(j => statsOf(jobSpan.getOrElse(j, 0)).stages += 1)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        val qe = org.apache.spark.sql.PerfbenchSql.queryExecution(end)
        // attributed now, so the query execution is not held to the end
        if (qe != null) Tracer.this.synchronized { absorb(end.executionId, qe) }
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val st = statsOf(stageJob.get(e.stageId).map(j => jobSpan.getOrElse(j, 0)).getOrElse(0))
      st.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        st.taskMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
  if (on) spark.sparkContext.addSparkListener(listener)

  /** Run `body` inside a span named `layer:function`; jobs it causes are
    * attributed to the span through a Spark local property. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val sc = spark.sparkContext
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0)
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, id.toString)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Prop, prev)
        spans += Span(id, name, parent, t0, t1, Map.empty)
      }
    }

  /** Attach attributes (e.g. a plan digest) to the most recently closed
    * span of `name`; computed outside the span so it is never timed. */
  def annotate(name: String, attrs: Map[String, Any]): Unit =
    if (on) spans.lastIndexWhere(_.name == name) match {
      case -1 => ()
      case i  => spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
    }

  /** Plan digest through the program's public canonical-plan hash. */
  def digest(df: org.apache.spark.sql.DataFrame): String =
    if (on) graft.Bench.planHashDf(spark, df) else null

  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec        => flatten(q.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  private def scanBelow(p: SparkPlan): Boolean = p match {
    case _: FileSourceScanExec => true
    case q: QueryStageExec     => false
    case x if x.children.size == 1 && !x.isInstanceOf[FilterExec] => scanBelow(x.children.head)
    case _ => false
  }

  private def m(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  private def absorb(execId: Long, qe: QueryExecution): Unit = {
    val span = execSpan.getOrElse(execId, -1)
    if (span < 0) return
    val st = statsOf(span)
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    st.analysisMs += ms("analysis")
    st.optimizationMs += ms("optimization")
    st.planningMs += ms("planning")
    val nodes = try flatten(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => Nil }
    nodes.foreach { n =>
      if (n.metrics.contains("numOutputRows")) st.operatorRows += Seq(execId, n.nodeName, m(n, "numOutputRows"))
    }
    nodes.foreach {
      case s: FileSourceScanExec =>
        st.scanRows += m(s, "numOutputRows")
        val bytes = m(s, "filesSize")
        s.relation.location.rootPaths.foreach { r =>
          val k = r.toUri.getPath
          st.scanBytesByPath(k) = st.scanBytesByPath.getOrElse(k, 0L) + bytes
        }
      case f: FilterExec if scanBelow(f.child) => st.windowRows += m(f, "numOutputRows")
      case a: BaseAggregateExec =>
        st.aggMs += m(a, "aggTime"); st.peakMem = math.max(st.peakMem, m(a, "peakMemory"))
      case s: SortExec =>
        st.sortMs += m(s, "sortTime"); st.peakMem = math.max(st.peakMem, m(s, "peakMemory"))
      case _ => ()
    }
  }

  private var record: Map[String, Any] = Map.empty

  /** Stop tracing: drain the listener bus and detach the listener. Jobs
    * after this (the untimed output checks) are not traced. */
  def close(): Unit =
    if (on && record.isEmpty) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      record = synchronized {
        stats.values.foreach(_.jobSpans.clear())
        jobSpan.foreach { case (j, s) =>
          jobEnds.get(j).foreach(end => statsOf(s).jobSpans += ((jobStarts.getOrElse(j, end), end)))
        }
        Map("run_id" -> runId,
          "spans" -> spans.sortBy(_.id).map(s => Map("id" -> s.id, "name" -> s.name,
            "parent" -> s.parent, "t0_ns" -> s.t0, "t1_ns" -> s.t1, "attrs" -> s.attrs)),
          "stats" -> stats.map { case (k, v) => k.toString -> v.json })
      }
    }

  /** The run's trace record (closing the tracer if it is still open). */
  def json: Map[String, Any] = { close(); record }
}

object Tracer {
  val Prop = "perfbench.span"
}
