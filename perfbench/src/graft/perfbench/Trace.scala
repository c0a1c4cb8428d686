package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded around the benchmark's own calls into the program. Off
  * (the untraced run) a span is just the wrapped call; on, each span keeps
  * name, start, end, parent and trace id in memory until the run writes its
  * artifact. */
object Spans {
  final case class Span(id: Long, parent: Long, traceId: Long, name: String,
      startNs: Long, endNs: Long)

  @volatile private var enabled = false
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[(Long, Long)] // (span id, trace id)

  def enable(): Unit = enabled = true

  def newTrace(): Long = ids.incrementAndGet()

  /** Time `f` as span `name`; a span opened inside `f` on this thread is
    * its child. `traceId` 0 joins the enclosing span's trace. */
  def span[T](name: String, traceId: Long = 0)(f: => T): T =
    if (!enabled) f
    else {
      val outer = current.get()
      val id = ids.incrementAndGet()
      val trace =
        if (traceId != 0) traceId else if (outer != null) outer._2 else id
      current.set((id, trace))
      val t0 = System.nanoTime()
      try f
      finally {
        done.add(Span(id, if (outer == null) 0 else outer._1, trace, name, t0,
          System.nanoTime()))
        current.set(outer)
      }
    }

  /** Record an already-measured interval (asynchronous calls). */
  def record(name: String, startNs: Long, endNs: Long, traceId: Long): Unit =
    if (enabled) done.add(Span(ids.incrementAndGet(), 0, traceId, name,
      startNs, endNs))

  def all: Seq[Span] = done.asScala.toSeq

  def json: Seq[Map[String, Any]] = all.sortBy(_.startNs).map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.traceId, "name" -> s.name,
    "start_ns" -> s.startNs, "dur_ms" -> (s.endNs - s.startNs) / 1e6))
}

/** Spark-side counters for the traced run: a SparkListener for jobs, stages
  * and task metrics, and a StreamingQueryListener for micro-batch progress.
  * Registered only with `--trace 1`.
  *
  * Each job is attributed to a layer. A job in a `promread-*` group belongs
  * to `query`. A job of the streaming query goes by the SQL execution it
  * belongs to: writing a rollup tier is `sink.cascade`, rewriting a raw
  * partition through a `.compact_` sibling is `sink.compact`, appending to
  * raw is `sink.write`, anything else `streaming`; its jobs outside any SQL
  * execution (schema inference, listings) take the layer of the stream's
  * next execution. The stream thread carries the call site of the query's
  * start, so call stacks cannot tell these steps apart. Other jobs go by the
  * outermost program frame of their call stack, or by their SQL
  * execution's stack when AQE ran them from a pool whose call site is
  * `CompletableFuture`. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class Job(val id: Int, byStack: Option[String], val site: String,
      val group: String, val streaming: Boolean, val execId: Long,
      val schema: Boolean, val startMs: Long) {
    @volatile var endMs: Long = -1
    val stages = mutable.Set.empty[Int]
    lazy val layer: String =
      if (group.startsWith("promread-")) "query"
      else if (streaming)
        if (execId >= 0) Option(execSink.get(execId)).getOrElse("streaming")
        else nextStreamLayer(this)
      else byStack.orElse(Option(execLayer.get(execId))).getOrElse("other")
  }

  private def nextStreamLayer(j: Job): String =
    jobs.values.asScala.filter(o => o.streaming && o.id > j.id && o.execId >= 0)
      .toSeq.sortBy(_.id).headOption.map(_.layer).getOrElse("streaming")

  final class TaskAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var input = 0L
    var output = 0L; var spill = 0L
  }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val execLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val execSink = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  val tasksByJob = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        planLayer(s.physicalPlanDescription).foreach(execSink.put(s.executionId, _))
        layerOf(s.details).foreach(execLayer.put(s.executionId, _))
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val stage = e.stageInfos.headOption
      val details = stage.map(_.details).getOrElse("")
      val j = new Job(e.jobId, layerOf(details), stage.map(_.name).getOrElse(""),
        prop("spark.jobGroup.id"), prop("sql.streaming.queryId").nonEmpty,
        scala.util.Try(prop("spark.sql.execution.id").toLong).getOrElse(-1L),
        details.linesIterator.take(1).exists(_.contains("DataFrameReader")), e.time)
      e.stageIds.foreach { s => j.stages += s; stageJob.put(s, e.jobId) }
      jobs.put(e.jobId, j)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val jobId = stageJob.getOrDefault(e.stageId, -1)
      val a = tasksByJob.computeIfAbsent(jobId, _ => new TaskAgg)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Wait until the listener bus has delivered every queued event (a
    * loaded host can take longer than the bus's default 10 s). */
  def drain(): Unit = {
    val m = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
    val bus = m.invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, Long.box(60000L))
    ()
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Jobs grouped by layer and short call site: count and summed time. */
  def jobSummary: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.groupBy(j => (j.layer, j.site)).toSeq
      .map { case ((l, s), js) => Map("layer" -> l, "site" -> s,
        "jobs" -> js.size, "ms" -> jobMs(js)) }
      .sortBy(m => -m("ms").asInstanceOf[Double])

  def jobsWhere(f: Job => Boolean): Seq[Job] = jobs.values.asScala.filter(f).toSeq

  def jobMs(js: Seq[Job]): Double =
    js.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs).toDouble).sum

  def tasksOf(js: Seq[Job]): TaskAgg = {
    val out = new TaskAgg
    js.foreach(j => Option(tasksByJob.get(j.id)).foreach { a =>
      a.synchronized {
        out.tasks += a.tasks; out.runMs += a.runMs; out.cpuNs += a.cpuNs
        out.gcMs += a.gcMs; out.shuffleRead += a.shuffleRead
        out.shuffleWrite += a.shuffleWrite; out.input += a.input
        out.output += a.output; out.spill += a.spill
      }
    })
    out
  }
}

object Tracer {
  /** Program classes that name a layer, matched on the frame's class. */
  private val rules: Seq[(String, String)] = Seq(
    "graft.transport.GrpcOtlpReceiver" -> "transport",
    "graft.transport.RemoteReadServer" -> "query")

  /** Sink step of a streaming SQL execution, from the files it writes. */
  def planLayer(plan: String): Option[String] =
    if (!plan.contains("InsertIntoHadoopFsRelationCommand")) None
    else if (plan.contains(".compact_")) Some("sink.compact")
    else if (Seq("metrics_1m", "metrics_5m", "metrics_1h").exists(plan.contains))
      Some("sink.cascade")
    else if (plan.contains("metrics_raw")) Some("sink.write")
    else None

  /** Layer of a call stack (Spark's long call-site form, innermost frame
    * first): the outermost program frame that a rule names. Frames of the
    * benchmark itself are skipped. */
  def layerOf(details: String): Option[String] = {
    val frames = details.linesIterator.map(_.trim.stripPrefix("at ").trim)
      .filter(f => f.startsWith("graft.") && !f.startsWith("graft.perfbench."))
      .toSeq
    frames.reverseIterator.flatMap(f =>
      rules.collectFirst { case (prefix, l) if f.startsWith(prefix) => l })
      .nextOption()
  }
}
