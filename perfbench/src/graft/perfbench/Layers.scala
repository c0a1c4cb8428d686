package graft.perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Every traced run reports every name
  * in [[Layers.names]]; a layer the workload does not drive reads 0. */
object Layers {
  val names: Seq[String] = Seq(
    "transport.landing_jobs", "transport.landing_ms",
    "transport.decode_ms_per_export", "transport.read_codec_ms",
    "streaming.batches", "streaming.batch_ms_p50", "streaming.batch_ms_max",
    "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.latest_offset_ms", "streaming.commit_ms",
    "streaming.input_rows_per_batch", "streaming.state_rows",
    "streaming.state_mem_bytes", "streaming.jobs_per_batch",
    "sink.write_jobs", "sink.write_ms", "sink.cascade_jobs", "sink.cascade_ms",
    "sink.compact_ms", "sink.retention_ms", "sink.bytes_written",
    "sink.raw_files_after",
    "read.jobs_per_query", "read.schema_jobs_per_query", "read.bytes_per_query",
    "read.samples_per_query",
    "jvm.heap_after_gc_peak_mb", "host.load_min", "host.load_mean",
    "host.load_max", "host.steal_pct", "host.nproc", "gen.lateness_p95_ms",
    "trace.latency_p50_ms", "trace.spans")

  /** Job, task and micro-batch counters from the tracer, plus whatever the
    * workload measured itself; absent names read 0. */
  def fill(ctx: Ctx, t: Tracer): Unit = {
    val l = ctx.res.layer
    def put(k: String, v: Double): Unit = if (!l.contains(k)) l(k) = v
    def jobs(layer: String) = t.jobsWhere(_.layer == layer)

    val landing = jobs("transport")
    put("transport.landing_jobs", landing.size)
    put("transport.landing_ms", t.jobMs(landing))

    val progress = t.progress.asScala.toSeq.map(_.progress)
      .filter(_.numInputRows > 0)
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val batchMs = progress.map(dur(_, "triggerExecution"))
    put("streaming.batches", progress.size)
    put("streaming.batch_ms_p50", Stats.median(batchMs))
    put("streaming.batch_ms_max", if (batchMs.isEmpty) 0 else batchMs.max)
    put("streaming.add_batch_ms", Stats.mean(progress.map(dur(_, "addBatch"))))
    put("streaming.query_planning_ms", Stats.mean(progress.map(dur(_, "queryPlanning"))))
    put("streaming.latest_offset_ms", Stats.mean(progress.map(dur(_, "latestOffset"))))
    put("streaming.commit_ms", Stats.mean(progress.map(p =>
      dur(p, "walCommit") + dur(p, "commitOffsets"))))
    put("streaming.input_rows_per_batch", Stats.mean(progress.map(_.numInputRows.toDouble)))
    val last = progress.lastOption
    put("streaming.state_rows",
      last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0))
    put("streaming.state_mem_bytes",
      last.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0))
    val streamJobs = t.jobsWhere(j => j.layer == "streaming" || j.layer.startsWith("sink"))
    put("streaming.jobs_per_batch",
      if (progress.isEmpty) 0 else streamJobs.size.toDouble / progress.size)

    val write = jobs("sink.write")
    put("sink.write_jobs", write.size)
    put("sink.write_ms", t.jobMs(write))
    val cascade = jobs("sink.cascade")
    put("sink.cascade_jobs", cascade.size)
    put("sink.cascade_ms", t.jobMs(cascade))
    put("sink.compact_ms", t.jobMs(jobs("sink.compact")))
    // sink.retention_ms stays 0: retention drops partitions by file
    // listing and runs no Spark job
    put("sink.bytes_written",
      t.tasksOf(t.jobsWhere(_.layer.startsWith("sink"))).output.toDouble)

    val reads = ctx.res.extra.get("reads").map(_.toString.toDouble).getOrElse(0.0) +
      ctx.res.extra.get("reads_inprocess").map(_.toString.toDouble).getOrElse(0.0)
    val readJobs = jobs("query")
    def perRead(x: Double) = if (reads == 0) 0.0 else x / reads
    put("read.jobs_per_query", perRead(readJobs.size))
    put("read.schema_jobs_per_query", perRead(readJobs.count(_.schema)))
    put("read.bytes_per_query", perRead(t.tasksOf(readJobs).input.toDouble))

    put("trace.spans", Spans.all.size)
    names.foreach(put(_, 0.0))
  }
}
