package graft.perfbench

import java.io.File
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{GraftApp, GraftConfig}
import graft.sink.MetricsSink
import graft.streaming.LoadGen
import graft.transport.{GrpcOtlpReceiver, OtlpProto, PromProto, RemoteReadServer}

/** Workloads `otlp_ingest` and `otlp_ingest_bare`: the app as it ships
  * (pipeline.properties maintenance settings and flush interval; only
  * directories and ports overridden; `_bare` also turns maintenance off)
  * fed over gRPC by a seeded generator, with a 4 Hz remote-read poller
  * watching a sequence-marker gauge.
  *
  * Each export carries 249 points of ~2,000 series (cumulative counters
  * and histograms) plus one marker point whose value is the export's
  * sequence number. Export 0 warms the app up; then two phases on one
  * connection with at most 2 exports in flight: an open loop at [[Rate]]
  * exports/s for `--seconds`, each export timed from its due time, then a
  * burst of [[BurstExports]] sent as fast as the slots allow. Micro-batch
  * triggers fall on multiples of the flush interval since the epoch, so
  * the open loop starts at a fixed phase of that grid, right after a
  * trigger, with the stream idle: every run sees the same trigger
  * alignment. At the shipped 10 s flush and `--seconds 5` both phases land
  * before the next trigger and fit its 16-file cap, so one micro-batch
  * ingests the whole measured load.
  *
  * Checks after the stream is stopped between two micro-batches: stored
  * raw points equal acked points, per-series counter deltas sum to the
  * generator's increments, and per-series histogram counts equal the
  * recorded samples. */
object OtlpIngest {
  val Series = 2000
  val CounterSeries = 1500
  val PointsPerExport = 249
  val Rate = 2.0
  val BurstExports = 6
  val MaxInFlight = 2
  val Marker = "perfbench_marker"
  private val PhaseMs = 500L
  /** Poll period of the marker reader. Visibility is known to within one
    * period, and the whole measured load becomes visible in one
    * micro-batch, so a 1 s period moved freshness by whole seconds from
    * run to run; a read that overruns a tick skips to the next one. */
  private val PollMs = 250L

  /** One running app: the stream plus its remote-read and gRPC edges. */
  final class App(val cfg: GraftConfig, val readServer: RemoteReadServer,
      val readPort: Int, val grpc: GrpcOtlpReceiver, val grpcPort: Int,
      val query: StreamingQuery) {
    def stop(): Unit = {
      query.stop()
      grpc.stop()
      readServer.stop()
    }

    /** Waits until the stream is between two micro-batches. A batch that
      * overruns its trigger is followed at once by the next, so the stream
      * must stay idle for a moment and the next trigger must be at least a
      * second away. */
    def awaitIdle(): Unit = {
      val flush = cfg.flushIntervalMs
      val limit = System.currentTimeMillis() + 60000
      var idleSince = Long.MaxValue
      var ready = false
      while (!ready && query.isActive && System.currentTimeMillis() < limit) {
        val now = System.currentTimeMillis()
        if (query.status.isTriggerActive) idleSince = Long.MaxValue
        else if (idleSince == Long.MaxValue) idleSince = now
        ready = now - idleSince >= 200 && flush - now % flush >= 1000
        if (!ready) Thread.sleep(20)
      }
    }

    /** A stop during a batch interrupts its maintenance tick and leaves
      * the store as a crash would, to be repaired on the next start; the
      * checks read the store as a clean shutdown leaves it. */
    def stopWhenIdle(): Unit = {
      awaitIdle()
      stop()
    }
  }

  /** What GraftApp.main wires, with both transports on ephemeral ports.
    * A `warm` export is sent through the receiver before the stream starts,
    * so the stream's first micro-batch ingests it. */
  def start(ctx: Ctx, cfg: GraftConfig, warm: Option[Array[Byte]] = None): App = {
    new File(cfg.sourceDir).mkdirs()
    val srv = new RemoteReadServer(ctx.spark, cfg.storageDir, cfg.sourceDir,
      cfg.workspaceId, () => System.currentTimeMillis(),
      queryTimeoutMs = cfg.queryTimeoutMs)
    val readPort = srv.start(0)
    val grpc = new GrpcOtlpReceiver(ctx.spark, cfg.sourceDir)
    val grpcPort = grpc.start(0)
    warm.foreach { body =>
      val c = new OtlpClient(grpcPort, 1)
      try require(c.send(body).get(60, TimeUnit.SECONDS) == 0, "warm-up export failed")
      finally c.close()
    }
    val q = GraftApp.start(ctx.spark, cfg,
      Trigger.ProcessingTime(cfg.flushIntervalMs, TimeUnit.MILLISECONDS))
    // ready once the stream has run its first trigger
    while (q.isActive && !q.status.message.startsWith("Waiting")) Thread.sleep(5)
    new App(cfg, srv, readPort, grpc, grpcPort, q)
  }

  /** Generator state and ground truth. */
  final class Gen(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    val counters = new Array[Long](CounterSeries)
    val histCount = new Array[Long](Series - CounterSeries)
    private val histSum = new Array[Double](Series - CounterSeries)
    private val histBuckets =
      Array.fill(Series - CounterSeries)(new Array[Long](LoadGen.Bounds.size + 1))
    private var next = 0

    def attrs(s: Int): Map[String, String] =
      Map("series" -> s.toString, "route" -> s"/api/r${s % 20}")
    def counterName(s: Int) = s"perfbench_requests_${s % 10}_total"
    def histName(s: Int) = s"perfbench_latency_${s % 5}_ms"

    /** Export `seq` at `tsMs`: the next 249 series round-robin + marker. */
    def export(seq: Int, tsMs: Long): Seq[OtlpProto.ResourceRow] = {
      val dps = (0 until PointsPerExport).map { _ =>
        val s = next
        next = (next + 1) % Series
        if (s < CounterSeries) {
          counters(s) += 1 + rnd.nextInt(10)
          OtlpProto.Datapoint(counterName(s), "sum", tsMs, 1, true, None,
            Some(counters(s).toDouble), None, None, None, None, attrs(s), None)
        } else {
          val h = s - CounterSeries
          (0 until 1 + rnd.nextInt(4)).foreach { _ =>
            val v = LoadGen.latency(rnd)
            histCount(h) += 1
            histSum(h) += v
            val i = LoadGen.Bounds.indexWhere(v <= _)
            histBuckets(h)(if (i < 0) LoadGen.Bounds.size else i) += 1
          }
          OtlpProto.Datapoint(histName(s), "histogram", tsMs, 1, false, None,
            None, Some(histCount(h)), Some(histSum(h)), Some(LoadGen.Bounds),
            Some(histBuckets(h).toSeq), attrs(s), None)
        }
      } :+ OtlpProto.Datapoint(Marker, "gauge", tsMs, 0, false, None,
        Some(seq.toDouble), None, None, None, None, Map.empty, None)
      Seq(OtlpProto.ResourceRow(Map("service.name" -> "perfbench"), dps))
    }
  }

  /** `maintenance` false turns the shipped maintenance tick off (no
    * cascade, retention or compaction): the same load then bypasses the
    * rollup and storage-maintenance code. */
  def run(ctx: Ctx, maintenance: Boolean): Unit = {
    val res = ctx.res
    val shipped = GraftApp.load(ctx.configPath)
    val settings =
      if (maintenance) shipped
      else shipped.copy(rollupEveryBatches = 0, retentionDrop = false, compactMaxFiles = 0)
    def config(i: Int): GraftConfig = {
      val base = ctx.dir(s"app$i")
      settings.copy(sourceDir = s"$base/in", storageDir = s"$base/store",
        checkpointDir = s"$base/ckpt", transportPort = Some(0), grpcPort = Some(0))
    }
    // set up five times into fresh directories, then start the measured
    // app with export 0 already landed: its first micro-batch is the
    // warm-up, so the store exists and one-time costs are paid before timing
    val setups = (1 to 5).map { i =>
      val t0 = System.nanoTime()
      val app = Spans.span("setup.start_app")(start(ctx, config(i)))
      val dt = (System.nanoTime() - t0) / 1e9
      app.stop()
      dt
    }
    val gen = new Gen(ctx.seed)
    val w0 = System.currentTimeMillis()
    val app = Spans.span("setup.warmup")(start(ctx, config(0),
      Some(OtlpProto.encodeExportRequest(gen.export(0, w0)))))
    try {
      var warm = false
      // a loaded host has taken 50 s for this first micro-batch and read
      while (!warm && System.currentTimeMillis() < w0 + 90000) {
        warm = markers(app, markerQuery(w0 - 60000)).exists(_.contains(0))
        if (!warm) Thread.sleep(100)
      }
      require(warm, "warm-up export never became visible")
      res.extra("warmup_s") = (System.currentTimeMillis() - w0) / 1000.0
      val client = new OtlpClient(app.grpcPort, MaxInFlight)
      try measure(ctx, app, gen, client, setups, w0)
      finally client.close()
    } finally if (app.query.isActive) app.stop()
  }

  private def markerQuery(fromMs: Long) = PromProto.Query(fromMs,
    System.currentTimeMillis() + 60000,
    Seq(PromProto.LabelMatcher(0, "__name__", Marker)))

  /** Marker values visible over remote-read, or the error. */
  private def markers(app: App, q: PromProto.Query): Either[String, Seq[Int]] =
    PromClient.read(app.readPort, Seq(q))
      .map(_.headOption.getOrElse(Nil).flatMap(_.samples).map(_._1.toInt))

  private def measure(ctx: Ctx, app: App, gen: Gen, client: OtlpClient,
      setups: Seq[Double], fromMs: Long): Unit = {
    val res = ctx.res
    val flush = app.cfg.flushIntervalMs
    val nOpen = math.max(1, (ctx.seconds * Rate).toInt)
    val n = 1 + nOpen + BurstExports
    // the warm-up batch may still run its maintenance tick, and one that
    // overran the grid would take the first exports early
    app.awaitIdle()
    val readyMs = System.currentTimeMillis()
    val startMs = (readyMs + 1000 + flush - 1) / flush * flush + PhaseMs
    val due = (0 until n).map(k => startMs + ((k - 1) * 1000.0 / Rate).toLong)
    val open = 1 to nOpen
    val burst = nOpen + 1 until n
    val payloads = (0 until n).map { k =>
      if (k == 0) Array.emptyByteArray
      else Spans.span("encode")(OtlpProto.encodeExportRequest(gen.export(k,
        if (k <= nOpen) due(k) else due(nOpen) + k)))
    }
    if (ctx.traced) {
      // the receiver's decode, timed on the same payloads outside the
      // measured window
      val t0 = System.nanoTime()
      payloads.drop(1).foreach(OtlpProto.decodeExportRequest)
      res.layer("transport.decode_ms_per_export") =
        (System.nanoTime() - t0) / 1e6 / (n - 1)
    }

    val sentAt = new ConcurrentHashMap[Int, Long]()
    val ackAt = new ConcurrentHashMap[Int, Long]()
    val status = new ConcurrentHashMap[Int, Int]()
    val visibleAt = new ConcurrentHashMap[Int, Long]()
    visibleAt.put(0, 0L)
    val readMs = mutable.ArrayBuffer.empty[Double]
    val readErrors = mutable.ArrayBuffer.empty[String]
    val codecMs = mutable.ArrayBuffer.empty[Double]
    var samples = 0L
    @volatile var polling = true
    val poller = new Thread(() => {
      var k = 0L
      while (polling) {
        val at = startMs + k * PollMs
        val wait = at - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        k += 1
        if (polling && System.currentTimeMillis() - at < PollMs) {
          val q = markerQuery(fromMs - 60000)
          val trace = Spans.newTrace()
          val t0 = System.nanoTime()
          val got = Spans.span("read_request", trace)(markers(app, q))
          val now = System.currentTimeMillis()
          val ms = (System.nanoTime() - t0) / 1e6
          readMs.synchronized {
            readMs += ms
            got.fold(readErrors += _.take(300), { vs =>
              samples += vs.size
              vs.foreach(v => visibleAt.putIfAbsent(v, now))
            })
          }
          // traced run: the same query in process; the difference is the
          // HTTP and protobuf/snappy codec share of the read
          if (ctx.traced && got.isRight) {
            val t1 = System.nanoTime()
            Spans.span("read_inprocess", trace)(app.readServer.query(q))
            codecMs += ms - (System.nanoTime() - t1) / 1e6
          }
        }
      }
    }, "perfbench-marker-reader")
    poller.setDaemon(true)

    def send(seq: Int): Unit = {
      val trace = Spans.newTrace()
      val t0 = System.nanoTime()
      val f = client.send(payloads(seq))
      sentAt.put(seq, System.currentTimeMillis())
      f.whenComplete { (st: Int, err: Throwable) =>
        ackAt.put(seq, System.currentTimeMillis())
        status.put(seq, if (err != null) -2 else st)
        Spans.record("export", t0, System.nanoTime(), trace)
      }
      ()
    }
    poller.start()
    open.foreach { k =>
      val wait = due(k) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      send(k)
    }
    val burstStart = System.currentTimeMillis()
    burst.foreach(send)
    // every export acked and its marker visible, or a minute passed
    val limit = System.currentTimeMillis() + 60000
    while ((visibleAt.size < n || ackAt.size < n - 1) &&
        System.currentTimeMillis() < limit) Thread.sleep(50)
    val drainedMs = System.currentTimeMillis()
    polling = false
    poller.join()

    val acked = (1 until n).count(s => status.getOrDefault(s, -1) == 0)
    val fresh = open.flatMap(s => Option(visibleAt.get(s)).map(v => (v - due(s)).toDouble))
    val ack = open.flatMap(s => Option(ackAt.get(s)).map(a => (a - due(s)).toDouble))
    val lateness = open.map(s => (sentAt.get(s) - due(s)).toDouble)
    def lastSeen(seqs: Seq[Int]): Long = {
      val seen = seqs.flatMap(s => Option(visibleAt.get(s)))
      if (seen.isEmpty) System.currentTimeMillis() else seen.max
    }
    val burstS = (lastSeen(burst) - burstStart) / 1000.0
    val burstPts = BurstExports.toDouble * (PointsPerExport + 1)
    // the shared rate covers the whole measured load from its first send:
    // ingested by one micro-batch, the burst alone spans too short a time
    // for a steady rate
    val loadS = (lastSeen(1 until n) - sentAt.get(1)) / 1000.0
    val loadPts = (n - 1).toDouble * (PointsPerExport + 1)
    res.primary(fresh, loadPts / loadS, n - 1, setups)
    res.named("ingest_fresh_p50_ms") = Metric(Stats.median(fresh), "ms", fresh.size)
    res.named("ingest_fresh_p95_ms") = Metric(Stats.pct(fresh, 95), "ms", fresh.size)
    res.named("export_ack_p50_ms") = Metric(Stats.median(ack), "ms", ack.size)
    res.named("export_ack_p95_ms") = Metric(Stats.pct(ack, 95), "ms", ack.size)
    res.named("ingest_points_per_s") = Metric(burstPts / burstS, "1/s", BurstExports)
    val rm = readMs.synchronized(readMs.toSeq)
    res.named("read_p50_ms") = Metric(Stats.median(rm), "ms", rm.size)
    res.named("read_p95_ms") = Metric(Stats.pct(rm, 95), "ms", rm.size)
    res.layer("gen.lateness_p95_ms") = Stats.pct(lateness, 95)
    res.extra("reads") = rm.size
    if (ctx.traced) {
      res.extra("reads_inprocess") = codecMs.size
      res.layer("transport.read_codec_ms") = Stats.median(codecMs)
      res.layer("read.samples_per_query") = samples.toDouble / math.max(1, rm.size)
    }
    res.extra("read_errors") = readErrors.toSeq
    val missing = (1 until n).count(s => !visibleAt.containsKey(s))
    res.attempted = (n - 1) + rm.size
    res.failed = (n - 1 - acked) + readErrors.size + missing

    res.check("every export acked with grpc-status 0", acked == n - 1,
      s"${n - 1 - acked} of ${n - 1} not acked")
    res.check("every marker became visible over remote-read", missing == 0,
      s"$missing markers never visible")
    app.stopWhenIdle()
    val stoppedMs = System.currentTimeMillis()
    verify(ctx, app, gen, n.toLong * (PointsPerExport + 1))
    // wall time of each phase, to see where a run's time goes
    res.extra("phase_s") = Map("align" -> (startMs - readyMs) / 1000.0,
      "open_loop_and_drain" -> (drainedMs - startMs) / 1000.0,
      "stop" -> (stoppedMs - drainedMs) / 1000.0,
      "verify" -> (System.currentTimeMillis() - stoppedMs) / 1000.0)
  }

  /** Conservation checks over the stored raw tier. */
  private def verify(ctx: Ctx, app: App, gen: Gen, ackedPoints: Long): Unit = {
    val res = ctx.res
    val raw = MetricsSink.read(ctx.spark, app.cfg.storageDir, MetricsSink.Raw)
    val stored = raw.count()
    res.check("stored raw points equal acked points", stored == ackedPoints,
      s"stored $stored, acked $ackedPoints")
    val bySeries = raw.filter(col("metric") =!= Marker)
      .groupBy(element_at(col("attributes"), "series").cast("int").as("s"))
      .agg(sum(col("value")).as("v"), sum(col("count")).as("c"))
      .collect().map(r => r.getInt(0) -> r).toMap
    val badCounters = (0 until CounterSeries).count { s =>
      bySeries.get(s).forall(r => r.isNullAt(1) || r.getDouble(1) != gen.counters(s).toDouble)
    }
    res.check("per-series counter deltas sum to the applied increments",
      badCounters == 0, s"$badCounters of $CounterSeries counter series differ")
    val badHist = (CounterSeries until Series).count { s =>
      bySeries.get(s).forall(r => r.isNullAt(2) ||
        r.getLong(2) != gen.histCount(s - CounterSeries))
    }
    res.check("per-series histogram counts equal the recorded samples",
      badHist == 0, s"$badHist of ${Series - CounterSeries} histogram series differ")
    if (ctx.traced) {
      val rawDir = new File(s"${app.cfg.storageDir}/${MetricsSink.Raw.name}")
      def parquetFiles(f: File): Int =
        if (f.isDirectory) Option(f.listFiles).map(_.map(parquetFiles).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      res.layer("sink.raw_files_after") = parquetFiles(rawDir)
    }
  }
}
