package graft

import org.apache.spark.sql.functions._

/** Dev probe — timing decomposition for hot queries. Not part of the library. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import graft.llm.Dedup
    import graft.model.Tables

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[scratch] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    def audit(name: String): Unit = {
      val qe = graft.SparkEntry.queries(name)(spark, d).queryExecution
      // drive THIS QueryExecution to completion first: under AQE the
      // pre-execution plan string is the initial plan (isFinalPlan=false,
      // no WholeStageCodegen markers) — auditing it reports codegenSpans=0
      // for plans that are in fact fully codegen'd
      qe.toRdd.foreach(_ => ())
      val plan = qe.executedPlan.toString
      val pushed = plan.linesIterator
        .filter(_.contains("PushedFilters: [")).map(_.trim.take(160)).toSeq
      // operators inside codegen stages print with a "*(n)" prefix; count
      // operators (codegenOps) and distinct stage ids (codegenSpans) apart
      val stageIds = plan.linesIterator.flatMap(l =>
        "\\*\\((\\d+)\\)".r.findAllMatchIn(l).map(_.group(1))).toSet
      val codegenOps = plan.linesIterator.count(_.trim.matches(".*\\*\\(\\d+\\).*"))
      val bhj = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
      val smj = plan.linesIterator.count(_.contains("SortMergeJoin"))
      println(s"[scratch] $name: codegenSpans=${stageIds.size} " +
        s"codegenOps=$codegenOps bhj=$bhj smj=$smj")
      pushed.filterNot(_.contains("PushedFilters: []")).take(3)
        .foreach(p => println(s"[scratch]   $p"))
    }
    if (args.headOption.contains("a12_ab")) {
      import graft.model.Tables
      import org.apache.spark.sql.DataFrame
      def noop(dfb: DataFrame): Unit =
        dfb.write.mode("overwrite").format("noop").save()
      val li = Tables.lineitem(spark, d)
      def idx = when(col("l_linestatus") === "O",
          (length(bin(floor(col("l_extendedprice") * col("l_extendedprice")).cast("long"))) - 1).cast("int"))
        .otherwise((length(bin(floor(col("l_extendedprice")).cast("long"))) - 1).cast("int"))
      for (_ <- 1 to 2) {
        time("scan")(noop(li.select(col("l_returnflag"), col("l_linestatus"), col("l_extendedprice"))))
        time("scan_idx")(noop(li.select(col("l_returnflag"), col("l_linestatus"), idx.as("idx"))))
        time("agg1")(noop(li.select(col("l_returnflag").as("flag"), col("l_linestatus").as("ls"),
            when(col("l_linestatus") === "O", 1).otherwise(0).as("scale"), idx.as("idx"))
          .groupBy(col("flag"), col("ls"), col("scale"), col("idx"))
          .agg(count(lit(1)).as("count"))))
        time("full")(noop(graft.SparkEntry.queries("q_a12_exp_merge")(spark, d)))
      }
    } else if (args.headOption.contains("st8_ab")) {
      import graft.sink.{MetricsSink, RollupMaintenance}
      import graft.metrics.{EventsMetrics, Rollup}
      val NowMs = graft.queries.OracleDefs.NowMs
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_st8_ab"
      val keys = Seq(col("workspace_id"), col("metric"))
      for (_ <- 1 to 2) {
        time("raw_write")(MetricsSink.write(EventsMetrics.fromEvents(spark, d),
          base, MetricsSink.Raw, col("ts_ms"), keys, mode = "overwrite"))
        time("refresh_1m")(RollupMaintenance.refreshTier(spark, base,
          MetricsSink.Raw, MetricsSink.M1, col("ts_ms"), NowMs, keys)(
          df => Rollup.rollup1m(df, keys, col("ts_ms"), col("value"), col("event_id"))))
        time("refresh_5m")(RollupMaintenance.refreshTier(spark, base,
          MetricsSink.M1, MetricsSink.M5, col("bucket_ms"), NowMs, keys)(
          df => Rollup.rollup5m(df, keys)))
        time("refresh_1h")(RollupMaintenance.refreshTier(spark, base,
          MetricsSink.M5, MetricsSink.H1, col("bucket_ms"), NowMs, keys)(
          df => Rollup.rollup1h(df, keys)))
        time("readback")(MetricsSink.read(spark, base, MetricsSink.H1)
          .filter(col("bucket_ms") >= NowMs - RollupMaintenance.freshnessMs("metrics_1m"))
          .write.mode("overwrite").format("noop").save())
      }
    } else if (args.headOption.contains("s3_ab")) {
      // decompose q_s3_per_type: wire fixture stages vs conversion vs stats
      import org.apache.spark.sql.DataFrame
      def noop(dfb: DataFrame): Unit =
        dfb.write.mode("overwrite").format("noop").save()
      val qs = graft.queries.IngestQueries
      val wireFull = qs.getClass.getDeclaredMethods
        .find(_.getName == "wire").get
      wireFull.setAccessible(true)
      def wire = wireFull.invoke(qs, spark, d).asInstanceOf[DataFrame]
      for (_ <- 1 to 2) {
        time("wire_all")(noop(wire))
        time("wire_no_exemplars")(noop(wire.drop("exemplars")))
        time("wire_exemplars_only")(noop(wire.select("event_id", "exemplars")))
        time("converted")(noop(graft.ingest.OtlpFlatten.convertDatapoints(wire)))
        time("q_s3_full")(noop(graft.SparkEntry.queries("q_s3_per_type")(spark, d)))
        val q = graft.SparkEntry.queries("q_s3_per_type")(spark, d)
        time("q_s3_no_sort")(noop(q.limit(200000)))
        time("q_s3_no_buckets")(noop(q.drop("n_buckets", "bucket_total", "last_le_is_inf")))
        time("q_s3_no_labels")(noop(q.drop("labels")))
        time("q_s3_no_nex")(noop(q.drop("n_exemplars")))
      }
    } else if (args.headOption.contains("s4_ab")) {
      // decompose q_s4_exemplars: is the exemplar transform inlined N times?
      import org.apache.spark.sql.DataFrame
      def noop(dfb: DataFrame): Unit =
        dfb.write.mode("overwrite").format("noop").save()
      val q = graft.SparkEntry.queries("q_s4_exemplars")(spark, d)
      val plan = q.queryExecution.executedPlan.toString
      println(s"[scratch] transform() in executedPlan: " +
        "transform\\(".r.findAllIn(plan).size)
      println(s"[scratch] lambdafunction in executedPlan: " +
        "lambdafunction".r.findAllIn(plan).size)
      plan.linesIterator.foreach(l => println(s"[scratch-plan] ${l.take(200)}"))
      val wireFull = graft.queries.IngestQueries.getClass.getDeclaredMethods
        .find(_.getName == "wire").get
      wireFull.setAccessible(true)
      def wire = wireFull.invoke(graft.queries.IngestQueries, spark, d)
        .asInstanceOf[DataFrame]
      for (_ <- 1 to 2) {
        time("wire_exemplars_only")(noop(wire.select(col("event_id"), col("exemplars"))))
        time("q_s4_full")(noop(q))
        time("q_s4_one_use")(noop(wire.select(col("event_id"),
          size(graft.ingest.Validation.capExemplars(col("exemplars"),
            enabled = true, max = 10)).as("n_capped")).orderBy(col("event_id"))))
      }
    } else if (args.headOption.contains("minhash_ab")) {
      // q_dedup_minhash drift pin (r9 verdict): 1.64 s (r8) → 3.26 s (r9) on
      // unchanged code; historical band 1.6–6.2 s. Decompose the pipeline's
      // stages cumulatively — corpus scan, shingle hashing, signature fold,
      // band-key explode, banded self-join, full query — with GC-settled warm
      // repeats, so a real phase regression would show as one stage's floor
      // moving while the stages before it hold.
      //
      // Measured (sf0.1, local[32], this harness): full query converges to a
      // ~1.1 s warm floor (below BOTH the r8 1.64 s and r9 3.26 s readings);
      // per-stage floors scan 0.3 / shingle 0.38 / sig 0.4 / band 0.4 /
      // join 1.1 — every stage flat across repeats. The only sample in r9's
      // band anywhere is the join stage's FIRST run (4.2 s: codegen compile
      // of the self-join stage + first shuffle init), i.e. the r9 reading is
      // a cold-band sample of an unchanged plan, the same noise class the
      // s4 (r8) and j1 (r9) pins closed. No phase regressed.
      import org.apache.spark.sql.DataFrame
      import graft.queries.LlmQueries
      def noop(dfb: DataFrame): Unit =
        dfb.write.mode("overwrite").format("noop").save()
      val (n, k, bands) = (3, 64, 16)
      def docs = LlmQueries.docsNearDups(spark, d)
      def sh = docs.filter(size(graft.llm.TextAnalysis.tokens(col("text"))) >= n)
        .select(col("doc_id"), Dedup.shingleHashesNative(col("text"), n).as("sh"))
      def sig = sh.select(col("doc_id"),
        graft.functions.MinHashSignatureExpr.signature(col("sh"), k).as("sig"))
      def banded = sig.select(col("doc_id"), col("sig"),
          explode(Dedup.bandKeys(col("sig"), bands, k / bands)).as("bk"))
        .select(col("doc_id"), col("sig"),
          col("bk.band").as("band"), col("bk.key").as("key"))
      def cand = Dedup.minHashCandidates(docs, col("doc_id"), col("text"),
        shingleN = n, k = k, bands = bands, threshold = 0.5)
      def full = graft.SparkEntry.queries("q_dedup_minhash")(spark, d)
      val stages: Seq[(String, () => DataFrame)] = Seq(
        "scan" -> (() => docs), "shingle" -> (() => sh), "sig" -> (() => sig),
        "band" -> (() => banded), "join" -> (() => cand), "full" -> (() => full))
      stages.foreach { case (label, f) =>
        for (i <- 1 to 4) { System.gc(); time(s"$label#$i")(noop(f())) }
      }
    } else if (args.headOption.contains("route_ab")) {
      // routed-vs-unrouted A/B (r9 verdict optional item 7): quantify the
      // MV-routing rule's win on the two oracle-gated dashboard shapes —
      // the scalar 1m rollup aggregate (q_p8_route_mv) and the histogram
      // 5m quantile (q_p8_route_mv_hist) — against the same scratch tiers.
      // The testdata is SPARSE (well under one sample per series-minute), so
      // at any SF the tier is barely smaller than raw and both paths sit on
      // the local-mode scheduling floor. The rule's claim is about DENSITY —
      // routed cost tracks the tier (series x buckets), unrouted tracks raw
      // samples — so this sweeps density K: raw samples replicated K times
      // with within-minute jitter (tiers stay the same size by construction,
      // raw grows K-fold) and measures both paths per K.
      import org.apache.spark.sql.DataFrame
      import graft.sink.{MetricsSink, RollupMaintenance}
      import graft.metrics.{EventsMetrics, Rollup}
      import graft.histo.HistogramFunctions._
      val NowMs = graft.queries.OracleDefs.NowMs
      val DayMs = graft.queries.OracleDefs.DayMs
      // `route_ab merged` sweeps the same densities over tiers built with
      // mergeTierBuckets=true (bound-summed storage) — the expectation is a
      // FLAT routed-histogram row where the concat mode grows with K
      val mergedTiers = args.lift(1).contains("merged")
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_route_ab"
      val keys = Seq(col("workspace_id"), col("metric"))
      def noop(dfb: DataFrame): Unit =
        dfb.write.mode("overwrite").format("noop").save()
      def setup(k: Int): Unit = time(s"[K=$k] setup: densify + write + cascade") {
        val p = new org.apache.hadoop.fs.Path(base)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        val m = EventsMetrics.withHistogram(EventsMetrics.fromEvents(spark, d))
        val dense = if (k == 1) m
          else m.withColumn("rep", explode(array((0 until k).map(lit(_)): _*)))
            .withColumn("ts_ms", col("ts_ms") + col("rep"))
            .withColumn("event_id", concat_ws("_", col("event_id"), col("rep")))
            .drop("rep")
        MetricsSink.write(dense, base, MetricsSink.Raw, col("ts_ms"), keys,
          mode = "overwrite")
        RollupMaintenance.refreshCascade(spark, base, NowMs, keys,
          col("ts_ms"), col("event_id"), mergeTierBuckets = mergedTiers)
      }
      def windowCounts(k: Int): Unit = {
        val rawN = spark.read.parquet(s"$base/metrics_raw")
          .filter(col("ts_ms") >= NowMs - DayMs && col("ts_ms") < NowMs).count()
        val m1N = spark.read.parquet(s"$base/metrics_1m")
          .filter(col("bucket_ms") >= NowMs - DayMs && col("bucket_ms") < NowMs).count()
        val m5N = spark.read.parquet(s"$base/metrics_5m")
          .filter(col("bucket_ms") >= NowMs - DayMs && col("bucket_ms") < NowMs).count()
        // tier BYTES are the merged-mode story: rows stay constant across K
        // in both modes, but concat bytes grow with density
        def bytes(dir: String): Long = {
          val p = new org.apache.hadoop.fs.Path(s"$base/$dir")
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .getContentSummary(p).getLength
        }
        println(s"[scratch] [K=$k] in-window rows: raw=$rawN 1m=$m1N 5m=$m5N " +
          s"bytes: 1m=${bytes("metrics_1m")} 5m=${bytes("metrics_5m")}")
      }
      def scalar1m() = spark.read.parquet(s"$base/metrics_raw")
        .filter(col("ts_ms") >= NowMs - DayMs && col("ts_ms") < NowMs)
        .groupBy(col("workspace_id"), col("metric"),
          Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
        .agg(min(col("value")).as("value_min"), max(col("value")).as("value_max"),
          avg(col("value")).as("value_avg"), count(lit(1)).as("samples_count"))
      def hist5m() = spark.read.parquet(s"$base/metrics_raw")
        .filter(col("ts_ms") >= NowMs - DayMs && col("ts_ms") < NowMs)
        .groupBy(col("workspace_id"), col("metric"),
          Rollup.bucketMs(col("ts_ms"), 300000L).as("bucket_ms"))
        .agg(sum(col("count")).as("count"), sum(col("sum")).as("sum"),
          round(histogram_quantile(merge_buckets_agg(col("buckets")), lit(95.0)), 6)
            .as("p95"))
      def routed[T](f: => T): T = {
        val prev = spark.experimental.extraOptimizations
        spark.experimental.extraOptimizations =
          prev :+ graft.plans.RollupRouting(spark)
        spark.conf.set("spark.graft.rollup.baseDir", base)
        spark.conf.set("spark.graft.rollup.freshAsOfMs", NowMs.toString)
        spark.conf.set("spark.graft.rollup.keys", "workspace_id,metric")
        try f finally {
          spark.experimental.extraOptimizations = prev
          spark.conf.unset("spark.graft.rollup.baseDir")
          spark.conf.unset("spark.graft.rollup.freshAsOfMs")
          spark.conf.unset("spark.graft.rollup.keys")
        }
      }
      for (k <- Seq(1, 8, 32)) {
        setup(k)
        windowCounts(k)
        for (i <- 1 to 3) {
          System.gc()
          time(s"[K=$k] scalar1m unrouted#$i")(noop(scalar1m()))
          routed { time(s"[K=$k] scalar1m ROUTED#$i")(noop(scalar1m())) }
          time(s"[K=$k] hist5m unrouted#$i")(noop(hist5m()))
          routed { time(s"[K=$k] hist5m ROUTED#$i")(noop(hist5m())) }
        }
      }
    } else if (args.headOption.contains("codec_ab")) {
      // storage codec A/B: the reference stores every column ZSTD(1)
      // (schema.sql:4-63); Spark's parquet default is snappy. Measure the
      // write-time and byte cost of matching the reference on the raw tier.
      import graft.sink.MetricsSink
      val ev = graft.metrics.EventsMetrics.withHistogram(
        graft.metrics.EventsMetrics.fromEvents(spark, d))
      def dirBytes(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        walk(new java.io.File(p))
      }
      for (codec <- Seq("snappy", "zstd", "snappy", "zstd")) {
        spark.conf.set("spark.sql.parquet.compression.codec", codec)
        val base = s"${System.getProperty("java.io.tmpdir")}/graft_codec_$codec"
        time(s"write[$codec]")(MetricsSink.write(ev, base, MetricsSink.Raw,
          col("ts_ms"), Seq(col("workspace_id"), col("metric")),
          mode = "overwrite"))
        println(f"[scratch] bytes[$codec]: ${dirBytes(s"$base/metrics_raw") / 1e6}%.1f MB")
        time(s"read[$codec]")(
          spark.read.parquet(s"$base/metrics_raw")
            .groupBy(col("workspace_id")).agg(sum(col("value")))
            .write.mode("overwrite").format("noop").save())
      }
      spark.conf.unset("spark.sql.parquet.compression.codec")
    } else if (args.headOption.contains("sink_ab")) {
      // r22: raw-tier write A/B — heavy projection before the range exchange
      // (old shape: sampler + shuffle both carry/evaluate the arrays) vs
      // derived after it (narrow rows shuffle; arrays computed once). Also
      // prints the derive shape's plan so the exchange payload is auditable.
      import graft.sink.MetricsSink
      import graft.metrics.EventsMetrics
      val keys = Seq(col("workspace_id"), col("metric"))
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_sink_ab"
      val parted = EventsMetrics.fromEvents(spark, d)
        .withColumn("p_date", MetricsSink.partitionValue(MetricsSink.Raw, col("ts_ms")))
      val ranged = parted.repartitionByRange(col("p_date") +: keys: _*)
      val derived = EventsMetrics.withHistogram(ranged)
        .withColumn("p_date", MetricsSink.partitionValue(MetricsSink.Raw, col("ts_ms")))
        .sortWithinPartitions(col("p_date") +: keys :+ col("ts_ms"): _*)
      derived.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("Scan") ||
          l.contains("Project") || l.contains("Sort"))
        .foreach(l => println("[scratch] " + l.trim.take(220)))
      // per-stage listener: where does each write arm spend its wall?
      import scala.collection.mutable
      case class St(var sumMs: Long = 0, var maxMs: Long = 0, var n: Int = 0)
      val stages = mutable.LinkedHashMap[Int, St]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          stages.synchronized {
            val s = stages.getOrElseUpdate(te.stageId, St())
            s.sumMs += te.taskInfo.duration
            s.maxMs = math.max(s.maxMs, te.taskInfo.duration)
            s.n += 1
          }
      }
      spark.sparkContext.addSparkListener(listener)
      def staged[T](label: String)(f: => T): Unit = {
        stages.synchronized(stages.clear())
        time(label)(f)
        Thread.sleep(600)
        stages.synchronized {
          stages.toSeq.foreach { case (sid, s) =>
            println(f"[scratch]   stage $sid%5d: tasks=${s.n}%3d " +
              f"sum=${s.sumMs}%5d ms max=${s.maxMs}%5d ms")
          }
        }
      }
      // the narrow arm restated inline (MetricsSink.write stays wide — this
      // arm records the r22 experiment that was REVERTED: narrow rows
      // through the range exchange shuffle ~3× fewer bytes and the sampler
      // skips the payload projection, but AQE's BYTE-driven partition
      // coalescing then folds the ~2 MB narrow shuffle into 2 write tasks
      // (vs 8 wide), serializing the post-shuffle derive+encode — measured
      // 1.4-2.7 s vs 1.0-1.2 s warm at sf0.1. At 100 TB partition counts
      // are byte-proportional either way and the narrow shuffle would win;
      // at bench scale the parallelism loss dominates.)
      def narrowWrite(): Unit = {
        val r2 = EventsMetrics.fromEvents(spark, d)
          .withColumn("p_date",
            MetricsSink.partitionValue(MetricsSink.Raw, col("ts_ms")))
          .repartitionByRange(col("p_date") +: keys: _*)
        EventsMetrics.withHistogram(r2)
          .withColumn("p_date",
            MetricsSink.partitionValue(MetricsSink.Raw, col("ts_ms")))
          .sortWithinPartitions(col("p_date") +: keys :+ col("ts_ms"): _*)
          .write.partitionBy("p_date").mode("overwrite")
          .parquet(base + "_n/metrics_raw")
      }
      for (_ <- 1 to 3) {
        staged("narrow (derive post-shuffle)")(narrowWrite())
        staged("wide (derive pre-shuffle)")(MetricsSink.write(
          EventsMetrics.withHistogram(EventsMetrics.fromEvents(spark, d)),
          base + "_w", MetricsSink.Raw, col("ts_ms"), keys, mode = "overwrite"))
      }
      spark.sparkContext.removeSparkListener(listener)
    } else if (args.headOption.contains("fscalars_ab")) {
      // decompose q_f_scalars: regex extraction vs substring arithmetic
      val ev = graft.metrics.EventsMetrics.fromEvents(spark, d)
      def noop(dfb: org.apache.spark.sql.DataFrame): Unit =
        dfb.write.mode("overwrite").format("noop").save()
      for (_ <- 1 to 2) {
        time("regex")(noop(ev.select(col("event_id"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k_val"))))
        time("substr")(noop(ev.select(col("event_id"),
          col("props").substr(lit(7), length(col("props")) - 7).cast("long").as("k_val"))))
        time("base")(noop(ev.select(col("event_id"), col("props"))))
      }
    } else if (args.headOption.contains("j1_ab")) {
      // q_j1_lag_lookup drift pin (r8 verdict): the three window-family dumps
      // share one plan shape since r5 (2c9011f) — a single range exchange on
      // the series key feeding window → project, no joins. If j1's bench
      // movement were a plan regression, its exchange/span counts would
      // diverge from its siblings and the warm floor would not converge.
      // Measured (sf0.1, local[32], this harness): all three converge to a
      // common ~0.45-0.55 s warm floor with identical plan audits; j1's
      // r6/r7 0.38 s is the low edge of that band, not a lost optimization.
      import org.apache.spark.sql.DataFrame
      def noop(dfb: DataFrame): Unit =
        dfb.write.mode("overwrite").format("noop").save()
      Seq("q_j1_lag_lookup", "q_a4_cum_to_delta", "q_a6_delta_to_cum")
        .foreach { n =>
          val q = graft.SparkEntry.queries(n)(spark, d)
          val plan = q.queryExecution.executedPlan.toString
          def cnt(p: String) = p.r.findAllIn(plan).size
          println(s"[scratch] $n exchanges=${cnt("Exchange")} " +
            s"windows=${cnt("Window")} spans=${cnt("WholeStageCodegen")} " +
            s"joins=${cnt("Join")}")
          for (i <- 1 to 4) { System.gc(); time(s"$n#$i")(noop(q)) }
        }
    } else if (args.headOption.contains("scans_ab")) {
      // sweep: which queries scan the SAME parquet path more than once in
      // their executed tree? Duplicate fact scans are invisible at sf0.1
      // but are a multiplier on 100 TB I/O (q_j2 was 6x before r11).
      //
      // r11 adjudication of the remaining hits (all benign):
      //  - q_dedup_* / q_ann_*: the 2x floor is the planted-duplicate UNION
      //    fixture (docsNearDups/embScaledDups) — two branches with
      //    different pushed filters, legitimately two pruned scans;
      //    q_ann_ivf's 3x = corpus + probe stride + centroid stride.
      //  - q_dedup_embed 4x: the oracle query's id_b = id_a + 200000
      //    predicate enters the join keys, so the two sides shuffle on
      //    DIFFERENT expressions and exchange reuse structurally cannot
      //    apply; each evaluation carries its own pushed filter. A plain
      //    self-join in this session DOES reuse (see reuse_ab).
      //  - q_u1_union_all: two branches with different predicates — the
      //    pushed-filter union shape, cheaper than scan-once-filter-twice.
      // Library-level duplicates found and fixed this round: q_j2's cnt
      // (6x -> 1x, persist) and jaccardPairs' shingle derivation
      // (2 evaluations / 4 scans -> 1 evaluation, persist).
      val benched = graft.SparkEntry.queries.keys.toSeq.sorted
        .filterNot(graft.SparkEntry.verifyOnly)
      benched.foreach { name =>
        try {
          val dup = graft.plans.PlanAudit.overBudgetScans(
            graft.SparkEntry.queries(name)(spark, d))
          if (dup.nonEmpty)
            println(s"[scratch] $name RESCANS: " + dup.map { case (p, n) =>
              s"${p.split('/').takeRight(1).mkString}x$n" }.mkString(", "))
        } catch { case e: Exception =>
          println(s"[scratch] $name probe failed: ${e.getClass.getSimpleName}")
        } finally graft.CacheHygiene.releaseAll(spark)
      }
      println("[scratch] scans_ab sweep complete")
    } else if (args.headOption.contains("span_ab")) {
      // SpanDedup.dedupApply stage decomposition (r18 verdict #3: 4.8x at
      // 10x) — which stage grows superlinearly: the owners agg, the flagged
      // join + collect_list, or the per-doc coverage filter?
      import org.apache.spark.sql.DataFrame
      def noop(dfb: DataFrame): Unit =
        dfb.write.mode("overwrite").format("noop").save()
      // the REGISTERED fixture (base ∪ span plants), not plain documents —
      // plus the registered query itself, so the sort/fixture overhead vs
      // the chain stages is visible in one decomposition
      val p1 = concat_ws(" ", slice(split(col("text"), " "), 1, 12))
      val base = Tables.documents(spark, d).select(col("doc_id"), col("text"))
      val docs = base.unionAll(
        base.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 700000L).as("doc_id"),
            concat(p1, lit(" spanfix trailer tokens x y z q r s t u")).as("text")))
      for (_ <- 1 to 2) {
        time("registered query (sorted)")(noop(
          graft.SparkEntry.queries("q_dedup_substring_apply")(spark, d)))
        time("full apply")(noop(
          graft.llm.SpanDedup.dedupApply(docs, col("doc_id"), col("text"))))
        time("cuts only (no coverage filter)")(noop(
          graft.llm.SpanDedup.probeCuts(docs, col("doc_id"), col("text"))))
        time("owners only")(noop(
          graft.llm.SpanDedup.probeOwners(docs, col("doc_id"), col("text"))))
        CacheHygiene.releaseAll(spark)
      }
    } else if (args.headOption.contains("skew_ab")) {
      // r19 verdict #4: ADVERSARIAL hot-cell stress for the salted-anchor
      // paths — ~30% of all rows share ONE band/bucket (dHashDedupApply)
      // or one (cell, bucket) (semDeDupSurvivors). The salting contract
      // under test: no single task owns the hot key (task-time spread
      // stays bounded) and the skewed corpus does not blow up wall-clock
      // vs a uniform corpus of the same size. Prints per-stage task
      // max/med for the heaviest stages and a PASS/VIOLATION verdict.
      import org.apache.spark.sql.DataFrame
      import scala.collection.mutable
      def noop(dfb: DataFrame): Unit =
        dfb.write.mode("overwrite").format("noop").save()
      val taskTimes = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          taskTimes.synchronized {
            taskTimes.getOrElseUpdate(te.stageId,
              mutable.ArrayBuffer.empty[Long]) += te.taskInfo.duration
          }
      }
      spark.sparkContext.addSparkListener(listener)
      // AQE's partition coalescing folds this probe's MB-scale shuffles
      // into 1-4 tasks, which hides the per-task spread the probe exists
      // to measure — run it on fixed 32-partition shuffles (production
      // AQE keeps coalescing AND adds skew-split on top; disabling it
      // here is the conservative direction for a straggler probe).
      // try/finally (r20 ADVICE): an arm that throws must not leave the
      // session with coalescing off and the listener attached.
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try {
      // max/med over the heaviest stage with enough tasks to have a
      // meaningful spread; single-digit-task stages are setup noise
      def spread(label: String): Double = taskTimes.synchronized {
        println(s"[scratch] $label stages=${taskTimes.size} " +
          s"tasks=${taskTimes.values.map(_.length).sum}")
        val top = taskTimes.toSeq.filter(_._2.length >= 8)
          .sortBy(-_._2.sum).take(3)
        var worst = 0.0
        top.foreach { case (sid, ts) =>
          val s = ts.sorted.toIndexedSeq
          val med = math.max(s(s.length / 2), 1L)
          val r = s.last.toDouble / med
          worst = math.max(worst, r)
          println(f"[scratch] $label stage $sid: tasks=${s.length} " +
            f"total=${s.sum}ms max=${s.last}ms med=${med}ms max/med=$r%.1f")
        }
        taskTimes.clear()
        worst
      }
      val n = 200000L
      // dhash arm: skewFrac of rows carry ONE 64-bit hash (all 4 bands
      // hot); the rest spread via xxhash64
      def hashes(skewPct: Int): DataFrame =
        spark.range(n).select(col("id").as("doc_id"),
          when(pmod(col("id"), lit(100)) < skewPct, lit(0x1234567890abcdefL))
            .otherwise(xxhash64(col("id"))).as("dhash"))
      // semdedup arm: skewed rows are NEARLY-parallel DISTINCT unit
      // vectors (per-id jitter defeats the exact collapse, so the hot
      // (cell, bucket) really carries 30% of the corpus through the
      // anchor machinery); cold rows spread by sin()
      def embs(skewPct: Int): DataFrame = {
        val dims = 8
        val hot = array((0 until dims).map(j =>
          if (j == 0) lit(1.0)
          else if (j == 1) col("id").cast("double") * lit(1e-12)
          else lit(0.0)): _*)
        val cold = array((0 until dims).map(j =>
          sin((col("id") + 1).cast("double") * (j + 1))): _*)
        spark.range(n / 2).select(col("id").as("vec_id"),
          when(pmod(col("id"), lit(100)) < skewPct, hot)
            .otherwise(cold).as("embedding"))
      }
      val cents = spark.range(16).select(col("id").as("vec_id"),
        array((0 until 8).map(j =>
          sin((col("id") + 3).cast("double") * (2 * j + 1))): _*).as("embedding"))
      for (round <- 1 to 2) {
        var verdictOk = true
        def arm(label: String, uniform: => Unit, skewed: => Unit): Unit = {
          val t0 = System.nanoTime(); uniform
          val uWall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(1000) // listener bus is async; let task events land
          spread(s"$label uniform")
          val t1 = System.nanoTime(); skewed
          val sWall = (System.nanoTime() - t1) / 1e9
          Thread.sleep(1000)
          val sSpread = spread(s"$label 30%-hot")
          println(f"[scratch] $label wall skewed/uniform = ${sWall / uWall}%.2f " +
            f"($uWall%.2f -> $sWall%.2f s), hot max/med = $sSpread%.1f")
          // straggler bound: the hottest stage's slowest task may not be
          // more than ~8x its median (32 salts would leave ~32x unsalted),
          // and skew may not cost more than ~3x the uniform wall
          if (sSpread > 8.0 || sWall / uWall > 3.0) verdictOk = false
        }
        arm("dhash",
          noop(graft.llm.Multimodal.dHashDedupApply(hashes(0), maxDist = 3)),
          noop(graft.llm.Multimodal.dHashDedupApply(hashes(30), maxDist = 3)))
        arm("semdedup",
          noop(graft.llm.Similarity.semDeDupSurvivors(embs(0), cents,
            tau = 0.9, nBits = 4, anchorCap = 8)),
          noop(graft.llm.Similarity.semDeDupSurvivors(embs(30), cents,
            tau = 0.9, nBits = 4, anchorCap = 8)))
        println(s"[scratch] skew_ab round $round: " +
          (if (verdictOk) "SKEW GUARD OK" else "SKEW GUARD VIOLATION"))
        CacheHygiene.releaseAll(spark)
      }
      } finally {
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.sparkContext.removeSparkListener(listener)
      }
    } else if (args.headOption.contains("phash_ab")) {
      // q_mm_phash cost decomposition: fixture encode vs decode+hash
      import org.apache.spark.sql.DataFrame
      def noop(dfb: DataFrame): Unit =
        dfb.write.mode("overwrite").format("noop").save()
      val fix = graft.queries.LlmQueries.mediaPhashFix(spark, d)
      for (_ <- 1 to 2) {
        time("fixture encode only")(noop(fix))
        time("fixture encode + byte count")(noop(
          fix.select(col("doc_id"), length(col("payload")))))
        time("encode + decode + hash")(noop(
          graft.llm.Multimodal.dHashMedia(fix)))
        time("registered (sorted)")(noop(
          graft.SparkEntry.queries("q_mm_phash")(spark, d)))
        CacheHygiene.releaseAll(spark)
      }
    } else if (args.headOption.contains("reuse_ab")) {
      // control: does a plain self-join reuse its exchange in this session?
      val t = spark.range(100000).select(col("id"),
        (col("id") % 7).as("b"), (col("id") * 2).as("v"))
      val j = t.as("x").hint("shuffle_merge")
        .join(t.as("y").hint("shuffle_merge"),
          col("x.b") === col("y.b") && col("x.id") < col("y.id"))
      val qe1 = j.queryExecution
      qe1.toRdd.foreach(_ => ())
      println(s"[scratch] plain self-join reused=" +
        "ReusedExchange".r.findAllIn(qe1.executedPlan.toString).size)
      // subject: q_dedup_embed's executed exchanges
      val qe = graft.SparkEntry.queries("q_dedup_embed")(spark, d).queryExecution
      qe.toRdd.foreach(_ => ())
      val plan = qe.executedPlan.toString
      println(s"[scratch] q_dedup_embed reused=" +
        "ReusedExchange".r.findAllIn(plan).size)
      plan.linesIterator.filter(l => l.contains("Exchange") || l.contains("Scan"))
        .take(20).foreach(l => println("[scratch] " + l.trim.take(150)))
      graft.CacheHygiene.releaseAll(spark)
    } else if (args.headOption.contains("reuse_q")) {
      // generic: executed exchange-reuse probe for any registered query
      val name = args(1)
      val qe = graft.SparkEntry.queries(name)(spark, d).queryExecution
      qe.toRdd.foreach(_ => ())
      val plan = qe.executedPlan.toString
      println(s"[scratch] $name reused=" +
        "ReusedExchange".r.findAllIn(plan).size)
      plan.linesIterator
        .filter(l => l.contains("Exchange") || l.contains("Scan") ||
          l.contains("Aggregate"))
        .foreach(l => println("[scratch] " + l.trim.take(150)))
      graft.CacheHygiene.releaseAll(spark)
    } else if (args.headOption.contains("j2_ab")) {
      // does q_j2's triple reference to `cnt` (months/firsts/filled) collapse
      // to one lineitem scan, or re-scan per branch? (tree walk via
      // PlanAudit — textual FileScan counts over-report once persist is in
      // play: a cached relation's interior plan prints but never executes)
      val qe = graft.SparkEntry.queries("q_j2_bucket_deltas")(spark, d)
        .queryExecution
      qe.toRdd.foreach(_ => ())
      val plan = qe.executedPlan.toString
      def cnt(p: String) = p.r.findAllIn(plan).size
      println(s"[scratch] q_j2 fileScans(text)=${cnt("FileScan")} " +
        s"reusedExchanges=${cnt("ReusedExchange")} " +
        s"exchanges=${cnt("Exchange")} aqeReads=${cnt("AQEShuffleRead")} " +
        s"memScans=${cnt("InMemoryTableScan")}")
      println(s"[scratch] q_j2 treeFileScans=" +
        graft.plans.PlanAudit.scannedPaths(qe.executedPlan).size)
      graft.CacheHygiene.releaseAll(spark)
    } else if (args.headOption.contains("winnow_cc")) {
      // component-graph diagnostics for the winnow pair set: pair count,
      // propagation rounds, convergence (did the star fallback arm?)
      val pairs = Dedup.winnowPairs(
        graft.queries.LlmQueries.docsNearDups(spark, d),
        col("doc_id"), col("text"), k = 12, w = 8, dfCap = 64, threshold = 0.5)
      println(s"[scratch] winnow pairs: ${time("pairs")(pairs.count())}")
      val r = time("components") {
        Dedup.componentsBestEffort(pairs, col("id_a"), col("id_b"))
      }
      println(s"[scratch] winnow_cc rounds=${r.rounds} converged=${r.converged}")
      graft.CacheHygiene.releaseAll(spark)
    } else if (args.headOption.contains("xchg_audit")) {
      // r21: fleet-wide executed-plan waste audit. For each benched query:
      // tree-aware exchange count (reuse credited), duplicate-exchange
      // groups (identical modulo expression ids — each duplicate is a
      // shuffle the plan pays twice for the same data), and physical scan
      // count. Queries named in args override the full benched set.
      val names =
        if (args.length > 1) args.drop(1).toSeq
        else graft.SparkEntry.queries.keys.toSeq.sorted
          .filterNot(graft.SparkEntry.verifyOnly)
      names.foreach { name =>
        try {
          val qe = graft.SparkEntry.queries(name)(spark, d).queryExecution
          qe.toRdd.foreach(_ => ())
          // collect exchange NODES (not just labels) so duplicates can be
          // confirmed on the whole canonicalized child subtree — identical
          // exchange keys over different inputs (two-phase top-k) are fine;
          // identical subtrees mean the same data shuffled twice
          import org.apache.spark.sql.execution.SparkPlan
          import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
          import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
          def nodes(p: SparkPlan): Seq[ShuffleExchangeLike] = {
            val self = p match {
              case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
              case q: QueryStageExec => nodes(q.plan)
              case _: ReusedExchangeExec => Seq.empty
              case e: ShuffleExchangeLike => Seq(e)
              case _ => Seq.empty
            }
            self ++ p.children.flatMap(nodes)
          }
          val ex = nodes(qe.executedPlan)
          def canon(e: ShuffleExchangeLike): String =
            (e.simpleString(200) + "\n" + e.child.canonicalized.toString)
              .replaceAll("#\\d+L?", "#x").replaceAll("plan_id=\\d+", "p")
          val dups = ex.groupBy(canon).filter(_._2.size > 1)
          val scans = graft.plans.PlanAudit.scannedPaths(qe.executedPlan)
          println(s"[scratch] xchg $name: exchanges=${ex.size} " +
            s"dupGroups=${dups.size} dupExtra=${dups.values.map(_.size - 1).sum} " +
            s"scans=${scans.size}")
          dups.keys.foreach(k =>
            println(s"[scratch]   dup: ${k.linesIterator.next().take(140)}"))
        } catch { case e: Throwable =>
          println(s"[scratch] xchg $name: ERR ${e.getClass.getSimpleName}")
        }
        CacheHygiene.releaseAll(spark)
      }
    } else if (args.headOption.contains("conf_ab")) {
      // r21: A/B a single SQL conf across named queries, Bench-style
      // (min-of-2 noop-sink samples per arm). Usage:
      //   conf_ab <key>=<value> <query...>
      val Array(key, value) = args(1).split("=", 2)
      val default = spark.conf.getOption(key)
      def best(name: String): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, d)
          .write.mode("overwrite").format("noop").save()
        val t = (System.nanoTime() - t0) / 1e9
        CacheHygiene.releaseAll(spark); t
      }.min
      args.drop(2).foreach { name =>
        // alternate arms 3× and take each arm's min — a single ordered pass
        // confounds the conf with JIT/codegen warm-up
        var baseMin = Double.MaxValue
        var flipMin = Double.MaxValue
        for (_ <- 1 to 3) {
          default.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
          baseMin = math.min(baseMin, best(name))
          spark.conf.set(key, value)
          flipMin = math.min(flipMin, best(name))
        }
        default.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
        println(f"[scratch] conf_ab $name: base=$baseMin%.2f s  " +
          f"$key=$value: $flipMin%.2f s")
      }
    } else if (args.headOption.contains("stage_q")) {
      // r21: per-stage task-time breakdown for named queries — the "which
      // stage owns the time" instrument (optimization guide §1/§7.1, no UI
      // in this sandbox). Prints each stage's wall-relevant task-time sum,
      // task count, and max task, plus the setup/exec split, twice (run 2
      // is the warm signal the bench's min-of-2 reports).
      import scala.collection.mutable
      case class St(var sumMs: Long = 0, var maxMs: Long = 0, var n: Int = 0,
        var name: String = "?")
      val stages = mutable.LinkedHashMap[Int, St]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          stages.synchronized {
            val s = stages.getOrElseUpdate(te.stageId, St())
            s.sumMs += te.taskInfo.duration
            s.maxMs = math.max(s.maxMs, te.taskInfo.duration)
            s.n += 1
          }
        override def onStageSubmitted(
            ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          stages.synchronized {
            stages.getOrElseUpdate(ss.stageInfo.stageId, St()).name =
              ss.stageInfo.name.take(90)
          }
      }
      spark.sparkContext.addSparkListener(listener)
      try args.drop(1).foreach { name =>
        for (run <- 1 to 2) {
          stages.synchronized(stages.clear())
          val t0 = System.nanoTime()
          val df = graft.SparkEntry.queries(name)(spark, d)
          val t1 = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
          val t2 = System.nanoTime()
          Thread.sleep(800) // listener bus is async
          println(f"[scratch] $name run$run: setup=${(t1 - t0) / 1e9}%.2f s " +
            f"exec=${(t2 - t1) / 1e9}%.2f s")
          stages.synchronized {
            stages.toSeq.sortBy(-_._2.sumMs).take(14).foreach { case (sid, s) =>
              println(f"[scratch]   stage $sid%5d: sum=${s.sumMs}%6d ms " +
                f"tasks=${s.n}%4d max=${s.maxMs}%5d ms  ${s.name}")
            }
          }
          CacheHygiene.releaseAll(spark)
        }
      } finally spark.sparkContext.removeSparkListener(listener)
    } else if (args.nonEmpty) {
      // time the named queries (forcing full execution, Bench-style)
      args.foreach { name =>
        time(name) {
          graft.SparkEntry.queries(name)(spark, d)
            .write.mode("overwrite").format("noop").save()
        }
        audit(name)
      }
    } else {
      Seq("q_read_path", "q_join_agg", "q_dedup_minhash", "q_a1_rollup_1m",
        "q_p4_matchers", "q_ann_ivf", "q_sink_roundtrip",
        // r17 additions: the new operator families
        "q_tokenize_ids", "q_embed_hashed", "q_dedup_semdedup_text",
        "q_gopher_rules_by_lang", "q_src_warc").foreach(audit)
    }
    spark.stop()
  }
}
