package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.metrics.{EventsMetrics, Rollup}
import graft.query.Promread
import graft.sink.{MetricsSink, RollupMaintenance}

/** Storage-layout queries: S6/O4/F4 write→route→read round trip and the ST8
  * incremental MV cascade (reference: internal/clickhouse/schema.sql:63-73
  * layout, :183/:274/:365 MV freshness; writer.go:147-258 insert path).
  *
  * Both queries write real partitioned Parquet under java.io.tmpdir (the
  * harness's only writable scratch), then read back through the engine's own
  * read path — so the oracle checks the full write→storage→read cycle, not
  * just the in-memory plan.
  */
object SinkQueries {

  import OracleDefs.{NowMs, EvtCte}

  private def m1(s: SparkSession, d: String): DataFrame =
    Rollup.rollup1m(EventsMetrics.fromEvents(s, d),
      Seq(col("workspace_id"), col("metric")),
      col("ts_ms"), col("value"), col("event_id"))

  private def scratch(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_$name"

  private val rollupOut = Seq(col("workspace_id"), col("metric"),
    col("bucket_ms"), col("value_min"), col("value_max"),
    OracleDefs.stableAvg4(col("value_avg")).as("value_avg"), col("value_last"),
    round(col("value_sum"), 2).as("value_sum"), col("samples_count"))

  /** Closed-form projection of a stored FULL tier (bucket concat reduced to
    * size + count total so DuckDB can restate it). */
  private val fullOut = Seq(col("workspace_id"), col("metric"),
    col("bucket_ms"), col("value_min"), col("value_max"),
    OracleDefs.stableAvg4(col("value_avg")).as("value_avg"), col("value_last"),
    col("count"), round(col("sum"), 2).as("sum"),
    size(col("buckets")).as("n_bucket_entries"),
    aggregate(col("buckets"), lit(0L),
      (acc, b) => acc + b.getField("count")).as("bucket_count_total"),
    Promread.labelsKey(col("attributes")).as("attrs"),
    col("samples_count"))

  // q_sink_roundtrip's promread window: 2024-01-20 00:00 → 20:00 UTC.
  // Age vs pinned now (4d) and span (20h) route it to metrics_1m
  // (handler.go:304-321: age<15d ∧ span<24h).
  private val RtStart = 1705708800000L
  private val RtEnd = RtStart + 20 * 3600L * 1000L

  /** Shared body of the routed histogram dashboard queries: write raw,
    * cascade into scratch tiers (concat or bound-merged storage per
    * `mergeTierBuckets`), then run the histogram_quantile aggregate over RAW
    * with the routing confs set — the plan must answer from the stored 5m
    * tier, and the caller's oracle recomputes the answer from the events
    * table. Both storage modes hash-match the SAME oracle. */
  private def routedHistDashboard(s: SparkSession, d: String,
      scratchName: String, mergeTierBuckets: Boolean): DataFrame = {
    val base = scratch(scratchName)
    wipe(s, base)
    val keys = Seq(col("workspace_id"), col("metric"))
    MetricsSink.write(EventsMetrics.withHistogram(EventsMetrics.fromEvents(s, d)),
      base, MetricsSink.Raw, col("ts_ms"), keys, mode = "overwrite")
    RollupMaintenance.refreshCascade(s, base, NowMs, keys,
      col("ts_ms"), col("event_id"), mergeTierBuckets = mergeTierBuckets)
    if (mergeTierBuckets) {
      // the merged mode must actually store bound-summed vectors: a row with
      // a duplicate bound means the concat path leaked through
      val dup = s.read.parquet(s"$base/metrics_5m")
        .select(size(col("buckets")).as("n"),
          size(array_distinct(col("buckets.le"))).as("nd"))
        .filter(col("n") =!= col("nd")).count()
      require(dup == 0, s"merged tier stored $dup rows with duplicate bounds")
    }
    s.conf.set("spark.graft.rollup.baseDir", base)
    s.conf.set("spark.graft.rollup.freshAsOfMs", NowMs.toString)
    s.conf.set("spark.graft.rollup.keys", "workspace_id,metric")
    try {
      import graft.histo.HistogramFunctions._
      val lo = NowMs - OracleDefs.DayMs
      def merged = merge_buckets_agg(col("buckets"))
      val routed = s.read.parquet(s"$base/metrics_raw")
        .filter(col("ts_ms") >= lo && col("ts_ms") < NowMs)
        .groupBy(col("workspace_id"), col("metric"),
          Rollup.bucketMs(col("ts_ms"), 300000L).as("bucket_ms"))
        .agg(sum(col("count")).as("count"),
          round(sum(col("sum")), 2).as("sum"),
          round(histogram_quantile(merged, lit(50.0)), 6).as("p50"),
          round(histogram_quantile(merged, lit(95.0)), 6).as("p95"))
        .orderBy(col("workspace_id"), col("metric"), col("bucket_ms"))
      val plan = routed.queryExecution.executedPlan.toString
      require(plan.contains("metrics_5m"),
        "MV routing did not fire — the routed hist query would verify an unrouted plan")
      require(!plan.contains("metrics_raw"),
        "raw tier still scanned after MV routing")
      require(plan.contains("merge_buckets_agg"),
        "bucket merge missing from the routed plan")
      val rows = graft.BenchPhases.timed("read")(routed.collect())
      s.createDataFrame(java.util.Arrays.asList(rows: _*), routed.schema)
    } finally {
      s.conf.unset("spark.graft.rollup.baseDir")
      s.conf.unset("spark.graft.rollup.freshAsOfMs")
      s.conf.unset("spark.graft.rollup.keys")
    }
  }

  def ops: Seq[Op] = Seq(
    // S6+O4+F4 — write the 1m tier (daily partitions, range-clustered on the
    // storage sort key), then serve a promread window from it: P8 picks the
    // tier, the partition filter prunes directories, the bucket predicate
    // lands on the parquet scan.
    Op("q_sink_roundtrip", (s, d) => {
      val base = scratch("q_sink_rt")
      MetricsSink.write(m1(s, d), base, MetricsSink.M1, col("bucket_ms"),
        Seq(col("workspace_id"), col("metric")), mode = "overwrite")
      val tier = MetricsSink.tiers
        .find(_.name == Promread.selectTable(RtStart, RtEnd, NowMs)).get
      MetricsSink.read(s, base, tier)
        .filter(MetricsSink.partitionFilter(tier, RtStart, RtEnd))
        .filter(col("bucket_ms").between(RtStart, RtEnd))
        .select(rollupOut: _*)
        .orderBy(col("workspace_id"), col("metric"), col("bucket_ms"))
    }, Oracle(s"""$EvtCte,
      |m1 AS ($m1Sql)
      |SELECT workspace_id, metric, bucket_ms,
      |       vmin AS value_min, vmax AS value_max,
      |       ${OracleDefs.stableAvg4Sql("vavg")} AS value_avg, vlast AS value_last,
      |       round(vsum, 2) AS value_sum, cnt AS samples_count
      |FROM m1 WHERE bucket_ms BETWEEN $RtStart AND $RtEnd
      |ORDER BY 1, 2, 3""".stripMargin)),

    // ST8 — raw tier → incremental FULL-width 1m/5m/1h cascade with the
    // reference's freshness windows, read back from the written 1h tier
    // (count/sum/buckets/attributes land in storage, exp fields stop at 1m —
    // schema.sql:194-247). Only raw rows inside the 1m window (now − 1d) can
    // reach 1h, exactly like the MV chain. The scratch base is wiped first:
    // the cascade's dynamic-partition overwrite is idempotent against its OWN
    // schema but must not union against stale partitions of an older one.
    Op("q_st8_cascade", (s, d) => {
      val base = scratch("q_st8")
      wipe(s, base)
      val keys = Seq(col("workspace_id"), col("metric"))
      MetricsSink.write(EventsMetrics.withHistogram(EventsMetrics.fromEvents(s, d)),
        base, MetricsSink.Raw, col("ts_ms"), keys, mode = "overwrite")
      RollupMaintenance.refreshCascade(s, base, NowMs, keys,
        col("ts_ms"), col("event_id"))
      MetricsSink.read(s, base, MetricsSink.H1)
        .filter(col("bucket_ms") >= NowMs - RollupMaintenance.freshnessMs("metrics_1m"))
        .select(fullOut: _*)
        .orderBy(col("workspace_id"), col("metric"), col("bucket_ms"))
    }, Oracle(s"""$EvtCte,
      |fresh AS (SELECT * FROM evt WHERE ts_ms >= ${NowMs - 86400000L}),
      |m1 AS (SELECT workspace_id, metric, (ts_ms // 60000) * 60000 AS bucket_ms,
      |       min(value) vmin, max(value) vmax, avg(value) vavg,
      |       arg_max(value, event_id) vlast,
      |       sum(user_id % 10 + 1) cntc, sum(round(value * 10, 2)) sumc,
      |       4 * count(*) nbe,
      |       sum(user_id % 3 + user_id % 5 + user_id % 7 + user_id % 11) bct,
      |       count(*) cnt, max(event_id) lseq
      |       FROM fresh GROUP BY 1,2,3),
      |m5 AS (SELECT workspace_id, metric, (bucket_ms // 300000) * 300000 AS bucket_ms,
      |       min(vmin) vmin, max(vmax) vmax, avg(vavg) vavg,
      |       arg_max(vlast, lseq) vlast, sum(cntc) cntc, sum(sumc) sumc,
      |       sum(nbe) nbe, sum(bct) bct, sum(cnt) cnt, max(lseq) lseq
      |       FROM m1 GROUP BY 1,2,3)
      |SELECT workspace_id, metric, (bucket_ms // 3600000) * 3600000 AS bucket_ms,
      |       min(vmin) AS value_min, max(vmax) AS value_max,
      |       ${OracleDefs.stableAvg4Sql("avg(vavg)")} AS value_avg,
      |       arg_max(vlast, lseq) AS value_last,
      |       CAST(sum(cntc) AS BIGINT) AS count,
      |       round(sum(sumc), 2) AS sum,
      |       CAST(sum(nbe) AS INT) AS n_bucket_entries,
      |       CAST(sum(bct) AS BIGINT) AS bucket_count_total,
      |       'm=' || metric AS attrs,
      |       CAST(sum(cnt) AS BIGINT) AS samples_count
      |FROM m5 GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin)),

    // P8 as a PLAN rewrite — the MV-routing Catalyst rule (plans/
    // RollupRouting, SURVEY §4 v1) under the oracle gate: the registered
    // query aggregates the RAW tier in the 1m-rollup shape; with the
    // spark.graft.rollup.* confs set, the optimizer must answer it from the
    // STORED metrics_1m tier instead (required on the executed plan below —
    // an unrouted run fails Verify rather than silently passing), and the
    // DuckDB oracle recomputes the same answer from the events table, so a
    // hash match proves the rewrite is invisible in the result. The routed
    // rows are materialized while the confs are set and returned as a local
    // relation so the session-wide rule can never leak into later queries.
    Op("q_p8_route_mv", (s, d) => {
      val base = scratch("q_p8_mv")
      wipe(s, base)
      val keys = Seq(col("workspace_id"), col("metric"))
      MetricsSink.write(EventsMetrics.withHistogram(EventsMetrics.fromEvents(s, d)),
        base, MetricsSink.Raw, col("ts_ms"), keys, mode = "overwrite")
      RollupMaintenance.refreshCascade(s, base, NowMs, keys,
        col("ts_ms"), col("event_id"))
      s.conf.set("spark.graft.rollup.baseDir", base)
      s.conf.set("spark.graft.rollup.freshAsOfMs", NowMs.toString)
      s.conf.set("spark.graft.rollup.keys", "workspace_id,metric")
      try {
        // one day up to the freshness watermark: aligned bounds, exactly the
        // span a single cascade at NowMs has materialized in the 1m tier
        val lo = NowMs - OracleDefs.DayMs
        val routed = s.read.parquet(s"$base/metrics_raw")
          .filter(col("ts_ms") >= lo && col("ts_ms") < NowMs)
          .groupBy(col("workspace_id"), col("metric"),
            Rollup.bucketMs(col("ts_ms"), 60000L).as("bucket_ms"))
          .agg(min(col("value")).as("value_min"), max(col("value")).as("value_max"),
            avg(col("value")).as("avg_raw"), count(lit(1)).as("samples_count"))
          .select(col("workspace_id"), col("metric"), col("bucket_ms"),
            col("value_min"), col("value_max"),
            OracleDefs.stableAvg4(col("avg_raw")).as("value_avg"),
            col("samples_count"))
          .orderBy(col("workspace_id"), col("metric"), col("bucket_ms"))
        val plan = routed.queryExecution.executedPlan.toString
        require(plan.contains("metrics_1m"),
          "MV routing did not fire — q_p8_route_mv would verify an unrouted plan")
        require(!plan.contains("metrics_raw"),
          "raw tier still scanned after MV routing")
        // the routed read is the measured phase; the write+cascade above is
        // setup (BenchPhases folds this out of the builder time for BENCH)
        val rows = graft.BenchPhases.timed("read")(routed.collect())
        s.createDataFrame(java.util.Arrays.asList(rows: _*), routed.schema)
      } finally {
        s.conf.unset("spark.graft.rollup.baseDir")
        s.conf.unset("spark.graft.rollup.freshAsOfMs")
        s.conf.unset("spark.graft.rollup.keys")
      }
    },
      // The routed plan reads STORED tier columns (value_min/value_max/
      // value_avg/samples_count); the oracle recomputes them from the events
      // table — a hash match proves the Catalyst rewrite returned exactly the
      // raw-derived answer. stableAvg4 on both sides: the stored value_avg and
      // DuckDB's avg(value) differ only in float summation order.
      Oracle(s"""$EvtCte
      |SELECT workspace_id, metric,
      |       (ts_ms // 60000) * 60000 AS bucket_ms,
      |       min(value) AS value_min, max(value) AS value_max,
      |       ${OracleDefs.stableAvg4Sql("avg(value)")} AS value_avg,
      |       count(*) AS samples_count
      |FROM evt
      |WHERE ts_ms >= ${NowMs - OracleDefs.DayMs} AND ts_ms < $NowMs
      |GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin)),

    // The MV-routing rule on the reference's most characteristic read — a
    // histogram_quantile dashboard over raw (README.md:161-170) — via the
    // single-call bucket-merge aggregate: the registered query aggregates the
    // RAW tier per 5m bucket with sum(count)/sum(sum)/quantile-over-merged-
    // buckets; the rule must answer it from the STORED metrics_5m tier
    // (merging the stored bucket concats — plan-asserted below), and the
    // DuckDB oracle recomputes count/sum/p50/p95 from the events table with
    // the reference's interpolation walk, so a hash match proves the routed
    // histogram answer equals the raw-derived one.
    Op("q_p8_route_mv_hist", (s, d) =>
      routedHistDashboard(s, d, "q_p8_mv_hist", mergeTierBuckets = false),
      // The routed histogram dashboard: the plan reads the STORED 5m tier and
      // merges its bucket concats; the oracle recomputes count/sum and the
      // reference interpolation walk (percentile.go:17-67) from the events
      // table per 5m bucket — a hash match proves the Catalyst rewrite of the
      // histogram shape returned exactly the raw-derived answer. Groups whose
      // four fixture bounds all sum to zero get NULL quantiles on both sides
      // (the reference errors on total=0; the engine surfaces that as NULL).
      Oracle(RoutedHistOracleSql)),

    // The SAME routed histogram dashboard over tiers built with
    // `maintenance.merge_tier_buckets=true` — the opt-in scale mode that
    // stores bound-summed vectors instead of the reference's per-snapshot
    // concat (Rollup.storedBuckets). The oracle is IDENTICAL to
    // q_p8_route_mv_hist's raw recomputation: a hash match proves the
    // divergent storage is invisible in every merged read — the
    // split-invariance the property suite pins, here end-to-end through
    // parquet, the cascade, and the Catalyst rewrite. The builder also
    // asserts the stored vectors really are merged (no duplicate bounds
    // per row), so the query can't silently pass on concat storage.
    // Verify-only: same dashboard, same oracle — benching it would
    // double-count the routed-hist setup without adding a distinct
    // production path.
    Op("q_p8_route_mv_hist_merged", (s, d) =>
      routedHistDashboard(s, d, "q_p8_mv_hist_mrg", mergeTierBuckets = true),
      // The merged-storage twin answers from bound-summed tier vectors but
      // must produce the IDENTICAL raw-derived result — same oracle verbatim.
      VerifyOnly(RoutedHistOracleSql)),

    // The read path's REAL histogram case at coarse resolution
    // (handler.go:304-321 routing + :179-205 histogram rows +
    // pkg/histogram/percentile.go:17-67,83-105): a promread window 20 days
    // old with a 3-day span P8-routes to metrics_5m; the query then merges
    // the STORED bucket concats across the window per series and computes
    // p50/p90/p99 over the merged histogram. Exercises matchers against the
    // stored attribute map, partition pruning on the monthly tier, and the
    // quantile over buckets that went through parquet — end-to-end.
    Op("q_read_path_5m_hist", (s, d) => storedHistRead(s, d, "q_rp5m", HStart, HEnd),
      // The coarse-tier histogram reads: rows whose tier bucket falls in the
      // window (bucket_ms BETWEEN start AND end — restated as the floor
      // expression), merged per series into the four fixture bounds, then the
      // reference percentile interpolation (percentile.go:17-67) in SQL.
      Oracle(histReadSql(300000L, HEnd))),

    // Same read path routed to the 1h tier: a 10-day span fails the 5m gate
    // (span ≥ 7d, handler.go:304-321) regardless of age, so the quantile
    // merges the STORED hourly bucket concats — the coarsest storage a real
    // histogram query ever reads.
    Op("q_read_path_1h_hist", (s, d) => storedHistRead(s, d, "q_rp1h", HStart, GEnd),
      Oracle(histReadSql(3600000L, GEnd))),

    // The EXP-histogram read at the stored 1m tier — the ONLY tier carrying
    // exp columns (the reference's 5m/1h tables drop them,
    // schema.sql:194-247): write the full 1m MV, P8-route a 4-day-old
    // 20-hour window to it, merge the stored exp bucket concats per series
    // with the typed Aggregator, and walk negative→zero→positive for the
    // percentile (percentile.go:159-225). Closes the loop q_st8_cascade
    // leaves open: exp payloads surviving parquet and feeding a read.
    Op("q_read_path_1m_exp", (s, d) => {
      import Promread._
      val base = scratch("q_rp1m_exp")
      wipe(s, base)
      val keys = Seq(col("workspace_id"), col("metric"))
      val m1f = Rollup.rollup1mFull(
        EventsMetrics.withHistogram(EventsMetrics.fromEvents(s, d)),
        keys, col("ts_ms"), col("event_id"))
      val tier = MetricsSink.tiers
        .find(_.name == Promread.selectTable(RtStart, RtEnd, NowMs)).get // metrics_1m
      MetricsSink.write(m1f, base, tier, col("bucket_ms"), keys,
        mode = "overwrite")
      val pred = predicate(Seq(Matcher("m", RE, "^evt_(purchase|view)$")),
        workspaceId = "ws-1", startMs = RtStart, endMs = RtEnd,
        tsMsCol = col("bucket_ms"))
      val rows = MetricsSink.read(s, base, tier)
        .filter(MetricsSink.partitionFilter(tier, RtStart, RtEnd))
        .filter(pred)
      import graft.histo.HistogramFunctions
      rows.groupBy(keys: _*)
        .agg(HistogramFunctions.merge_exp_hist(col("exp_scale"),
          col("exp_zero_count"), col("exp_zero_threshold"),
          col("exp_positive_buckets"), col("exp_negative_buckets")).as("m"))
        .select(col("workspace_id"), col("metric"),
          col("m.scale").as("scale"),
          col("m.zeroCount").as("zero_count"),
          round(col("m.zeroThreshold"), 6).as("zero_threshold"),
          round(HistogramFunctions.exp_histogram_quantile(col("m.scale"),
            col("m.zeroCount"), col("m.positive"), col("m.negative"),
            lit(50.0)), 6).as("p50"),
          round(HistogramFunctions.exp_histogram_quantile(col("m.scale"),
            col("m.zeroCount"), col("m.positive"), col("m.negative"),
            lit(99.0)), 6).as("p99"))
        .orderBy(col("workspace_id"), col("metric"))
    },
      // Closed-form restatement of the stored-1m exp read: the fixture's exp
      // payload is one negative bucket (-1, u%6), zero count u%4, one positive
      // bucket (1, u%5) at scale len(metric)%3, so the negative→zero→positive
      // walk (percentile.go:159-210) collapses to a three-region CASE on the
      // modular sums, with bucket midpoints from base = 2^(2^-scale).
      Oracle(s"""$EvtCte,
      |sel AS (SELECT * FROM evt
      |        WHERE workspace_id = 'ws-1'
      |          AND regexp_matches(metric, '^evt_(purchase|view)$$')
      |          AND (ts_ms // 60000) * 60000 BETWEEN $RtStart AND $RtEnd),
      |agg AS (SELECT workspace_id, metric,
      |               CAST(length(metric) % 3 AS INT) AS s,
      |               CAST(sum(user_id % 6) AS BIGINT) AS n,
      |               CAST(sum(user_id % 4) AS BIGINT) AS z,
      |               CAST(sum(user_id % 5) AS BIGINT) AS pc
      |        FROM sel GROUP BY 1, 2),
      |b AS (SELECT *, pow(2, pow(2, -CAST(s AS DOUBLE))) AS base,
      |             CAST(n + z + pc AS DOUBLE) AS total FROM agg),
      |v AS (SELECT workspace_id, metric, s, z, ps.p,
      |             CASE WHEN n >= total * (ps.p / 100.0)
      |                    THEN -((pow(base, -1) + 1.0) / 2.0)
      |                  WHEN n + z >= total * (ps.p / 100.0) THEN 0.0
      |                  ELSE (pow(base, 1) + pow(base, 2)) / 2.0 END AS val
      |      FROM b CROSS JOIN (SELECT unnest([50.0, 99.0]) AS p) ps)
      |SELECT workspace_id, metric, s AS scale, z AS zero_count,
      |       round(CAST(s AS DOUBLE) * 0.5, 6) AS zero_threshold,
      |       round(max(CASE WHEN p = 50 THEN val END), 6) AS p50,
      |       round(max(CASE WHEN p = 99 THEN val END), 6) AS p99
      |FROM v GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2""".stripMargin)))

  /** The promread histogram case against STORED coarse tiers: build the full
    * cascade down to whatever tier P8 routes [startMs, endMs] to, write it as
    * real partitioned parquet, read it back through partition filter +
    * matcher predicate, merge the stored bucket concats per series, and run
    * the reference percentile interpolation (handler.go:304-321 routing,
    * :179-205 histogram rows, pkg/histogram/percentile.go:17-67). */
  private def storedHistRead(s: SparkSession, d: String, tag: String,
      startMs: Long, endMs: Long): DataFrame = {
    import Promread._
    val base = scratch(tag)
    wipe(s, base)
    val keys = Seq(col("workspace_id"), col("metric"))
    val m1 = Rollup.rollup1mFull(
      EventsMetrics.withHistogram(EventsMetrics.fromEvents(s, d)),
      keys, col("ts_ms"), col("event_id"))
    val tier = MetricsSink.tiers
      .find(_.name == Promread.selectTable(startMs, endMs, NowMs)).get
    val tiered = tier.name match {
      case "metrics_5m" => Rollup.rollup5mFull(m1, keys)
      case "metrics_1h" => Rollup.rollup1hFull(Rollup.rollup5mFull(m1, keys), keys)
      case other => sys.error(s"storedHistRead expects a coarse tier, got $other")
    }
    MetricsSink.write(tiered, base, tier, col("bucket_ms"), keys,
      mode = "overwrite")
    val pred = predicate(Seq(Matcher("m", RE, "^evt_(purchase|view)$")),
      workspaceId = "ws-1", startMs = startMs, endMs = endMs,
      tsMsCol = col("bucket_ms"))
    val rows = MetricsSink.read(s, base, tier)
      .filter(MetricsSink.partitionFilter(tier, startMs, endMs))
      .filter(pred)
    val ps = array(lit(50.0), lit(90.0), lit(99.0))
    graft.histo.HistogramFunctions.mergeBuckets(
        rows.select(col("workspace_id"), col("metric"), col("buckets")),
        keys, col("buckets"))
      .withColumn("qs",
        graft.histo.HistogramFunctions.histogram_quantiles(col("buckets"), ps))
      .select(col("workspace_id"), col("metric"),
        aggregate(col("buckets"), lit(0L),
          (acc, b) => acc + b.getField("count")).as("merged_total"),
        round(element_at(col("qs"), 1), 6).as("p50"),
        round(element_at(col("qs"), 2), 6).as("p90"),
        round(element_at(col("qs"), 3), 6).as("p99"))
      .orderBy(col("workspace_id"), col("metric"))
  }

  // q_read_path_5m_hist's promread window: 2024-01-04 → 2024-01-07 UTC.
  // Age vs pinned now (20d) fails the 1m gate (≥15d), span (3d) passes the
  // 5m gate (<7d) → metrics_5m (handler.go:304-321).
  private val HStart = 1704326400000L
  private val HEnd = HStart + 3 * 86400000L
  // q_read_path_1h_hist's window: same start, 10-day span → span ≥ 7d fails
  // the 5m gate → metrics_1h whatever the age.
  private val GEnd = HStart + 10 * 86400000L

  private def wipe(s: SparkSession, base: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Raw recomputation of the routed histogram dashboard — shared
    * verbatim by q_p8_route_mv_hist (concat tiers) and
    * q_p8_route_mv_hist_merged (bound-summed tiers): both storage
    * modes must hash-match the same raw-derived answer. */
  private lazy val RoutedHistOracleSql: String = s"""${OracleDefs.EvtCte},
      |sel AS (SELECT *, (ts_ms // 300000) * 300000 AS bucket_ms FROM evt
      |        WHERE ts_ms >= ${NowMs - OracleDefs.DayMs} AND ts_ms < $NowMs),
      |agg AS (SELECT workspace_id, metric, bucket_ms,
      |               CAST(sum(user_id % 10 + 1) AS BIGINT) AS cntc,
      |               sum(round(value * 10, 2)) AS sumc,
      |               CAST(sum(user_id % 3) AS BIGINT) AS c1,
      |               CAST(sum(user_id % 5) AS BIGINT) AS c2,
      |               CAST(sum(user_id % 7) AS BIGINT) AS c3,
      |               CAST(sum(user_id % 11) AS BIGINT) AS c4
      |        FROM sel GROUP BY 1, 2, 3),
      |hist AS (SELECT workspace_id, metric, bucket_ms,
      |                CAST(0.1 AS DOUBLE) AS le, c1 AS cnt FROM agg
      |  UNION ALL SELECT workspace_id, metric, bucket_ms,
      |                CAST(1.0 AS DOUBLE), c2 FROM agg
      |  UNION ALL SELECT workspace_id, metric, bucket_ms,
      |                CAST(10.0 AS DOUBLE), c3 FROM agg
      |  UNION ALL SELECT workspace_id, metric, bucket_ms,
      |                CAST('inf' AS DOUBLE), c4 FROM agg),
      |c AS (SELECT workspace_id, metric, bucket_ms, le, cnt,
      |             sum(cnt) OVER (PARTITION BY workspace_id, metric, bucket_ms
      |                            ORDER BY le) AS cum,
      |             sum(cnt) OVER (PARTITION BY workspace_id, metric, bucket_ms) AS total,
      |             coalesce(lag(le) OVER (PARTITION BY workspace_id, metric, bucket_ms
      |                                    ORDER BY le), 0.0) AS prev_le
      |      FROM hist),
      |ps AS (SELECT unnest([50.0, 95.0]) AS p),
      |hit AS (SELECT *, row_number() OVER (PARTITION BY workspace_id, metric,
      |                                     bucket_ms, p ORDER BY le) AS rn
      |        FROM c CROSS JOIN ps
      |        WHERE total > 0 AND cum >= total * (p / 100.0)),
      |q AS (SELECT workspace_id, metric, bucket_ms, p,
      |             CASE WHEN cnt = 0 THEN le
      |                  WHEN isinf(le) THEN prev_le
      |                  ELSE prev_le + ((total * (p / 100.0) - (cum - cnt)) / cnt)
      |                       * (le - prev_le)
      |             END AS v
      |      FROM hit WHERE rn = 1)
      |SELECT a.workspace_id, a.metric, a.bucket_ms,
      |       a.cntc AS count, round(a.sumc, 2) AS sum,
      |       round(max(CASE WHEN q.p = 50 THEN q.v END), 6) AS p50,
      |       round(max(CASE WHEN q.p = 95 THEN q.v END), 6) AS p95
      |FROM agg a LEFT JOIN q ON q.workspace_id = a.workspace_id
      |  AND q.metric = a.metric AND q.bucket_ms = a.bucket_ms
      |GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2, 3""".stripMargin

  private val m1Sql =
    """SELECT workspace_id, metric, (ts_ms // 60000) * 60000 AS bucket_ms,
      |       min(value) vmin, max(value) vmax, avg(value) vavg,
      |       arg_max(value, event_id) vlast, sum(value) vsum, count(*) cnt,
      |       max(event_id) lseq
      |       FROM evt GROUP BY 1,2,3""".stripMargin

  private def histReadSql(grainMs: Long, endMs: Long): String = s"""$EvtCte,
      |sel AS (SELECT * FROM evt
      |        WHERE workspace_id = 'ws-1'
      |          AND regexp_matches(metric, '^evt_(purchase|view)$$')
      |          AND (ts_ms // $grainMs) * $grainMs BETWEEN $HStart AND $endMs),
      |hist AS (
      |  SELECT workspace_id, metric, CAST(0.1 AS DOUBLE) AS le,
      |         CAST(sum(user_id % 3) AS BIGINT) AS cnt FROM sel GROUP BY 1,2
      |  UNION ALL SELECT workspace_id, metric, CAST(1.0 AS DOUBLE),
      |         CAST(sum(user_id % 5) AS BIGINT) FROM sel GROUP BY 1,2
      |  UNION ALL SELECT workspace_id, metric, CAST(10.0 AS DOUBLE),
      |         CAST(sum(user_id % 7) AS BIGINT) FROM sel GROUP BY 1,2
      |  UNION ALL SELECT workspace_id, metric, CAST('inf' AS DOUBLE),
      |         CAST(sum(user_id % 11) AS BIGINT) FROM sel GROUP BY 1,2),
      |c AS (SELECT workspace_id, metric, le, cnt,
      |             sum(cnt) OVER (PARTITION BY workspace_id, metric ORDER BY le) AS cum,
      |             sum(cnt) OVER (PARTITION BY workspace_id, metric) AS total,
      |             coalesce(lag(le) OVER (PARTITION BY workspace_id, metric ORDER BY le), 0.0) AS prev_le
      |      FROM hist),
      |ps AS (SELECT unnest([50.0, 90.0, 99.0]) AS p),
      |hit AS (SELECT workspace_id, metric, p, le, cnt, cum, total, prev_le,
      |               row_number() OVER (PARTITION BY workspace_id, metric, p ORDER BY le) AS rn
      |        FROM c CROSS JOIN ps
      |        WHERE cum >= total * (p / 100.0)),
      |q AS (SELECT workspace_id, metric, p, total,
      |             CASE WHEN cnt = 0 THEN le
      |                  WHEN isinf(le) THEN prev_le
      |                  ELSE prev_le + ((total * (p / 100.0) - (cum - cnt)) / cnt) * (le - prev_le)
      |             END AS v
      |      FROM hit WHERE rn = 1)
      |SELECT workspace_id, metric,
      |       CAST(max(total) AS BIGINT) AS merged_total,
      |       round(max(CASE WHEN p = 50 THEN v END), 6) AS p50,
      |       round(max(CASE WHEN p = 90 THEN v END), 6) AS p90,
      |       round(max(CASE WHEN p = 99 THEN v END), 6) AS p99
      |FROM q GROUP BY 1,2 ORDER BY 1,2""".stripMargin
}
