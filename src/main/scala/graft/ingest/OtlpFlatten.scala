package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** S2/S3/S5 — OTLP-shaped nesting and the flatten back to one row per
  * datapoint (reference: internal/receiver/otlp.go:91-124 three-level
  * resource→scope→metric→datapoint flatten; :126-285 per-type conversion;
  * :332-344 attribute merge).
  *
  * The transports ([[graft.transport.GrpcOtlpReceiver]], the `/ingest`
  * endpoint) land batches as files; from there the engine's ingest surface
  * is "a DataFrame shaped like an OTLP export": one row per resource, with
  * `resource` attrs and an array of datapoint structs. At
  * 100 TB this arrives as a parquet/stream source already sharded by resource;
  * the flatten below is generator (explode) work — narrow, no shuffle,
  * whole-stage codegen.
  */
object OtlpFlatten {

  /** Nest a flat datapoint DataFrame into OTLP export shape: one row per
    * (resource = service+workspace), datapoints collected. Used by tests and
    * the round-trip oracle query to prove flatten ∘ nest = identity. */
  def nest(flat: DataFrame, resourceCols: Seq[Column], dpStruct: Column): DataFrame =
    flat.groupBy(resourceCols: _*)
      .agg(collect_list(dpStruct).as("datapoints"))

  /** S2 — explode an OTLP-shaped frame back to one row per datapoint.
    * `service.name` extraction from resource attrs (otlp.go:99-102) is the
    * caller's `element_at(resource_attrs, "service.name")`. */
  def flatten(nested: DataFrame): DataFrame =
    nested.withColumn("dp", explode(col("datapoints"))).drop("datapoints")

  /** S3 — +Inf bucket-bound synthesis: OTLP carries N bounds and N+1 counts;
    * the last bucket's bound is +Inf (otlp.go:216-221). `bounds` has N doubles,
    * `counts` N+1 longs → array<struct<le,count>> of N+1 entries. Native
    * codegen expression (per-datapoint ingest hot path — same argument as
    * [[mergeAttributes]]); pinned bit-identical by InfBucketExprSpec. */
  def withInfBucket(bounds: Column, counts: Column): Column =
    graft.functions.InfBucketExpr.withInf(bounds, counts)

  /** Readable HOF reference shape of [[withInfBucket]]. */
  def withInfBucketHof(bounds: Column, counts: Column): Column =
    zip_with(
      concat(bounds, array(lit(Double.PositiveInfinity))),
      counts,
      (le, c) => struct(le.as("le"), c.as("count")))

  /** S5 — attribute merge, datapoint wins on key collision (otlp.go:332-344).
    * Native codegen expression: the merge runs once per ingested datapoint
    * (the full-scan write path), and the HOF shape below is interpreted and
    * breaks whole-stage codegen for the whole ingest projection. Pinned
    * bit-identical by MergeAttributesExprSpec. */
  def mergeAttributes(resourceAttrs: Column, dpAttrs: Column): Column =
    graft.functions.MergeAttributesExpr.merge(resourceAttrs, dpAttrs)

  /** Readable HOF reference shape of [[mergeAttributes]].
    * `map_concat` in Spark fails on duplicate keys under ANSI; emulate
    * last-wins by concatenating entry arrays datapoint-last and rebuilding via
    * map_from_entries? map_from_entries errors on dups too — so: drop resource
    * entries whose key the datapoint also has, then concat. */
  def mergeAttributesHof(resourceAttrs: Column, dpAttrs: Column): Column = {
    val keep = filter(
      map_entries(resourceAttrs),
      e => !map_contains_key(dpAttrs, e.getField("key")))
    map_from_entries(concat(keep, map_entries(dpAttrs)))
  }

  /** F10/F11 — OTLP values may be int or double; widen to double
    * (otlp.go:148-155). */
  def widen(value: Column): Column = value.cast("double")

  /** Wire kinds the receiver accepts; anything else errors out of
    * convertMetric and the metric is rejected (otlp.go:281-284). */
  val SupportedKinds: Seq[String] =
    Seq("gauge", "sum", "histogram", "exponential_histogram", "summary")

  /** S3 — full per-type datapoint conversion (otlp.go:126-285), one
    * whole-stage-codegen projection over exploded datapoint rows instead of
    * the reference's five typed loops.
    *
    * Input wire columns: `kind` (OTLP metric type name), `temporality_code`
    * (0/1/2 per models.Temporality), `is_monotonic`, `value_int`,
    * `value_double` (exclusive — otlp.go:147-155), `count`, `sum`, `bounds`
    * (N doubles), `bucket_counts` (N+1 longs), `resource_attrs`, `dp_attrs`,
    * `exemplars`.
    *
    * Per-type rules, exactly the reference's switch:
    *   - gauge: temporality forced Unspecified (otlp.go:143), no monotonic.
    *   - sum: temporality + is_monotonic from the wire (otlp.go:169-170).
    *   - histogram: count/sum/buckets with the +Inf pad (otlp.go:187-231).
    *   - exponential_histogram: count/sum ONLY — the reference drops scale /
    *     zero_count / positive / negative buckets at ingest (otlp.go:234-258
    *     copies neither) even though the model has fields for them; mirrored,
    *     divergence-free.
    *   - summary: count/sum, NO temporality, NO exemplars (otlp.go:260-277).
    *   - any other kind: row dropped.
    */
  def convertDatapoints(df: DataFrame): DataFrame = {
    import graft.model.Schemas.{MetricType, Temporality}
    val kind = col("kind")
    val scalar = kind.isin("gauge", "sum")
    val counted = kind.isin("histogram", "exponential_histogram", "summary")
    df.filter(kind.isin(SupportedKinds: _*))
      .withColumn("metric_type",
        when(kind === "gauge", MetricType.Gauge)
          .when(kind === "sum", MetricType.Sum)
          .when(kind === "histogram", MetricType.Histogram)
          .when(kind === "exponential_histogram", MetricType.ExponentialHistogram)
          .otherwise(MetricType.Summary).cast("tinyint"))
      .withColumn("temporality",
        when(kind.isin("sum", "histogram", "exponential_histogram"),
          col("temporality_code"))
          .otherwise(Temporality.Unspecified).cast("tinyint"))
      .withColumn("is_monotonic",
        when(kind === "sum", coalesce(col("is_monotonic"), lit(false)))
          .otherwise(lit(false)))
      .withColumn("value",
        when(scalar, coalesce(col("value_double"), widen(col("value_int")))))
      .withColumn("count", when(counted, col("count")))
      .withColumn("sum", when(counted, col("sum")))
      .withColumn("buckets",
        when(kind === "histogram" && size(col("bucket_counts")) > 0,
          withInfBucket(col("bounds"), col("bucket_counts"))))
      .withColumn("attributes",
        mergeAttributes(col("resource_attrs"), col("dp_attrs")))
      .withColumn("exemplars", when(kind =!= "summary", col("exemplars")))
  }
}
