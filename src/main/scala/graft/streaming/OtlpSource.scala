package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.OtlpFlatten
import graft.model.Schemas

/** S1 — the streaming ingest source (reference: internal/receiver/otlp.go
  * :30-124, a gRPC OTLP endpoint).
  *
  * Spark-first: the transports ([[graft.transport.GrpcOtlpReceiver]] for
  * gRPC, `/ingest` for OTLP/HTTP) only land each export as a file, and the
  * stream reads that landing zone — so a 1000-executor cluster can as well
  * ingest files dropped by collectors, or a message bus, never one socket.
  * The source here is a file stream over OTLP-export-shaped rows: one row
  * per resource with its attributes
  * and an array of datapoint structs — the exact shape
  * `ExportMetricsServiceRequest` flattens to (otlp.go:91-124). Swapping in a
  * Kafka source is a one-line change because everything downstream takes the
  * same DataFrame.
  *
  * File streams give exactly-once per file (checkpoint tracks consumed
  * files) — stronger than the reference's at-least-once gRPC ack.
  */
object OtlpSource {

  /** One wire datapoint: the per-type union of otlp.go:126-285's inputs,
    * fed to [[OtlpFlatten.convertDatapoints]]. */
  val datapointType: StructType = StructType(Seq(
    StructField("metric", StringType),
    StructField("kind", StringType),
    StructField("ts_ms", LongType),
    StructField("temporality_code", IntegerType),
    StructField("is_monotonic", BooleanType),
    StructField("value_int", LongType),
    StructField("value_double", DoubleType),
    StructField("count", LongType),
    StructField("sum", DoubleType),
    StructField("bounds", ArrayType(DoubleType)),
    StructField("bucket_counts", ArrayType(LongType)),
    StructField("dp_attrs", MapType(StringType, StringType)),
    StructField("exemplars", ArrayType(Schemas.exemplarType))))

  /** OTLP export row: resource attributes + its datapoints (otlp.go:91-102:
    * resource → scope → metric loops; scopes add nothing and are pre-merged
    * into the datapoint list here). */
  val exportSchema: StructType = StructType(Seq(
    StructField("resource_attrs", MapType(StringType, StringType)),
    StructField("datapoints", ArrayType(datapointType))))

  /** The streaming source: new parquet files under `dir` become micro-batch
    * input. `maxFilesPerTrigger` bounds batch size — the analog of the
    * reference's batch_size flush threshold (processor.go:81-87).
    *
    * `cleanSource` is the landing zone's LIFECYCLE, which the reference never
    * needs (its receiver hands rows straight to the writer) but a file
    * landing zone at scale cannot skip: collectors keep dropping export
    * batches forever, and consumed files left in place mean an
    * ever-growing directory LISTING cost on every trigger — the file
    * source re-lists the zone each batch, so at 100 TB/day of exports the
    * un-cleaned zone, not the data volume, becomes the bottleneck.
    * "delete" drops consumed files, "archive" moves them under
    * `archiveDir` (audit trail kept, listing kept small), "off" preserves
    * the historical default. Cleaning is exactly-once-safe either way: the
    * checkpoint tracks consumed files, so a restart never re-reads an
    * archived or deleted batch. */
  def fileStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 16,
      cleanSource: String = "off",
      archiveDir: Option[String] = None): DataFrame = {
    val base = spark.readStream
      .schema(exportSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("cleanSource", cleanSource)
    archiveDir.foldLeft(base)((b, d) => b.option("sourceArchiveDir", d))
      .parquet(dir)
  }

  /** S2 applied to an export frame: one row per datapoint, wire columns at
    * the top level, resource attrs carried alongside. */
  def explodeExport(exports: DataFrame): DataFrame =
    OtlpFlatten.flatten(exports).select(col("resource_attrs"), col("dp.*"))
}
