package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One measured value with its unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, samples: Long)

/** Everything one run reports; written as the run's JSON artifact. */
final class RunResult {
  /** The benchmark's end-to-end metrics, shared by every workload. */
  val e2e = mutable.LinkedHashMap.empty[String, Metric]
  /** The workload's own end-to-end metrics under their product names
    * (ingest freshness, export ack, read latency, ...). */
  val named = mutable.LinkedHashMap.empty[String, Metric]
  /** Per-layer metrics (traced run) and run conditions (every run). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  /** The shared end-to-end set: the workload's primary operation latency
    * (median and p95), its work rate, and set-up time. */
  def primary(latMs: Seq[Double], rate: Double, rateSamples: Long,
      setupS: Seq[Double]): Unit = {
    e2e("setup_s") = Metric(Stats.median(setupS), "s", setupS.size)
    e2e("latency_p50_ms") = Metric(Stats.median(latMs), "ms", latMs.size)
    e2e("latency_p95_ms") = Metric(Stats.pct(latMs, 95), "ms", latMs.size)
    e2e("throughput_per_s") = Metric(rate, "1/s", rateSamples)
  }
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    tracer: Option[Tracer], work: File, configPath: String, res: RunResult) {
  def traced: Boolean = tracer.isDefined
  def dir(name: String): File = {
    val d = new File(work, name)
    d.mkdirs()
    d
  }
}

/** Entry point of one benchmark run inside the JVM:
  *
  * {{{
  * graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <artifact.json> --config <pipeline.properties>
  * }}}
  *
  * Runs the workload, checks its outputs and writes every metric, check
  * and (traced) span to the artifact. The harness script composes the
  * benchmark's result line from that artifact. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    work.mkdirs()
    // the long call site must reach the outermost program frame for layer
    // attribution; it only lengthens a string Spark records per job
    if (traced) System.setProperty("spark.callstack.depth", "400")
    System.setProperty("spark.local.dir", new File(work, "spark-local").getPath)
    val host = new HostSampler
    val spark = graft.Sessions.local()
    val tracer = if (traced) { Spans.enable(); Some(new Tracer(spark)) } else None
    val res = new RunResult
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toInt, tracer,
      work, opts("config"), res)
    try workload match {
      case "otlp_ingest" => OtlpIngest.run(ctx, maintenance = true)
      case "otlp_ingest_bare" => OtlpIngest.run(ctx, maintenance = false)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.check("workload completed", ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    try tracer.foreach { t =>
      t.stop()
      res.layer("trace.latency_p50_ms") =
        res.e2e.get("latency_p50_ms").map(_.value).getOrElse(0.0)
      Layers.fill(ctx, t)
      res.extra("jobs") = t.jobSummary
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.check("traced-run counters collected", ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    host.finish().foreach { case (k, v) => res.layer(k) = v }
    val artifact = Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> traced,
      "e2e" -> metricsJson(res.e2e), "named" -> metricsJson(res.named),
      "layer" -> res.layer,
      "checks" -> res.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "attempted" -> res.attempted, "failed" -> res.failed,
      "extra" -> res.extra,
      "spans" -> (if (traced) Spans.json else Nil))
    java.nio.file.Files.writeString(new File(opts("out")).toPath,
      Stats.json(artifact) + "\n")
    spark.stop()
  }

  private def metricsJson(m: mutable.LinkedHashMap[String, Metric]) =
    m.map { case (k, x) =>
      k -> Map("value" -> x.value, "unit" -> x.unit, "samples" -> x.samples) }
}
