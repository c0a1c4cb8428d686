package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev instrument (r21 optimization round): dump `.explain("formatted")` for
  * named declared queries to files, so plan-shape claims in OPTIMIZATION
  * notes are checkable against committed artifacts without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1> [<q2> ...]
  * Writes <outDir>/<query>_<suffix>.txt per query. Builders that eagerly
  * materialize scratch tiers during setup run that setup; only the RETURNED
  * DataFrame's plan is dumped (the read path — the regression signal).
  * With `-Dspark.sql.planChangeLog.level=warn` in the JVM options the
  * session also logs every optimizer rule's plan change while building.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <query...>")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val spark = Sessions.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    args.drop(3).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt + "\n")
      CacheHygiene.releaseAll(spark)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
