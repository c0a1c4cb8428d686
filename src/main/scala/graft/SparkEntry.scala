package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract (SURVEY.md §7). Every view below is derived from the one
  * registry of [[graft.queries.Op]] records the query families declare. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The composite promread read path — matchers, time range, routing,
    * sample values, labels, ordering — is the engine's signature operation. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_read_path")(spark, "/root/testdata/sf0.001")
  /** Every implemented operator from SURVEY.md §2, each declared once. */
  lazy val ops: Seq[Op] =
    CoreQueries.ops ++ MetricsQueries.ops ++ LlmQueries.ops ++ HistoQueries.ops ++
      SinkQueries.ops ++ IngestQueries.ops ++ CurationQueries.ops
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.map(o => o.name -> o.build).toMap
  /** Equivalent ANSI SQL runnable by DuckDB on the same parquet tables, for
    * every operator that carries one (rows-only operators do not). */
  def oracleSql: Map[String, String] = ops.collect {
    case Op(n, _, Oracle(sql)) => n -> sql
    case Op(n, _, VerifyOnly(sql)) => n -> sql
  }.toMap
  /** Correctness-only twins: Verify runs them, Bench skips them. */
  def verifyOnly: Set[String] = ops.collect { case Op(n, _, _: VerifyOnly) => n }.toSet
}
