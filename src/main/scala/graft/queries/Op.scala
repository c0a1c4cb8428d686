package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator: its name, its builder over a testdata directory,
  * and how its result is proven. Each query family declares its operators
  * once, as a `Seq[Op]`; [[graft.SparkEntry]] derives the driver contract
  * (`queries`, `oracleSql`, `verifyOnly`) from these records alone. */
final case class Op(name: String, build: (SparkSession, String) => DataFrame,
                    check: Check)

/** How an operator is checked. The driver hash-matches every operator that
  * carries SQL against DuckDB running it over the same parquet tables; Bench
  * times every operator that is not [[VerifyOnly]]. */
sealed trait Check

/** Benched, and hash-matched against `sql`. */
final case class Oracle(sql: String) extends Check

/** Hash-matched against `sql` but not benched: a correctness twin that
  * carries the full-oracle proof for a production form DuckDB cannot restate.
  * Its cost is the portability price of the oracle (md5-based signatures both
  * engines can compute, brute-force all-pairs scans), not a production code
  * path, and benching it would distort the performance signal. */
final case class VerifyOnly(sql: String) extends Check

/** Benched, with no SQL of its own: its production form (an LSH banding, a
  * GK sketch, a learned quantizer) is one DuckDB cannot restate, so it is
  * proven through `twin`, a registered operator with an oracle, plus the
  * spec noted at the operator. */
final case class RowsOnly(twin: String) extends Check
