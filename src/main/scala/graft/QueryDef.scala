package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark implementation plus (when SQL-expressible) the
  * equivalent DuckDB SQL the driver uses as a correctness oracle. Keeping the
  * pair adjacent in one value prevents name/alias drift between the two — the
  * driver's compare sorts columns by NAME before hashing, so every computed
  * column must carry the same alias on both sides.
  */
final case class QueryDef(
    name: String,
    oracleSql: Option[String],
    run: (SparkSession, String) => DataFrame)

object QueryDef {
  /** Oracle-checked query (driver hash-compares against DuckDB). */
  def q(name: String, sql: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, Some(sql.stripMargin.trim), withFunctions(run))

  /** Rows-only query — semantics not expressible in DuckDB SQL
    * (e.g. engine-specific sketches); driver records a weaker check.
    */
  def qNoOracle(name: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, None, withFunctions(run))

  // Every query run passes through here, so the graft_* functions resolve
  // on any session, not only those built through GraftSession — including
  // streaming queries whose memoized input log never touches Tables.load.
  private def withFunctions(run: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame = { (spark, dir) =>
    graft.functions.GraftExpressions.ensureRegistered(spark)
    run(spark, dir)
  }
}
