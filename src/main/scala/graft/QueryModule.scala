package graft

/** One operator family = one module: named queries + matching DuckDB oracle
  * SQL. Queries without an oracle entry get the driver's weaker rows-only
  * check (ML fits, LSH internals — anything non-SQL-expressible).
  *
  * An oracle states its SQL itself, except for the CTEs it shares with
  * another oracle: those live once in [[OracleSql]] and are interpolated.
  * A shared fragment is text that two or more oracles state verbatim after
  * `stripMargin`; it takes no parameter that makes near-copies match, and
  * nothing in it is built from a DataFrame, a Spark plan, or any other
  * Spark-side code the oracle checks.
  */
trait QueryModule {
  def queries: Map[String, Q]
  def oracles: Map[String, String]
}
