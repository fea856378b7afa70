package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-checkable query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle.
  *
  * Determinism contract (so the driver's value-hash compare passes):
  *   - never aggregate raw DOUBLEs — reduction order differs between
  *     engines; route sums/avgs through exact DECIMAL and cast the
  *     final value back to DOUBLE (IEEE ops on identical inputs are
  *     bit-deterministic; only reductions are not),
  *   - end every query with a total-order ORDER BY,
  *   - alias every computed column identically in both dialects.
  *
  * The oracle is held as a THUNK, evaluated when [[graft.SparkEntry
  * .oracleSql]] is dumped — which [[graft.Verify]] does AFTER every
  * query ran. That ordering lets a query whose full result is not
  * SQL-replayable (a non-portable hash family) still carry an exact
  * oracle: the query stashes a bounded digest of its own output while
  * running (e.g. its emitted pair ids) and the deferred oracle
  * interpolates that digest as literals, recomputing the verifiable
  * property — exact Jaccard of each emitted pair — from the raw
  * tables. See `q_dedup_minhash_fast`.
  *
  * `reason`, when set, declares WHY a def ships without an oracle
  * (side-effect op, bench twin, …) — self-explaining gates instead of
  * a bare `no_oracle` row; surfaced via [[graft.SparkEntry
  * .oracleReasons]] and the COVERAGE table.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracleThunk: Option[() => String],
    reason: Option[String] = None) {
  def oracle: Option[String] = oracleThunk.map(_())
}

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(() => oracle))
  /** Oracle generated AFTER the query ran (see class doc) — `oracle`
    * is by-name and must only be forced post-run. */
  def sqlDeferred(name: String)(fn: (SparkSession, String) => DataFrame)(
      oracle: => String): QueryDef =
    QueryDef(name, fn, Some(() => oracle))

  /** A query's scratch table dir, per scale factor so sf0.01 and sf0.1
    * runs don't collide: `<checkout>/target/roundtrip/<sf dir name>_<tag>`,
    * where `<checkout>` is the nearest dir holding a `build.sbt` above the
    * running compiled classes (sbt may run a copy of them under
    * `target/bg-jobs`), so two checkouts on one host never share a
    * table; the working dir when no such dir is found. */
  def scratch(sfDir: String, tag: String): String =
    s"$ScratchRoot/${new java.io.File(sfDir).getName}_$tag"

  private lazy val ScratchRoot: String = {
    val classes = scala.util.Try(new java.io.File(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)).toOption
    val checkout = Iterator.iterate(classes.orNull)(_.getParentFile).takeWhile(_ != null)
      .find(d => new java.io.File(d, "build.sbt").isFile)
      .getOrElse(new java.io.File(System.getProperty("user.dir")))
    s"${checkout.getAbsolutePath}/target/roundtrip"
  }
}
