package graft.sources

import org.apache.spark.sql.SparkSession

/** Shared session-catalog snapshots for the pg_catalog /
  * information_schema builders.
  *
  * Both catalog emulations are "snapshot views — re-register to refresh"
  * by contract (PgCatalogSpec), but the old builders each re-ran
  * `spark.catalog.listTables().collect()` (7-8 times per register call)
  * and `spark.catalog.listFunctions().collect()` (a per-function
  * ExpressionInfo lookup over ~400 functions, ~2 s) on EVERY call — pure
  * driver metadata work that dominated the catalog entries' bench rows
  * (q166/q174/q226: measured 0.3-0.5 s per listTables and 1.7-2.6 s per
  * listFunctions at sweep view counts). One register call now takes ONE
  * table snapshot, and the function list is memoized on a registry
  * fingerprint so CREATE FUNCTION still refreshes it. */
private[graft] object CatalogSnapshot {

  /** One listTables().collect() per register call — callers thread the
    * result through every builder. */
  def tables(spark: SparkSession): Seq[org.apache.spark.sql.catalog.Table] =
    spark.catalog.listTables().collect().toSeq

  /** Key prefix of the memoized function lists: CREATE OR REPLACE of an
    * EXISTING signature keeps the name set (same names, new implementation
    * — ADVICE r15), so the router's create/drop-function paths invalidate
    * this prefix. */
  private[graft] val functionsKey = "catalog.functions#"

  /** The resolved function list, rebuilt only when the session's function
    * registry changes (order-independent name-set fingerprint — CREATE
    * FUNCTION / DROP FUNCTION both alter it) or [[functionsKey]] is
    * invalidated. */
  def functions(spark: SparkSession): Seq[org.apache.spark.sql.catalog.Function] = {
    val fp = spark.sessionState.functionRegistry.listFunction().toSet.hashCode()
    graft.Memo(spark, s"$functionsKey$fp")(spark.catalog.listFunctions().collect().toSeq)
  }
}
