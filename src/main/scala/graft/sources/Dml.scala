package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** DML semantics over Parquet tables (SURVEY.md §2.12).
  *
  * The reference implements INSERT upsert (`ON CONFLICT DO UPDATE`), UPDATE
  * (rewritten to upsert, `dml/UpdateToInsert.java`), DELETE, and `RETURNING`
  * on a mutable Lucene store. On an immutable Parquet substrate the same
  * semantics are copy-on-write: each statement is a declarative DataFrame
  * transform whose result [[VersionedTable]] commits as the next table
  * version, with snapshot isolation on top.
  *
  * All transforms are distributed joins/windows — no driver-side row loops.
  * RETURNING is literally the affected-row DataFrame.
  */
object Dml {

  /** INSERT INTO ... SELECT: append semantics (schema aligned by name). */
  def insertInto(target: DataFrame, rows: DataFrame): DataFrame =
    target.unionByName(rows.select(target.columns.map(col).toSeq: _*))

  /** The rows of `rows` whose key is absent from `target`: one anti-join
    * (broadcast when small), shared by ON CONFLICT DO NOTHING, its
    * RETURNING rows, the duplicate-key check of a plain INSERT … SELECT
    * and COPY FROM into a PRIMARY KEY table. */
  def absent(target: DataFrame, rows: DataFrame, keys: Seq[String]): DataFrame =
    rows.join(target.select(keys.map(col).toSeq: _*), keys, "left_anti")

  /** Row count per distinct value tuple of `cols`, in one pass: each
    * partition counts its own rows and the driver merges the per-partition
    * maps. Nothing shuffles, so this is one job where a `groupBy().count()`
    * is two under AQE, and none when the plan is a local relation, whose
    * rows are on the driver already. The job runs on the executed plan's
    * internal rows, converted like `df.rdd` converts them, without the SQL
    * execution `df.rdd` opens first. With no `cols` the one key is the
    * empty tuple and its count the row count; no rows → an empty map. The
    * DML statements read their affected-row count and the partitions they
    * touch from it. */
  def tally(df: DataFrame, cols: Seq[String]): Map[Seq[Any], Long] = {
    val sel = df.select(cols.map(col): _*)
    localRows(sel) match {
      case Some(rows) => countRows(rows.iterator)
      case None =>
        val toScala = CatalystTypeConverters.createToScalaConverter(sel.schema)
        sel.queryExecution.toRdd
          .mapPartitions(rows => Iterator(countRows(rows.map(r => toScala(r).asInstanceOf[Row]))))
          .collect()
          .foldLeft(Map.empty[Seq[Any], Long]) { (acc, part) =>
            part.foldLeft(acc) { case (a, (k, n)) => a.updated(k, a.getOrElse(k, 0L) + n) }
          }
    }
  }

  /** The rows of `df` when its optimized plan is a local relation (VALUES
    * rows, with their projections and filters folded in), converted on the
    * driver: no job and no SQL execution. */
  def localRows(df: DataFrame): Option[Seq[Row]] = df.queryExecution.optimizedPlan match {
    case l: LocalRelation =>
      val toScala = CatalystTypeConverters.createToScalaConverter(l.schema)
      Some(l.data.map(r => toScala(r).asInstanceOf[Row]))
    case _ => None
  }

  private def countRows(rows: Iterator[Row]): Map[Seq[Any], Long] = {
    val m = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
    rows.foreach { r => val k = r.toSeq; m(k) = m.getOrElse(k, 0L) + 1L }
    m.toMap
  }

  /** A literal predicate matching the rows whose `cols` equal one of
    * `keys` (each holding the key columns in `cols` order): an IN list for
    * one column, a balanced OR of ANDs for several. The scan pushes it
    * down, so probing a table for a handful of driver-side keys reads only
    * the row groups that may hold them. */
  def keyPredicate(cols: Seq[String], keys: Seq[Row]): Column =
    if (cols.length == 1) col(cols.head).isin(keys.map(_.get(0)): _*)
    else if (keys.isEmpty) lit(false)
    else {
      def any(cs: Seq[Column]): Column =
        if (cs.length == 1) cs.head
        else { val (a, b) = cs.splitAt(cs.length / 2); any(a) || any(b) }
      any(keys.map(r => cols.indices.map(i => col(cols(i)) === lit(r.get(i))).reduce(_ && _)))
    }

  /** INSERT ... ON CONFLICT (key) DO NOTHING: keep existing rows, add only
    * rows whose key is absent. */
  def upsertDoNothing(target: DataFrame, rows: DataFrame, keys: Seq[String]): DataFrame =
    target.unionByName(absent(target, rows, keys).select(target.columns.map(col).toSeq: _*))

  /** INSERT ... ON CONFLICT (key) DO UPDATE SET (full-row replace): new rows
    * win over existing ones — MERGE INTO semantics, one outer-joined pass.
    * Last-writer-wins within `rows` is resolved by highest `versionCol`. */
  def upsertReplace(target: DataFrame, rows: DataFrame, keys: Seq[String],
                    versionCol: Option[String] = None): DataFrame = {
    val deduped = versionCol match {
      case Some(v) =>
        val w = Window.partitionBy(keys.map(col).toSeq: _*).orderBy(col(v).desc)
        rows.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      case None => rows.dropDuplicates(keys)
    }
    val updates = deduped.select(target.columns.map(col).toSeq: _*)
    target.join(updates.select(keys.map(col).toSeq: _*), keys, "left_anti")
      .unionByName(updates)
  }

  /** UPDATE WHERE cond. SQL semantics: the condition AND every assignment
    * right-hand side read the OLD row (the match is decided before any
    * assignment applies — a `SET base = 10 WHERE base = 4` row still
    * counts as touched). `post` assignments run as a second phase over the
    * NEW values of touched rows only — the router recomputes generated
    * columns there (reference GeneratedColumns.java recomputes from the
    * updated row). Returns (new state, touched rows after both phases). */
  def update(target: DataFrame, cond: Column, assignments: Map[String, Column],
             post: Map[String, Column] = Map.empty): (DataFrame, DataFrame) = {
    val hit = "__graft_upd"
    val marked = target.withColumn(hit, coalesce(cond, lit(false)))
    val phase1 = marked.select(target.columns.map { c =>
      assignments.get(c) match {
        case Some(exprCol) => when(col(hit), exprCol).otherwise(col(c)).as(c)
        case None          => col(c)
      }
    }.toSeq :+ col(hit): _*)
    val phase2 = phase1.select(target.columns.map { c =>
      post.get(c) match {
        case Some(exprCol) => when(col(hit), exprCol).otherwise(col(c)).as(c)
        case None          => col(c)
      }
    }.toSeq :+ col(hit): _*)
    (phase2.drop(hit), phase2.filter(col(hit)).drop(hit))
  }

  /** DELETE WHERE cond, RETURNING *. Returns (new state, deleted rows). */
  def delete(target: DataFrame, cond: Column): (DataFrame, DataFrame) =
    (target.filter(!coalesce(cond, lit(false))), target.filter(cond))
}
