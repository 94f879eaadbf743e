package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, struct, when}

/** Incremental insert-only merge sink (SURVEY.md §2.2 K1/K2).
  *
  * Reference semantics ([function_app.py:291-315, 363-388]): if the target
  * table does not exist, create it and append everything; otherwise read the
  * existing table, anti-join the incoming batch on the business key, and
  * append only the genuinely new rows. Re-running a window is therefore
  * idempotent (at-least-once per key, never duplicated).
  *
  * Scale notes vs the reference's `SELECT *` re-scan:
  *  - the existing side is pruned to the key columns before the anti join
  *    (parquet column pruning — we never re-read the fat fact columns);
  *  - with `partitionCol` set, the target is laid out by that column
  *    (typically the date) so the next run's anti join and any downstream
  *    ranged scans prune partitions instead of scanning history.
  */
object Upsert {

  def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** Returns the number of rows appended. */
  def upsertParquet(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      keys: Seq[String],
      partitionCol: Option[String] = None): Long = {
    val exists = tableExists(spark, path)
    val fresh =
      if (!exists) incoming
      else Joins.antiByKey(incoming, spark.read.parquet(path), keys)
    // The delta must be FULLY materialized before the append starts: the
    // anti-join plan reads the same parquet path the append writes into, so
    // a lazily-(re)computed delta would race its own write. persist() is not
    // a barrier (evicted partitions recompute mid-write); localCheckpoint
    // eagerly stores the rows (memory+disk) and truncates the lineage, so
    // the append job can no longer re-read the target path at all.
    val materialized = fresh.localCheckpoint()
    try {
      val n = materialized.count()
      if (n > 0) {
        val w = materialized.write.mode("append")
        partitionCol.fold(w)(c => w.partitionBy(c)).parquet(path)
        // if the target carries a zone-map manifest, keep it fresh —
        // O(|appended files|), no-op (one metadata call) otherwise
        graft.sources.Tables.maintainManifest(spark, path): Unit
      } else if (!exists) {
        // create-if-absent even when the first batch is empty (K1)
        val w = materialized.write.mode("append")
        partitionCol.fold(w)(c => w.partitionBy(c)).parquet(path)
      }
      n
    } finally materialized.unpersist()
  }

  /** Pure (non-writing) form of the merge for plan-level composition and
    * oracle testing: existing ∪ (incoming ⟕anti existing on keys).
    */
  def mergeInsertOnly(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.unionByName(Joins.antiByKey(incoming, existing, keys).select(existing.columns.toSeq.map(col): _*))

  /** Full upsert (MERGE WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN
    * INSERT — last writer wins): incoming rows replace existing rows with
    * the same key, everything else is kept. One anti join: existing rows
    * whose key is NOT incoming, plus all of incoming. The extension of the
    * reference's insert-only K2 to in-place dimension maintenance.
    */
  def mergeUpsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    Joins.antiByKey(existing, incoming, keys)
      .unionByName(incoming.select(existing.columns.toSeq.map(col): _*))

  /** SCD Type-2 apply: maintain a dimension with validity intervals.
    * `current` has (key, attrs..., valid_from, valid_to) where open rows
    * have valid_to = null; `updates` has (key, attrs..., effective ts).
    * Changed keys get their open row CLOSED at the update's timestamp and
    * a new open row inserted; unchanged keys (same values in `compareCols`)
    * pass through untouched. One broadcast-or-shuffle join on the key +
    * one union — no per-row driver logic, scales with the dimension.
    */
  def scd2Apply(
      current: DataFrame,
      updates: DataFrame,
      key: String,
      compareCols: Seq[String],
      tsCol: String): DataFrame = {
    val open = current.filter(col("valid_to").isNull)
    val closed = current.filter(col("valid_to").isNotNull)
    val u = updates.select(
      col(key).as("__k"),
      struct(compareCols.map(col): _*).as("__newVals"),
      col(tsCol).as("__ts"))
    val joined = open.join(u, open(key) === col("__k"), "left")
    val changed = col("__k").isNotNull &&
      struct(compareCols.map(col): _*) =!= col("__newVals")
    // open rows: close the changed ones, keep the rest
    val maintained = joined.select(
      (current.columns.filterNot(_ == "valid_to").map(col) :+
        when(changed, col("__ts")).otherwise(col("valid_to")).as("valid_to")).toSeq: _*)
    // new open rows for changed keys
    val fresh = joined.filter(changed).select(
      (current.columns.map {
        case c if c == key => col(key)
        case "valid_from" => col("__ts").as("valid_from")
        case "valid_to" => lit(null).cast(current.schema("valid_to").dataType).as("valid_to")
        case c if compareCols.contains(c) => col("__newVals").getField(c).as(c)
        case c => col(c)
      }).toSeq: _*)
    // brand-new keys (not in the dimension yet) open their first row
    val newKeys = Joins.antiByKey(
      updates.select(col(key) +: compareCols.map(col) :+ col(tsCol): _*), current, Seq(key))
    val opened = newKeys.select(
      (current.columns.map {
        case c if c == key => col(key)
        case "valid_from" => col(tsCol).as("valid_from")
        case "valid_to" => lit(null).cast(current.schema("valid_to").dataType).as("valid_to")
        case c if compareCols.contains(c) => col(c)
        case c => lit(null).cast(current.schema(c).dataType).as(c)
      }).toSeq: _*)
    closed.unionByName(maintained).unionByName(fresh).unionByName(opened)
  }
}
