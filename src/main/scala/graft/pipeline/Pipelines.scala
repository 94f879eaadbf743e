package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fns
import graft.operators.{Joins, Relational, Upsert}
import graft.sources.Tables

/** The reference's two end-to-end ETL flows ([function_app.py:23-402]),
  * re-expressed as ONE declarative Spark plan each, over the driver corpus's
  * star schema. Stage order mirrors the reference exactly (SURVEY.md §3.1);
  * every stage is an operator from graft.operators/graft.functions, so the
  * whole pipeline inherits pushdown, pruning and broadcast planning from
  * Catalyst instead of the reference's eager per-stage materialization.
  *
  * Domain mapping (reference → corpus): worked-hours staging → lineitem;
  * employee dim (DNI resolve, inner-drop J4) → supplier; task text → part
  * p_name; fuzzy company lookup (J7 get_field_id) → p_type contained in
  * p_name; fact grain (empleado, fecha, tarea) → (suppkey, ship day, tipo);
  * clock-ins → events; employee enrich (left J5) → customer.
  */
object Pipelines {

  /** Imputations flow ([function_app.py:148-315]):
    * ranged extract (S3/S4) → derive columns (P2, F1-F3) → dim joins
    * (J1/J4 inner ⇒ silently drops facts without an active supplier) →
    * contains-match lookup (J7, first match by dim order) → null defaults
    * (F11) → summarize (A2). One plan over one ranged scan of `lineitem`,
    * with `supplier` and `part` each read once.
    *
    * The incremental merge (J6/K2) is the sink's: [[loadImputations]]
    * anti-joins this batch against the loaded fact, so a replayed window
    * appends nothing. `loadedFrom` is validated (F5) but plans nothing —
    * every row here has `fecha >= from`, so no key of the previously loaded
    * window `[loadedFrom, from)` can match one.
    */
  def imputations(
      spark: SparkSession,
      sfDir: String,
      from: String,
      to: String,
      loadedFrom: String): DataFrame = {
    // F5 gate: reject malformed windows before planning anything — the
    // reference's 400 response ([function_app.py:31-50]).
    Params.parseDateRange(from, to)
    Params.parseDate("loadedFrom", loadedFrom)
    val derived = Relational.rangedScan(
        Tables.lineitem(spark, sfDir), "l_shipdate", from, to)
      .withColumn("fecha", Fns.toDateCol(col("l_shipdate")))
      .withColumn("horas", col("l_quantity").cast("double"))
    // J4: inner join ⇒ rows without an in-good-standing supplier are
    // silently dropped, matching the reference's DNI resolve semantics.
    val employees = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") > 0)
      .select(col("s_suppkey"), col("s_name"))
    val withEmp = Joins.enrich(derived, employees,
      derived("l_suppkey") === employees("s_suppkey"))
    // task text via part (J1, broadcast dim)
    val part = Tables.part(spark, sfDir)
    val parts = part.select(col("p_partkey"), col("p_name"))
    val withTask = Joins.enrich(withEmp, parts,
      withEmp("l_partkey") === parts("p_partkey"))
    // J7: first p_type (dim order = p_type asc) contained in the task text
    val typeDim = part.select(col("p_type")).distinct()
    Joins.containsLookup(
        withTask, typeDim, "p_name", "p_type", "p_type", "p_type", "tipo")
      .na.fill(Map("tipo" -> "No asignado"))
      .groupBy(col("s_suppkey"), col("fecha"), col("tipo"))
      .agg(
        Fns.dsum(col("horas")).as("horas"),
        min(col("l_extendedprice")).as("precio_min"),
        count(lit(1)).as("n_lineas"))
  }

  /** Fichajes (clock-ins) flow ([function_app.py:318-388]):
    * rollup (A3) → LEFT enrich (J5 — unlike J4, unmatched rows survive) →
    * null default (F12) → rename/cast (P4/F10).
    */
  def fichajes(spark: SparkSession, sfDir: String): DataFrame = {
    val rolled = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("fecha"))
      .agg(
        Fns.dsum(col("value")).as("segundos_trabajados"),
        count(lit(1)).as("n_fichajes"))
    val employees = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    Joins.enrich(rolled, employees, rolled("user_id") === employees("c_custkey"), "left")
      .na.fill(Map("c_name" -> "No asignado", "c_mktsegment" -> "No asignado"))
      .withColumnsRenamed(Map("c_name" -> "empleado", "c_mktsegment" -> "departamento"))
      .select(
        col("user_id").cast("long").as("empleado_id"),
        col("fecha"), col("empleado"), col("departamento"),
        col("segundos_trabajados"), col("n_fichajes"))
  }

  /** Idempotent incremental load of the imputations fact to parquet —
    * the K1/K2 sink form ([function_app.py:291-315]): create-if-absent,
    * then append only rows whose business key is new. The sink's anti-join
    * against the target is the J6 step, so overlapping or replayed windows
    * never duplicate a `(s_suppkey, fecha, tipo)` key.
    */
  def loadImputations(
      spark: SparkSession, sfDir: String, from: String, to: String,
      loadedFrom: String, targetPath: String): Long = {
    val batch = imputations(spark, sfDir, from, to, loadedFrom)
    Upsert.upsertParquet(spark, batch, targetPath,
      Seq("s_suppkey", "fecha", "tipo"), partitionCol = Some("fecha"))
  }
}
