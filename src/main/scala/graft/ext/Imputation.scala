package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Missing-value imputation (the reference's domain: "ETL imputations").
  *
  * Generalizes the reference's constant fills ([function_app.py:274, 341]
  * `fillna`) into MLlib-Imputer-style strategies: mean / median / mode,
  * with a pluggable missing-value predicate (null by default, or e.g.
  * "negative means missing").
  *
  * Scale design: statistics reduce to ONE row via a global hash aggregate,
  * then rejoin via broadcast cross join — the fact table is scanned once
  * and never shuffled; no window-over-empty-partition, no collect of data
  * rows.
  */
object Imputation {

  sealed trait Strategy
  case object Mean extends Strategy
  case object Median extends Strategy
  /** Most frequent non-null value of any ordered type; ties broken by
    * smallest value (deterministic).
    */
  case object Mode extends Strategy

  /** Impute `valueCol` where `missing` holds, using `strategy` computed
    * over the non-missing rows. Adds `<valueCol>_imputed`.
    *
    * Mean is computed with an order-independent decimal sum so the result
    * is bit-reproducible (see graft.functions.Fns.dsum).
    */
  def impute(df: DataFrame, valueCol: String, strategy: Strategy, missing: Column): DataFrame = {
    val ok = df.filter(!missing)
    val statDf: DataFrame = strategy match {
      case Mean =>
        ok.agg((sum(col(valueCol).cast(DecimalType(18, 4))).cast("double") / count(col(valueCol)))
          .as("__stat"))
      case Median =>
        ok.agg(median(col(valueCol)).as("__stat"))
      case Mode =>
        // (count desc, value asc) is one struct order, exact for every type
        ok.filter(col(valueCol).isNotNull)
          .groupBy(col(valueCol)).agg(count(lit(1)).as("__c"))
          .agg(min_by(col(valueCol), struct(-col("__c"), col(valueCol))).as("__stat"))
    }
    df.crossJoin(broadcast(statDf))
      .withColumn(s"${valueCol}_imputed",
        when(missing, col("__stat").cast(df.schema(valueCol).dataType)).otherwise(col(valueCol)))
      .drop("__stat")
  }

  /** MLlib bridge: the same mean/median imputation via
    * `org.apache.spark.ml.feature.Imputer` — for pipelines already living
    * in spark.ml (Pipeline stages, model persistence). Null-missing only
    * (the ml Imputer's contract); for predicate-missing semantics use
    * [[impute]].
    */
  def mlImpute(df: DataFrame, cols: Seq[String], strategy: String = "mean"): DataFrame = {
    val imputer = new org.apache.spark.ml.feature.Imputer()
      .setInputCols(cols.toArray)
      .setOutputCols(cols.map(c => s"${c}_imputed").toArray)
      .setStrategy(strategy)
    imputer.fit(df).transform(df)
  }

  /** KNN imputation over an embedding column: rows with a NULL `valueCol`
    * take the mean of the k nearest non-null rows by cosine similarity
    * (deterministic tie-break on id) — the similarity-search surface and
    * the imputation surface composed. Rows with a value pass through
    * unchanged; a missing row with no known neighbors keeps its NULL.
    *
    * Scale shape: the missing side is broadcast as the query set of
    * [[Similarity.bruteForceTopK]] (imputation presumes missingness is the
    * small fraction; the corpus side streams, never shuffles). When the
    * missing side outgrows a broadcast, [[Similarity.ivfTopK]] slots in as
    * the candidate generator without changing the aggregation contract —
    * same (query_id, neighbor_id, rank) shape.
    */
  def knnImpute(df: DataFrame, idCol: String, vecCol: String, valueCol: String, k: Int): DataFrame = {
    val known = df.filter(col(valueCol).isNotNull)
    val missing = df.filter(col(valueCol).isNull)
    val nn = Similarity.bruteForceTopK(known, missing, idCol, vecCol, k)
    val imputed = nn
      .join(known.select(col(idCol).as("neighbor_id"), col(valueCol).as("__nv")), Seq("neighbor_id"))
      .groupBy(col("query_id"))
      .agg(avg(col("__nv")).as("__imputed"))
      .withColumnRenamed("query_id", idCol)
    // the mean is cast back to the column's declared type (imputeGroupMean's
    // contract): pass a double column when fractional imputations matter
    val filledMissing = missing
      .join(imputed, Seq(idCol), "left")
      .withColumn(valueCol, col("__imputed").cast(df.schema(valueCol).dataType))
      .drop("__imputed")
    known.unionByName(filledMissing.select(known.columns.map(col).toIndexedSeq: _*))
  }

  /** Grouped mean imputation: missing values take their group's mean —
    * one aggregate + one broadcast-joined dimension of group means.
    */
  def imputeGroupMean(df: DataFrame, valueCol: String, groupCols: Seq[String], missing: Column): DataFrame = {
    val stats = df.filter(!missing)
      .groupBy(groupCols.map(col): _*)
      .agg((sum(col(valueCol).cast(DecimalType(18, 4))).cast("double") / count(col(valueCol)))
        .as("__gstat"))
    df.join(broadcast(stats), groupCols, "left")
      .withColumn(s"${valueCol}_imputed",
        when(missing, col("__gstat").cast(df.schema(valueCol).dataType)).otherwise(col(valueCol)))
      .drop("__gstat")
  }
}
