package graft

import org.apache.spark.sql.functions._
import graft.ext.Imputation

class ImputationSpec extends SparkTestBase {
  import spark.implicits._

  private def df = Seq((1, -1.0), (2, 10.0), (3, 20.0), (4, -5.0)).toDF("id", "x")

  test("mean imputation over non-missing rows") {
    val got = Imputation.impute(df, "x", Imputation.Mean, col("x") < 0)
      .select("id", "x_imputed").as[(Int, Double)].collect().toMap
    assert(got(1) == 15.0 && got(4) == 15.0 && got(2) == 10.0)
  }

  test("median imputation") {
    val d = Seq((1, -1.0), (2, 1.0), (3, 2.0), (4, 100.0)).toDF("id", "x")
    val got = Imputation.impute(d, "x", Imputation.Median, col("x") < 0)
      .select("id", "x_imputed").as[(Int, Double)].collect().toMap
    assert(got(1) == 2.0)
  }

  test("mode imputation breaks ties by smallest value") {
    val d = Seq((1, "?"), (2, "b"), (3, "a"), (4, "b"), (5, "a")).toDF("id", "x")
    val got = Imputation.impute(d, "x", Imputation.Mode, col("x") === "?")
      .select("id", "x_imputed").as[(Int, String)].collect().toMap
    assert(got(1) == "a") // a and b both occur twice; smallest wins
  }

  test("mode tie between longs above 2^53 picks the smallest in either input order") {
    val big = 1L << 53 // big and big + 1 collapse to one double
    for (vals <- Seq(Seq(big + 1, big, big + 1, big), Seq(big, big + 1, big, big + 1))) {
      val d = ((1, -1L) +: vals.zipWithIndex.map { case (v, i) => (i + 2, v) }).toDF("id", "x")
      val got = Imputation.impute(d, "x", Imputation.Mode, col("x") < 0)
        .select("id", "x_imputed").as[(Int, Long)].collect().toMap
      assert(got(1) == big, s"input order $vals")
    }
  }

  test("mode never counts null as a candidate value") {
    // <=> keeps the null rows on the non-missing side; null is the most
    // frequent value there but must not become the fill
    val d = Seq((1, Some("?")), (2, None), (3, None), (4, None), (5, Some("b")), (6, Some("a")),
      (7, Some("a"))).toDF("id", "x")
    val got = Imputation.impute(d, "x", Imputation.Mode, col("x") <=> lit("?"))
      .select("id", "x_imputed").as[(Int, Option[String])].collect().toMap
    assert(got(1).contains("a") && got(2).isEmpty)
  }

  test("mlImpute (spark.ml bridge) fills nulls with the mean") {
    val d = Seq((1, Some(10.0)), (2, None), (3, Some(20.0))).toDF("id", "x")
    val got = Imputation.mlImpute(d, Seq("x"))
      .select("id", "x_imputed").as[(Int, Double)].collect().toMap
    assert(got(2) == 15.0 && got(1) == 10.0)
  }

  test("knnImpute fills nulls with the mean of the k nearest by cosine") {
    import org.apache.spark.sql.functions.col
    // axis-aligned vectors make the neighbor sets obvious: rows 1-3 cluster
    // on x, rows 4-5 on y; row 6 (missing, on x) must take the x-cluster's
    // mean, row 7 (missing, on y) the y-cluster's
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), Some(10.0)),
      (2L, Seq(0.9f, 0.1f), Some(20.0)),
      (3L, Seq(0.95f, 0.05f), Some(30.0)),
      (4L, Seq(0.0f, 1.0f), Some(100.0)),
      (5L, Seq(0.1f, 0.9f), Some(200.0)),
      (6L, Seq(0.99f, 0.01f), Option.empty[Double]),
      (7L, Seq(0.01f, 0.99f), Option.empty[Double])
    ).toDF("id", "vec", "v")
    val got = graft.ext.Imputation.knnImpute(df, "id", "vec", "v", 2)
      .select(col("id"), col("v")).as[(Long, Option[Double])].collect().toMap
    // row 6's 2 nearest x-vectors are ids 1 and 3 -> (10+30)/2
    assert(got(6L).contains(20.0))
    // row 7's 2 nearest y-vectors are ids 4 and 5 -> (100+200)/2
    assert(got(7L).contains(150.0))
    // known rows unchanged
    assert(got(1L).contains(10.0) && got(5L).contains(200.0))
  }

  test("grouped mean imputation uses the row's group") {
    val d = Seq(("g1", -1.0), ("g1", 10.0), ("g2", -1.0), ("g2", 30.0)).toDF("g", "x")
    val got = Imputation.imputeGroupMean(d, "x", Seq("g"), col("x") < 0)
      .select("g", "x_imputed").as[(String, Double)].collect().toSet
    assert(got == Set(("g1", 10.0), ("g2", 30.0)))
  }
}
