package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col
import graft.pipeline.Pipelines

class PipelinesSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("imputations pipeline emits a non-empty batch with the fact's columns") {
    val out = Pipelines.imputations(spark, sf,
      from = "1998-06-01", to = "1998-09-01", loadedFrom = "1998-01-01")
    assert(out.count() > 0)
    assert(out.columns.toSeq ==
      Seq("s_suppkey", "fecha", "tipo", "horas", "precio_min", "n_lineas"))
  }

  test("fichajes pipeline enriches with 'No asignado' defaults") {
    val out = Pipelines.fichajes(spark, sf)
    assert(out.count() > 0)
    assert(out.filter(out("empleado") === "No asignado").count() >= 0)
  }

  test("loadImputations is idempotent across re-runs") {
    val dir = Files.createTempDirectory("graft_pipe").toString + "/fact"
    val n1 = Pipelines.loadImputations(spark, sf,
      "1998-06-01", "1998-09-01", "1998-01-01", dir)
    assert(n1 > 0)
    val n2 = Pipelines.loadImputations(spark, sf,
      "1998-06-01", "1998-09-01", "1998-01-01", dir)
    assert(n2 == 0) // re-running the same window inserts nothing
    assert(spark.read.parquet(dir).count() == n1)
  }

  test("overlapping loads equal one imputations over the union window") {
    // the second window replays the first's last week, as a rolling load does
    val dir = Files.createTempDirectory("graft_pipe").toString + "/fact"
    val n1 = Pipelines.loadImputations(spark, sf,
      "1998-06-01", "1998-07-06", "1998-05-25", dir)
    val second = Pipelines.imputations(spark, sf, "1998-06-29", "1998-08-03", "1998-06-22")
    val n2 = Pipelines.loadImputations(spark, sf,
      "1998-06-29", "1998-08-03", "1998-06-22", dir)
    assert(n1 > 0 && n2 > 0 && n2 < second.count()) // the replayed week was skipped
    val want = Pipelines.imputations(spark, sf, "1998-06-01", "1998-08-03", "1998-05-25")
    val got = spark.read.parquet(dir).select(want.columns.toSeq.map(col): _*)
    assert(got.count() == n1 + n2)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.groupBy("s_suppkey", "fecha", "tipo").count().filter("count > 1").isEmpty)
  }

  // ---- F5: parameter validation (the reference's 400 on malformed dates) ----

  test("Params.parseDate accepts strict ISO, rejects malformed and impossible dates") {
    import graft.pipeline.Params
    assert(Params.parseDate("from", "2024-02-29").toString == "2024-02-29") // real leap day
    for (bad <- Seq("2024-2-9", "09-01-2024", "2024-02-31", "yesterday", "", "2024/02/09")) {
      val e = intercept[Params.InvalidParam](Params.parseDate("from", bad))
      assert(e.name == "from" && e.value == bad)
    }
  }

  test("Params.parseDateRange rejects from > to; pipeline rejects before planning") {
    import graft.pipeline.Params
    assert(Params.parseDateRange("1998-06-01", "1998-09-01")._2.toString == "1998-09-01")
    intercept[Params.InvalidParam](Params.parseDateRange("1998-09-01", "1998-06-01"))
    // the pipeline gate itself — no Spark job should run for a malformed window
    intercept[Params.InvalidParam](
      Pipelines.imputations(spark, "/root/testdata/sf0.001", "not-a-date", "1998-09-01", "1998-01-01"))
  }
}
