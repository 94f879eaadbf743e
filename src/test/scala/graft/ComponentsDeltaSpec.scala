package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Local filesystem whose delete of a `*_delta` directory fails while
  * [[DeltaDeleteCrashFs.armed]]: the crash point between a compaction's
  * base swap and its delta delete. Scheme `crashdel://`.
  */
class DeltaDeleteCrashFs extends RawLocalFileSystem {
  override def getScheme: String = "crashdel"
  override def getUri: java.net.URI = java.net.URI.create("crashdel:///")
  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (DeltaDeleteCrashFs.armed && f.getName.endsWith("_delta"))
      throw new java.io.IOException(s"injected crash before deleting $f")
    super.delete(f, recursive)
  }
}

object DeltaDeleteCrashFs {
  @volatile var armed = false
}

/** The components index's crawl path: the driver route against the
  * distributed route, the level-0 `sigs_delta/` and `comps_delta/`
  * appends, their folding by every base rewrite, and the probe's static
  * bucket pruning. Fixture signatures as in [[ComponentsIndexSpec]]: wave 1
  * merges rep 10 into 5, wave 2 chains 5 into 2 and bridges 20 into 2.
  */
class ComponentsDeltaSpec extends SparkTestBase {
  import spark.implicits._

  private val far = 0xFFFFFFFF00000000L
  private def corpus = Seq((10L, 0x00L), (20L, 0x1FL), (50L, far)).toDF("id", "sig")
  private def wave1 = Seq((30L, 0x01L), (5L, 0x02L)).toDF("id", "sig")
  private def wave2 = Seq((40L, 0x07L), (2L, 0x04L)).toDF("id", "sig")
  private def lone = Seq((99L, 0x0F00000000000000L)).toDF("id", "sig")

  private def assignment(df: DataFrame): Map[Long, Long] =
    df.select("id", "rep").as[(Long, Long)].collect().toMap

  private def freshIndex(scheme: String = ""): String =
    scheme + Files.createTempDirectory("graft_ccdelta").toString + "/idx"

  private def exists(path: String): Boolean =
    new java.io.File(path.stripPrefix("crashdel:")).exists()

  private def parquetFiles(path: String): Int =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet"))

  test("forced routes: driver and distributed ingests give identical tables") {
    // a padding of far, isolated signatures: alone it is exactly at the
    // cap (driver route); with any wave row it is one or more rows over
    // (distributed route). Both sides ingest the same rows: the padding
    // once, then chained waves, a replay and a batch with no cross pairs.
    val cap = Dedup.DRIVER_INGEST_ROWS
    val rnd = new scala.util.Random(7)
    val padding = (0L until cap).map(i => (1000000L + i, rnd.nextLong() | (1L << 62)))
      .toDF("id", "sig").localCheckpoint()
    val waves = Seq(wave1, wave2, wave2, lone)
    val driverIdx = freshIndex()
    val distIdx = freshIndex()
    Dedup.buildComponentsIndex(corpus, driverIdx)
    Dedup.buildComponentsIndex(corpus, distIdx)
    Dedup.componentsIngest(spark, padding, driverIdx, recomputeBelow = 0L)
    waves.foreach { w =>
      Dedup.componentsIngest(spark, w, driverIdx, recomputeBelow = 0L)
      Dedup.componentsIngest(spark, w.unionByName(padding), distIdx,
        recomputeBelow = 0L)
    }
    val driver = assignment(Dedup.componentsTable(spark, driverIdx))
    val dist = assignment(Dedup.componentsTable(spark, distIdx))
    assert(driver == dist)
    assert(driver.size == cap + 8)
    assert(driver.filter(_._1 < 1000000L) == Map(2L -> 2L, 5L -> 2L, 10L -> 2L,
      20L -> 2L, 30L -> 2L, 40L -> 2L, 50L -> 50L, 99L -> 99L))
    // both sides recorded the same union events, the chain included
    def events(idx: String) =
      spark.read.parquet(s"$idx/merges").as[(Long, Long)].collect().toSet
    assert(events(driverIdx) == Set((10L, 5L), (5L, 2L), (20L, 2L)))
    assert(events(distIdx) == events(driverIdx))
  }

  test("a crawl ingest appends one file per delta, visible to probes and the table") {
    val idx = freshIndex()
    Dedup.buildComponentsIndex(corpus, idx)
    Dedup.componentsIngest(spark, wave1, idx, recomputeBelow = 0L)
    assert(parquetFiles(s"$idx/sigs_delta") == 1)
    assert(parquetFiles(s"$idx/comps_delta") == 1)
    assert(parquetFiles(s"$idx/merges") == 2) // the build's empty file + one event
    // the bucketed bases are untouched by the append
    assert(spark.read.parquet(s"$idx/sigs").filter(col("id") === 5L).isEmpty)
    assert(spark.read.parquet(s"$idx/comps").filter(col("id") === 5L).isEmpty)
    // a probe near wave 1's id 5 (sig 0x02) finds it through the delta
    val hits = Dedup.signatureIndexProbe(spark, idx, Seq((100L, 0x06L)).toDF("id", "sig"))
      .select("existing_id").as[Long].collect().toSet
    assert(hits.contains(5L))
    assert(assignment(Dedup.componentsTable(spark, idx)) ==
      Map(5L -> 5L, 10L -> 5L, 30L -> 5L, 20L -> 20L, 50L -> 50L))
  }

  test("every base rewrite folds its delta in and then deletes it") {
    val idx = freshIndex()
    Dedup.buildComponentsIndex(corpus, idx)
    Dedup.componentsIngest(spark, wave1, idx, recomputeBelow = 0L)
    Dedup.componentsIngest(spark, wave2, idx, recomputeBelow = 0L)
    val probe = Seq((100L, 0x06L), (101L, 0x1EL)).toDF("id", "sig")
    val table = assignment(Dedup.componentsTable(spark, idx))
    val hits = rows(Dedup.signatureIndexProbe(spark, idx, probe))
    // signature compaction alone folds sigs_delta
    Dedup.signatureIndexCompact(spark, idx)
    assert(!exists(s"$idx/sigs_delta") && exists(s"$idx/comps_delta"))
    assert(rows(Dedup.signatureIndexProbe(spark, idx, probe)) == hits)
    // the components compaction folds comps_delta and merges
    Dedup.componentsIngest(spark, wave2, idx, recomputeBelow = 0L) // replay
    Dedup.componentsIndexCompact(spark, idx)
    assert(!exists(s"$idx/sigs_delta") && !exists(s"$idx/comps_delta"))
    assert(assignment(Dedup.componentsTable(spark, idx)) == table)
    assert(rows(Dedup.signatureIndexProbe(spark, idx, probe)) == hits)
    val raw = spark.read.parquet(s"$idx/comps")
    assert(raw.count() == 7 && raw.select("id").distinct().count() == 7)
    // the recompute route rewrites comps/ and deletes comps_delta; its
    // signatures land in sigs_delta
    Dedup.componentsIngest(spark, wave1, idx, recomputeBelow = 0L) // replay
    assert(exists(s"$idx/comps_delta"))
    Dedup.componentsIngest(spark, lone, idx) // default dispatch: small store
    assert(!exists(s"$idx/comps_delta") && exists(s"$idx/sigs_delta"))
    assert(assignment(Dedup.componentsTable(spark, idx)) == table + (99L -> 99L))
    // the text family's compaction folds the comps delta too
    val tidx = freshIndex()
    val text = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (20L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    Dedup.buildDedupComponentsIndex(text, "doc_id", "text", tidx, n = 1)
    Dedup.dedupComponentsIngest(spark,
      Seq((5L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
        .toDF("doc_id", "text"), "doc_id", "text", tidx, n = 1)
    assert(exists(s"$tidx/comps_delta"))
    val ttable = assignment(Dedup.componentsTable(spark, tidx))
    assert(ttable == Map(5L -> 5L, 10L -> 5L, 20L -> 20L))
    Dedup.dedupComponentsCompact(spark, tidx)
    assert(!exists(s"$tidx/comps_delta"))
    assert(assignment(Dedup.componentsTable(spark, tidx)) == ttable)
  }

  test("a crash between the base swap and the delta delete leaves reads equal") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashdel.impl", classOf[DeltaDeleteCrashFs].getName)
    val idx = freshIndex("crashdel://")
    Dedup.buildComponentsIndex(corpus, idx)
    Dedup.componentsIngest(spark, wave1, idx, recomputeBelow = 0L)
    Dedup.componentsIngest(spark, wave2, idx, recomputeBelow = 0L)
    val probe = Seq((100L, 0x06L), (101L, 0x1EL)).toDF("id", "sig")
    val table = assignment(Dedup.componentsTable(spark, idx))
    val hits = rows(Dedup.signatureIndexProbe(spark, idx, probe))
    def crashed(compact: => Unit): Unit = {
      DeltaDeleteCrashFs.armed = true
      try intercept[java.io.IOException](compact)
      finally DeltaDeleteCrashFs.armed = false
      assert(!exists(s"$idx/_compact_lease"))
      assert(assignment(Dedup.componentsTable(spark, idx)) == table)
      assert(rows(Dedup.signatureIndexProbe(spark, idx, probe)) == hits)
    }
    // comps/ swapped, comps_delta and merges still present
    crashed(Dedup.componentsIndexCompact(spark, idx))
    assert(exists(s"$idx/comps_delta"))
    // sigs/ swapped with the delta's rows, sigs_delta still present
    crashed(Dedup.signatureIndexCompact(spark, idx))
    assert(exists(s"$idx/sigs_delta"))
    // the next compaction completes the fold
    Dedup.componentsIndexCompact(spark, idx)
    assert(!exists(s"$idx/comps_delta") && !exists(s"$idx/sigs_delta"))
    assert(assignment(Dedup.componentsTable(spark, idx)) == table)
    assert(rows(Dedup.signatureIndexProbe(spark, idx, probe)) == hits)
  }

  test("the probe's sigs/ scan carries the batch's static (chunk, kb) filter") {
    val idx = freshIndex()
    // 512 spread signatures fill every (chunk, kb) bucket of the store
    Dedup.buildSignatureIndex(spark.range(0, 512)
      .select(col("id"), xxhash64(col("id")).as("sig")), idx)
    // two probe signatures whose four 16-bit chunks sit in kb 5/6, 17/18,
    // 33/34 and 60/61
    val kbs = Seq(5L, 17L, 33L, 60L)
    def sig(shift: Long) =
      kbs.zipWithIndex.map { case (kb, c) => ((kb + shift) << 10) << (16 * c) }.sum
    val probe = Dedup.signatureIndexProbe(spark, idx,
      Seq((9998L, sig(0)), (9999L, sig(1))).toDF("id", "sig"))
    val scans = probe.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "sigs") => s
    }
    assert(scans.size == 1)
    val filters = scans.head.partitionFilters.map(_.sql).mkString(" AND ")
    kbs.zipWithIndex.foreach { case (kb, c) =>
      assert(filters.contains(s"(chunk = $c) AND (kb IN ($kb, ${kb + 1}))"),
        s"chunk $c kb $kb missing from PartitionFilters: $filters")
    }
    assert(rows(probe).isEmpty) // no stored signature within hamming 3
  }

  test("the driver route prices and refuses the budget as signatureComponents does") {
    val idx = freshIndex()
    Dedup.buildComponentsIndex(corpus, idx)
    // six classes whose upper three chunks are all zero: 3 buckets x C(6,2)
    val batch = (0 until 6).map(i => (100L + i, 0x1000L * i)).toDF("id", "sig")
    val dist = intercept[graft.ext.Similarity.PairBudgetExceededException](
      Dedup.signatureComponents(batch, budgetPairs = 10L).collect())
    val driver = intercept[graft.ext.Similarity.PairBudgetExceededException](
      Dedup.componentsIngest(spark, batch, idx, budgetPairs = 10L, recomputeBelow = 0L))
    assert(driver.estimatedCandidates == 45L)
    assert(driver.estimatedCandidates == dist.estimatedCandidates)
    assert(!exists(s"$idx/comps_delta") && !exists(s"$idx/sigs_delta"))
  }

  test("a merges/ row giving one old_rep two new_reps fails loudly") {
    val idx = freshIndex()
    Dedup.buildComponentsIndex(corpus, idx)
    Seq((20L, 2L), (20L, 3L)).toDF("old_rep", "new_rep")
      .write.mode("append").parquet(s"$idx/merges")
    val ex = intercept[IllegalStateException](
      Dedup.componentsTable(spark, idx).collect())
    assert(ex.getMessage.contains("corrupt merges/"))
  }
}
