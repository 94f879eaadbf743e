package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Persisted components index: incremental crawl-cadence maintenance of the
  * cluster assignment must equal one-shot [[Dedup.signatureComponents]] over
  * everything ingested — including merge events that CHAIN across waves
  * (rep 10 merged into 5 by wave 1, 5 into 2 by wave 2: resolution must
  * follow the whole path through the merges table).
  *
  * Signature design (hamming distances annotated):
  *   A=0x00 (id 10)  B=0x1F (id 20)  far (id 50)      — corpus build
  *   C=0x01 (id 30, d(C,A)=1)  D=0x02 (id 5, d(D,A)=1) — wave 1: rep 10→5
  *   E=0x07 (id 40, d(E,C)=2, d(E,B)=2)  F=0x04 (id 2) — wave 2: bridges the
  *     B component into the A component AND lowers the rep to 2: events
  *     (5→2) and (20→2), so resolving id 10 needs the 10→5→2 chain.
  */
class ComponentsIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val far = 0xFFFFFFFF00000000L
  private def corpus = Seq((10L, 0x00L), (20L, 0x1FL), (50L, far)).toDF("id", "sig")
  private def wave1 = Seq((30L, 0x01L), (5L, 0x02L)).toDF("id", "sig")
  private def wave2 = Seq((40L, 0x07L), (2L, 0x04L)).toDF("id", "sig")
  private def all = corpus.unionByName(wave1).unionByName(wave2)

  private def assignment(df: DataFrame): Map[Long, Long] =
    df.select("id", "rep").as[(Long, Long)].collect().toMap

  private def freshIndex(): String =
    Files.createTempDirectory("graft_ccidx").toString + "/idx"

  // recomputeBelow = 0 pins the MAINTENANCE machinery these cases are
  // about — under default dispatch a spec-sized store routes to the
  // measured-cheaper full recompute (covered by its own test below)
  private def buildAndIngestWaves(idx: String): Unit = {
    Dedup.buildComponentsIndex(corpus, idx)
    Dedup.componentsIngest(spark, wave1, idx, recomputeBelow = 0L)
    Dedup.componentsIngest(spark, wave2, idx, recomputeBelow = 0L)
  }

  test("chained-wave maintenance equals one-shot CC, rep chain resolved") {
    val idx = freshIndex()
    buildAndIngestWaves(idx)
    val got = assignment(Dedup.componentsTable(spark, idx))
    val oneShot = assignment(Dedup.signatureComponents(all))
    assert(got == oneShot)
    // every doc except the far outlier collapses to global-min rep 2
    assert(got == Map(2L -> 2L, 5L -> 2L, 10L -> 2L, 20L -> 2L,
      30L -> 2L, 40L -> 2L, 50L -> 50L))
  }

  test("merges table records the union events and the chain") {
    val idx = freshIndex()
    buildAndIngestWaves(idx)
    val events = spark.read.parquet(s"$idx/merges")
      .as[(Long, Long)].collect().toSet
    // wave 1 lowered comp(10) to 5; wave 2 lowered 5 and bridged-in 20 to 2.
    // (20 -> 2) directly — wave 2's lookup already resolves 10's comp to 5.
    assert(events == Set((10L, 5L), (5L, 2L), (20L, 2L)))
  }

  test("merge-chain resolution: driver dispatch equals the distributed loop") {
    // the r15 flattenMerges regime dispatch (driver pointer-chase under
    // spark.graft.cc.driverMergeRows) must resolve the 10→5→2 chain to
    // exactly what the distributed pointer-doubling loop resolves
    val idx = freshIndex()
    buildAndIngestWaves(idx)
    val driver = assignment(Dedup.componentsTable(spark, idx))
    spark.conf.set("spark.graft.cc.driverMergeRows", "0")
    val dist =
      try assignment(Dedup.componentsTable(spark, idx))
      finally spark.conf.unset("spark.graft.cc.driverMergeRows")
    assert(driver === dist)
    assert(driver(10L) === 2L) // the chained event resolved end to end
  }

  test("replayed ingest appends tolerated duplicates, assignment unchanged") {
    val idx = freshIndex()
    buildAndIngestWaves(idx)
    val before = assignment(Dedup.componentsTable(spark, idx))
    Dedup.componentsIngest(spark, wave2, idx, // replay of the last batch
      recomputeBelow = 0L)
    assert(assignment(Dedup.componentsTable(spark, idx)) == before)
  }

  test("compaction folds merges into comps, clears them, keeps the table") {
    val idx = freshIndex()
    buildAndIngestWaves(idx)
    val before = assignment(Dedup.componentsTable(spark, idx))
    Dedup.componentsIndexCompact(spark, idx)
    assert(assignment(Dedup.componentsTable(spark, idx)) == before)
    assert(spark.read.parquet(s"$idx/merges").isEmpty)
    // no duplicate assignment rows survive compaction
    val raw = spark.read.parquet(s"$idx/comps")
    assert(raw.count() == raw.select("id").distinct().count())
  }

  // --- text family: same union-find layer, jaccard edges ---

  private val wordsA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val wordsB = "one two three four five six seven eight nine ten"
  private def textCorpus = Seq(
    (10L, wordsA),
    (20L, wordsB),
    (50L, "completely unrelated content nothing shared here at all whatsoever really")
  ).toDF("doc_id", "text")
  // jaccard(doc5, A) = 9/11 ≈ 0.82 ≥ 0.7 — one word swapped
  private def textWave1 = Seq(
    (5L, wordsA.replace("kappa", "lambda"))).toDF("doc_id", "text")
  // doc 2 near A (different swap), doc 3 near B: wave 2 lowers comp(A)'s
  // rep 5 -> 2 (chaining with wave 1's 10 -> 5) and comp(B)'s 20 -> 3
  private def textWave2 = Seq(
    (2L, wordsA.replace("iota", "mu")),
    (3L, wordsB.replace("ten", "eleven"))).toDF("doc_id", "text")
  private def textAll = textCorpus.unionByName(textWave1).unionByName(textWave2)

  test("text-family maintenance equals one-shot banded CC, chained reps resolved") {
    val idx = freshIndex()
    Dedup.buildDedupComponentsIndex(textCorpus, "doc_id", "text", idx, n = 1)
    Dedup.dedupComponentsIngest(spark, textWave1, "doc_id", "text", idx, n = 1)
    Dedup.dedupComponentsIngest(spark, textWave2, "doc_id", "text", idx, n = 1)
    val got = assignment(Dedup.componentsTable(spark, idx))
    val oneShot = assignment(Dedup.minhashComponents(textAll, "doc_id", "text", n = 1))
    // the class-quotient CC equals CC over the expanded doc-pair graph
    val expanded = assignment(Dedup.connectedComponents(
      textAll.select(col("doc_id").as("id")), "id",
      Dedup.minhashLshPairs(textAll, "doc_id", "text", n = 1)))
    assert(oneShot == expanded)
    assert(got == oneShot)
    assert(got == Map(2L -> 2L, 5L -> 2L, 10L -> 2L, 20L -> 3L,
      3L -> 3L, 50L -> 50L))
    // wave 2 resolved wave 1's event: the chain is on disk
    val events = spark.read.parquet(s"$idx/merges")
      .as[(Long, Long)].collect().toSet
    assert(events == Set((10L, 5L), (5L, 2L), (20L, 3L)))
  }

  test("text-family compaction folds and preserves the assignment") {
    val idx = freshIndex()
    Dedup.buildDedupComponentsIndex(textCorpus, "doc_id", "text", idx, n = 1)
    Dedup.dedupComponentsIngest(spark, textWave1, "doc_id", "text", idx, n = 1)
    val before = assignment(Dedup.componentsTable(spark, idx))
    Dedup.dedupComponentsCompact(spark, idx)
    assert(assignment(Dedup.componentsTable(spark, idx)) == before)
    assert(spark.read.parquet(s"$idx/merges").isEmpty)
  }

  test("batch with no corpus matches stays isolated, no merge events") {
    val idx = freshIndex()
    Dedup.buildComponentsIndex(corpus, idx)
    val lone = Seq((99L, 0x0F00000000000000L)).toDF("id", "sig")
    Dedup.componentsIngest(spark, lone, idx, recomputeBelow = 0L)
    val got = assignment(Dedup.componentsTable(spark, idx))
    assert(got(99L) == 99L && got(10L) == 10L && got(20L) == 20L)
    assert(spark.read.parquet(s"$idx/merges").isEmpty)
  }

  test("dispatch: small store routes ingest to the recompute, identical assignment") {
    val idx = freshIndex()
    Dedup.buildComponentsIndex(corpus, idx)
    // default dispatch: stored count (3) << crossover -> recompute route
    Dedup.componentsIngest(spark, wave1, idx)
    Dedup.componentsIngest(spark, wave1, idx) // replayed batch
    Dedup.componentsIngest(spark, wave2, idx)
    val got = assignment(Dedup.componentsTable(spark, idx))
    assert(got == assignment(Dedup.signatureComponents(all)))
    // route proof: the recompute SWAPS comps/ (one raw row per id, the
    // replay folded) and clears merges/; maintenance would have appended
    // a duplicate assignment row per replayed id and kept merge events
    val raw = spark.read.parquet(s"$idx/comps")
    assert(raw.count() == raw.select("id").distinct().count())
    assert(spark.read.parquet(s"$idx/merges").isEmpty)
    // future probes see every ingested signature (sigs appended LAST)
    assert(Dedup.signatureIndexProbe(spark, idx,
      Seq((100L, 0x03L)).toDF("id", "sig")).count() > 0)
  }

  test("dispatch: crawl-cadence batch below the bulk ratio maintains even in a small store") {
    val idx = freshIndex()
    // 200 mutually-distant signatures: a store small enough for the
    // recompute route's size ceiling, large enough that a 1-row batch
    // is crawl cadence (1/200 = 0.5% < the 2% bulk ratio)
    val store = (0 until 200).map(i => (1000L + i, far + i * 16L))
      .toDF("id", "sig")
    Dedup.buildComponentsIndex(store, idx)
    val one = Seq((5L, 0x0F0F0F0FL)).toDF("id", "sig")
    Dedup.componentsIngest(spark, one, idx) // default dispatch
    Dedup.componentsIngest(spark, one, idx) // replayed crawl batch
    // maintenance APPENDS per replay (tolerated dups in the comps delta,
    // folded at read); the recompute route would have swapped to one raw
    // row per id
    val raw = Dedup.readComps(spark, idx).filter(col("id") === 5L)
    assert(raw.count() == 2L,
      "crawl-cadence ingest must take the maintenance route (append), not the swap")
    assert(Dedup.componentsTable(spark, idx).count() == 201L)
  }

  test("dispatch: recomputeBelow threshold boundary — at-or-above count maintains") {
    val idx = freshIndex()
    Dedup.buildComponentsIndex(corpus, idx) // 3 stored signatures
    // threshold equal to the stored count -> NOT below -> maintenance
    Dedup.componentsIngest(spark, wave1, idx, recomputeBelow = 3L)
    val events = spark.read.parquet(s"$idx/merges")
      .as[(Long, Long)].collect().toSet
    assert(events == Set((10L, 5L))) // the maintenance route's union event
    // threshold above the stored count -> recompute -> merges swapped empty
    Dedup.componentsIngest(spark, wave2, idx, recomputeBelow = 100L)
    assert(spark.read.parquet(s"$idx/merges").isEmpty)
    assert(assignment(Dedup.componentsTable(spark, idx))
      == assignment(Dedup.signatureComponents(all)))
  }
}
