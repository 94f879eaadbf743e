package graftbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Imputation, Similarity}
import graft.operators.{Relational, Upsert}
import graft.pipeline.Pipelines
import graft.sources.Tables

/** Runs and times one named step of a workload's set-up. */
trait SetupStep {
  def apply[T](name: String)(body: => T): T
}

/** One output check; each counts as one attempted operation. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A closed-loop workload: one client thread runs op after op, in order from
  * 0, on the state `setup` left. Ops follow a fixed cycle of kinds, and the
  * timed phase runs whole cycles, so every run measures the same mix.
  */
trait Workload {
  /** Generates the inputs under `dir` and builds the stores from them. */
  def setup(dir: String, step: SetupStep): Seq[Input]
  /** The generated inputs, whose bytes make the run's input digest. */
  def inputDirs: Seq[String]
  /** The kinds of the ops of one cycle: op `i` is of kind `cycle(i % cycle.size)`. */
  def cycle: Seq[String]
  /** Ops run before the timed phase, until every kind reaches steady state. */
  def warmupOps: Int
  /** Runs op `i` and returns the input rows it completed; throws on failure. */
  def op(i: Int): Long
  /** Everything the workload's stores hold on disk. */
  def storeDir: String
  /** Logical bytes of the user records the given ops ingested. */
  def ingestedBytes(ops: Seq[Int]): Double
  /** Logical bytes of the user records live in the stores. */
  def liveBytes: Double
  /** Output checks over the finished run, given the timed ops. */
  def checks(timedOps: Seq[Int]): Seq[Check]
  /** Share of the exact answer the workload's output holds. */
  def recall: Double
}

/** The paper's request path. Cycle `c` is one request for the date window
  * [start + 28c, start + 28c + 35) days, made of four ops, each one call of
  * the service:
  *   load        the imputations pipeline, then the upsert into the
  *               fecha-partitioned fact, where the window's first week is a
  *               replay of the previous window that the anti join must skip;
  *   impute_mean the mean and per-supplier group-mean strategies over the
  *               window's raw rows;
  *   impute_rank the median and mode strategies over them;
  *   fichajes    the fichajes flow.
  */
final class EtlImputation(spark: SparkSession, t: Tracer, seed: Long, files: Int)
    extends Workload {
  private val LineitemRows = 600000L
  private val WindowDays = 35
  private val StepDays = 28
  private val Keys = Seq("s_suppkey", "fecha", "tipo")
  private val FactCols = Seq("s_suppkey", "fecha", "tipo", "horas", "precio_min", "n_lineas")

  private var sf = ""
  private var fact = ""
  private var start = Gen.FirstDay
  private var loaded = 0
  private var dayBytes = Map.empty[LocalDate, Double]
  private var recalled = 0.0

  def inputDirs: Seq[String] = Seq(sf)
  def storeDir: String = fact
  val cycle: Seq[String] = Seq("load", "impute_mean", "impute_rank", "fichajes")
  /** In one JVM, the first request runs ~30-50% and the second ~10-30% above
    * the later ones.
    */
  def warmupOps: Int = 2 * cycle.size

  def setup(dir: String, step: SetupStep): Seq[Input] = {
    sf = s"$dir/sf"
    fact = s"$dir/store/fact"
    start = Gen.FirstDay.plusDays(Gen.rng(seed, 40, 0).nextInt(365).toLong)
    loaded = 0
    step("inputs")(Gen.etl(spark, seed, sf, files, LineitemRows,
      "sf0.1 size, written as 2 x nproc splits: a request scans it about four times, " +
        "so its scan/join/aggregate jobs outlast the driver gaps between them"))
  }

  private def from(i: Int) = start.plusDays(i.toLong * StepDays)
  private def to(i: Int) = from(i).plusDays(WindowDays.toLong)
  /** The week before the window: the previously loaded range the pipeline
    * anti-joins against.
    */
  private def loadedFrom(i: Int) = from(i).minusDays(7)

  /** Runs op `i`; the input rows it completes are the window's lineitem rows,
    * counted when the window's imputation finishes.
    */
  def op(i: Int): Long = {
    val w = i / cycle.size
    val (f, u) = (from(w).toString, to(w).toString)
    cycle(i % cycle.size) match {
      case "load" =>
        val batch = t.span("pipeline.imputations") {
          Pipelines.imputations(spark, sf, f, u, loadedFrom(w).toString)
        }
        val appended = t.span("operators.upsert") {
          Upsert.upsertParquet(spark, batch, fact, Keys, partitionCol = Some("fecha"))
        }
        if (appended == 0) throw new IllegalStateException(s"window $f appended nothing")
        loaded = w + 1
        0L
      case "impute_mean" =>
        val (_, unfilled) = t.span("imputation.impute")(imputeMeans(f, u))
        if (unfilled != 0)
          throw new IllegalStateException(s"window $f: $unfilled values left unimputed")
        0L
      case "impute_rank" =>
        val (rows, unfilled) = t.span("imputation.impute")(imputeRanks(f, u))
        if (unfilled != 0)
          throw new IllegalStateException(s"window $f: $unfilled values left unimputed")
        rows
      case "fichajes" =>
        t.span("pipeline.fichajes") {
          Pipelines.fichajes(spark, sf).agg(count(lit(1)), sum(col("n_fichajes"))).head()
        }
        0L
    }
  }

  private def rawWindow(from: String, to: String): DataFrame =
    Relational.rangedScan(Tables.lineitem(spark, sf), "l_shipdate", from, to)

  /** Mean and per-supplier group mean of l_quantity over the window's raw
    * rows, forced by one aggregate: (rows, imputed values still missing). The
    * group mean cannot fill a supplier with no observed quantity in the
    * window, so its values count as missing only where the supplier has one.
    */
  private def imputeMeans(from: String, to: String): (Long, Long) = {
    val missing = col("l_quantity").isNull
    val imputed = Imputation.imputeGroupMean(
      Imputation.impute(rawWindow(from, to), "l_quantity", Imputation.Mean, missing)
        .withColumnRenamed("l_quantity_imputed", "q_mean"),
      "l_quantity", Seq("l_suppkey"), missing).withColumnRenamed("l_quantity_imputed", "q_group")
    val row = imputed.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"), count(col("l_quantity")).as("known"),
        count_if(col("q_group").isNull).as("group_unfilled"),
        count_if(col("q_mean").isNull).as("unfilled"))
      .agg(sum(col("n")),
        sum(col("unfilled") + when(col("known") > 0, col("group_unfilled")).otherwise(0L)))
      .head()
    (row.getLong(0), row.getLong(1))
  }

  /** Median of l_extendedprice and mode of l_discount ("negative means
    * missing") over the window's raw rows, forced by one aggregate: (rows,
    * imputed values still missing).
    */
  private def imputeRanks(from: String, to: String): (Long, Long) = {
    val imputed = Imputation.impute(
      Imputation.impute(rawWindow(from, to), "l_extendedprice", Imputation.Median,
        col("l_extendedprice").isNull),
      "l_discount", Imputation.Mode, col("l_discount") < 0)
    val row = imputed.agg(count(lit(1)),
      count_if(col("l_extendedprice_imputed").isNull) +
        count_if(col("l_discount_imputed").isNull)).head()
    (row.getLong(0), row.getLong(1))
  }

  /** Per fecha: (rows, order-independent content hash, logical bytes) of a
    * fact-shaped frame. Logical row bytes: s_suppkey 8, fecha 4, tipo,
    * horas 8, precio_min 8, n_lineas 8.
    */
  private def content(df: DataFrame): Map[LocalDate, (Long, BigDecimal, Double)] =
    df.groupBy(col("fecha"))
      .agg(count(lit(1)), sum(xxhash64(FactCols.map(col): _*).cast("decimal(38,0)")),
        sum(length(col("tipo")) + 36))
      .collect().map(r => r.getDate(0).toLocalDate ->
        ((r.getLong(1), BigDecimal(r.getDecimal(2)), r.getLong(3).toDouble))).toMap

  /** The loaded fact against one from-scratch pipeline run over the union of
    * the loaded windows (contiguous, so one window): same rows per fecha,
    * same content hash per fecha.
    */
  def checks(timedOps: Seq[Int]): Seq[Check] = {
    val got = content(spark.read.parquet(fact).select(FactCols.map(col): _*))
    val want = content(Pipelines.imputations(spark, sf, from(0).toString,
      to(loaded - 1).toString, loadedFrom(0).toString).select(FactCols.map(col): _*))
    dayBytes = got.map { case (d, (_, _, b)) => d -> b }
    val wantRows = want.values.map(_._1).sum
    recalled = want.collect { case (d, w) if got.get(d).contains(w) => w._1 }.sum.toDouble /
      wantRows
    Seq(Check("loaded fact equals a from-scratch recompute of its windows", got == want,
      s"$loaded windows: loaded ${got.values.map(_._1).sum} rows, recompute $wantRows rows, " +
        s"${want.count { case (d, w) => !got.get(d).contains(w) }} days differ"))
  }

  /** A load op ingests the days its window adds: all of window 0, else the
    * part after the replayed first week.
    */
  def ingestedBytes(ops: Seq[Int]): Double = ops.filter(i => cycle(i % cycle.size) == "load")
    .map { i =>
      val w = i / cycle.size
      val first = if (w == 0) from(0) else to(w - 1)
      dayBytes.collect { case (d, b) if !d.isBefore(first) && d.isBefore(to(w)) => b }.sum
    }.sum
  def liveBytes: Double = dayBytes.values.sum
  def recall: Double = recalled
}

/** Index lifecycle: crawl batches through the persisted MinHash dedup index
  * and simhash components index, and ANN query batches and vector ingests on
  * the persisted IVF-PQ index. Cycle `c` is six ops, each one call:
  *   probe         probe crawl batch `c` against the dedup index;
  *   ingest        ingest batch `c` into the dedup index;
  *   query         one batch of ANN queries through IVF-PQ;
  *   components    ingest batch `c`'s signatures into the components index;
  *   compact       compact the dedup index;
  *   vector_ingest ingest new vectors into the IVF-PQ index.
  */
final class IndexLifecycle(spark: SparkSession, t: Tracer, seed: Long, files: Int)
    extends Workload {
  private val CorpusDocs = 5000L
  private val BatchDocs = 50
  private val PlantedShare = 0.2
  private val PlantedRecallFloor = 0.95
  private val CorpusVectors = 50000L
  private val Queries = 128
  private val IngestVectors = 1000
  private val Nlist = 64
  private val Nprobe = 8
  private val K = 10
  private val RecallQueries = 64
  private val RecallFloor = 0.5
  private val VectorBytes = 8.0 + 4 * Gen.Dim
  private val QueryIds = 1L << 40
  private val RecallIds = 1L << 41

  private var vocab = Array.empty[String]
  private var space: Gen.Space = _
  private var docs = ""
  private var vectors = ""
  private var store = ""
  private var corpusBytes = 0.0
  /** Per crawl batch: the probe's pairs, the planted pairs, logical bytes. */
  private val probes = mutable.Map[Int, Set[(Long, Long, Double)]]()
  private val planted = mutable.Map[Int, Seq[(Long, Long)]]()
  private val batchBytes = mutable.Map[Int, Double]()
  /** Vector batches ingested so far. */
  private val vectorBatches = mutable.Set[Int]()
  private var recalled = 0.0

  def inputDirs: Seq[String] = Seq(docs, vectors)
  def storeDir: String = store
  val cycle: Seq[String] =
    Seq("probe", "ingest", "query", "components", "compact", "vector_ingest")
  def warmupOps: Int = cycle.size
  private def dedupDir = s"$store/dedup"
  private def compsDir = s"$store/components"
  private def ivfpqDir = s"$store/ivfpq"

  def setup(dir: String, step: SetupStep): Seq[Input] = {
    vocab = Gen.vocabulary(seed)
    space = new Gen.Space(seed)
    store = s"$dir/store"
    docs = s"$dir/in/documents.parquet"
    vectors = s"$dir/in/vectors.parquet"
    Seq(probes, planted, batchBytes).foreach(_.clear())
    vectorBatches.clear()
    val inputs = step("inputs")(Gen.together(
      () => Gen.corpus(spark, seed, s"$dir/in", files, CorpusDocs),
      () => Gen.vectors(spark, space, s"$dir/in", files, CorpusVectors)))
    val corpus = spark.read.parquet(docs)
    corpusBytes = corpus.agg(sum(octet_length(col("text")) + 8)).head().getLong(0).toDouble
    step("indexes")(Gen.together(
      () => Dedup.buildDedupIndex(corpus, "doc_id", "text", dedupDir),
      () => Dedup.buildComponentsIndex(signatures(corpus), compsDir),
      () => Similarity.buildIvfPqIndex(spark.read.parquet(vectors), "vec_id", "embedding",
        ivfpqDir, nlist = Nlist)))
    inputs
  }

  private def signatures(df: DataFrame): DataFrame =
    Dedup.simhash(df, "doc_id", "text").withColumnRenamed("simhash", "sig")

  private def batch(c: Int) = Gen.batch(seed, vocab, CorpusDocs, BatchDocs, c, PlantedShare)

  private def ingestIds(c: Int): Seq[Long] =
    (0 until IngestVectors).map(j => CorpusVectors + c.toLong * IngestVectors + j)

  private def topK(queries: DataFrame): Set[(Long, Long)] =
    Similarity.ivfPqIndexTopK(spark, ivfpqDir, queries, "vec_id", "embedding", K,
      nprobe = Nprobe).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet

  def op(i: Int): Long = {
    val c = i / cycle.size
    cycle(i % cycle.size) match {
      case "probe" =>
        val (rows, plantedPairs) = batch(c)
        probes(c) = t.span("dedup.probe") {
          Dedup.minhashLshPairsAgainstIndex(spark, dedupDir, Gen.docFrame(spark, rows),
            "doc_id", "text")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        }
        planted(c) = plantedPairs
        rows.size
      case "ingest" =>
        val rows = batch(c)._1
        t.span("dedup.ingest") {
          Dedup.dedupIndexIngest(Gen.docFrame(spark, rows), "doc_id", "text", dedupDir)
        }
        batchBytes(c) = rows.map(_._2.getBytes("UTF-8").length + 8.0).sum
        rows.size
      case "components" =>
        val rows = batch(c)._1
        t.span("dedup.cc_ingest") {
          Dedup.componentsIngest(spark, signatures(Gen.docFrame(spark, rows)), compsDir)
        }
        rows.size
      case "compact" =>
        t.span("dedup.compact")(Dedup.dedupIndexCompact(spark, dedupDir))
        0L
      case "query" =>
        val queries =
          Gen.vecFrame(spark, space, (0 until Queries).map(QueryIds + i.toLong * Queries + _))
        val hits = t.span("similarity.probe")(topK(queries))
        if (hits.size != Queries * K)
          throw new IllegalStateException(s"${hits.size} neighbours for $Queries queries")
        Queries
      case "vector_ingest" =>
        t.span("similarity.ingest") {
          Similarity.ivfPqIndexIngest(spark, ivfpqDir, Gen.vecFrame(spark, space, ingestIds(c)),
            "vec_id", "embedding")
        }
        vectorBatches += c
        IngestVectors
    }
  }

  def checks(timedOps: Seq[Int]): Seq[Check] = {
    // the index probe of one seed-chosen timed crawl batch against a
    // recompute over the corpus as it stood then (corpus plus every earlier
    // batch)
    val timed = timedOps.filter(i => cycle(i % cycle.size) == "probe").map(_ / cycle.size)
    val sample = timed(Math.floorMod(seed, timed.size.toLong).toInt)
    val existing = spark.read.parquet(docs)
      .unionByName(Gen.docFrame(spark, (0 until sample).flatMap(batch(_)._1)))
    val want = Dedup.minhashLshPairsIncremental(existing, Gen.docFrame(spark, batch(sample)._1),
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = probes(sample)
    val plantedAll = timed.flatMap(planted(_))
    val found = timed.flatMap(c => planted(c).filter { case (s, d) =>
      probes(c).exists(p => p._1 == s && p._2 == d) })
    val plantedRecall = found.size.toDouble / plantedAll.size

    val queries = Gen.vecFrame(spark, space, (0 until RecallQueries).map(RecallIds + _))
    val corpus = vectorBatches.toSeq.sorted.foldLeft(spark.read.parquet(vectors)) {
      (df, c) => df.unionByName(Gen.vecFrame(spark, space, ingestIds(c)))
    }
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", K)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    recalled = (topK(queries) intersect exact).size.toDouble / (RecallQueries * K)
    Seq(
      Check(s"index probe equals minhashLshPairsIncremental on crawl batch $sample",
        got == want, s"probe ${got.size} pairs, recompute ${want.size} pairs, " +
          s"${(got diff want).size + (want diff got).size} differ"),
      Check(s"planted-duplicate recall >= $PlantedRecallFloor",
        plantedRecall >= PlantedRecallFloor,
        s"${found.size} of ${plantedAll.size} planted pairs found"),
      Check(s"IVF-PQ recall@$K vs bruteForceTopK >= $RecallFloor", recalled >= RecallFloor,
        f"recall@$K $recalled%.4f over $RecallQueries queries"))
  }

  def ingestedBytes(ops: Seq[Int]): Double = ops.map { i =>
    cycle(i % cycle.size) match {
      case "ingest" => batchBytes(i / cycle.size)
      case "vector_ingest" => IngestVectors * VectorBytes
      case _ => 0.0
    }
  }.sum
  def liveBytes: Double = corpusBytes + batchBytes.values.sum +
    (CorpusVectors + vectorBatches.size.toLong * IngestVectors) * VectorBytes
  def recall: Double = recalled
}
