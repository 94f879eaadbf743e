package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Similarity search over an embedding column (array<float>).
  *
  * Baseline: brute-force cosine top-k (exact). Scale path: LSH bucketing by
  * random-hyperplane sign bits — candidates come from one equi-join on the
  * bucket key instead of a cross join.
  *
  * All per-row vector math is native codegen'd expressions
  * ([[graft.functions.expressions.FloatVectorDot]] dot products,
  * [[graft.functions.expressions.LshSignBuckets]] bucket assignment) that
  * accumulate in double in element order — a deterministic sequential
  * fold, so scores and buckets are bit-reproducible on any cluster, any
  * partitioning (no shuffle-order dependence, no RNG state).
  */
object Similarity {

  /** Dot product in double, sequential fold over element index — a native
    * codegen'd expression ([[graft.functions.expressions.FloatVectorDot]]);
    * callers must have [[GraftFunctions.register]]ed the session.
    */
  def dot(a: Column, b: Column): Column = GraftFunctions.floatDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact brute-force top-k: for each query vector, the k nearest corpus
    * vectors by cosine (self excluded), deterministic tie-break on id.
    * Queries are broadcast; the corpus is scanned once — at 100 TB the
    * corpus never shuffles, and the bounded-heap tail ([[heapTopK]]) keeps
    * the rank shuffle at ≤ k·|queries| rows per partition.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    // Norms are computed once per row BEFORE the pair join — the per-pair
    // work is one codegen'd dot product and a divide.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    // Bounded-heap tail (not a window): the corpus×|queries| scored set
    // would otherwise shuffle into |queries| rank partitions; the heap
    // aggregate ships ≤ k rows per query per partition.
    heapTopK(scored, k)
  }

  /** Shared ranking tail for the approximate top-k forms: bounded-heap
    * top-k per query via [[graft.functions.TopKAgg]] instead of a
    * `row_number` window. The window form shuffles EVERY scored row to its
    * query's rank partition before the `rank <= k` filter; the heap
    * aggregate is partial-aggregable, so map-side combine ships at most k
    * rows per query per partition — the shuffle is ≤ k·|queries|·|parts|
    * rows no matter how large the scored set is. Same output contract
    * (ties by smaller id, NaN ranks first) — hash-identical to the window.
    * `scored` must carry (query_id, neighbor_id: long, cos: double).
    */
  private def heapTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = graft.functions.TopKAgg.topK(k)
    scored
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("cos")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col._2").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Explode a frame into one row per (LSH table, bucket) membership —
    * the shared candidate-generation front end of [[lshTopK]] and
    * [[cosineNearDupPairsBucketed]]. All `tables` buckets come from ONE
    * codegen'd expression evaluation per row (the bucketing pass rides the
    * scan), then posexplode fans them out.
    */
  private def lshBucketed(df: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, tables: Int, idOut: String, vecOut: String): DataFrame =
    df.select(
      col(idCol).as(idOut), col(vecCol).as(vecOut),
      posexplode(GraftFunctions.lshSignBuckets(col(vecCol), numPlanes, tables)))
      .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))

  /** Default numPlanes=4 is tuned for the adversarial near-random test
    * corpus (measured recall@5 = 0.78 vs 0.46 at 6 planes, sf0.01); a
    * production corpus with real cluster structure supports more planes
    * (smaller buckets) at the same recall — scale numPlanes with corpus
    * size and measure with [[Recall.topKRecall]].
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 4,
      tables: Int = 8): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    // Norms are STAGED before the bucket explode (one norm per input row,
    // not per table membership or per candidate occurrence); the staged
    // selects survive CollapseProject because substituting them would
    // duplicate a non-cheap expression.
    def side(df: DataFrame, idOut: String, vecOut: String, normOut: String) =
      df.select(col(idCol).as(idOut), col(vecCol).as(vecOut))
        .select(col(idOut), col(vecOut), norm(col(vecOut)).as(normOut))
        .select(col(idOut), col(vecOut), col(normOut),
          posexplode(GraftFunctions.lshSignBuckets(col(vecOut), numPlanes, tables)))
        .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))
    val c = side(corpus, "neighbor_id", "cv", "cn")
    val q = side(queries, "query_id", "qv", "qn")
    // Score BEFORE deduplicating: a pair surfacing from several tables gets
    // the identical cos each time, so the distinct dedupes on
    // (query_id, neighbor_id, cos) — ~24 bytes/row through the shuffle
    // instead of the two full vectors (~10x less shuffle bandwidth; the
    // per-occurrence cost is ONE codegen'd dot, norms precomputed above).
    // The distinct stays (a pair surfacing from several tables would occupy
    // several heap slots), but it partial-aggregates map-side; the heap tail
    // then ships ≤ k rows per query per partition instead of the full
    // candidate set through a window-rank shuffle.
    val cand = c.join(q, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
      .distinct()
    heapTopK(cand, k)
  }

  /** [[lshTopK]] with `numPlanes` AUTO-SCALED from one corpus-count probe
    * (the occupancy half of [[lshPlan]]): fixed planes mean bucket
    * occupancy — and per-query candidate work — grows linearly with the
    * corpus; occupancy-constant planes keep it flat. Top-k has no
    * threshold to solve tables from analytically, so `tables` stays the
    * recall knob and the floor at 4 planes preserves the measured recall
    * of the tuned default on small corpora (at sf0.01 this is EXACTLY the
    * default plan — SimilaritySpec pins the equivalence); measure recall
    * with [[Recall.topKRecall]] after any corpus jump, as the scaladoc of
    * the explicit form already demands.
    */
  def lshTopKAuto(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, targetOccupancy: Int = 32,
      tables: Int = 8): DataFrame = {
    // same occupancy rule as lshPlan, floored at the tuned 4-plane default
    val planes = occupancyPlanes(corpus.count(), targetOccupancy,
      minPlanes = 4, maxPlanes = 24)
    lshTopK(corpus, queries, idCol, vecCol, k, planes, tables)
  }

  /** The occupancy half of [[lshPlan]], shared with [[lshTopKAuto]]:
    * planes = ceil(log2(n / targetOccupancy)) keeps expected bucket size
    * constant as the corpus grows. ONE definition.
    */
  def occupancyPlanes(n: Long, targetOccupancy: Int, minPlanes: Int,
      maxPlanes: Int): Int =
    math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0))
      .toInt.max(minPlanes).min(maxPlanes)

  /** IVF (inverted-file) approximate top-k: a coarse quantizer of
    * `nlist` centroids partitions the corpus; each query probes only its
    * `nprobe` nearest centroid cells, then ranks exactly within them.
    *
    * Centroids are genuinely data-adaptive: spherical k-means (Lloyd)
    * fitted on a BOUNDED deterministic sample — the `fitSample` corpus
    * vectors with the smallest `xxhash64(id)` (hash-spread, uncorrelated
    * with id order), refined for `kmeansIters` iterations on the driver.
    * The sample is a model parameter like [[sq8Fit]]'s grid (≤ fitSample
    * rows collected once, regardless of corpus size), the fit is pure
    * sequential Scala — bit-reproducible on any cluster, no shuffle-order
    * float nondeterminism — and the per-row cost of the fit is off the
    * distributed plan entirely.
    * The corpus is assigned once (broadcast centroids, argmax dot),
    * queries fan out to nprobe cells, and ONE equi-join on cell id replaces
    * the cross join — the same shuffle shape as the LSH variant, but with
    * data-adaptive cells.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      fitSample: Int = 4096,
      kmeansIters: Int = 3): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    // nprobe cells are disjoint (nearestCellIds enumerates DISTINCT
    // centroids per query), so no dedup is needed before the bounded-heap
    // tail: map-side combine ships ≤ k candidates per query per partition.
    ivfTopKWithCentroids(corpus, queries, idCol, vecCol, k, nprobe,
      fitCellCentroids(corpus, idCol, vecCol, nlist, fitSample, kmeansIters))
  }

  /** Bounded deterministic centroid fit shared by [[ivfTopK]] and
    * [[semanticDedup]]: the `fitSample` corpus vectors with the smallest
    * `xxhash64(id)` (hash-spread, uncorrelated with id order), refined by
    * [[kmeansSpherical]]. A model-parameter collect: ≤ fitSample rows
    * regardless of corpus size.
    */
  private def fitCellCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, fitSample: Int, kmeansIters: Int): Array[Array[Float]] = {
    val sample = corpus
      .orderBy(xxhash64(col(idCol)).asc, col(idCol).asc)
      .limit(fitSample)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "fitCellCentroids: corpus has no vectors")
    kmeansSpherical(sample, nlist, kmeansIters)
  }

  /** `probe`-th nearest centroid id (0 = nearest) by argmax dot; ties break
    * on the smaller centroid id — deterministic on any cluster. One
    * codegen'd primitive loop per row
    * ([[graft.functions.expressions.NearestCellIds]]) — cell assignment
    * touches every corpus vector, so it must ride the scan, not churn
    * through per-row struct-array sorts.
    */
  private def cellOf(cents: Array[Array[Float]], vec: Column, probe: Int): Column =
    element_at(GraftFunctions.nearestCellIds(vec, cents, probe + 1), probe + 1)

  /** Spherical k-means (Lloyd) on the driver over the bounded fit sample:
    * inputs normalized to the unit sphere, argmax-dot assignment (== cosine
    * for unit vectors), mean-and-renormalize update; an empty cell keeps its
    * previous centroid. Seeds are the first `nlist` sample vectors — the
    * sample order is already hash-spread by the caller. Deterministic:
    * sequential double accumulation in sample order, no RNG.
    */
  private[graft] def kmeansSpherical(
      sample: Array[Array[Float]], nlist: Int, iters: Int): Array[Array[Float]] = {
    val dims = sample.head.length
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 0) v.map(_ / n) else v
    }
    val pts = sample.map(v => unit(v.map(_.toDouble)))
    val k = math.min(nlist, pts.length)
    var cents = pts.take(k)
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var d = 0.0
          var i = 0
          while (i < dims) { d += p(i) * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dims) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k)(c => if (counts(c) > 0) unit(sums(c)) else cents(c))
    }
    cents.map(_.map(_.toFloat))
  }

  /** Shared exact-verify tail of both near-dup pair forms: given a frame
    * carrying (id_a, va, na, id_b, vb, nb), compute exact cosine and filter
    * at the 6-dp-rounded threshold (the cross-engine comparability
    * contract — one place, so the exact and bucketed paths cannot diverge).
    */
  private def finishCosinePairs(joined: DataFrame, threshold: Double): DataFrame =
    joined
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(round(col("cos"), 6) >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))

  private def withNorms(df: DataFrame, idCol: String, vecCol: String,
      idOut: String, vecOut: String, normOut: String): DataFrame =
    df.select(col(idCol).as(idOut), col(vecCol).as(vecOut))
      .withColumn(normOut, norm(col(vecOut)))

  /** Embedding near-duplicate pairs: cosine >= threshold, id_a < id_b.
    * Exact all-pairs form — the EXACTNESS BASELINE; the LSH-bucketed
    * variant below is the scale path. `cos` is rounded to 6 dp for
    * cross-engine comparability.
    *
    * Even the baseline is budget-governed (every catalog pair generator
    * runs the same pre-flight discipline, so no entry can reproduce the
    * ungoverned disk-fill): the all-pairs candidate volume is EXACTLY
    * n·(n−1)/2 from one count probe, and the operator refuses with
    * [[PairBudgetExceededException]] above `budgetPairs` before the theta
    * join is even planned. Under budget, the plan and output are byte-
    * identical to the ungoverned form (the pre-flight is a count, not a
    * plan change). Default keeps library callers ungated.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, budgetPairs: Long = Long.MaxValue): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    if (budgetPairs < Long.MaxValue) {
      val n = BigInt(df.count())
      val est = n * (n - 1) / 2
      if (est > BigInt(budgetPairs))
        throw new PairBudgetExceededException(
          est.min(BigInt(Long.MaxValue)).toLong, budgetPairs, 0, 0)
    }
    // the vector-carrying rows join DIRECTLY (id_a < id_b): row-level
    // semantics are preserved even when ids are not unique.
    // fanOut on the STREAM side: the broadcast nested-loop join inherits
    // the probe side's partitioning, so a one-row-group scan serializes
    // the O(n²/2) cosine kernel on a single task (editDistancePairs'
    // failure mode in the embedding costume). No-op at real scan widths.
    val a = Multimodal.fanOut(withNorms(df, idCol, vecCol, "id_a", "va", "na"))
    val b = withNorms(df, idCol, vecCol, "id_b", "vb", "nb")
    finishCosinePairs(a.join(b, col("id_a") < col("id_b")), threshold)
  }

  /** Near-dup pairs, BUCKETED: the same output contract as
    * [[cosineNearDupPairs]] (exact cosine, id_a < id_b, 6-dp rounding) but
    * candidates come from multi-table sign-bit LSH buckets — one equi-join
    * on (table, bucket) instead of the all-pairs theta join. This is the
    * default/scale path for embedding pair discovery; the all-pairs form is
    * the exactness baseline the oracle checks. Recall < 1 by construction
    * (a pair must share at least one bucket): measure it with
    * [[Recall.pairRecall]] and tune `numPlanes` (bucket selectivity) /
    * `tables` (recall) against that number.
    */
  def cosineNearDupPairsBucketed(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 4, tables: Int = 8): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val bucketed = lshBucketed(df, idCol, vecCol, numPlanes, tables, "id", "v")
    val cand = bucketed.select(col("tbl"), col("bucket"), col("id").as("id_a"))
      .join(bucketed.select(col("tbl"), col("bucket"), col("id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val va = withNorms(df, idCol, vecCol, "id_a", "va", "na")
    val vb = withNorms(df, idCol, vecCol, "id_b", "vb", "nb")
    finishCosinePairs(cand.join(va, Seq("id_a")).join(vb, Seq("id_b")), threshold)
  }

  /** Sign-LSH parameter plan from corpus size and target recall — the
    * standard banding analysis (per-table survival of a pair at cosine
    * `threshold` is `(1 − θ/π)^planes` with `θ = acos(threshold)`; `t`
    * OR-ed tables give recall `1 − (1 − s)^t`), solved under two caps:
    *
    *  1. occupancy: planes start at `ceil(log2(n / targetOccupancy))` so
    *     expected bucket size — and with it the QUADRATIC within-bucket
    *     candidate count — stays constant as the corpus grows (a fixed
    *     plane count grows candidates ~n²/2^p: measured 28× wall-time at
    *     10× rows on the sf1 replica);
    *  2. recall feasibility: planes back off (coarser buckets) until the
    *     table count needed for `recallTarget` fits `maxTables`. For low
    *     thresholds (θ large) the feasible region may still be brute-force
    *     shaped — that is LSH's inherent boundary, surfaced here as the
    *     returned plan rather than hidden.
    *
    * Pure arithmetic on one `count()` probe — same plan-choice pattern as
    * [[graft.ext.Dedup.editDistancePairsAuto]].
    */
  def lshPlan(n: Long, threshold: Double, targetOccupancy: Int = 32,
      recallTarget: Double = 0.9, minPlanes: Int = 2, maxPlanes: Int = 24,
      maxTables: Int = 32): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, "threshold in (0,1)")
    require(recallTarget > 0.0 && recallTarget < 1.0, "recallTarget in (0,1)")
    val perPlane = 1.0 - math.acos(threshold) / math.Pi
    def tablesFor(p: Int): Int = {
      val s = math.pow(perPlane, p)
      if (s >= 1.0) 1
      else math.ceil(math.log(1.0 - recallTarget) / math.log1p(-s)).toInt.max(1)
    }
    // back off planes until the recall target is feasible within maxTables
    val occPlanes = occupancyPlanes(n, targetOccupancy, minPlanes, maxPlanes)
    val planes = Iterator.iterate(occPlanes)(_ - 1)
      .dropWhile(p => p > minPlanes && tablesFor(p) > maxTables)
      .next()
    if (planes < occPlanes)
      // the documented infeasibility boundary, made LOUD: recall forced the
      // buckets coarser than the occupancy cap, so expected occupancy is
      // n/2^planes (grows with the corpus) and the within-bucket candidate
      // term is back to ~n²/2^planes — the plan is now super-linear no
      // matter how the caller tunes it (sign-LSH's theory floor for low
      // thresholds). Measured on the 10× replica at θ=0.4: ~41× wall per
      // decade. At these thresholds route pair discovery through cell
      // pruning (semanticDedupAuto) instead of banding.
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"lshPlan: recall target $recallTarget at threshold $threshold is " +
        s"infeasible within maxTables=$maxTables at occupancy planes " +
        s"$occPlanes; backed off to $planes planes (expected occupancy " +
        s"${n / (1L << planes)}) — candidate generation is super-linear in " +
        "the corpus here; prefer semanticDedupAuto cell pruning at low " +
        "thresholds")
    (planes, tablesFor(planes).min(maxTables))
  }

  /** [[cosineNearDupPairsBucketed]] with (planes, tables) AUTO-SELECTED by
    * [[lshPlan]] from one corpus-count probe: bucket occupancy stays
    * constant as the corpus grows (candidate generation scales ~linearly
    * instead of ~n²/2^p) and the table count is solved for the recall
    * target — the knob the fixed-parameter form leaves to the caller.
    */
  def cosineNearDupPairsAuto(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetOccupancy: Int = 32, recallTarget: Double = 0.9,
      maxTables: Int = 32): DataFrame = {
    val (planes, tables) = lshPlan(df.count(), threshold,
      targetOccupancy = targetOccupancy, recallTarget = recallTarget,
      maxTables = maxTables)
    cosineNearDupPairsBucketed(df, idCol, vecCol, threshold, planes, tables)
  }

  /** Refusal signal of the governed pair enumeration: carries the
    * pre-flight estimate so the caller (or the operator's log line) can
    * size a re-plan instead of discovering the volume at spill time.
    */
  final class PairBudgetExceededException(
      val estimatedCandidates: Long, val budgetPairs: Long,
      val planes: Int, val tables: Int, val note: String = "")
    extends IllegalStateException(
      s"pair enumeration refused: estimated $estimatedCandidates candidate " +
      s"pairs (planes=$planes, tables=$tables) exceed budgetPairs=" +
      s"$budgetPairs — raise the budget, raise the threshold, or route " +
      "through cell-pruned discovery (semanticDedupAuto) / top-k " +
      "(lshSq8TopK) instead of exhaustive pair materialization" +
      (if (note.isEmpty) "" else s". Note: $note"))

  /** EXACT candidate-pair volume of the bucketed generator at
    * `(numPlanes, tables)` — Σ over (table, bucket) of c·(c−1)/2, one
    * count-only aggregate over the bucket memberships (the factored-count
    * pattern of [[Dedup.minhashSourceOverlap]]: the number the join WOULD
    * produce, computed without materializing a single pair). This is the
    * pre-distinct candidate row count — the quantity that actually hits
    * the shuffle/spill — so it upper-bounds every downstream stage.
    */
  def estimateBucketedCandidates(df: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, tables: Int): Long = {
    GraftFunctions.register(df.sparkSession)
    val r = lshBucketed(df, idCol, vecCol, numPlanes, tables, "id", "v")
      .groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * (col("c") - 1) / 2).cast("long").as("est"))
      .collect()
    if (r.isEmpty || r.head.isNullAt(0)) 0L else r.head.getLong(0)
  }

  /** The [[cosineNearDupPairsAuto]] plan WITH an output-budget pre-flight:
    * before any pair materializes, the candidate volume at the chosen
    * (planes, tables) is counted exactly from per-bucket occupancies (one
    * cheap agg — see [[estimateBucketedCandidates]]) and the operator
    * REFUSES with the estimate ([[PairBudgetExceededException]]) when it
    * exceeds `budgetPairs`. A 100-TB pair job must be told its output
    * volume up front, not discover it at spill time: the ungoverned form
    * at θ=0.4 on the 100× replica produced an estimated ~10¹⁰ candidate
    * rows and filled the sandbox disk before being stopped — under the
    * guard the same call returns this exception, estimate attached, in
    * seconds. Under budget, the output is IDENTICAL to
    * [[cosineNearDupPairsAuto]] (same plan, same pairs — q73 pins it).
    */
  def cosineNearDupPairsGoverned(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, budgetPairs: Long, targetOccupancy: Int = 32,
      recallTarget: Double = 0.9, maxTables: Int = 32): DataFrame = {
    require(budgetPairs > 0, "budgetPairs must be positive")
    val (planes, tables) = lshPlan(df.count(), threshold,
      targetOccupancy = targetOccupancy, recallTarget = recallTarget,
      maxTables = maxTables)
    val est = estimateBucketedCandidates(df, idCol, vecCol, planes, tables)
    if (est > budgetPairs)
      throw new PairBudgetExceededException(est, budgetPairs, planes, tables)
    cosineNearDupPairsBucketed(df, idCol, vecCol, threshold, planes, tables)
  }

  /** Non-throwing surface of the budget guard — the planning artifact an
    * orchestrator inspects before launching the pair job: one row of
    * `(n_vectors, planes, tables, est_candidates, budget_pairs,
    * within_budget)`. Same arithmetic as [[cosineNearDupPairsGoverned]]'s
    * pre-flight; the whole report costs one count probe plus one
    * count-only bucket aggregate, at ANY corpus size.
    */
  def pairBudgetReport(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, budgetPairs: Long, targetOccupancy: Int = 32,
      recallTarget: Double = 0.9, maxTables: Int = 32): DataFrame = {
    val n = df.count()
    val (planes, tables) = lshPlan(n, threshold,
      targetOccupancy = targetOccupancy, recallTarget = recallTarget,
      maxTables = maxTables)
    val est = estimateBucketedCandidates(df, idCol, vecCol, planes, tables)
    val s = df.sparkSession
    import s.implicits._
    Seq((n, planes, tables, est, budgetPairs, est <= budgetPairs))
      .toDF("n_vectors", "planes", "tables", "est_candidates", "budget_pairs",
        "within_budget")
  }

  /** Witness substrate for [[estimateBucketedCandidates]]: the ACTUAL
    * candidate row count, materialized through the same join the pair
    * generator runs (pre-distinct, id_a < id_b). Quadratic — for the
    * witness query at oracle scale only, never the planning path.
    */
  private[graft] def actualBucketedCandidates(df: DataFrame, idCol: String,
      vecCol: String, numPlanes: Int, tables: Int): Long = {
    GraftFunctions.register(df.sparkSession)
    val b = lshBucketed(df, idCol, vecCol, numPlanes, tables, "id", "v")
      .select(col("tbl"), col("bucket"), col("id"))
    b.select(col("tbl"), col("bucket"), col("id").as("id_a"))
      .join(b.select(col("tbl"), col("bucket"), col("id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .count()
  }

  /** Per-dimension SQ8 grid (mins, scales) fitted on the corpus: one
    * posexplode + groupBy(dim) min/max pass, then a `dims`-row collect —
    * like IVF centroids, a model parameter, not a data collect (64 rows for
    * a 64-dim space regardless of corpus size).
    */
  def sq8Fit(corpus: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val stats = corpus
      .select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect()
    require(stats.nonEmpty, "sq8Fit: corpus has no vectors")
    val dims = stats.map(_.getInt(0)).max + 1
    val mins = new Array[Double](dims)
    val scales = Array.fill(dims)(1.0)
    stats.foreach { r =>
      val d = r.getInt(0)
      val lo = r.getFloat(1).toDouble
      val hi = r.getFloat(2).toDouble
      mins(d) = lo
      // a constant dimension quantizes to code 0 and decodes exactly to lo
      if (hi > lo) scales(d) = (hi - lo) / 255.0
    }
    (mins, scales)
  }

  /** SQ8-compressed approximate top-k: vectors are quantized to 1 byte per
    * dimension (4× less data than float32) and ranked by the dot product of
    * the DECODED values — the whole scan/rank stage reads a quarter of the
    * bytes, which at 100 TB of embeddings is the actual bottleneck. Same
    * output contract as [[bruteForceTopK]]; approximation error is only the
    * per-dimension quantization step, so measured recall@k is high
    * (assert it with [[Recall.topKRecall]] against the exact form).
    *
    * At scale the encoded corpus would be written once (`sq8_encode` at
    * ingest) and re-used by every query batch; here the encode rides the
    * scan to keep the operator self-contained.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val (mins, scales) = sq8Fit(corpus, vecCol)
    def enc(c: Column) = GraftFunctions.sq8Encode(c, mins, scales)
    def sqdot(a: Column, b: Column) = GraftFunctions.sq8Dot(a, b, mins, scales)
    val q = queries.select(col(idCol).as("query_id"), enc(col(vecCol)).as("qc"))
      .withColumn("qn", sqrt(sqdot(col("qc"), col("qc"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), enc(col(vecCol)).as("cc"))
      .withColumn("cn", sqrt(sqdot(col("cc"), col("cc"))))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", sqdot(col("qc"), col("cc")) / (col("qn") * col("cn")))
    heapTopK(scored, k)
  }

  /** The composed 100-TB ANN plan: LSH buckets PRUNE (candidates come from
    * an equi-join on (table, bucket) — no cross join), SQ8 codes RANK (the
    * candidate scoring reads 1-byte codes, 4× less bandwidth than float32),
    * and a bounded-heap aggregate takes top-k (≤ k rows per query per
    * partition shuffle — no full-candidate-set window sort). Each stage is
    * individually measured (q70 LSH recall, q88 SQ8 recall); this is their
    * composition, recall ≈ product of the two — assert it with
    * [[Recall.topKRecall]] against [[bruteForceTopK]].
    */
  def lshSq8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numPlanes: Int = 6,
      tables: Int = 8): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val (mins, scales) = sq8Fit(corpus, vecCol)
    def enc(c: Column) = GraftFunctions.sq8Encode(c, mins, scales)
    def sqdot(a: Column, b: Column) = GraftFunctions.sq8Dot(a, b, mins, scales)
    // Candidate generation: same multi-table sign-bit buckets as lshTopK,
    // but carrying the SQ8 code instead of the float vector. Encode and
    // norm are STAGED before the explode — one encode + one norm per input
    // row, never per table membership (the staged selects survive
    // CollapseProject because substitution would duplicate the non-cheap
    // encode); the float vector is dropped before the join.
    def side(df: DataFrame, idOut: String, codeOut: String, normOut: String) =
      df.select(col(idCol).as(idOut), col(vecCol).as("__v"))
        .select(col(idOut), col("__v"), enc(col("__v")).as(codeOut))
        .select(col(idOut), col("__v"), col(codeOut),
          sqrt(sqdot(col(codeOut), col(codeOut))).as(normOut))
        .select(col(idOut), col(codeOut), col(normOut),
          posexplode(GraftFunctions.lshSignBuckets(col("__v"), numPlanes, tables)))
        .withColumnsRenamed(Map("pos" -> "tbl", "col" -> "bucket"))
    val c = side(corpus, "neighbor_id", "cc", "cn")
    val q = side(queries, "query_id", "qc", "qn")
    // score-then-distinct (see lshTopK): dedupe ships (ids, cos), never the
    // codes — the candidate shuffle is ~24 bytes/row at any dimensionality,
    // and each occurrence pays exactly ONE decoded dot
    val scored = c.join(q, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (sqdot(col("qc"), col("cc")) / (col("qn") * col("cn"))).as("cos"))
      .distinct()
    heapTopK(scored, k)
  }

  /** Driver-side product-quantization codebook fit: split the `fitSample`
    * hash-spread sample vectors (same bounded-sample contract as
    * [[fitCellCentroids]]) into `m` equal subspaces and run Euclidean
    * Lloyd independently per subspace — standard PQ trains on raw
    * subvector L2, not the spherical rule of the IVF coarse quantizer,
    * because subvector norms carry signal the code must preserve. Seeds
    * are the first `ksub` sample subvectors (sample order is already
    * hash-spread); an empty cell keeps its previous centroid; sequential
    * double accumulation in sample order — deterministic, no RNG. Returns
    * m × ksub' × (d/m) with ksub' = min(ksub, sample size).
    */
  def pqFit(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
      ksub: Int, fitSample: Int = 4096, iters: Int = 10): Array[Array[Array[Float]]] = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(ksub >= 1 && ksub <= 256, s"need 1 <= ksub <= 256, got $ksub")
    val sample = corpus
      .orderBy(xxhash64(col(idCol)).asc, col(idCol).asc)
      .limit(fitSample)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pqFit: corpus has no vectors")
    val dims = sample.head.length
    require(dims % m == 0, s"pqFit: dims=$dims not divisible by m=$m")
    val dsub = dims / m
    val k = math.min(ksub, sample.length)
    Array.tabulate(m) { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)
        .map(_.toDouble))
      var cents = pts.take(k).map(_.clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Int](k)
        pts.foreach { p =>
          var best = 0
          var bestDist = Double.PositiveInfinity
          var c = 0
          while (c < k) {
            var dist = 0.0
            var i = 0
            while (i < dsub) { val df = p(i) - cents(c)(i); dist += df * df; i += 1 }
            if (dist < bestDist) { bestDist = dist; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += p(i); i += 1 }
          counts(best) += 1
        }
        cents = Array.tabulate(k)(c =>
          if (counts(c) > 0) sums(c).map(_ / counts(c)) else cents(c))
      }
      cents.map(_.map(_.toFloat))
    }
  }

  /** Flattened per-code squared-norm table: entry `j * ksub + c` is
    * ||codebook[j][c]||² — a STATIC model-derived literal (identical for
    * every query), so the reconstructed-norm estimate of a corpus row is
    * one more ADC pass over the same m codes.
    */
  private def pqNormLut(books: Array[Array[Array[Float]]]): Array[Double] =
    books.flatMap(_.map(_.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)))

  /** PQ-compressed approximate top-k (ADC): the corpus is encoded to
    * `m` one-byte codes per vector — at m=8 on 64-dim float32 that is a
    * 32× smaller scan than the exact form and 4× smaller than SQ8 — and
    * ranked by approximate cosine
    * `adc_ip / (||q|| · sqrt(adc_norm²))`, where both ADC terms are m
    * table lookups per candidate against per-query (inner-product) and
    * static (squared-norm) lookup tables. Encode and the corpus-norm ADC
    * ride the scan; queries broadcast with their LUT computed once per
    * query row; the bounded-heap tail ships ≤ k rows per query per
    * partition. Same output contract as [[bruteForceTopK]]; recall is the
    * operator's measured contract (q230), as with every approximate
    * family. At production scale the codes would be written once at
    * ingest and re-used by every query batch; here the encode rides the
    * scan to keep the operator self-contained.
    *
    * Default model (m=8, ksub=16) is the cheapest catalog configuration —
    * deliberately SMALLER than [[pqTopKAuto]]'s (m=16, ksub=64): the auto
    * form pins the exact configuration the √n rerank rule was measured
    * with (BASELINE round-12 addendum), so switching pqTopK ↔ pqTopKAuto
    * changes the compression model as well as the rerank depth. Pass
    * m/ksub explicitly when comparing the two forms.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, ksub: Int = 16,
      fitSample: Int = 4096, iters: Int = 10, rerank: Int = 0): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    pqTopKWithBooks(corpus, queries, idCol, vecCol, k,
      pqFit(corpus, idCol, vecCol, m, ksub, fitSample, iters), rerank)
  }

  /** The refine stage of the PQ plans (FAISS's IndexRefineFlat): take the
    * ADC shortlist of `rerank` candidates per query and re-score just
    * those with EXACT float cosine, then cut to top-k. The scan stays
    * compressed — only `rerank × |queries|` float vectors are ever
    * touched, fetched by an equi-join on the id (at production scale, a
    * point-lookup join against the vector store; the broadcast side is
    * the shortlist, never the corpus). `rerank <= k` returns the ADC
    * ranking unchanged.
    */
  private def rerankExact(shortlist: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      rerank: Int): DataFrame = {
    if (rerank <= k) return shortlist.filter(col("rank") <= k)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = broadcast(shortlist.select("query_id", "neighbor_id"))
      .join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    heapTopK(scored, k)
  }

  /** Refine depth that holds PQ+refine macro recall@5 ≥ 0.96 across the
    * three measured decades (BASELINE round-12 addendum): the ADC
    * shortlist must out-grow the near-tie band at the k-boundary, which
    * widens as the corpus grows — a FIXED rerank decays (rr=50: 0.98 at
    * 5 k, 0.74 at 50 k, 0.82 at 500 k vectors) while ~0.9·√n restores it
    * (rr=200 at 50 k → 0.98; rr=500 at 500 k → 0.96). Cost stays
    * sub-linear: the refine touches rerank × |queries| float vectors.
    */
  def autoRerank(n: Long, k: Int): Int =
    math.max(4 * k, math.ceil(0.9 * math.sqrt(math.max(n, 0L).toDouble)).toInt)

  /** [[pqTopK]] with the refine depth sized by [[autoRerank]] from a
    * one-row count probe — the form a corpus-scale caller should use
    * (the [[buildIvfIndexAuto]] auto-knob pattern).
    *
    * Default model (m=16, ksub=64) INTENTIONALLY diverges from
    * [[pqTopK]]'s (m=8, ksub=16): it is the configuration the √n rule in
    * [[autoRerank]] was measured against (BASELINE round-12 addendum —
    * recall 0.96-1.00 across the three decades holds for THIS model).
    * Pass m/ksub explicitly if you need the manual form's cheaper model.
    */
  def pqTopKAuto(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 16, ksub: Int = 64,
      fitSample: Int = 4096, iters: Int = 10): DataFrame =
    pqTopK(corpus, queries, idCol, vecCol, k, m, ksub, fitSample, iters,
      rerank = autoRerank(corpus.count(), k))

  /** The composed billion-scale ANN plan (FAISS's IVF-PQ architecture,
    * re-expressed as a Spark join): IVF cells PRUNE — candidates come
    * from an equi-join on the coarse cell id, touching nprobe/nlist of
    * the corpus per query — and PQ codes RANK at m bytes + m adds per
    * candidate. Codes quantize RAW vectors against a corpus-wide codebook
    * (not per-cell residuals — one codebook literal instead of nlist of
    * them; the recall cost of skipping residuals is measured and gated by
    * q232's floor). nprobe cells are disjoint per query
    * ([[graft.functions.expressions.NearestCellIds]] enumerates DISTINCT
    * centroids), so no candidate dedup is needed before the bounded-heap
    * tail. Both models are driver-fit on bounded samples.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ksub: Int = 16, fitSample: Int = 4096,
      kmeansIters: Int = 3, pqIters: Int = 10, rerank: Int = 0): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val cents = fitCellCentroids(corpus, idCol, vecCol, nlist, fitSample, kmeansIters)
    val books = pqFit(corpus, idCol, vecCol, m, ksub, fitSample, pqIters)
    ivfPqTopKWithModels(corpus, queries, idCol, vecCol, k, nprobe, cents,
      books, rerank)
  }

  /** [[ivfPqTopK]] with caller-supplied coarse centroids AND codebooks —
    * the comparator the persisted composed index's lifecycle witness
    * needs (same models in, row-identical results out: cell assignment
    * and ADC are both deterministic functions of the models).
    */
  def ivfPqTopKWithModels(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      cents: Array[Array[Float]], books: Array[Array[Array[Float]]],
      rerank: Int = 0): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val kEff = books.head.length
    val nl = typedLit(pqNormLut(books))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        explode(GraftFunctions.nearestCellIds(col(vecCol), cents,
          math.min(nprobe, cents.length))).as("cell"))
      .select(col("query_id"), col("cell"),
        GraftFunctions.pqLut(col("__qv"), books).as("lut"),
        norm(col("__qv")).as("qn"))
    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        cellOf(cents, col(vecCol), 0).as("cell"))
      .select(col("neighbor_id"), col("cell"),
        GraftFunctions.pqEncode(col("__cv"), books).as("codes"))
      .withColumn("cn", sqrt(GraftFunctions.pqAdcDot(col("codes"), nl, kEff)))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (GraftFunctions.pqAdcDot(col("codes"), col("lut"), kEff) /
          (col("qn") * col("cn"))).as("cos"))
    rerankExact(heapTopK(scored, math.max(k, rerank)), corpus, queries,
      idCol, vecCol, k, rerank)
  }

  /** Probe depth that holds IVF-PQ macro recall@5 ≥ 0.9 across the three
    * measured decades (round-13 grid, `tools/IvfPqAutoProbe`, 2 k / 20 k /
    * 200 k vectors): on this corpus family recall tracks the PROBE
    * FRACTION nearly independently of nlist (16→128) and n — avg ≈
    * 0.48-0.82 at frac 0.25, 0.74-0.92 at 0.5, 0.88-0.96 at 0.75 — the
    * near-tie structure of the synthetic embedding space gives the
    * coarse quantizer weak locality to exploit, so a FIXED nprobe (the
    * q231/q232 pinned 8-of-16) decays as nlist grows with the corpus,
    * while a fixed fraction does not. 3/4 of the cells held ≥ 0.90 at
    * every measured (nlist, n); clustered production embeddings would
    * support a lower fraction, which is one knob, measured the same way.
    */
  def autoNprobe(nlist: Int): Int =
    math.max(1, math.ceil(0.75 * nlist).toInt)

  /** [[ivfPqTopK]] with every scale knob derived from a one-row count
    * probe — nlist from the shared [[autoNlist]] cell-size rule, nprobe
    * from the measured [[autoNprobe]] fraction, refine depth from
    * [[autoRerank]]'s √n rule — the corpus-scale entry point (the
    * [[pqTopKAuto]] pattern applied to the prune side; closes the q232
    * recall ceiling, which was a fixed 8-of-16 nprobe, not a PQ limit).
    */
  def ivfPqTopKAuto(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, targetCellSize: Int = 256,
      m: Int = 16, ksub: Int = 64, fitSample: Int = 4096,
      kmeansIters: Int = 3, pqIters: Int = 10): DataFrame = {
    val n = corpus.count()
    val nlist = autoNlist(n, targetCellSize, fitSample)
    ivfPqTopK(corpus, queries, idCol, vecCol, k, nlist, autoNprobe(nlist),
      m, ksub, fitSample, kmeansIters, pqIters, rerank = autoRerank(n, k))
  }

  /** Hard-negative mining for contrastive training data: for each query,
    * the k most similar corpus vectors with a DIFFERENT label — the
    * near-misses that make the strongest negatives (the positives are the
    * same-label neighbors). Exact scoring (one broadcast of the query
    * batch, corpus scanned once, never shuffled) with the bounded-heap
    * top-k tail — ≤ k rows per query per partition reach the shuffle. For
    * corpora where even one scan per query batch is too much, swap the
    * candidate front end for [[lshSq8TopK]]'s buckets; the label filter
    * composes unchanged.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        col(labelCol).as("ql"))
      .withColumn("qn", norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        col(labelCol).as("cl"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") && col("ql") =!= col("cl"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    heapTopK(scored, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    * 2303.09540): cluster the embedding space coarsely, find near-duplicate
    * pairs ONLY within each cluster (exact cosine ≥ threshold), connect
    * them into duplicate groups, and keep one representative (the smallest
    * id) per group. Output: one row per input id —
    * (idCol, cluster_rep, keep) — the keep-list a curation run applies.
    *
    * Scale shape: the pairwise stage is quadratic only WITHIN a cell, so
    * `nlist` is the cost knob — size it so the largest cell's pair count is
    * tractable (SemDeDup's own regime: tens of thousands of clusters over
    * billions of embeddings; the default 16 matches the sf test corpus).
    * Cells come from the same bounded deterministic k-means fit as
    * [[ivfTopK]] (model-parameter collect, argmax-dot assignment riding the
    * scan); duplicate groups from
    * [[Dedup.connectedComponents]] (lineage-truncated iterative min-label).
    * Like all cluster-pruned dedup, recall < 1 by construction (a pair
    * straddling two cells is invisible) — every emitted pair is exact, so
    * precision is 1 (q112 checks the witness property driver-side).
    */
  /** [[semanticDedup]] with `nlist` AUTO-SCALED from one corpus-count
    * probe: cells sized to `targetCellSize` keep the within-cell exact
    * pair job (quadratic per cell) linear in the corpus instead of
    * quadratic at fixed nlist (the sf1 replica measured the fixed-16-cell
    * form at 4× wall-time for 10× rows, curving toward n²). nlist is
    * capped at fitSample/4 so the driver k-means keeps ≥4 sample points
    * per centroid; recall semantics are unchanged (a pair straddling two
    * cells is invisible — more cells trade recall for cost, the documented
    * contract).
    */
  /** Shared auto-nlist rule for the cell-pruned operators: constant cell
    * size, floored at 16, capped so the driver k-means keeps ≥4 sample
    * points per centroid. ONE definition — semanticDedupAuto and
    * semanticIngest must never desynchronize.
    */
  def autoNlist(n: Long, targetCellSize: Int, fitSample: Int): Int =
    math.ceil(n.toDouble / targetCellSize).toInt.max(16).min(fitSample / 4)

  def semanticDedupAuto(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetCellSize: Int = 256, fitSample: Int = 4096,
      kmeansIters: Int = 3): DataFrame = {
    val nlist = autoNlist(df.count(), targetCellSize, fitSample)
    semanticDedup(df, idCol, vecCol, threshold, nlist, fitSample, kmeansIters)
  }

  /** Deterministic cell assignment under the auto-sized, corpus-fit
    * quantizer: (id, cell) for every vector — the shared substrate of
    * [[clusterSample]] and its witness (both recompute the SAME
    * centroids: the fit sample is hash-spread and ordered, k-means runs
    * fixed iterations, so the quantizer is a pure function of the
    * corpus). One codegen'd argmax per row riding the scan.
    */
  def clusterAssign(df: DataFrame, idCol: String, vecCol: String,
      targetCellSize: Int = 256, fitSample: Int = 4096,
      kmeansIters: Int = 3): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val nlist = autoNlist(df.count(), targetCellSize, fitSample)
    val cents = fitCellCentroids(df, idCol, vecCol, nlist, fitSample, kmeansIters)
    df.select(col(idCol), col(vecCol))
      .withColumn("cell", cellOf(cents, col(vecCol), 0))
      .select(col(idCol), col("cell"))
  }

  /** Cluster-balanced diversity sampling — the subset-selection policy a
    * training-data pipeline uses when a uniform subsample would wash out
    * rare modes: EQUAL per-cell budgets over the quantizer cells
    * (budget = ⌈frac·n / nlist⌉ rows from every cell, small cells kept
    * whole), so a cluster's survival does not depend on its popularity.
    * Selection within a cell is keep-smallest by (md5(id), id) — the
    * engine's standard deterministic sampling order (q77/q84), stable
    * across runs, partitionings, and engines.
    *
    * Scale shape: assignment is the codegen argmax over the scan;
    * the per-cell rank is a window whose partitions the auto-nlist rule
    * keeps at ~targetCellSize rows regardless of corpus size — bounded
    * memory per partition, no global sort, no driver data path beyond
    * the model-parameter centroid fit.
    */
  def clusterSample(df: DataFrame, idCol: String, vecCol: String,
      frac: Double, targetCellSize: Int = 256, fitSample: Int = 4096,
      kmeansIters: Int = 3): DataFrame = {
    require(frac > 0 && frac <= 1, "frac in (0,1]")
    val n = df.count()
    val nlist = autoNlist(n, targetCellSize, fitSample)
    val budget = math.max(1L, math.ceil(frac * n / nlist).toLong)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cell")
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    clusterAssign(df, idCol, vecCol, targetCellSize, fitSample, kmeansIters)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= budget)
      .select(col(idCol), col("cell"))
  }

  /** Semantic-dedup INGEST: the accept-list for appending a new vector
    * batch to a semantically-deduplicated store — the embedding-side
    * analog of the MinHash incremental dedup (q118) and the content-hash
    * ingest. The STORE owns the quantizer (centroids fit on `existing`
    * with the [[semanticDedupAuto]] auto-nlist rule); both sides assign to
    * cells, and an incoming vector is rejected iff a stored vector in its
    * cell reaches `threshold` exact cosine. Emits every incoming row:
    * `(id, accept, blocked_by)` with the highest-cosine stored partner
    * (ties → smaller id) as the audit trail. Cross pairs only — the store
    * is never re-paired against itself; cell pruning means recall < 1 (a
    * straddling pair is invisible — q132 witnesses the rejection side
    * exactly like q112).
    */
  def semanticIngest(existing: DataFrame, incoming: DataFrame, idCol: String,
      vecCol: String, threshold: Double, targetCellSize: Int = 256,
      fitSample: Int = 4096, kmeansIters: Int = 3): DataFrame = {
    GraftFunctions.register(existing.sparkSession)
    val n = existing.count()
    // bootstrap: an empty store blocks nothing — every incoming vector is
    // accepted (the content-hash ingest supports the same first-ever case).
    // blocked_by's type is the STORE's id type (it holds ex_id values), so
    // both branches return one schema for any id type, not just long.
    if (n == 0)
      return incoming.select(col(idCol), lit(true).as("accept"),
        lit(null).cast(existing.schema(idCol).dataType).as("blocked_by"))
    val nlist = autoNlist(n, targetCellSize, fitSample)
    val cents = fitCellCentroids(existing, idCol, vecCol, nlist, fitSample, kmeansIters)
    val ex = existing.select(col(idCol).as("ex_id"), col(vecCol).as("ev"))
      .withColumn("cell", cellOf(cents, col("ev"), 0))
    semanticIngestCore(ex, incoming, idCol, vecCol, threshold, cents)
  }

  /** The cell-join + verify + accept-flag tail shared by [[semanticIngest]]
    * and [[semanticIngestAgainstIndex]]: `ex` is the stored side already
    * shaped as (ex_id, ev, cell) under the SAME `cents` the incoming side
    * is assigned with — one quantizer definition, so the persisted-index
    * path and a recompute under read-back centroids cannot disagree.
    */
  private def semanticIngestCore(ex: DataFrame, incoming: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      cents: Array[Array[Float]]): DataFrame = {
    val exN = ex.withColumn("en", norm(col("ev")))
    val inc = incoming.select(col(idCol).as("id"), col(vecCol).as("iv"))
      .withColumn("cell", cellOf(cents, col("iv"), 0))
      .withColumn("inorm", norm(col("iv")))
    val hits = inc.join(exN, Seq("cell"))
      .withColumn("cos", round(dot(col("iv"), col("ev")) / (col("inorm") * col("en")), 6))
      .filter(col("cos") >= threshold)
      .groupBy(col("id"))
      // highest cosine, ties → smaller ex_id: min over (1−cos, ex_id).
      // 1−cos is strictly decreasing and injective on 6-dp-rounded cosines
      // (spacing 1e-6 ≫ ulp(1)), and unlike numeric negation it never
      // casts the id — any ordered id type (long, string, …) works.
      .agg(min_by(col("ex_id"), struct((lit(1.0) - col("cos")).as("d"), col("ex_id")))
        .as("blocked_by"))
    inc.select(col("id")).join(hits, Seq("id"), "left")
      .select(col("id").as(idCol), col("blocked_by").isNull.as("accept"),
        col("blocked_by"))
  }

  /** [[semanticIngest]] against a persisted [[buildIvfIndex]] index: the
    * quantizer is the INDEX's own centroids (read back as model
    * parameters, never refit) and the stored side is the hive-cell
    * vectors table, so the probe touches only the batch's cells and
    * per-batch cost is O(|batch| + matched cells) — independent of store
    * size. Same contract as [[semanticIngest]]: (id, accept, blocked_by)
    * with accept = no indexed vector in the incoming vector's cell at
    * `threshold` 6-dp cosine, blocked_by = highest-cosine blocker with
    * the min-id tie-break.
    */
  def semanticIngestAgainstIndex(spark: SparkSession, indexDir: String,
      incoming: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    GraftFunctions.register(spark)
    val cents = readIvfCentroids(spark, indexDir)
    val ex = spark.read.parquet(s"$indexDir/vectors")
      .select(col("neighbor_id").as("ex_id"), col("cv").as("ev"), col("cell"))
    semanticIngestCore(ex, incoming, idCol, vecCol, threshold, cents)
  }

  /** [[semanticIngest]] with the quantizer supplied by the caller — the
    * reference form the persisted-index witness compares against (same
    * centroids in, row-identical accept/blocked_by out; q209 drives it).
    */
  def semanticIngestWithCentroids(existing: DataFrame, incoming: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      cents: Array[Array[Float]]): DataFrame = {
    GraftFunctions.register(existing.sparkSession)
    val ex = existing.select(col(idCol).as("ex_id"), col(vecCol).as("ev"))
      .withColumn("cell", cellOf(cents, col("ev"), 0))
    semanticIngestCore(ex, incoming, idCol, vecCol, threshold, cents)
  }

  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, fitSample: Int = 4096,
      kmeansIters: Int = 3): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val cents = fitCellCentroids(df, idCol, vecCol, nlist, fitSample, kmeansIters)
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell", cellOf(cents, col("v"), 0))
      .withColumn("n", norm(col("v")))
    val a = assigned.select(col("cell"), col("id").as("id_a"),
      col("v").as("va"), col("n").as("na"))
    val b = assigned.select(col("cell"), col("id").as("id_b"),
      col("v").as("vb"), col("n").as("nb"))
    val pairs = finishCosinePairs(
      a.join(b, Seq("cell")).filter(col("id_a") < col("id_b")), threshold)
    Dedup.connectedComponents(df.select(col(idCol)), idCol, pairs)
      .select(col(idCol), col("rep").as("cluster_rep"),
        (col(idCol) === col("rep")).as("keep"))
  }

  // --------------------------------------------------------------------------
  // Persisted IVF index: build once, query forever. The production shape of
  // [[ivfTopK]] — the fit + corpus assignment (the expensive, corpus-sized
  // half) runs ONCE and lands on disk; every later query batch pays only a
  // partition-pruned read of its nprobe cells plus the bounded-heap tail.
  // --------------------------------------------------------------------------

  /** Build the index under `indexDir`: `centroids/` — the ≤ nlist model
    * rows (cell, centroid) — and `vectors/` — the corpus with its cell
    * assignment, written HIVE-PARTITIONED BY CELL so the storage layout IS
    * the inverted file: a query that probes `nprobe` of `nlist` cells
    * reads `nprobe/nlist` of the bytes via partition pruning, with no
    * index-side filtering code at all. Same deterministic bounded-sample
    * spherical k-means as [[ivfTopK]] (model-parameter collect, ≤
    * fitSample rows at any corpus size), same codegen'd assignment pass;
    * the only new cost is the one-time shuffle into the cell layout —
    * nlist output partitions, each a contiguous cell file set.
    */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      indexDir: String, nlist: Int = 16, fitSample: Int = 4096,
      kmeansIters: Int = 3): Unit = {
    GraftFunctions.register(corpus.sparkSession)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = fitCellCentroids(corpus, idCol, vecCol, nlist, fitSample, kmeansIters)
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cell", cellOf(cents, col("cv"), 0))
      // one file set per cell: repartition by the partition column so a
      // cell's rows are contiguous, then hive-partition the layout
      .repartition(Dedup.indexWritePartitions(spark), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/vectors")
  }

  /** [[buildIvfIndex]] with `nlist` sized by the shared [[autoNlist]]
    * rule (constant `targetCellSize` cells): the form any WHOLE-CORPUS
    * consumer must use. Fixed nlist is fine for bounded top-k probes
    * (nprobe cells per query, 50 queries), but an operator that probes
    * EVERY corpus row against its cell — [[semanticIngestAgainstIndex]]
    * over a corpus-sized batch — pays |batch|·cellSize cosine pairs, and
    * cells growing with the corpus curve that toward n² (the sf10
    * replica measured the fixed-16-cell q208 at 47.7 s warm vs 2.5 s at
    * sf1; auto-sized cells hold ~targetCellSize rows at every SF).
    */
  def buildIvfIndexAuto(corpus: DataFrame, idCol: String, vecCol: String,
      indexDir: String, targetCellSize: Int = 256, fitSample: Int = 4096,
      kmeansIters: Int = 3): Unit =
    buildIvfIndex(corpus, idCol, vecCol, indexDir,
      autoNlist(corpus.count(), targetCellSize, fitSample), fitSample,
      kmeansIters)

  /** The index's model parameters, read back: ≤ nlist (cell, centroid)
    * rows, positionally aligned with the cell ids ([[buildIvfIndex]]
    * writes a complete 0..k−1 range).
    */
  def readIvfCentroids(spark: SparkSession, indexDir: String): Array[Array[Float]] = {
    val centRows = spark.read.parquet(s"$indexDir/centroids")
      .orderBy(col("cell")).collect()
    require(centRows.nonEmpty, s"no centroids under $indexDir")
    centRows.map(_.getSeq[Float](1).toArray)
  }

  /** Append a batch into a persisted [[buildIvfIndex]] index WITHOUT
    * re-fitting: incoming vectors are assigned by the INDEX's centroids
    * (read back as model parameters) and appended into the hive cell
    * layout — per batch, one bounded read + one assignment pass + one
    * append of |batch| rows; the corpus already indexed is never touched.
    * This is the day-to-day half of the index lifecycle (the bootstrap
    * build is the corpus-sized half); the coarse quantizer drifts from the
    * optimum as the distribution shifts, which is the classic IVF
    * trade-off — re-fit by rebuilding when recall audits
    * ([[graft.ext.Recall]]) say so.
    */
  def ivfIndexIngest(spark: SparkSession, indexDir: String, incoming: DataFrame,
      idCol: String, vecCol: String): Unit = {
    GraftFunctions.register(spark)
    val cents = readIvfCentroids(spark, indexDir)
    CompactionLease.guardedAppend(spark, indexDir) {
      incoming.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
        .withColumn("cell", cellOf(cents, col("cv"), 0))
        .repartition(Dedup.indexWritePartitions(spark), col("cell"))
        .write.mode("append").partitionBy("cell").parquet(s"$indexDir/vectors")
    }
  }

  /** Compact a persisted IVF index's vectors table: every
    * [[ivfIndexIngest]] appends ≥1 file per touched cell, so at crawl
    * cadence a hot cell accumulates hundreds of small files and every
    * probe pays their open/footer cost. One rewrite re-clusters each cell
    * into a single file set (`repartition(col("cell"))` sends a cell to
    * exactly one shuffle partition) via a sibling `_compacting` dir and a
    * rename swap — centroids are untouched, probe results identical
    * (q207 drives the witness).
    */
  def ivfIndexCompact(spark: SparkSession, indexDir: String): Unit =
    CompactionLease.withLease(spark, indexDir) {
      val tmp = s"$indexDir/vectors_compacting"
      // dropDuplicates over ALL columns: a replayed streaming ingest appends
      // bit-identical (id, vector, cell) rows — harmless to cell-max probes,
      // but they would duplicate neighbor rows in top-k output; distinct
      // rows are untouched
      spark.read.parquet(s"$indexDir/vectors")
        .dropDuplicates()
        .repartition(Dedup.indexWritePartitions(spark), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(tmp)
      Dedup.swapIn(spark, tmp, s"$indexDir/vectors")
    }

  /** [[ivfTopK]] with the coarse quantizer supplied by the caller (the
    * reference form the persisted-index witnesses compare against: same
    * centroids in, row-identical results out).
    */
  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      cents: Array[Array[Float]]): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cell", cellOf(cents, col("cv"), 0))
    val probed = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(GraftFunctions.nearestCellIds(
        col("qv"), cents, math.min(nprobe, cents.length))))
    val cand = assigned.join(probed, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos"))
    heapTopK(cand, k)
  }

  /** Query a persisted [[buildIvfIndex]] index: centroids are read back as
    * model parameters (≤ nlist rows), each query explodes to its nprobe
    * nearest cells, and the candidate join hits the hive-partitioned
    * vectors table ON THE PARTITION COLUMN — with the exploded query side
    * broadcastable, Spark's dynamic partition pruning restricts the scan
    * to the probed cells' files before reading them. Ranking is exact
    * cosine within candidates + the bounded-heap top-k tail, identical
    * arithmetic to [[ivfTopK]] — with the same (nlist, fitSample,
    * kmeansIters), the result is ROW-IDENTICAL to the in-memory form
    * (q201 drives the witness).
    */
  def ivfIndexTopK(spark: SparkSession, indexDir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    GraftFunctions.register(spark)
    val cents = readIvfCentroids(spark, indexDir)
    val assigned = spark.read.parquet(s"$indexDir/vectors")
    val probed = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("cell", explode(GraftFunctions.nearestCellIds(
        col("qv"), cents, math.min(nprobe, cents.length))))
    val cand = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos"))
    heapTopK(cand, k)
  }

  // ---- Persisted PQ index: the fourth index family (MinHash sets, IVF
  // cells, 64-bit signatures, PQ codes). The scaladoc claim of [[pqTopK]]
  // — "at production scale the codes would be written once at ingest" —
  // made real: `codes/` stores m bytes + one norm per vector (for the
  // 64-dim corpus at m=16, ~24 bytes/row vs 256 of float32), `codebooks/`
  // stores the frozen model, and every query batch ADC-scans the codes
  // WITHOUT touching a float vector or re-fitting anything. There is no
  // partitioning: the ADC scan IS the probe — compression, not pruning,
  // is this family's scale lever (compose with the IVF index when both
  // are needed; [[ivfPqTopK]] is that composition in memory).

  /** Build: fit codebooks on `corpus` (bounded sample, [[pqFit]]), write
    * the model to `codebooks/` and the encoded corpus to `codes/`.
    */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      indexDir: String, m: Int = 16, ksub: Int = 64, fitSample: Int = 4096,
      pqIters: Int = 10): Unit = {
    GraftFunctions.register(corpus.sparkSession)
    val spark = corpus.sparkSession
    val books = pqFit(corpus, idCol, vecCol, m, ksub, fitSample, pqIters)
    writeBooks(spark, books, s"$indexDir/codebooks")
    encodedCodes(corpus, idCol, vecCol, books)
      .write.mode("overwrite").parquet(s"$indexDir/codes")
  }

  private def writeBooks(spark: SparkSession,
      books: Array[Array[Array[Float]]], path: String): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
    }.toSeq.toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Deterministic fingerprint of a codebook model — stamped into every
    * code row (`bid`) so a probe can verify the codes were encoded
    * against THE model it just read back. Codes are meaningless under any
    * other codebooks (the ADC LUT indexes by code id), and the one
    * mismatch source that can't be prevented by ordering writes — a crash
    * between [[pqSinkRetrainCompact]]'s two generation swaps — becomes a
    * loud probe-time error instead of silently mis-ranked neighbors.
    */
  private[graft] def booksId(books: Array[Array[Array[Float]]]): Long = {
    var h = 1125899906842597L
    for (b <- books; c <- b; x <- c)
      h = h * 31 + java.lang.Float.floatToIntBits(x)
    h
  }

  /** The stored row form: (neighbor_id, codes: binary, cn: double,
    * bid: long) — the reconstructed norm is precomputed at WRITE time
    * (one static-LUT ADC pass), so probes pay only the per-query table;
    * `bid` is the [[booksId]] generation stamp the probe verifies.
    */
  private def encodedCodes(df: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Float]]]): DataFrame = {
    val nl = typedLit(pqNormLut(books))
    df.select(col(idCol).as("neighbor_id"),
        GraftFunctions.pqEncode(col(vecCol), books).as("codes"))
      .withColumn("cn",
        sqrt(GraftFunctions.pqAdcDot(col("codes"), nl, books.head.length)))
      .withColumn("bid", lit(booksId(books)))
  }

  /** Codegen'd generation guard that rides the codes scan (no extra
    * job): `assert_true` throws on the first row whose `bid` differs
    * from the model just read back, and returns null (→ `isNull` true)
    * otherwise, so the filter passes every consistent row untouched.
    */
  private def bidGuard(books: Array[Array[Array[Float]]],
      indexDir: String): Column =
    assert_true(col("bid") === lit(booksId(books)),
      lit(s"PQ index at $indexDir: codes were encoded against a DIFFERENT " +
        "codebook generation than codebooks/ holds — a retrain/compact " +
        "crashed between its two swaps, or an external writer mixed " +
        "generations; re-run pqSinkRetrainCompact to restore one " +
        "generation")).isNull

  /** The index's model, read back: a model-parameter collect of m × ksub
    * rows, reassembled positionally ([[buildPqIndex]] writes complete
    * 0..m−1 × 0..ksub−1 ranges).
    */
  def readPqCodebooks(spark: SparkSession, indexDir: String): Array[Array[Array[Float]]] = {
    val rows = spark.read.parquet(s"$indexDir/codebooks")
      .select(col("subspace"), col("code"), col("centroid")).collect()
    require(rows.nonEmpty, s"readPqCodebooks: empty model at $indexDir/codebooks")
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    // A lost or duplicated codebooks row would positionally shift every
    // higher code id and silently decode against the wrong centroids —
    // fail loudly instead: the table must be exactly the m × ksub grid.
    require(rows.length == m * ksub,
      s"readPqCodebooks: corrupt model at $indexDir/codebooks — " +
        s"expected ${m * ksub} rows (m=$m × ksub=$ksub), got ${rows.length}")
    Array.tabulate(m) { j =>
      val sorted = rows.filter(_.getInt(0) == j).sortBy(_.getInt(1))
      require(sorted.length == ksub &&
          sorted.zipWithIndex.forall { case (r, i) => r.getInt(1) == i },
        s"readPqCodebooks: corrupt model at $indexDir/codebooks — " +
          s"subspace $j codes are not exactly 0..${ksub - 1}")
      sorted.map(_.getSeq[Float](2).toArray)
    }
  }

  /** Ingest: encode `incoming` against the FROZEN codebooks and append —
    * O(|batch|) per crawl batch, no re-fit, no corpus touch (the same
    * frozen-quantizer contract as [[ivfIndexIngest]]; codebook drift is a
    * rebuild, not an ingest).
    */
  def pqIndexIngest(spark: SparkSession, indexDir: String, incoming: DataFrame,
      idCol: String, vecCol: String): Unit = {
    GraftFunctions.register(spark)
    val books = readPqCodebooks(spark, indexDir)
    CompactionLease.guardedAppend(spark, indexDir) {
      encodedCodes(incoming, idCol, vecCol, books)
        .write.mode("append").parquet(s"$indexDir/codes")
    }
  }

  /** Probe: ADC-rank the stored codes for a query batch; with
    * `rerank > k` and the float `vectors` table supplied (at production
    * scale, the vector store the codes were encoded from), the shortlist
    * is re-ranked exactly ([[rerankExact]] — only rerank × |queries|
    * float vectors are touched).
    */
  def pqIndexTopK(spark: SparkSession, indexDir: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, rerank: Int = 0,
      vectors: Option[DataFrame] = None): DataFrame = {
    GraftFunctions.register(spark)
    val books = readPqCodebooks(spark, indexDir)
    val kEff = books.head.length
    val q = queries.select(col(idCol).as("query_id"),
        GraftFunctions.pqLut(col(vecCol), books).as("lut"),
        norm(col(vecCol)).as("qn"))
    val scored = spark.read.parquet(s"$indexDir/codes")
      .filter(bidGuard(books, indexDir))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (GraftFunctions.pqAdcDot(col("codes"), col("lut"), kEff) /
          (col("qn") * col("cn"))).as("cos"))
    val shortlist = heapTopK(scored, math.max(k, rerank))
    vectors match {
      case Some(v) if rerank > k =>
        rerankExact(shortlist, v, queries, idCol, vecCol, k, rerank)
      case _ => shortlist.filter(col("rank") <= k)
    }
  }

  /** [[pqIndexTopK]] with the refine depth sized by [[autoRerank]] from
    * a count of the STORED codes (footer-metadata count, no data scan) —
    * the persisted-index analog of [[pqTopKAuto]], so a probe keeps the
    * measured √n recall as the index grows under
    * [[pqIndexIngest]]/[[indexedPqIngestSink]] appends without the
    * caller re-tuning rerank. Requires the float `vectors` side (the
    * refine is the point of the auto form).
    */
  def pqIndexTopKAuto(spark: SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      vectors: DataFrame): DataFrame = {
    val n = spark.read.parquet(s"$indexDir/codes").count()
    pqIndexTopK(spark, indexDir, queries, idCol, vecCol, k,
      rerank = autoRerank(n, k), vectors = Some(vectors))
  }

  /** Compact: fold the appended code files into one file set and drop
    * bit-identical replayed rows (a replayed ingest appends duplicate
    * (id, codes, cn) rows, which would duplicate neighbor rows in top-k
    * output — the [[ivfIndexCompact]] contract). Codebooks untouched;
    * crash-safe via the backup-rename swap.
    */
  def pqIndexCompact(spark: SparkSession, indexDir: String): Unit =
    CompactionLease.withLease(spark, indexDir) {
      val tmp = s"$indexDir/codes_compacting"
      // dropDuplicates already shuffles, so the rewrite lands in
      // spark.sql.shuffle.partitions files — bounded file count WITHOUT a
      // coalesce(1) (which at corpus scale would funnel the whole codes
      // table through one task and write one unsplittable file)
      spark.read.parquet(s"$indexDir/codes")
        .dropDuplicates()
        .write.mode("overwrite").parquet(tmp)
      Dedup.swapIn(spark, tmp, s"$indexDir/codes")
    }

  /** RETRAIN-on-compact — the codebook-lifecycle repair the frozen-model
    * contract needs: [[graft.streaming.Streams.indexedPqIngestSink]]
    * bootstraps codebooks from its FIRST non-empty micro-batch, and a
    * small or unrepresentative bootstrap quantizes every later vector
    * against bad centroids forever (compact folds duplicates but never
    * retrains). The float store the sink maintains retains raw vectors
    * precisely for this: refit the codebooks on the CURRENT store
    * (bounded [[pqFit]] sample), re-encode the whole store, and swap both
    * generations in — under the compaction lease, so concurrent ingests
    * fail loudly instead of appending old-generation codes mid-swap.
    *
    * Also a compact: the re-encode reads the deduplicated store, so
    * replayed duplicate code rows fold away exactly as in
    * [[pqIndexCompact]]. Model shape (m, ksub) defaults to the index's
    * current one. Crash windows: each table swap is the crash-safe
    * backup-rename; a crash BETWEEN the codes and codebooks swaps leaves
    * the two tables on different generations — caught LOUDLY by the
    * probes' `bid` generation guard (never a silently mis-ranked
    * neighbor); re-running this call repairs it.
    */
  def pqSinkRetrainCompact(spark: SparkSession, indexDir: String,
      vectors: DataFrame, idCol: String, vecCol: String,
      m: Int = -1, ksub: Int = -1, fitSample: Int = 4096,
      pqIters: Int = 10): Unit =
    CompactionLease.withLease(spark, indexDir) {
      GraftFunctions.register(spark)
      val old = readPqCodebooks(spark, indexDir)
      val mEff = if (m > 0) m else old.length
      val ksubEff = if (ksub > 0) ksub else old.head.length
      val v = vectors.select(col(idCol), col(vecCol))
        .dropDuplicates().localCheckpoint()
      val books = pqFit(v, idCol, vecCol, mEff, ksubEff, fitSample, pqIters)
      encodedCodes(v, idCol, vecCol, books)
        .write.mode("overwrite").parquet(s"$indexDir/codes_retraining")
      writeBooks(spark, books, s"$indexDir/codebooks_retraining")
      Dedup.swapIn(spark, s"$indexDir/codes_retraining", s"$indexDir/codes")
      Dedup.swapIn(spark, s"$indexDir/codebooks_retraining", s"$indexDir/codebooks")
    }

  /** [[pqTopK]] with a caller-supplied model — the comparator the
    * persisted-index witnesses need (q237: index built on a prefix +
    * frozen-codebook ingest of the rest must equal the in-memory form
    * given the SAME books over the same rows).
    */
  def pqTopKWithBooks(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, books: Array[Array[Array[Float]]],
      rerank: Int = 0): DataFrame = {
    GraftFunctions.register(corpus.sparkSession)
    val kEff = books.head.length
    val q = queries.select(col(idCol).as("query_id"),
        GraftFunctions.pqLut(col(vecCol), books).as("lut"),
        norm(col(vecCol)).as("qn"))
    val scored = encodedCodes(corpus, idCol, vecCol, books)
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (GraftFunctions.pqAdcDot(col("codes"), col("lut"), kEff) /
          (col("qn") * col("cn"))).as("cos"))
    rerankExact(heapTopK(scored, math.max(k, rerank)), corpus, queries,
      idCol, vecCol, k, rerank)
  }

  // ---- Persisted composed IVF-PQ index: the billion-scale serving shape
  // ([[ivfPqTopK]]'s architecture) as a persisted family with the full
  // build/ingest/probe/compact lifecycle. The two single-model indexes
  // each carry one scale lever — IVF cells PRUNE (DPP reads nprobe cells'
  // files), PQ codes COMPRESS (~24 B/row ADC scan) — and the 100-TB ANN
  // store needs both at once: `centroids/` + `codebooks/` hold the two
  // frozen models, `codes/` holds the encoded corpus HIVE-PARTITIONED BY
  // CELL, so a probe opens only nprobe cells' files and ADC-ranks ~
  // nprobe/nlist of the codes, then exact-reranks the shortlist from the
  // caller's float store. Models are bootstrap-frozen (the
  // [[buildIvfIndex]]/[[buildPqIndex]] contract); codes quantize RAW
  // vectors, not per-cell residuals ([[ivfPqTopK]]'s documented trade).

  /** Build: fit both models on `corpus` (bounded samples), write them,
    * and write the encoded corpus into the `cell=` layout. One shuffle
    * into the cell layout — nlist output partitions, contiguous per cell.
    */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      indexDir: String, nlist: Int = 16, m: Int = 16, ksub: Int = 64,
      fitSample: Int = 4096, kmeansIters: Int = 3, pqIters: Int = 10): Unit = {
    GraftFunctions.register(corpus.sparkSession)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = fitCellCentroids(corpus, idCol, vecCol, nlist, fitSample, kmeansIters)
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    val books = pqFit(corpus, idCol, vecCol, m, ksub, fitSample, pqIters)
    writeBooks(spark, books, s"$indexDir/codebooks")
    encodedCellCodes(corpus, idCol, vecCol, books, cents)
      .repartition(Dedup.indexWritePartitions(spark), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$indexDir/codes")
  }

  /** [[encodedCodes]] plus the coarse cell assignment — the composed
    * index's stored row form (cell, neighbor_id, codes, cn, bid).
    */
  private def encodedCellCodes(df: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Float]]],
      cents: Array[Array[Float]]): DataFrame = {
    val nl = typedLit(pqNormLut(books))
    df.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
        cellOf(cents, col(vecCol), 0).as("cell"))
      .select(col("neighbor_id"), col("cell"),
        GraftFunctions.pqEncode(col("__cv"), books).as("codes"))
      .withColumn("cn",
        sqrt(GraftFunctions.pqAdcDot(col("codes"), nl, books.head.length)))
      .withColumn("bid", lit(booksId(books)))
  }

  /** Ingest: assign + encode `incoming` against BOTH frozen models and
    * append into the cell layout — O(|batch|), no re-fit, no corpus
    * touch; replayed appends are bit-identical duplicates folded by
    * [[ivfPqIndexCompact]]. Guarded against a concurrent compaction.
    */
  def ivfPqIndexIngest(spark: SparkSession, indexDir: String,
      incoming: DataFrame, idCol: String, vecCol: String): Unit = {
    GraftFunctions.register(spark)
    val cents = readIvfCentroids(spark, indexDir)
    val books = readPqCodebooks(spark, indexDir)
    CompactionLease.guardedAppend(spark, indexDir) {
      encodedCellCodes(incoming, idCol, vecCol, books, cents)
        .repartition(Dedup.indexWritePartitions(spark), col("cell"))
        .write.mode("append").partitionBy("cell").parquet(s"$indexDir/codes")
    }
  }

  /** Probe: each query explodes to its nprobe nearest cells (read back
    * from `centroids/`), the candidate join hits the `cell=`-partitioned
    * codes ON THE PARTITION COLUMN — the broadcast query side makes
    * Spark's dynamic partition pruning restrict the scan to the probed
    * cells' files — and candidates ADC-rank at m byte lookups each. With
    * `rerank > k` and the float `vectors` store supplied, the shortlist
    * re-ranks exactly ([[rerankExact]]). Same models in → row-identical
    * to [[ivfPqTopKWithModels]] over the same rows.
    */
  def ivfPqIndexTopK(spark: SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int = 4, rerank: Int = 0,
      vectors: Option[DataFrame] = None): DataFrame = {
    GraftFunctions.register(spark)
    val cents = readIvfCentroids(spark, indexDir)
    val books = readPqCodebooks(spark, indexDir)
    val kEff = books.head.length
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        explode(GraftFunctions.nearestCellIds(col(vecCol), cents,
          math.min(nprobe, cents.length))).as("cell"))
      .select(col("query_id"), col("cell"),
        GraftFunctions.pqLut(col("__qv"), books).as("lut"),
        norm(col("__qv")).as("qn"))
    val scored = spark.read.parquet(s"$indexDir/codes")
      .filter(bidGuard(books, indexDir))
      .join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (GraftFunctions.pqAdcDot(col("codes"), col("lut"), kEff) /
          (col("qn") * col("cn"))).as("cos"))
    val shortlist = heapTopK(scored, math.max(k, rerank))
    vectors match {
      case Some(v) if rerank > k =>
        rerankExact(shortlist, v, queries, idCol, vecCol, k, rerank)
      case _ => shortlist.filter(col("rank") <= k)
    }
  }

  /** [[ivfPqIndexTopK]] with every knob derived from the INDEX itself —
    * nprobe from the stored cell count ([[autoNprobe]]'s measured
    * fraction), refine depth from the stored code count ([[autoRerank]]'s
    * √n rule; footer-metadata count, no data scan) — so probes keep the
    * measured recall as the index grows under [[ivfPqIndexIngest]]
    * appends. Requires the float `vectors` side (the refine is the point,
    * as in [[pqIndexTopKAuto]]).
    */
  def ivfPqIndexTopKAuto(spark: SparkSession, indexDir: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      vectors: DataFrame): DataFrame = {
    val nlist = spark.read.parquet(s"$indexDir/centroids").count().toInt
    val n = spark.read.parquet(s"$indexDir/codes").count()
    ivfPqIndexTopK(spark, indexDir, queries, idCol, vecCol, k,
      nprobe = autoNprobe(nlist), rerank = autoRerank(n, k),
      vectors = Some(vectors))
  }

  /** Compact: fold replayed duplicate code rows and re-cluster each cell
    * into one contiguous file set ([[ivfIndexCompact]]'s shape on the
    * codes table). Models untouched; crash-safe backup-rename swap.
    */
  def ivfPqIndexCompact(spark: SparkSession, indexDir: String): Unit =
    CompactionLease.withLease(spark, indexDir) {
      val tmp = s"$indexDir/codes_compacting"
      spark.read.parquet(s"$indexDir/codes")
        .dropDuplicates()
        .repartition(Dedup.indexWritePartitions(spark), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(tmp)
      Dedup.swapIn(spark, tmp, s"$indexDir/codes")
    }
}
