package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Deduplication operators for LLM training-data pipelines.
  *
  * Five families, all shuffle-conscious:
  *  - exact (hash groupBy — one shuffle on a 16-byte key, not the payload)
  *  - n-gram Jaccard (exact pairwise via shingle-inverted-index join)
  *  - MinHash + LSH banding (approximate candidates + exact verify)
  *  - SimHash (64-bit signature, hamming-ball buckets)
  *  - embedding cosine near-dup (see [[Similarity]])
  *
  * The exact pairwise path is quadratic per shingle bucket; the MinHash/LSH
  * and SimHash paths are the 100 TB-scale route: candidate generation is one
  * shuffle on band keys, verification only touches candidate pairs.
  */
object Dedup {

  /** Exact dedup: group documents by content hash; emit the canonical keep
    * id (smallest), the duplicate count, and the hash. Shuffles 16-byte md5
    * keys + ids only — never the document payload.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_dups"))

  /** Exact dedup keep-one: one representative row per distinct content. */
  def exactDedupe(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact word-n-gram Jaccard similarity: all pairs with
    * jaccard >= threshold, (id_a < id_b). EXACT result, computed with
    * PPJoin-style prefix filtering so it scales:
    *
    *  1. global shingle document-frequency order (rarest first);
    *  2. each doc indexes only its first `|d| - ceil(t*|d|) + 1` shingles
    *     in that order — the *prefix*. Any pair with J >= t must share at
    *     least one prefix shingle (pigeonhole on the common total order),
    *     so the candidate join touches rare shingles only and the
    *     Σ df(shingle)² blow-up on stopword-like shingles disappears;
    *  3. size-compatibility filter: J >= t ⇒ t*|a| <= |b| <= |a|/t;
    *  4. exact verification of candidates on the full shingle sets.
    *
    * jaccard = |A∩B| / (|A|+|B|-|A∩B|) is a ratio of small integers, so the
    * double value is bit-exact and reproducible across engines.
    *
    * Shuffles: one groupBy for df-counts, one window by doc id (docs are
    * small), one equi-join on prefix shingles, two hash joins to fetch the
    * full sets for verification — all key-partitioned, no cross join.
    *
    * `budgetPairs` (default unlimited) engages the governed-enumeration
    * pre-flight: the EXACT pre-distinct candidate volume of whichever
    * path runs is counted from per-key occupancies before any pair
    * materializes, and the call refuses with
    * `Similarity.PairBudgetExceededException` above the budget. Under
    * budget the output is identical — the probe is a count, not a plan
    * change.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      budgetPairs: Long = Long.MaxValue): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // Discovery runs on one representative per distinct shingle set
    // (setRepresentatives); results expand back to document pairs at the end.
    val (reps, members) = setRepresentatives(df, idCol, textCol, n)
    val repPairs = smallUniverse(df, textCol, n)
      // tiny-universe corpora (<= 64 distinct shingles — the hot-vocab case
      // where token-frequency pruning is useless): sets become 64-bit masks,
      // pair discovery becomes popcount arithmetic — see bitmaskSetPairs.
      // Gated on the distinct-set count too (counted over 8-byte keys, no
      // arrays shuffled): the O(R²/2) loop join must stay bounded even
      // though a tiny vocabulary USUALLY implies few distinct sets.
      .filter(_ => distinctSetCount(members) <= maxBnljSets)
      .map(universe => bitmaskSetPairs(reps, threshold, universe, budgetPairs))
      .getOrElse {
        if (threshold >= 0.9) partitionedSetPairs(reps, threshold, budgetPairs)
        else if (threshold >= 0.5) prefixFilteredSetPairs(reps, threshold, budgetPairs)
        else countedSetPairs(reps, threshold, budgetPairs)
      }
    expandSetPairs(repPairs, members)
  }

  /** Budget pre-flight shared by every Jaccard pair path (the governed-
    * enumeration discipline of `Similarity.cosineNearDupPairsGoverned`,
    * applied to the exact baselines too): the pre-distinct candidate
    * volume of an equi-self-join on `keys` is EXACTLY Σ_group c·(c−1)/2 —
    * each group holds distinct set keys, so every unordered pair counts
    * once. One count-only aggregate (no arrays shuffled, no pair
    * materialized); refuses with the estimate attached when it exceeds
    * `budgetPairs` (planes/tables 0 = not an LSH plan). `Long.MaxValue`
    * (the default) skips the probe entirely, keeping ungated library
    * callers at zero extra jobs.
    */
  private def requirePairBudget(keyed: DataFrame, keys: Seq[String],
      budgetPairs: Long): Unit = {
    if (budgetPairs >= Long.MaxValue) return
    val r = keyed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2")).as("est")).collect()
    val est = if (r.isEmpty || r.head.isNullAt(0)) 0L else r.head.getLong(0)
    if (est > budgetPairs)
      throw new Similarity.PairBudgetExceededException(est, budgetPairs, 0, 0)
  }

  /** Upper bound on distinct sets for the broadcast-loop-join fast paths:
    * 64 k rows ⇒ ≤ ~2.1 G cheap condition evals, seconds on any executor
    * fleet and a ~1 MB broadcast.
    */
  private val maxBnljSets = 65536L

  /** Distinct-set count, shuffling only the 8-byte set keys — the cheap
    * plan-choice probe the BNLJ gates run BEFORE building masks or
    * materializing anything.
    */
  private def distinctSetCount(members: DataFrame): Long =
    members.select(col("skey")).distinct().count()

  /** Probe whether the corpus' distinct-shingle universe fits in `maxBits`
    * bits; Some(sorted universe) if so. Two phases so the common case (big
    * universe) stays cheap: a 256-document LOCAL sample first — LocalLimit
    * stops the scan after one partition-ish of rows, no shuffle — and only
    * when the sample already fits do we pay the full distinct pass (one
    * shuffle of unique 8-byte hashes, trivially cheap next to the pairwise
    * job it unlocks). The sample can only under-count, so the full probe is
    * the correctness gate.
    */
  private def smallUniverse(
      df: DataFrame, textCol: String, n: Int, maxBits: Int = 64): Option[Array[Long]] = {
    val sample = df.select(hashedShingles(col(textCol), n).as("sh")).limit(256)
      .select(explode(col("sh")).as("s")).distinct().limit(maxBits + 1).count()
    if (sample > maxBits) return None
    val u = df.select(explode(hashedShingles(col(textCol), n)).as("s"))
      .distinct().limit(maxBits + 1).collect().map(_.getLong(0))
    if (u.length <= maxBits) Some(u.sorted) else None
  }

  /** Shingle-set column as a 64-bit bitmask over a (collected, <= 64-entry)
    * universe — bit i set iff universe(i) ∈ set. The universe is a model
    * parameter the same way IVF centroids are: driver-resident by contract.
    */
  private def setMask(sh: Column, universe: Array[Long]): Column = {
    val lut = typedLit(universe.toSeq)
    aggregate(sh, lit(0L), (acc, s) =>
      acc.bitwiseOR(call_function("shiftleft", lit(1L),
        (array_position(lut, s) - 1).cast("int"))))
  }

  /** Tiny-universe exact-Jaccard path: every distinct shingle set is one
    * Long, |A∩B| / |A∪B| is two popcounts, and pair discovery is a
    * broadcast nested-loop join over DISTINCT SETS ONLY (a few thousand
    * rows even for corpora of millions of documents — hot-vocab corpora
    * have few distinct sets by construction). Compared to the inverted-
    * index paths this skips candidate generation AND the multi-million-row
    * candidate distinct: on a 31-token corpus every token is in ~every
    * document, so an index prunes nothing and Σ df² explodes, while R²/2
    * mask pairs at ~1 ns of bit arithmetic each is the cheapest exact
    * answer available. Falls out of scope automatically (smallUniverse →
    * None) the moment the vocabulary grows past 64 shingles.
    */
  private def bitmaskSetPairs(
      reps: DataFrame, threshold: Double, universe: Array[Long],
      budgetPairs: Long = Long.MaxValue): DataFrame = {
    // materialized once (<= maxBnljSets 16-byte rows — the gate already
    // passed) so the rep pipeline doesn't recompute for each join side
    val masked = reps.select(col("skey"), setMask(col("sh"), universe).as("mask"))
      .localCheckpoint()
    if (budgetPairs < Long.MaxValue) {
      // BNLJ candidate volume is exactly R·(R−1)/2; R ≤ maxBnljSets so the
      // product cannot overflow, and the count scans checkpointed blocks
      val rCount = masked.count()
      val est = rCount * (rCount - 1) / 2
      if (est > budgetPairs)
        throw new Similarity.PairBudgetExceededException(est, budgetPairs, 0, 0)
    }
    val a = masked.select(col("skey").as("skey_a"), col("mask").as("m_a"))
    val b = masked.select(col("skey").as("skey_b"), col("mask").as("m_b"))
    def inter = bit_count(col("m_a").bitwiseAND(col("m_b")))
    def uni = bit_count(col("m_a").bitwiseOR(col("m_b")))
    def jac = inter.cast("double") / uni.cast("double")
    a.join(broadcast(b), col("skey_a") < col("skey_b") && jac >= lit(threshold))
      .select(col("skey_a"), col("skey_b"), jac.as("jaccard"))
  }

  /** Very-high-threshold path (PartEnum-style partition filtering): hash-
    * partition the shingle universe into c = floor(2·maxSize·(1-t)) + 1
    * residue classes. J(A,B) >= t bounds the symmetric difference by
    * |A∆B| <= |A∪B|(1-t) <= c-1, so by pigeonhole at least one class is
    * UNTOUCHED by the difference — i.e. has identical content in A and B —
    * and candidates are exactly the pairs sharing a (class, content-hash)
    * key. Lossless, and unlike token-prefix filtering it keeps pruning when
    * every individual token is hot (tiny-vocabulary corpora): matching
    * requires a whole identical class, not one shared token.
    */
  private def partitionedSetPairs(reps: DataFrame, threshold: Double,
      budgetPairs: Long = Long.MaxValue): DataFrame = {
    // empty corpus -> max is null -> no pairs by construction
    val maxSz = Option(reps.agg(max(col("sh_size"))).head().get(0))
      .map(_.asInstanceOf[Int]).getOrElse(0)
    val c = math.max(2, (2 * maxSz * (1 - threshold)).toInt + 1)
    val classKeys = reps.select(
      col("skey"), col("sh_size"),
      posexplode(transform(sequence(lit(0), lit(c - 1)),
        j => xxhash64(lit("cls"), j,
          array_join(transform(
            filter(col("sh"), x => pmod(x, lit(c.toLong)) === j),
            _.cast("string")), ",")))))
      .withColumnsRenamed(Map("pos" -> "cls", "col" -> "chash"))
      // governed: materialize once so the pre-flight count AND both join
      // sides read the same blocks instead of re-deriving the class keys
      // three times (the self-join's column renames defeat ReuseExchange)
      .transform(ck => if (budgetPairs < Long.MaxValue) ck.localCheckpoint() else ck)
    requirePairBudget(classKeys, Seq("cls", "chash"), budgetPairs)
    val a = classKeys.select(col("cls"), col("chash"), col("skey").as("skey_a"), col("sh_size").as("sz_a"))
    val b = classKeys.select(col("cls"), col("chash"), col("skey").as("skey_b"), col("sh_size").as("sz_b"))
    val candidates = a.join(b, Seq("cls", "chash"))
      .filter(col("skey_a") < col("skey_b"))
      .filter(col("sz_b") >= ceil(col("sz_a") * lit(threshold)) &&
              col("sz_a") >= ceil(col("sz_b") * lit(threshold)))
      .select("skey_a", "skey_b").distinct()
    verifySetPairs(reps, candidates, threshold)
  }

  /** Exact verification of candidate set pairs (codegen'd intersection). */
  private def verifySetPairs(reps: DataFrame, candidates: DataFrame, threshold: Double): DataFrame = {
    val full = reps.select(col("skey"), col("sh"))
    candidates
      .join(full.select(col("skey").as("skey_a"), col("sh").as("sh_a")), Seq("skey_a"))
      .join(full.select(col("skey").as("skey_b"), col("sh").as("sh_b")), Seq("skey_b"))
      .withColumn("common", GraftFunctions.sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("skey_a", "skey_b", "jaccard")
  }

  /** Low-threshold path: classic inverted-index count aggregation. The
    * prefix filter keeps `1 - t` of each set — at t = 0.1 that prunes
    * almost nothing, and the verify joins dominate. Counting common
    * shingles directly in one groupBy is exact and carries no arrays.
    * Cost is Σ_shingle df², acceptable when no pruning is possible anyway.
    */
  private def countedSetPairs(reps: DataFrame, threshold: Double,
      budgetPairs: Long = Long.MaxValue): DataFrame = {
    val inv = reps.select(col("skey"), col("sh_size"), explode(col("sh")).as("s"))
      // governed: one materialization serves pre-flight + both join sides
      .transform(i => if (budgetPairs < Long.MaxValue) i.localCheckpoint() else i)
    requirePairBudget(inv, Seq("s"), budgetPairs)
    val a = inv.select(col("s"), col("skey").as("skey_a"), col("sh_size").as("sz_a"))
    val b = inv.select(col("s"), col("skey").as("skey_b"), col("sh_size").as("sz_b"))
    a.join(b, Seq("s"))
      .filter(col("skey_a") < col("skey_b"))
      .groupBy("skey_a", "skey_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sz_a") + col("sz_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("skey_a", "skey_b", "jaccard")
  }

  /** High-threshold path: PPJoin-style prefix filter + codegen verify. */
  private def prefixFilteredSetPairs(reps: DataFrame, threshold: Double,
      budgetPairs: Long = Long.MaxValue): DataFrame = {
    val inv = reps.select(col("skey"), col("sh_size"), explode(col("sh")).as("s"))
    // Global rarity order; ties broken by the shingle hash itself → total order.
    val dfreq = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("skey").orderBy(col("df").asc, col("s").asc)
    val prefix = inv.join(dfreq, Seq("s"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sh_size") - ceil(col("sh_size") * lit(threshold)) + 1)
      // governed: one materialization (explode + df-join + window run ONCE)
      // serves the pre-flight count and both candidate-join sides
      .transform(p => if (budgetPairs < Long.MaxValue) p.localCheckpoint() else p)
    requirePairBudget(prefix, Seq("s"), budgetPairs)
    val a = prefix.select(col("s"), col("skey").as("skey_a"), col("sh_size").as("sz_a"))
    val b = prefix.select(col("s"), col("skey").as("skey_b"), col("sh_size").as("sz_b"))
    val candidates = a.join(b, Seq("s"))
      .filter(col("skey_a") < col("skey_b"))
      .filter(col("sz_b") >= ceil(col("sz_a") * lit(threshold)) &&
              col("sz_a") >= ceil(col("sz_b") * lit(threshold)))
      .select("skey_a", "skey_b").distinct()
    verifySetPairs(reps, candidates, threshold)
  }

  /** Connected components over a near-duplicate pair graph by min-label
    * propagation with pointer doubling: every node ends with `rep` = the
    * smallest id reachable from it. The canonical post-processing of
    * pairwise dedup — collapse the pair graph into clusters, keep one
    * representative per cluster.
    *
    * Each round takes the min over the node's own label, its label's label
    * (pointer doubling — labels are node ids, and every node's label is
    * <= its id, so composing is a monotone improvement), and its
    * neighbors' labels. Plain neighbor-min needs one round per unit of
    * graph DIAMETER — a 1000-node chain of borderline near-dups takes
    * 1000 shuffles; with doubling, label paths halve every round, so
    * rounds are O(log diameter) (the path-contraction idea behind
    * pointer-jumping PRAM CC and the large-star/small-star MapReduce
    * algorithm). Convergence is detected by an exact changed-label count,
    * and a changed-count of zero is a fixpoint of the PLAIN neighbor-min
    * step too, where labels are provably constant per component (along any
    * edge, stability forces rep(u) <= rep(v) and rep(v) <= rep(u)) — the
    * accelerator changes the round count, never the converged output.
    * `nodes` supplies isolated documents (components of size 1).
    *
    * SPARSE-GRAPH SHAPE: only nodes incident to a pair can ever leave
    * `rep = id`, so the iteration runs over the TOUCHED node set (edge
    * endpoints ∩ nodes) and isolated nodes come back as `rep = id` via
    * ONE anti-join at the end. Near-dup pair graphs are tiny next to the
    * corpus (q219's image graph: ~half the ids after exact-dup collapse,
    * most corpora far less), and the first-draft full-corpus labels frame
    * paid a corpus-scale join + checkpoint EVERY round — the fixed
    * per-round floor that dominated q219's sf1 cost (20.3 s, mostly
    * round overhead on a small pair set). Endpoints outside `nodes` are
    * excluded from the touched set, preserving the original contract
    * that foreign edge endpoints neither appear in the output nor
    * propagate labels.
    */
  /** localCheckpoint + SIZE-ESTIMATE reset for iterative self-join loops.
    *
    * `LogicalRDD.fromDataset` SNAPSHOTS the original plan's size estimate
    * into the checkpointed node, and the non-CBO stats visitor estimates
    * every inner join as left×right — a PRODUCT. An iterative loop whose
    * round output (a few self-joins over the previous labels) is
    * checkpointed therefore compounds the estimate's DIGIT COUNT ~3× per
    * round, and chaining a second loop on frames that inherited the first
    * loop's estimate (q223's ingest: batch CC → contraction joins →
    * contracted CC) pushed sizeInBytes to millions of digits — the sf10
    * driver measured 40+ minutes inside BigInteger.multiply in
    * SizeInBytesOnlyStatsPlanVisitor, doing statistics, not work.
    * Rebuilding the frame from the checkpointed RDD drops the snapshot:
    * the fresh leaf reports the session-default size, a CONSTANT, so
    * estimates cannot compound across rounds. Join-strategy choice is
    * unaffected in practice: AQE re-plans broadcast joins from REAL
    * runtime sizes, which is the only place these slim loop frames'
    * estimates mattered. Rows here are 2-3 longs — the InternalRow→Row
    * hop is noise next to the joins it unblocks.
    */
  private def checkpointFlat(df: DataFrame): DataFrame = {
    // a frame whose root is already a materialized RDD leaf needs no
    // second block copy — re-wrapping it resets the stats snapshot alone
    val ck = if (isCheckpointRoot(df)) df else df.localCheckpoint()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** True iff the frame's plan root is already a materialized RDD leaf (a
    * localCheckpoint / checkpointFlat product with no transformations on
    * top) — checkpointing such a frame again only copies blocks.
    */
  private def isCheckpointRoot(df: DataFrame): Boolean =
    df.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  def connectedComponents(
      nodes: DataFrame,
      idCol: String,
      pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // localCheckpoint (not just persist): iterative algorithms grow the
    // LOGICAL plan each round — Catalyst would re-analyze an ever-larger
    // tree and driver-side planning, not execution, becomes the cost.
    // Checkpointing truncates the lineage so every iteration plans against
    // a flat scan of the previous labels. checkpointFlat (not plain
    // localCheckpoint) also resets the size estimate each round — see its
    // scaladoc for the BigInteger blowup plain checkpoints compound.
    // checkpoint the PAIR GENERATION once and symmetrize from the
    // checkpoint: the previous `pairs ∪ pairs.swap` checkpoint ran the
    // generator's final join+verify stage TWICE (only the exchanges
    // below it are reuse-deduped) — on q167's 0.98-jaccard stages that
    // was half of a 13.5 s task-time job, in every CC call engine-wide
    val p = checkpointFlat(pairs.select(col("id_a"), col("id_b")))
    val sym = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
    val nodeIds = nodes.select(col(idCol).as("id"))
    // REGIME DISPATCH (the componentsIngest/editDistancePairsAuto pattern):
    // after class collapse the component graph is routinely TINY relative
    // to the corpus (thousands of class nodes at catalog scale — and even
    // a billion-doc store's near-dup class graph fits in tens of MB of
    // edges), while each HashToMin round below costs ~6 shuffles plus a
    // checkpoint and a convergence-count job, times O(log n) rounds. For
    // graphs under the bounded-collect cap, one collect + driver
    // union-find + one local-relation result is EXACTLY the same fixpoint
    // (rep = component min id) at a fraction of the wall: measured on the
    // r14 catalog, the CC-bound lifecycle entries (q223/q226/q243/q61/
    // q167) spend most of their time in these rounds. The cap is
    // row-count-bounded (both directions counted, so cap/2 undirected
    // edges, ≈64 MB of raw longs at the default) and conf-tunable for
    // bigger drivers; the bounded collect that decides the route is one
    // cheap scan of the blocks the checkpoint just wrote. Graphs above the
    // cap — the 100 TB regime — run the distributed HashToMin loop
    // unchanged.
    val spark = nodes.sparkSession
    val driverCap = spark.conf.getOption("spark.graft.cc.driverEdgeRows")
      .map(_.toLong).getOrElse(4000000L)
    val longIds =
      sym.schema("src").dataType == org.apache.spark.sql.types.LongType &&
        nodeIds.schema("id").dataType == org.apache.spark.sql.types.LongType
    val driverEdges =
      if (longIds) collectLongPairsUpTo(sym.select(col("src"), col("dst")), driverCap)._2
      else None
    if (driverEdges.isDefined) {
      // r15 job fusion: the edge collect already carries every endpoint,
      // so the touched set is derived from it on the driver instead of a
      // distinct + semi-join + checkpoint round-trip (2 shuffles and 2-3
      // scheduling gaps per CC call, on every lifecycle entry). The
      // endpoint set is bounded by the edge cap; nodes stay distributed —
      // touched = endpoints ∩ nodes via one broadcast semi-join collect,
      // and nodes ∖ touched = nodes ∖ endpoints (touched ⊆ endpoints), so
      // the isolated anti-join is against the same broadcast endpoints.
      import spark.implicits._
      val edges = driverEdges.get
      // src positions only: sym is symmetric, src covers all endpoints.
      // A sorted distinct primitive array is 8 B per endpoint, inside the
      // 16 B/row cap arithmetic a boxed hash set would break
      val eps = sortedDistinct(Array.tabulate(edges.length / 2)(i => edges(2 * i)))
      val epDF = eps.toSeq.toDF("id")
      val touchedIds = nodeIds.join(broadcast(epDF), Seq("id"), "left_semi")
        .as[Long].collect()
      val labels = driverComponents(spark, edges, touchedIds)
      val isolated = nodeIds.join(broadcast(epDF), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("rep"))
      return labels.unionByName(isolated)
        .select(col("id").as(idCol), col("rep"))
    }
    val touched = sym.select(col("src").as("id")).distinct()
      .join(nodeIds, Seq("id"), "left_semi")
      .localCheckpoint()
    var labels = touched.select(col("id"), col("id").as("rep"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // Per round, three monotone improvements per node feed a candidate:
      //   - min over neighbors' reps (the flood step)
      //   - rep(rep) (pointer doubling)
      //   - HUB AGGREGATION: each rep w adopts the min candidate among the
      //     nodes pointing at it, and members re-read it next round via
      //     rep(rep). This is HashToMin's "send my min to my min" — star
      //     contraction, O(log n) rounds. Neighbor-min + doubling ALONE is
      //     NOT enough: the component-min flood advances ~1-2 hops/round at
      //     its frontier (doubling only contracts pointer chains BEHIND the
      //     frontier), and the sf10 image class graph (44k classes, 77k
      //     edges, long hamming chains) measured 1.1k-5.6k labels still
      //     changing at round 24 — CcBenefit caught the resulting silent
      //     divergence because BOTH its sides hit maxIter unconverged.
      // The previous label rides along in the checkpointed frame so the
      // convergence check is a scan of the blocks the checkpoint job just
      // wrote — not a second join against the previous labels.
      val neighborReps = sym
        .join(labels.withColumnsRenamed(Map("id" -> "dst", "rep" -> "nrep")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("nrep")).as("minNeighborRep"))
      val repOfRep = labels
        .select(col("id").as("rep"), col("rep").as("repOfRep"))
      val cand = labels.join(neighborReps, Seq("id"), "left")
        .join(repOfRep, Seq("rep"), "left")
        .select(col("id"), col("rep"),
          least(col("rep"),
            coalesce(col("repOfRep"), col("rep")),
            coalesce(col("minNeighborRep"), col("rep"))).as("cand"))
      val hubMin = cand.groupBy(col("rep").as("hub"))
        .agg(min(col("cand")).as("hubMin"))
      val updated = cand
        .join(hubMin.withColumnsRenamed(Map("hub" -> "rep")), Seq("rep"), "left")
        .join(hubMin.withColumnsRenamed(
          Map("hub" -> "id", "hubMin" -> "selfHubMin")), Seq("id"), "left")
        .select(col("id"),
          least(col("cand"),
            coalesce(col("hubMin"), col("cand")),
            coalesce(col("selfHubMin"), col("cand"))).as("rep"),
          col("rep").as("prevRep"))
      val checkpointed = checkpointFlat(updated)
      val changed = checkpointed.filter(col("rep") =!= col("prevRep")).count()
      labels = checkpointed.select(col("id"), col("rep"))
      converged = changed == 0
      iter += 1
    }
    // an unconverged assignment is silently WRONG (labels are intermediate)
    // — round 12's CcBenefit witness caught exactly this shipping as a
    // warning at sf10. Fail loudly; every caller wants the fixpoint.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: not converged after $maxIter rounds; " +
          "raise maxIter (component diameter exceeds the round budget)")
    // isolated nodes never iterate: one anti-join, rep = id
    val isolated = nodeIds.join(touched, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("rep"))
    labels.select(col("id"), col("rep")).unionByName(isolated)
      .select(col("id").as(idCol), col("rep"))
  }

  /** The small-graph fast path of [[connectedComponents]]: over the
    * already-collected packed edges and touched-node ids, run
    * union-find with path compression on the driver, and label every
    * touched node with its component's MIN id — the exact fixpoint the
    * HashToMin loop converges to, including the induced-subgraph
    * semantics (edges with an endpoint outside `touched` contribute
    * nothing, matching the iterative join's null-label behavior).
    * Duplicate ids collapse to one output row, as the distributed
    * route's distinct touched set does. Returns a local-relation (id, rep)
    * frame over the touched nodes only; the caller unions the isolated
    * remainder distributively.
    */
  private def driverComponents(spark: org.apache.spark.sql.SparkSession,
      edges: Array[Long], touched: Array[Long]): DataFrame = {
    import spark.implicits._
    val ids = sortedDistinct(touched)
    val reps = driverUnionFind(ids, edges)
    ids.indices.map(j => (ids(j), reps(j))).toDF("id", "rep")
  }

  /** Union-find over `ids` (sorted, distinct) and packed (a, b) edges:
    * returns each id's component MIN id, index-aligned with `ids`.
    * Node lookup is a binary search; an edge with an endpoint outside
    * `ids` is skipped. Linking always keeps the smaller index as the root,
    * so a root is its component's minimum.
    */
  private def driverUnionFind(ids: Array[Long], edges: Array[Long]): Array[Long] = {
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    var p = 0
    while (p < edges.length) {
      val si = java.util.Arrays.binarySearch(ids, edges(p))
      val di = java.util.Arrays.binarySearch(ids, edges(p + 1))
      if (si >= 0 && di >= 0) {
        val rs = find(si)
        val rd = find(di)
        if (rs < rd) parent(rd) = rs else if (rd < rs) parent(rs) = rd
      }
      p += 2
    }
    Array.tabulate(ids.length)(i => ids(find(i)))
  }

  /** `a` sorted ascending with duplicates removed (sorts `a` in place). */
  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, n)
  }

  /** Collect a two-Long-column frame as PACKED primitive arrays — one
    * `Array[Long]` of [a0, b0, a1, b1, …] per input partition — so a
    * bounded driver-dispatch collect costs exactly 16 bytes per row on the
    * heap instead of the ~3-6× a boxed `Array[(Long, Long)]` materializes
    * (48+ bytes of Tuple2 + two java.lang.Long per row). This is what
    * makes the documented cap arithmetic honest: 4 M rows = 64 MB.
    */
  private[ext] def collectLongPairs(df: DataFrame): Array[Array[Long]] =
    df.rdd.mapPartitions { it =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator.single(b.result())
    }.collect()

  /** [[collectLongPairs]] as a bounded-collect dispatch: the frame's
    * exact row count, and its packed rows when that count is at most
    * `cap`. One job counts every partition and ships those holding at most
    * their share of the cap (cap / partitions), so a frame over the cap
    * sends at most `cap` rows to the driver; when the total fits, a second
    * job fetches only the partitions that held more than their share
    * (none, for an evenly spread frame).
    */
  private[ext] def collectLongPairsUpTo(df: DataFrame,
      cap: Long): (Long, Option[Array[Long]]) = {
    val rdd = df.rdd
    val share = math.max(1L, cap / math.max(1, rdd.getNumPartitions))
    def pack(it: Iterator[org.apache.spark.sql.Row], limit: Long) = {
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      var n = 0L
      it.foreach { r =>
        n += 1
        if (n <= limit) { b += r.getLong(0); b += r.getLong(1) }
      }
      (n, if (n <= limit) b.result() else null)
    }
    val sc = df.sparkSession.sparkContext
    val first = sc.runJob(rdd, (it: Iterator[org.apache.spark.sql.Row]) => pack(it, share))
    val total = first.map(_._1).sum
    if (total > cap) return (total, None)
    val big = first.indices.filter(first(_)._2 == null)
    val rest = if (big.isEmpty) Array.empty[(Long, Array[Long])]
      else sc.runJob(rdd, (it: Iterator[org.apache.spark.sql.Row]) => pack(it, cap), big)
    (total, Some(first.map(_._2).filter(_ != null).flatten ++ rest.flatMap(_._2)))
  }

  /** Packed (a, b) longs as a two-column local relation. */
  private def localPairs(spark: org.apache.spark.sql.SparkSession,
      packed: Array[Long], a: String, b: String): DataFrame = {
    import spark.implicits._
    Array.tabulate(packed.length / 2)(i => (packed(2 * i), packed(2 * i + 1)))
      .toSeq.toDF(a, b)
  }

  /** Leakage-free train/val/test split: near-duplicate documents must land
    * in the SAME split, or evaluation leaks training data (the classic
    * contamination bug dedup-unaware random splits ship). Documents are
    * grouped into near-dup clusters ([[connectedComponents]] over the pair
    * graph), and the WHOLE CLUSTER is assigned one split by the md5 of its
    * representative id — the engine's deterministic hash-threshold
    * selection (stable across runs, partitionings, engines), with
    * cumulative-fraction thresholds over the given (name, fraction) order.
    * Emits (id, rep, split).
    *
    * Scale shape: the pair graph is whatever generator the caller composed
    * (banded MinHash at corpus scale; exact as the labeled baseline);
    * components are the bounded-iteration min-label propagation; the
    * assignment itself is one hash comparison riding the scan of the
    * (id, rep) frame — no extra shuffle beyond the components' own.
    */
  def leakageFreeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val comps = connectedComponents(df, idCol, pairs)
    // the engine's standard hash-threshold decision (deterministicSample):
    // 8-hex-char md5 prefix against cumulative-fraction thresholds
    val h = substring(md5(col("rep").cast("string").cast("binary")), 1, 8)
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    // last split takes the remainder — no boundary gap from hex rounding
    val assign = splits.init.zip(cum.init).reverse.foldLeft(
      lit(splits.last._1)) { case (els, ((name, _), c)) =>
      when(h < lit(graft.operators.Relational.fractionToHex8(c)), lit(name))
        .otherwise(els)
    }
    comps.select(col(idCol), col("rep"), assign.as("split"))
  }

  /** Exact-dedup before near-dedup: group documents by IDENTICAL shingle
    * set and run pair discovery on one representative per set. In dup-heavy
    * corpora (the normal case for LLM training data) this collapses the
    * hottest candidate buckets — a cluster of k identical documents costs 1
    * row instead of k rows in every bucket and k²/2 verifications. Pairs
    * between identical sets have jaccard exactly 1.0 and are emitted by
    * expansion, never verified.
    *
    * Returns (reps, members): reps = (skey, sh, sh_size) one row per
    * distinct set; members = (skey, id) doc membership.
    */
  private def setRepresentatives(
      df: DataFrame, idCol: String, textCol: String, n: Int): (DataFrame, DataFrame) = {
    val sets = df.repartition(col(idCol))
      .select(col(idCol).as("id"), hashedShingles(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("skey", xxhash64(col("sh")))
    val members = sets.select(col("skey"), col("id"))
    // min_by over an ARRAY value cannot hash-aggregate (variable-width
    // buffer) — the rep collapse is a SortAggregate, and AQE coalesces its
    // post-shuffle side to ONE task at catalog sizes (~1 s of serial
    // array deserialize+sort per call, in EVERY minhash entry; JobProfile
    // q226). An explicit-width repartition on the grouping key pins the
    // aggregate wide — but it also DROPS map-side partial aggregation,
    // which the r14 sf10 A/B measured as a 14% LOSS exactly where member
    // rows collapse 10× (dup-dense corpora). The width is therefore a
    // REGIME DISPATCH on the input's plan-size estimate (zero extra jobs:
    // the scan's sizeInBytes is file metadata): small inputs — where AQE
    // would coalesce the aggregate to one serial task — pin wide; inputs
    // above spark.graft.minhash.repPinMaxBytes (default 16 MB of scan
    // bytes, between the measured ×10 win decade ≈6 MB and the ×100
    // loss decade ≈60 MB of this corpus) keep the AQE-planned shape
    // WITH map-side partial aggregation, which is also the 100 TB
    // default. spark.graft.minhash.repPartitions still overrides both
    // ways: explicit N pins that width always, 0 forces the AQE shape.
    val conf = df.sparkSession.conf
    val repParts = conf.getOption("spark.graft.minhash.repPartitions")
      .map(_.toInt).getOrElse {
        val pinMax = conf.getOption("spark.graft.minhash.repPinMaxBytes")
          .map(_.toLong).getOrElse(16L << 20)
        if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= pinMax)
          df.sparkSession.sparkContext.defaultParallelism
        else 0
      }
    val grouped =
      if (repParts > 0) sets.repartition(repParts, col("skey")) else sets
    val reps = grouped.groupBy(col("skey"))
      .agg(min_by(col("sh"), col("id")).as("sh"))
      .withColumn("sh_size", size(col("sh")))
    (reps, members)
  }

  /** Expand set-level pairs (skey_a, skey_b, jaccard) back to document
    * pairs, plus the intra-group pairs (identical sets, jaccard 1.0).
    * Output ids are ordered id_a < id_b.
    */
  private def expandSetPairs(repPairs: DataFrame, members: DataFrame): DataFrame = {
    val x = members.select(col("skey").as("k1"), col("id").as("xid"))
    val y = members.select(col("skey").as("k2"), col("id").as("yid"))
    val intra = x.join(y, col("k1") === col("k2") && col("xid") < col("yid"))
      .select(col("xid").as("id_a"), col("yid").as("id_b"), lit(1.0).as("jaccard"))
    val cross = repPairs
      .join(x, repPairs("skey_a") === x("k1"))
      .join(y, repPairs("skey_b") === y("k2"))
      .select(
        least(col("xid"), col("yid")).as("id_a"),
        greatest(col("xid"), col("yid")).as("id_b"),
        col("jaccard"))
    cross.unionByName(intra)
  }

  /** Shingle set as a sorted, distinct array<long> of hashes — the compact
    * set representation every pairwise stage runs on. 8 bytes per shingle
    * instead of a ~20-byte string: smaller shuffles; the intersection is a
    * codegen'd two-pointer merge ([[graft.functions.expressions.
    * SortedLongIntersectSize]]); and the whole tokenize+shingle+hash+sort
    * pipeline is ONE native expression ([[graft.functions.expressions.
    * WordShingleHashes]]) instead of an interpreted HOF stack. 64-bit
    * collisions inside one document pair (~|d|²/2⁶⁴) are negligible.
    */
  def hashedShingles(text: Column, n: Int): Column =
    GraftFunctions.wordShingleHashes(text, n)

  /** MinHash + LSH banding: split the signature into `bands` bands of
    * r = numHashes/bands rows; documents sharing any band bucket become
    * candidate pairs; candidates are verified with exact n-gram Jaccard.
    *
    * Probability a pair with true Jaccard j becomes a candidate:
    * 1 - (1 - j^r)^bands — with 64 hashes / 16 bands (r=4) the S-curve
    * crosses ~0.5 at j≈0.5, which suits near-dup thresholds 0.7-0.9.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      verifyThreshold: Double = 0.7): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // One representative per distinct shingle set (identical sets share all
    // bands by construction — they are expanded, not hashed).
    val (reps, members) = setRepresentatives(df, idCol, textCol, n)
    expandSetPairs(
      minhashRepPairs(df, textCol, n, reps, members, numHashes, bands, verifyThreshold),
      members)
  }

  /** Banded-LSH pair discovery over DISTINCT shingle sets: the shared core
    * of [[minhashLshPairs]] (which expands to document pairs) and
    * [[minhashSourceOverlap]] (which aggregates counts without ever
    * materializing a document pair). Emits (skey_a, skey_b, jaccard) with
    * skey_a < skey_b, exact-verified at >= verifyThreshold.
    */
  private def minhashRepPairs(
      df: DataFrame,
      textCol: String,
      n: Int,
      reps: DataFrame,
      members: DataFrame,
      numHashes: Int,
      bands: Int,
      verifyThreshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sig = reps.select(
      col("skey"), col("sh"), col("sh_size"),
      GraftFunctions.minhash(col("sh"), numHashes).as("sig"))
    val withBuckets = sig.withColumn("buckets", transform(
      sequence(lit(0), lit(bands - 1)),
      b => xxhash64(lit("band"), b, array_join(slice(col("sig"), b * r + 1, lit(r)), ","))))
    // The emitted pair set is (shares >= 1 band bucket) AND (exact jaccard
    // >= t) — a commutative conjunction. On tiny-universe corpora (the
    // hot-vocab regime where band buckets flood into tens of millions of
    // candidate rows), evaluate it in the CHEAP order: popcount-verify
    // first (64-bit set masks, ~2 ns, highly selective), band membership
    // second as 16 long compares — over a broadcast nested-loop join of
    // DISTINCT SETS only. No banding explode, no candidate shuffle, no
    // distinct. Identical output by construction. Falls back to the
    // banded equi-join the moment the vocabulary or the distinct-set count
    // outgrows the regime (the only regime where the flood exists at all).
    val tinyPath = smallUniverse(df, textCol, n).flatMap { universe =>
      // distinct-set count gate BEFORE building masks or materializing
      // anything: a rejection costs one key-only counting pass, not a
      // wasted full signature+mask materialization
      if (distinctSetCount(members) > maxBnljSets) None else Some {
        val masked = withBuckets.select(
          col("skey"), col("sh_size"), col("buckets"),
          setMask(col("sh"), universe).as("mask")).localCheckpoint()
        val a = masked.select(col("skey").as("skey_a"), col("sh_size").as("size_a"),
          col("buckets").as("bks_a"), col("mask").as("m_a"))
        val b = masked.select(col("skey").as("skey_b"), col("sh_size").as("size_b"),
          col("buckets").as("bks_b"), col("mask").as("m_b"))
        def inter = bit_count(col("m_a").bitwiseAND(col("m_b")))
        def uni = bit_count(col("m_a").bitwiseOR(col("m_b")))
        def jacM = inter.cast("double") / uni.cast("double")
        a.join(broadcast(b),
          col("skey_a") < col("skey_b") &&
            col("size_b") >= col("size_a") * lit(verifyThreshold) &&
            col("size_a") >= col("size_b") * lit(verifyThreshold) &&
            jacM >= lit(verifyThreshold) &&
            GraftFunctions.firstEqualIndex(col("bks_a"), col("bks_b")) >= lit(0))
          .select(col("skey_a"), col("skey_b"), jacM.as("jaccard"))
      }
    }
    tinyPath.getOrElse {
      // General path: band-bucket equi-join for candidates, exact verify
      // INLINE at each pair's FIRST shared band. The band rows carry the
      // rep's shingle array and its full bucket vector, so a collision row
      // has everything verification needs; the filter keeps a collision
      // only where `band == firstEqualIndex(bks_a, bks_b)` — the smallest
      // shared band — so every candidate pair is verified EXACTLY ONCE and
      // emitted EXACTLY ONCE, with no distinct and no full-set fetch
      // joins. Why this shape: on a near-dup-dense corpus candidates ≈
      // true pairs can reach ~600× the corpus row count (the 10× sf0.1
      // replica has ~30 M pairs from 50 k docs), and the
      // distinct-then-fetch alternative re-ships BOTH full shingle arrays
      // per candidate through two pair-sized hash joins — the array bytes
      // crossing the wire scale with the PAIR count. Here array bytes
      // scale with `bands`·|reps| (the band explode), bounded regardless
      // of pair density, and the only pair-sized stream is the final
      // (skeys, jaccard) output itself. Predicate order matters: the
      // first-band check and the size-compatibility bound (j ≥ t requires
      // t·|a| ≤ |b| ≤ |a|/t) short-circuit ahead of the O(|a|+|b|)
      // intersection, so redundant collisions cost 16 long compares, not
      // an intersection.
      // checkpoint the bucketed quotient ONCE, pre-explode: the self-join
      // otherwise runs the whole tokenize+shingle+minhash+bucket pipeline
      // per side (JobProfile q226: two 13-14 s task-time stages for one
      // pipeline's work). The checkpoint is |distinct sets| rows (sig
      // dropped — only the bucket vector survives banding), so the 16×
      // band duplication stays streaming, never materialized.
      val quotient = withBuckets
        .select(col("skey"), col("sh"), col("sh_size"), col("buckets"))
        .localCheckpoint()
      val banded = quotient
        .select(col("skey"), col("sh"), col("sh_size"), col("buckets"),
          posexplode(col("buckets")))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
      val l = banded.select(col("band"), col("bucket"), col("skey").as("skey_a"),
        col("sh").as("sh_a"), col("sh_size").as("size_a"), col("buckets").as("bks_a"))
      val rgt = banded.select(col("band"), col("bucket"), col("skey").as("skey_b"),
        col("sh").as("sh_b"), col("sh_size").as("size_b"), col("buckets").as("bks_b"))
      def inter = GraftFunctions.sortedIntersectSize(col("sh_a"), col("sh_b"))
      def jac = inter.cast("double") /
        (col("size_a") + col("size_b") - inter).cast("double")
      // shuffle-hash, not sort-merge: the band rows are wide (they carry
      // the shingle array), so sorting both sides would spill ~2× the
      // array bytes; hashing buckets one side per partition instead
      l.join(rgt.hint("shuffle_hash"), Seq("band", "bucket"))
        .filter(col("skey_a") < col("skey_b") &&
          GraftFunctions.firstEqualIndex(col("bks_a"), col("bks_b")) === col("band") &&
          col("size_b") >= col("size_a") * lit(verifyThreshold) &&
          col("size_a") >= col("size_b") * lit(verifyThreshold) &&
          jac >= lit(verifyThreshold))
        .select(col("skey_a"), col("skey_b"), jac.as("jaccard"))
    }
  }

  /** Source-overlap matrix at corpus scale: near-dup pair counts by
    * unordered (source_a, source_b), WITHOUT materializing a single
    * document pair. On a near-dup-dense corpus the pair set is the hot
    * object — at the 10× sf0.1 replica it is ~30 M rows, and composing
    * `overlap = count by source over [[minhashLshPairs]]` drags those 30 M
    * expanded rows through the expansion joins plus two source join-backs
    * (five pair-sized shuffles) only to collapse them into a |sources|²
    * matrix. The matrix is a pure COUNT, and counts factor through the
    * distinct-set quotient: for rep pair (k1, k2),
    *
    *   contribution(s, t) = cnt(k1, s) · cnt(k2, t)
    *
    * where cnt(k, s) = members of set k from source s, and identical-set
    * (intra-skey) pairs contribute cnt·cnt' for s < t and C(cnt, 2) on the
    * diagonal. So: aggregate members to (skey, source, cnt) — bounded by
    * |distinct sets|·|sources|, tiny next to the pair set — join the
    * verified REP pairs (skey_a, skey_b) to it twice (AQE broadcasts the
    * count side), and sum products. The only pair-sized object left is the
    * rep-pair stream itself, 16-byte keys flowing through two broadcast
    * joins into a map-side partial agg — nothing pair-sized ever shuffles.
    * Output is row-identical to counting the expanded pairs.
    */
  def minhashSourceOverlap(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      verifyThreshold: Double = 0.7): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val (reps, members) = setRepresentatives(df, idCol, textCol, n)
    val repPairs =
      minhashRepPairs(df, textCol, n, reps, members, numHashes, bands, verifyThreshold)
    val srcCnt = members
      .join(df.select(col(idCol).as("id"), col(sourceCol).as("src")), Seq("id"))
      .groupBy(col("skey"), col("src"))
      .agg(count(lit(1)).as("cnt"))
    // Identical sets: every unordered member pair within one skey. Same
    // source twice → C(cnt, 2); two sources → cnt·cnt', counted once via
    // src_a <= src_b.
    val ia = srcCnt.select(col("skey"), col("src").as("src_a"), col("cnt").as("cnt_a"))
    val ib = srcCnt.select(col("skey"), col("src").as("src_b"), col("cnt").as("cnt_b"))
    val intra = ia.join(ib, Seq("skey"))
      .filter(col("src_a") <= col("src_b"))
      .select(col("src_a").as("source_a"), col("src_b").as("source_b"),
        when(col("src_a") < col("src_b"), col("cnt_a") * col("cnt_b"))
          // cnt·(cnt−1) is even, so the long cast after Spark's double `/`
          // is exact; keeping w LONG keeps n_pairs the count type
          .otherwise((col("cnt_a") * (col("cnt_a") - 1) / 2).cast("long")).as("w"))
    val cross = repPairs
      .join(srcCnt.select(col("skey").as("skey_a"), col("src").as("src_a"),
        col("cnt").as("cnt_a")), Seq("skey_a"))
      .join(srcCnt.select(col("skey").as("skey_b"), col("src").as("src_b"),
        col("cnt").as("cnt_b")), Seq("skey_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        (col("cnt_a") * col("cnt_b")).as("w"))
    cross.unionByName(intra)
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("w")).as("n_pairs"))
      // the diagonal term is 0 for singleton sources — a cell must only
      // exist where at least one true pair does
      .filter(col("n_pairs") > 0)
  }

  /** Near-dup degree histogram at corpus scale: how many documents have
    * exactly d near-duplicates — the connectivity profile a dedup run
    * reports before choosing a keep policy. Like the source-overlap
    * matrix ([[minhashSourceOverlap]]), this is a pure COUNT over the
    * pair graph, so it folds in the distinct-set QUOTIENT without ever
    * materializing a document pair: degree is CONSTANT across the members
    * of one identical-shingle-set —
    *
    *   degree(doc ∈ k) = (cnt(k) − 1) + Σ_{(k,k2) verified} cnt(k2)
    *
    * (identical-set partners plus every member of every banded-verified
    * neighbor set). The fold is: set sizes (one hash agg), rep-pair
    * neighbor sums (16-byte keys through one join + one agg), then the
    * histogram weights each set's degree by cnt(k). Docs with no shingles
    * and singleton sets with no neighbors land in the degree-0 row via
    * the corpus-total complement. Output is row-identical to counting
    * over the expanded [[minhashLshPairs]] (DedupSpec asserts it); on a
    * dup-dense corpus the expanded form shuffles the pair set three
    * times — this form's largest object is |distinct sets| rows.
    */
  def minhashDegreeHistogram(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      verifyThreshold: Double = 0.7): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val (reps, members) = setRepresentatives(df, idCol, textCol, n)
    val repPairs =
      minhashRepPairs(df, textCol, n, reps, members, numHashes, bands, verifyThreshold)
    val setCnt = members.groupBy(col("skey")).agg(count(lit(1)).as("cnt"))
    val nbr = repPairs.select(col("skey_a").as("skey"), col("skey_b").as("nb"))
      .unionByName(repPairs.select(col("skey_b").as("skey"), col("skey_a").as("nb")))
    val crossDeg = nbr
      .join(setCnt.select(col("skey").as("nb"), col("cnt").as("nb_cnt")), Seq("nb"))
      .groupBy(col("skey")).agg(sum(col("nb_cnt")).as("xdeg"))
    val deg = setCnt.join(crossDeg, Seq("skey"), "left")
      .select((coalesce(col("xdeg"), lit(0L)) + col("cnt") - 1).as("degree"),
        col("cnt"))
    val hist = deg.filter(col("degree") > 0)
      .groupBy(col("degree")).agg(sum(col("cnt")).as("n_docs"))
    // degree-0 complement: corpus total minus paired docs — covers both
    // neighborless singleton sets and docs with no shingles at all
    val paired = deg.filter(col("degree") > 0)
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n"))
    val zero = df.agg(count(lit(1)).as("t")).crossJoin(paired)
      .select(lit(0L).as("degree"), (col("t") - col("n")).as("n_docs"))
    hist.unionByName(zero).filter(col("n_docs") > 0)
  }

  /** Incremental near-dup check — the PRODUCTION dedup shape: pairs
    * (existing_id, incoming_id) with exact n-gram Jaccard >= threshold,
    * candidates from shared MinHash band buckets ACROSS the two frames
    * only. A whole-corpus recompute ([[minhashLshPairs]]) is the bootstrap
    * operation; day-to-day, a 100 TB corpus is deduped incrementally — the
    * existing side's (id, band, bucket) index and shingle sets are
    * materialized once and appended per batch, so each new batch pays
    * |batch| signature passes plus ONE equi-join against the index, never
    * corpus × corpus. Within-batch duplicates are [[minhashLshPairs]] on
    * the (small) batch alone; this operator contributes the cross-batch
    * half.
    *
    * Verify-first contract as everywhere in this file: emitted pairs carry
    * EXACT Jaccard (codegen'd sorted-set intersection), so precision is 1
    * and only candidate RECALL is banding-approximate.
    */
  def minhashLshPairsIncremental(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      verifyThreshold: Double = 0.7): DataFrame = {
    val (repPairs, memE, memI) = minhashRepPairsIncremental(
      existing, incoming, idCol, textCol, n, numHashes, bands, verifyThreshold)
    repPairs
      .join(memE.select(col("skey").as("skey_e"), col("id").as("existing_id")),
        Seq("skey_e"))
      .join(memI.select(col("skey").as("skey_i"), col("id").as("incoming_id")),
        Seq("skey_i"))
      .select(col("existing_id"), col("incoming_id"), col("jaccard"))
  }

  /** MinHash banding of a set-representative frame — ONE definition of the
    * (band, bucket) key shared by the cross-frame incremental join and the
    * persisted index, so an index built today and a recompute tomorrow
    * cannot disagree on a bucket. Output: (skey, sh, sh_size, band,
    * bucket), `bands` rows per distinct set.
    */
  private def bandedKeys(reps: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    reps.select(col("skey"), col("sh"), col("sh_size"),
        GraftFunctions.minhash(col("sh"), numHashes).as("sig"))
      .select(col("skey"), col("sh"), col("sh_size"), posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(lit("band"), b,
          array_join(slice(col("sig"), b * r + 1, lit(r)), ",")))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
  }

  /** Cross-frame banded rep-pair discovery: the shared core of
    * [[minhashLshPairsIncremental]] (expands to document pairs) and
    * [[minhashSourceOverlapIncremental]] (aggregates counts without
    * expansion). Returns (repPairs(skey_e, skey_i, jaccard), memE, memI).
    */
  private def minhashRepPairsIncremental(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      bands: Int,
      verifyThreshold: Double): (DataFrame, DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    GraftFunctions.register(existing.sparkSession)
    // Set-representative collapse PER SIDE (the dup-heavy-corpus rule from
    // [[minhashLshPairs]]): banding, band joins, and verification run over
    // distinct shingle sets; document pairs come back by expansion. On the
    // hot-vocab corpus this is the difference between |distinct-sets|² and
    // |docs|² band-bucket floods.
    val (repsE, memE) = setRepresentatives(existing, idCol, textCol, n)
    val (repsI, memI) = setRepresentatives(incoming, idCol, textCol, n)
    def banded(reps: DataFrame, skeyOut: String, shOut: String, szOut: String) =
      bandedKeys(reps, numHashes, bands).withColumnsRenamed(
        Map("skey" -> skeyOut, "sh" -> shOut, "sh_size" -> szOut))
    val e = banded(repsE, "skey_e", "sh_e", "sz_e")
    val i = banded(repsI, "skey_i", "sh_i", "sz_i")
    // size-compatibility prefilter, then verify BEFORE the distinct (the
    // score-then-distinct shape rule: a pair surfacing from several bands
    // recomputes one cheap codegen'd intersection per occurrence, and the
    // dedup shuffle ships (skeys, jaccard) — never the sets)
    def inter = GraftFunctions.sortedIntersectSize(col("sh_e"), col("sh_i"))
    def jac = inter.cast("double") /
      (col("sz_e") + col("sz_i") - inter).cast("double")
    val repPairs = e.join(i, Seq("band", "bucket"))
      .filter(col("sz_i") >= col("sz_e") * lit(verifyThreshold) &&
        col("sz_e") >= col("sz_i") * lit(verifyThreshold))
      .filter(jac >= lit(verifyThreshold))
      .select(col("skey_e"), col("skey_i"), round(jac, 6).as("jaccard"))
      .distinct()
    (repPairs, memE, memI)
  }

  /** Incremental source-overlap: near-dup pair counts between an incoming
    * batch and the existing corpus, by DIRECTED (source_existing,
    * source_incoming) — the per-batch form of [[minhashSourceOverlap]]'s
    * audit matrix, and the observability a production (incremental) dedup
    * pipeline actually runs: which sources is today's batch copying from?
    * Same count factorization through the per-side distinct-set quotient —
    * contribution(s, t) = cnt_E(k_e, s) · cnt_I(k_i, t) per verified
    * cross rep pair — so nothing pair-sized ever shuffles; no intra term
    * and no least/greatest normalization because the two frames are
    * distinct and the matrix is directed (cross-pairs-only is the
    * incremental contract).
    */
  def minhashSourceOverlapIncremental(
      existing: DataFrame,
      incoming: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      verifyThreshold: Double = 0.7): DataFrame = {
    val (repPairs, memE, memI) = minhashRepPairsIncremental(
      existing, incoming, idCol, textCol, n, numHashes, bands, verifyThreshold)
    def srcCnt(mem: DataFrame, frame: DataFrame, skeyOut: String,
        srcOut: String, cntOut: String) = mem
      .join(frame.select(col(idCol).as("id"), col(sourceCol).as("src")), Seq("id"))
      .groupBy(col("skey").as(skeyOut), col("src").as(srcOut))
      .agg(count(lit(1)).as(cntOut))
    repPairs
      .join(srcCnt(memE, existing, "skey_e", "source_existing", "cnt_e"), Seq("skey_e"))
      .join(srcCnt(memI, incoming, "skey_i", "source_incoming", "cnt_i"), Seq("skey_i"))
      .groupBy(col("source_existing"), col("source_incoming"))
      .agg(sum(col("cnt_e") * col("cnt_i")).as("n_pairs"))
  }

  /** Blocked edit-distance near-dup pairs: levenshtein(a, b) <= maxDist
    * within `blockCol` blocks — the char-level complement to token-set
    * dedup (catches one-char variants Jaccard is blind to; titles, URLs,
    * product names). Two prunes keep the per-block quadratic residue
    * cheap: a length-band prefilter (|len(a)-len(b)| <= maxDist is a
    * necessary condition and costs two ints), then the THRESHOLDED
    * levenshtein (banded DP with early abandon — O(maxDist·len) instead of
    * O(len²), returning -1 above the threshold). Kept pairs carry the true
    * distance, so the output is oracle-identical to an unthresholded
    * computation.
    *
    * The block sides meet in a broadcast hash join, so parallelism comes
    * from the probe side's partitioning (block-key skew does not serialize
    * the work the way a shuffle join would); at cluster scale pick
    * `blockCol` with enough cardinality that the quadratic residue per
    * block stays bounded — blocking controls total comparisons, not just
    * distribution.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, blockCol: Column): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val base = df.select(col(idCol), col(strCol),
      blockCol.as("__blk"), length(col(strCol)).as("__len"))
    // fanOut on the STREAM side: the broadcast join inherits the probe's
    // partitioning, and a small-file scan is one split — q103's
    // levenshtein residue measured 1.1 avg cores of 32 (10.1 s CPU on a
    // 8.9 s wall) before this. No-op when the input already scans wide.
    val a = Multimodal.fanOut(base).select(col("__blk"), col(idCol).as("id_a"),
      col(strCol).as("__sa"), col("__len").as("__la"))
    val b = base.select(col("__blk"), col(idCol).as("id_b"),
      col(strCol).as("__sb"), col("__len").as("__lb"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .filter(abs(col("__la") - col("__lb")) <= maxDist)
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
  }

  /** Directed near-CONTAINMENT pairs: `|A∩B| / |A| ≥ threshold` over
    * n-gram shingle sets — the partial-overlap dup Jaccard under-scores
    * (a short doc quoted whole inside a long one has tiny Jaccard but
    * containment ≈ 1; boilerplate wrappers, quote-reply chains, abstract-
    * in-paper). Directed: (a, b) means a is (nearly) inside b.
    *
    * Scale shape (the [[ngramJaccardPairs]] machinery, adapted to the
    * directed predicate):
    *
    *  1. set-representative collapse ([[setRepresentatives]]) — discovery
    *     runs once per DISTINCT shingle set; identical-set pairs (containment
    *     exactly 1.0, both directions) are emitted by expansion, never
    *     joined;
    *  2. ASYMMETRIC prefix filter: containment ≥ θ needs
    *     `|A∩B| ≥ ⌈θ·|A|⌉`, so in a global rarest-first shingle order the
    *     intersection must touch one of A's first `|A| − ⌈θ·|A|⌉ + 1`
    *     shingles (pigeonhole) as long as B is indexed IN FULL. Only the
    *     contained side is prefix-pruned — a hot boilerplate shingle sits in
    *     nearly no prefix, so the candidate join cost is
    *     Σ_s dfPrefix(s)·df(s) instead of the Σ_s df(s)² flood of a raw
    *     self-joined index;
    *  3. one-sided size prefilter `|B| ≥ θ·|A|` (|A∩B| ≤ |B|) while
    *     candidates are still 8-byte key rows;
    *  4. exact verification (codegen'd sorted-merge intersection) on the
    *     full sets — precision 1 by construction, hash-identical output to
    *     the unfiltered formulation.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0,1]")
    GraftFunctions.register(df.sparkSession)
    val (reps, members) = setRepresentatives(df, idCol, textCol, n)
    val inv = reps.select(col("skey"), col("sh_size"), explode(col("sh")).as("s"))
    // Global rarity order over distinct sets; ties by the shingle hash →
    // total order (the same order [[prefixFilteredSetPairs]] uses).
    val dfreq = inv.groupBy("s").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("skey").orderBy(col("df").asc, col("s").asc)
    // The prefix bound uses the SAME double expression the verify filter
    // compares against (ceil(sh_size·θ) = minimal integer intersection), so
    // prefix pruning can never drop a pair the verifier would keep.
    val prefixA = inv.join(dfreq, Seq("s"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sh_size") - ceil(col("sh_size") * lit(threshold)) + 1)
      .select(col("s"), col("skey").as("skey_a"), col("sh_size").as("sz_a"))
    val fullB = inv.select(col("s"), col("skey").as("skey_b"), col("sh_size").as("sz_b"))
    val candidates = prefixA.join(fullB, Seq("s"))
      .filter(col("skey_a") =!= col("skey_b"))
      .filter(col("sz_b") >= col("sz_a") * lit(threshold)) // |A∩B| ≤ |B|
      .select("skey_a", "skey_b").distinct()
    val full = reps.select(col("skey"), col("sh"), col("sh_size"))
    val verified = candidates
      .join(full.select(col("skey").as("skey_a"), col("sh").as("sh_a"),
        col("sh_size").as("sz_a")), Seq("skey_a"))
      .join(full.select(col("skey").as("skey_b"), col("sh").as("sh_b")), Seq("skey_b"))
      .withColumn("inter", GraftFunctions.sortedIntersectSize(col("sh_a"), col("sh_b")))
      .filter(col("inter") >= col("sz_a") * lit(threshold))
      .select(col("skey_a"), col("skey_b"),
        (col("inter").cast("double") / col("sz_a")).as("containment"))
    // Directed expansion: identical sets contain each other exactly (1.0,
    // BOTH directions); cross pairs keep their (contained, container)
    // orientation — no least/greatest normalization.
    val x = members.select(col("skey").as("k1"), col("id").as("xid"))
    val y = members.select(col("skey").as("k2"), col("id").as("yid"))
    val intra = x.join(y, col("k1") === col("k2") && col("xid") =!= col("yid"))
      .select(col("xid").as("id_a"), col("yid").as("id_b"), lit(1.0).as("containment"))
    val cross = verified
      .join(x, verified("skey_a") === x("k1"))
      .join(y, verified("skey_b") === y("k2"))
      .select(col("xid").as("id_a"), col("yid").as("id_b"), col("containment"))
    cross.unionByName(intra)
  }

  /** Dedup-preserving ingest: the accept-list for merging a new batch into
    * a stored corpus that must stay exactly-deduplicated — the invariant an
    * ingestion pipeline maintains on every append (the reference's
    * anti-join upsert keyed by CONTENT instead of id). A batch row is
    * accepted iff its content hash is absent from the corpus (anti-join on
    * the 16-byte hash — payloads never shuffle) AND it is the batch's own
    * canonical copy (min id per hash — the within-batch exact dedup).
    * Emits `(id, content_hash)` of the accepted rows.
    */
  def dedupIngest(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val exHash = existing
      .select(md5(col(textCol).cast("binary")).as("content_hash")).distinct()
    incoming
      .groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as(idCol))
      .join(exHash, Seq("content_hash"), "left_anti")
      .select(col(idCol), col("content_hash"))
  }

  /** [[editDistancePairs]] with the blocking width AUTO-SELECTED: the
    * caller no longer has to know the corpus to pick the quadratic-cost
    * knob. Candidate blockings are the first `w` whitespace tokens of
    * `strCol` for w in [minWords, maxWords]; ONE probe pass (the
    * [[distinctSetCount]] plan-choice pattern: explode all candidate
    * widths, count per block, Σ c·(c−1)/2 per width — only 8-byte keys
    * shuffle, never the strings) measures each width's quadratic residue,
    * and the NARROWEST width whose residue fits `budgetComparisons` wins
    * (narrow = best recall: a dist≤maxDist pair is only found if it agrees
    * on the block, so widening trades recall for cost — the same contract
    * as the explicit-width form, now bounded instead of hoped). Falls back
    * to `maxWords` when no width fits, with the residue logged.
    */
  def editDistancePairsAuto(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, minWords: Int = 1, maxWords: Int = 4,
      budgetComparisons: Long = 5000000L): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords, "need 1 <= minWords <= maxWords")
    val toks = split(col(strCol), " ")
    def blockAt(w: Int): Column = concat_ws(" ", slice(toks, 1, w))
    val widths = minWords to maxWords
    val resid = df
      .select(posexplode(array(widths.map(w => xxhash64(lit(w), blockAt(w))): _*)))
      .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("c"))
      .groupBy(col("pos")).agg(sum(col("c") * (col("c") - 1)).as("r2"))
      .collect().map(r => widths(r.getInt(0)) -> r.getLong(1) / 2).toMap
    val chosen = widths.find(w => resid.getOrElse(w, 0L) <= budgetComparisons)
      .getOrElse {
        System.err.println(s"editDistancePairsAuto: no width within " +
          s"budget=$budgetComparisons (residues=$resid); using maxWords=$maxWords")
        maxWords
      }
    editDistancePairs(df, idCol, strCol, maxDist, blockAt(chosen))
  }

  /** SimHash: 64-bit signature whose bit i is the sign of Σ_token ±1 over
    * bit i of the token hash. One per-row codegen'd pass
    * ([[graft.functions.expressions.SimHash64]]) — no explode, no shuffle.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.repartition(col(idCol))
      .select(col(idCol).as("id"), GraftFunctions.simhash64(col(textCol)).as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` bits, blocked by 16-bit
    * chunks (pigeonhole: pairs within k bits share at least one of k+1
    * chunks — standard simhash blocking, avoids the all-pairs join).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, budgetPairs: Long = Long.MaxValue): DataFrame =
    hammingPairs64(
      simhash(df, idCol, textCol).select(col("id"), col("simhash").as("sig")),
      maxHamming, budgetPairs)

  /** Hamming-ball pair generation over ANY 64-bit signature frame
    * `(id, sig)`, blocked by 16-bit chunks. Pigeonhole: ≤3 differing
    * bits cannot touch all 4 chunks, so every qualifying pair shares at
    * least one chunk key — the blocked equi-join emits EXACTLY the
    * all-pairs result, not an approximation (q211's brute-force DuckDB
    * oracle checks that equality on the image-dHash instance). ONE
    * blocking definition shared by text SimHash (q28), image dHash
    * ([[Multimodal.imageNearDupPairs]], q211) and audio fingerprints
    * ([[Multimodal.audioNearDupPairs]], q213) so signature families
    * never desynchronize on candidate generation.
    *
    * BUDGET-GOVERNED when a finite `budgetPairs` is passed (the q73/q174
    * contract): the signature frame is `localCheckpoint`ed (one upstream
    * pass — signature derivation may be a whole codec stage — and the
    * pre-flight reads the same blocks as the join), then the EXACT
    * candidate volume Σ_bucket C(n,2) is counted from per-(chunk,key)
    * bucket sizes and the call refuses with
    * [[graft.ext.Similarity.PairBudgetExceededException]] above
    * `budgetPairs`. The budget prices the candidate STREAM, not a
    * materialization OR a distinct-pair count: a pair whose signatures
    * share k chunk keys appears k times in the join stream (up to 4×),
    * so the governor can refuse up to 4× before the distinct-pair
    * volume alone would cross the budget — the safe direction, and the
    * honest one, because the stream is what costs time. The hamming
    * filter runs INSIDE the join's codegen output stream, before the
    * pair-dedup exchange, so candidates cost one xor+popcount each and
    * only surviving pairs shuffle (with the filter after the distinct —
    * the first-draft shape — the 10×-replica image corpus pushed 2.0 B
    * candidate rows into the exchange). 10 B ≈ minutes of stream time
    * (what the catalog entries pass); a corpus over it is either
    * signature-degenerate with quadratic pair OUTPUT (the q213 audio
    * fixture: 973 distinct fingerprints over 50 k docs, max group 844 —
    * 33 B candidates at sf10, and the factored quotient form
    * ([[hammingPairsFactored64]]) is the scale path) or needs per-family
    * bucketing work. planes/tables in the exception report the
    * 4-chunk/1-table blocking. The DEFAULT `Long.MaxValue` keeps the
    * library convention (ngramJaccardPairs, cosineNearDupPairs):
    * ungated calls build a lazy plan with ZERO extra jobs at
    * construction time — no checkpoint, no count.
    */
  def hammingPairs64(sig: DataFrame, maxHamming: Int = 3,
      budgetPairs: Long = Long.MaxValue): DataFrame = {
    require(maxHamming <= 3, "blocking uses 4 x 16-bit chunks => hamming <= 3")
    val sigC = if (budgetPairs < Long.MaxValue) sig.localCheckpoint() else sig
    val chunked = sigC.select(
      col("id"), col("sig"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "key"))
    if (budgetPairs < Long.MaxValue) {
      val candidates = chunked.groupBy(col("chunk"), col("key"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)).as("cand2"))
        .head().getLong(0) / 2
      if (candidates > budgetPairs)
        throw new Similarity.PairBudgetExceededException(candidates, budgetPairs, 4, 1,
          "the count is bucket-candidate STREAM size — a pair sharing k " +
          "chunk keys is counted k times (up to 4x), so refusal can fire " +
          "up to 4x before the distinct-pair volume crosses the budget")
    }
    val l = chunked.select(col("chunk"), col("key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = chunked.select(col("chunk"), col("key"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      // filter BEFORE the pair-dedup exchange: candidates stay in the
      // join's codegen stream; only qualifying pairs shuffle
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** CROSS-FRAME [[hammingPairs64]] — the crawl-cadence form: candidates
    * come from 16-bit chunk keys shared BETWEEN the stored and incoming
    * signature frames, so a batch probe against a corpus-scale signature
    * store pays O(|batch| + matched buckets), never re-pairs the store
    * against itself (the [[minhashLshPairsIncremental]] discipline,
    * applied to the 64-bit signature families: image dHash, audio
    * fingerprint, text SimHash). Emits only (existing_id, incoming_id,
    * hamming) cross pairs within `maxHamming`; the same pigeonhole
    * argument makes the blocked join exactly the all-pairs cross result
    * (q215's brute-force oracle checks it). With a finite budget the
    * pre-flight counts the exact cross-candidate STREAM volume Σ_bucket
    * n_exist·n_inc from the two bucket histograms (a pair sharing k
    * chunks counts k times — the [[hammingPairs64]] stream-pricing rule);
    * the only frames it materializes are the two (≤4·n)-row chunk
    * projections, both already needed for the join. The `Long.MaxValue`
    * default keeps ungated calls lazy (zero jobs at construction).
    */
  def hammingPairsIncremental64(existing: DataFrame, incoming: DataFrame,
      maxHamming: Int = 3, budgetPairs: Long = Long.MaxValue): DataFrame = {
    require(maxHamming <= 3, "blocking uses 4 x 16-bit chunks => hamming <= 3")
    def chunked(df: DataFrame): DataFrame = df.select(
      col("id"), col("sig"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "key"))
    val gated = budgetPairs < Long.MaxValue
    val ce = chunked(if (gated) existing.localCheckpoint() else existing)
    val ci = chunked(if (gated) incoming.localCheckpoint() else incoming)
    if (gated) {
      val candidates = ce.groupBy(col("chunk"), col("key"))
        .agg(count(lit(1)).as("ne"))
        .join(ci.groupBy(col("chunk"), col("key")).agg(count(lit(1)).as("ni")),
          Seq("chunk", "key"))
        .agg(coalesce(sum(col("ne") * col("ni")), lit(0L)).as("cand"))
        .head().getLong(0)
      if (candidates > budgetPairs)
        throw new Similarity.PairBudgetExceededException(candidates, budgetPairs, 4, 1,
          "the count is bucket-candidate STREAM size — a pair sharing k " +
          "chunk keys is counted k times (up to 4x), so refusal can fire " +
          "up to 4x before the distinct-pair volume crosses the budget")
    }
    ce.select(col("chunk"), col("key"), col("id").as("existing_id"), col("sig").as("sig_e"))
      .join(ci.select(col("chunk"), col("key"), col("id").as("incoming_id"), col("sig").as("sig_i")),
        Seq("chunk", "key"))
      .select(col("existing_id"), col("incoming_id"),
        bit_count(col("sig_e").bitwiseXOR(col("sig_i"))).as("hamming"))
      // filter BEFORE the pair-dedup exchange (the hammingPairs64 shape)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // --------------------------------------------------------------------------
  // Persisted 64-bit signature index: the materialized store side of
  // [[hammingPairsIncremental64]] — the third persisted-index family
  // (MinHash sets for text, IVF cells for vectors, chunk-bucketed
  // signatures for perceptual hashes). Day-to-day crawl dedup never
  // re-hashes the corpus: signatures live on disk in the blocking's own
  // layout, every batch pays |batch| signature passes + a bucket-pruned
  // equi-join + one append.
  // --------------------------------------------------------------------------

  /** The NARROW chunk projection (layout v1) shared by the signature
    * index's build, ingest, and probe: 4 rows per signature — (chunk
    * 0..3, key = the chunk's 16 bits, kb = key's top 6 bits, id, sig).
    * `(chunk, kb)` is the index's hive-partition pair (256 dirs), so a
    * probe prunes the store read to the ≤ 4·|batch| buckets the batch
    * actually touches ([[probeBuckets]]). kb is cast to int to match the
    * type hive partition discovery infers on read-back.
    */
  private def sigIndexChunks(sig: DataFrame): DataFrame = sig.select(
    col("id"), col("sig"),
    posexplode(array((0 until 4).map(c =>
      shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
    .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "key"))
    .withColumn("kb", shiftright(col("key"), 10).cast("int"))

  /** The WIDE blocking projection (layout v2 — multi-index hashing,
    * Norouzi & Fleet): 2 blocks of 32 bits per signature instead of 4 of
    * 16. Pigeonhole at maxHamming ≤ 3: some 32-bit half differs by ≤ 1
    * bit, so the PROBE side explodes each incoming signature to the
    * 33-key hamming-1 ball per block ([[sigProbeKeysWide]]) and joins on
    * the EXACT stored key. Candidate collisions per probe fall from
    * 4·n·B/2¹⁶ to 66·n·B/2³² — the ~2000× that keeps the join stream
    * sub-O(n·B) at the second decade, where the 16-bit keyspace
    * saturates ([[SIG_WIDE_BLOCKING_AT]]). Column names match v1 (chunk
    * = block id, key, kb) so ingest/probe/compact and the chunk=0
    * store-count slices are layout-agnostic.
    */
  private def sigIndexChunksWide(sig: DataFrame, kbBits: Int): DataFrame =
    sig.select(
        col("id"), col("sig"),
        posexplode(array(
          col("sig").bitwiseAND(lit(0xFFFFFFFFL)),
          shiftright(col("sig"), 32).bitwiseAND(lit(0xFFFFFFFFL)))))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "key"))
      .withColumn("kb", shiftright(col("key"), 32 - kbBits).cast("int"))

  /** Probe-side ball explosion for the wide layout: per block, the block
    * value itself plus its 32 single-bit flips — 66 slim key rows per
    * incoming signature, each an EXACT lookup into the store's key
    * space.
    */
  private def sigProbeKeysWide(sig: DataFrame, kbBits: Int): DataFrame = {
    def blockVal(b: Int) =
      if (b == 0) col("sig").bitwiseAND(lit(0xFFFFFFFFL))
      else shiftright(col("sig"), 32).bitwiseAND(lit(0xFFFFFFFFL))
    val ball = array((for { b <- 0 until 2; i <- -1 until 32 } yield {
      val k = if (i < 0) blockVal(b) else blockVal(b).bitwiseXOR(lit(1L << i))
      struct(lit(b).as("chunk"), k.as("key"))
    }): _*)
    sig.select(col("id"), col("sig"), explode(ball).as("ck"))
      .select(col("id"), col("sig"),
        col("ck.chunk").as("chunk"), col("ck.key").as("key"))
      .withColumn("kb", shiftright(col("key"), 32 - kbBits).cast("int"))
  }

  /** Store size at which [[buildSignatureIndex]] switches to the wide
    * blocking: the narrow layout's candidate stream grows as 4·n·B/2¹⁶,
    * which SigCcCrossover measured degenerating to O(n) per batch above
    * ~8 M stored signatures (a batch's keys cover the whole 16-bit
    * space); the wide layout's 66·n·B/2³² stays negligible through the
    * billions. The probe-side cost of wide is a constant 16.5× more key
    * rows per incoming signature, so small stores stay narrow.
    */
  val SIG_WIDE_BLOCKING_AT: Long = 4000000L

  /** Hive-bucket width of the wide layout, from the stored count:
    * enough `kb` bits that a bucket holds ~16 k signatures (n/2^kb),
    * clamped to [6, 12] — 128 to 8 192 directories, the adaptive bucket
    * count that keeps O(n/buckets) probes as the store grows.
    */
  private def wideKbBits(n: Long): Int =
    math.min(12, math.max(6,
      math.ceil(math.log(math.max(n, 1L).toDouble / 16384.0) / math.log(2.0)).toInt))

  private def writeSigMeta(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, wide: Boolean, kbBits: Int): Unit = {
    import spark.implicits._
    Seq((wide, kbBits)).toDF("wide", "kb_bits")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/sigmeta")
  }

  /** The layout the index was built with. Meta is written FIRST at build
    * (a crash between meta and sigs leaves a missing-sigs loud error,
    * never a silent cross-layout probe); an index with no sigmeta/
    * predates the wide layout and is narrow by construction.
    */
  private def readSigMeta(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): (Boolean, Int) = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/sigmeta")
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
      (false, 6)
    else {
      // explicit schema: parquet schema inference is its own footer-read
      // job — this 1-row read is on every probe/ingest hot path
      val r = spark.read.schema("wide boolean, kb_bits int")
        .parquet(s"$indexDir/sigmeta").head()
      (r.getBoolean(0), r.getInt(1))
    }
  }

  /** Build the index under `indexDir`: one table `sigs/` holding the
    * blocking projection hive-partitioned by `(chunk, kb)` — the storage
    * layout IS the blocking, so the probe needs no index-side filtering
    * code at all. The layout ADAPTS to the corpus: narrow 4×16-bit
    * chunks below [[SIG_WIDE_BLOCKING_AT]] signatures (cheapest probe at
    * small n), wide 2×32-bit blocks with ball probing above it (the
    * pigeonhole generalization that lifts the 16-bit prune ceiling),
    * with the bucket count growing with n ([[wideKbBits]]). One count
    * pass prices the choice; `repartition` by the partition pair keeps
    * each bucket a contiguous file set.
    */
  def buildSignatureIndex(sig: DataFrame, indexDir: String): Unit = {
    val n = sig.count()
    buildSignatureIndexWithLayout(sig, indexDir,
      wide = n >= SIG_WIDE_BLOCKING_AT, kbBits = wideKbBits(n))
  }

  /** [[buildSignatureIndex]] with the layout forced — the testing/witness
    * entry point (q256 runs the wide layout on the catalog corpus) and
    * the escape hatch for callers who know their growth curve. `kbBits`
    * only applies to the wide layout; narrow keeps its fixed 6.
    */
  def buildSignatureIndexWithLayout(sig: DataFrame, indexDir: String,
      wide: Boolean, kbBits: Int = 6): Unit = {
    // a rebuild in place must not inherit the previous index's delta
    clearDelta(sig.sparkSession, s"$indexDir/sigs")
    writeSigMeta(sig.sparkSession, indexDir, wide, kbBits)
    // `key` is NOT stored: it is a pure function of (sig, chunk) under
    // either layout, so the store keeps only (id, sig) per bucket row —
    // one less column writer per bucket file, 8 fewer bytes per row
    // through the write exchange and every store scan; the probe
    // re-derives it ([[storedKey]]) with the partition column, keeping
    // the (chunk, kb, key) equi-join and its bucket pruning unchanged
    val proj =
      if (wide) sigIndexChunksWide(sig, kbBits) else sigIndexChunks(sig)
    proj.select(col("id"), col("sig"), col("chunk"), col("kb"))
      .repartition(indexWritePartitions(proj.sparkSession),
        col("chunk"), col("kb"))
      .write.mode("overwrite").partitionBy("chunk", "kb")
      .parquet(s"$indexDir/sigs")
  }

  /** The stored bucket row's blocking key, re-derived from (sig, chunk):
    * narrow = the chunk-th 16-bit slice, wide = the chunk-th 32-bit
    * block — bit-identical to what the write-side projection computed.
    */
  private def storedKey(wide: Boolean): Column =
    if (wide)
      expr("CASE WHEN chunk = 0 THEN sig & 4294967295 " +
        "ELSE shiftright(sig, 32) & 4294967295 END")
    else expr("shiftright(sig, chunk * 16) & 65535")

  /** Append a batch's signatures into the index (no rebuild): the same
    * blocking projection the index was built with (layout read back from
    * sigmeta/), appended to the unpartitioned level-0 delta `sigs_delta/`
    * with `chunk` and `kb` as data columns — one file per write task,
    * where an append into the bucket layout created one file per touched
    * bucket (~145 for a 50-row batch). Every read unions the delta in
    * ([[readSigs]]); [[signatureIndexCompact]] folds it into the buckets.
    * Replayed appends create bit-identical duplicate rows — harmless to
    * probes (pair output is distinct) and removed by compaction, the
    * IVF-ingest convention.
    */
  def signatureIndexIngest(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, incoming: DataFrame): Unit = {
    val (wide, kbBits) = readSigMeta(spark, indexDir)
    signatureIndexIngestWithLayout(spark, indexDir, incoming, wide, kbBits)
  }

  private def signatureIndexIngestWithLayout(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      incoming: DataFrame, wide: Boolean, kbBits: Int): Unit =
    CompactionLease.guardedAppend(spark, indexDir) {
      (if (wide) sigIndexChunksWide(incoming, kbBits)
       else sigIndexChunks(incoming))
        .select(col("id"), col("sig"), col("chunk"), col("kb"))
        .write.mode("append").parquet(s"$indexDir/sigs_delta")
    }

  /** Probe a batch against the index: equi-join on `(chunk, kb, key)`
    * against the buckets the batch's keys fall in plus the level-0
    * delta, so per-batch cost is O(|batch| + matched buckets + delta),
    * independent of store size. The bucket list is STATIC
    * ([[probeBuckets]], one small job over the batch's signatures): it
    * lands in the `sigs/` scan's PartitionFilters. Dynamic partition
    * pruning cannot be relied on for this — it needs a selective
    * predicate visible on the batch side, and a checkpointed or projected
    * crawl batch has none, so the store scan read every bucket. The batch
    * side uses whichever projection matches the stored layout: narrow
    * chunks join radius-0 (pairs within hamming 3 share an exact 16-bit
    * chunk), wide blocks join the incoming side's hamming-1 ball (pairs
    * within hamming 3 share a 32-bit block within 1 bit —
    * [[sigProbeKeysWide]]). Output contract of
    * [[hammingPairsIncremental64]]: (existing_id, incoming_id, hamming ≤
    * maxHamming) cross pairs, hamming filtered INSIDE the join stream
    * before the pair-dedup exchange. Row-identical to the direct
    * in-memory recompute over the same stored signatures under EITHER
    * layout (q217 narrow, q256 wide).
    */
  def signatureIndexProbe(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, incoming: DataFrame, maxHamming: Int = 3): DataFrame = {
    val (wide, kbBits) = readSigMeta(spark, indexDir)
    probeAgainstIndex(spark, indexDir, incoming, maxHamming, wide, kbBits)
  }

  /** [[signatureIndexProbe]] for a known layout: the batch's bucket list
    * comes from one job over its signatures (≤ 4·2^kbBits bits back). */
  private def probeAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, incoming: DataFrame, maxHamming: Int, wide: Boolean,
      kbBits: Int): DataFrame = {
    val buckets = incoming.select(col("sig")).filter(col("sig").isNotNull).rdd
      .mapPartitions(it =>
        Iterator.single(probeBuckets(it.map(_.getLong(0)), wide, kbBits)))
      .collect()
      .foldLeft(new java.util.BitSet())((a, b) => { a.or(b); a })
    signatureProbeStream(spark, indexDir, incoming, maxHamming, wide, kbBits,
      buckets).distinct()
  }

  /** The store buckets a batch's probe keys fall in, as a bit set over
    * `chunk · 2^kb-width + kb` — the driver twin of the probe-side
    * projections: narrow = each 16-bit chunk's top 6 bits; wide = each
    * 32-bit block's top `kbBits` bits, plus every single-bit flip of them
    * (the hamming-1 ball only moves `kb` when it flips one of its bits).
    */
  private def probeBuckets(sigs: Iterator[Long], wide: Boolean,
      kbBits: Int): java.util.BitSet = {
    val out = new java.util.BitSet()
    sigs.foreach { sig =>
      if (wide) (0 until 2).foreach { b =>
        val kb = (((sig >> (32 * b)) & 0xFFFFFFFFL) >>> (32 - kbBits)).toInt
        out.set((b << kbBits) + kb)
        (0 until kbBits).foreach(j => out.set((b << kbBits) + (kb ^ (1 << j))))
      }
      else (0 until 4).foreach { c =>
        out.set((c << 6) + (((sig >> (16 * c)) & 0xFFFFL) >>> 10).toInt)
      }
    }
    out
  }

  /** The partition predicate selecting `buckets` ([[probeBuckets]]):
    * one `chunk = c AND kb IN (…)` disjunct per touched chunk. */
  private def bucketFilter(buckets: java.util.BitSet, wide: Boolean,
      kbBits: Int): Column = {
    val width = if (wide) kbBits else 6
    val perChunk = (0 until (if (wide) 2 else 4)).flatMap { c =>
      val kbs = (0 until (1 << width)).filter(kb => buckets.get((c << width) + kb))
      if (kbs.isEmpty) None
      else Some(col("chunk") === c && col("kb").isin(kbs: _*))
    }
    perChunk.reduceOption(_ || _).getOrElse(lit(false))
  }

  /** The probe join before its pair-dedup exchange: a pair sharing k
    * blocking keys appears k times. */
  private def signatureProbeStream(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      incoming: DataFrame, maxHamming: Int, wide: Boolean, kbBits: Int,
      buckets: java.util.BitSet): DataFrame = {
    require(maxHamming <= 3,
      "blocking covers hamming <= 3 (4 x 16-bit chunks / 2 x 32-bit ball)")
    val store = readSigs(spark, indexDir)
      .filter(bucketFilter(buckets, wide, kbBits))
      .select(col("chunk"), col("kb"), storedKey(wide).as("key"),
        col("id").as("existing_id"), col("sig").as("sig_e"))
    (if (wide) sigProbeKeysWide(incoming, kbBits)
     else sigIndexChunks(incoming))
      .select(col("chunk"), col("kb"), col("key"),
        col("id").as("incoming_id"), col("sig").as("sig_i"))
      .join(store, Seq("chunk", "kb", "key"))
      .select(col("existing_id"), col("incoming_id"),
        bit_count(col("sig_e").bitwiseXOR(col("sig_i"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Compact the signature index: crawl-cadence ingests accumulate one
    * delta file per batch plus replayed duplicate rows; one rewrite of
    * base ∪ delta dedupes and re-clusters each bucket into a single file
    * set via a sibling `_compacting` dir and a rename swap, and only then
    * deletes the delta (a crash in between leaves bit-identical
    * duplicates, which reads tolerate). Probe results identical
    * before/after (q218 drives the witness).
    */
  def signatureIndexCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    CompactionLease.withLease(spark, indexDir) {
      signatureIndexCompactUnleased(spark, indexDir)
    }

  private def signatureIndexCompactUnleased(
      spark: org.apache.spark.sql.SparkSession, indexDir: String): Unit = {
    val tmp = s"$indexDir/sigs_compacting"
    readSigs(spark, indexDir).dropDuplicates()
      .repartition(indexWritePartitions(spark), col("chunk"), col("kb"))
      .write.mode("overwrite").partitionBy("chunk", "kb").parquet(tmp)
    swapIn(spark, tmp, s"$indexDir/sigs")
    clearDelta(spark, s"$indexDir/sigs")
  }

  /** The COUNT-FACTORED form of [[hammingPairs64]] — the scale path for
    * duplicate-heavy corpora (the q144 source-overlap trick applied to
    * hamming balls): collapse to the DISTINCT-signature quotient first
    * (`(sig, n)` — bounded by signature entropy, not corpus size), run
    * the same 16-bit-chunk blocking over the quotient, and emit pair
    * MASS instead of pairs: `(sig_a, sig_b, hamming, n_pairs)` with
    * `n_a·n_b` for cross-signature rows and `C(n,2)` identical-signature
    * rows (`sig_a = sig_b`, hamming 0). Σ n_pairs equals the row count
    * [[hammingPairs64]] would emit, but the output is
    * O(distinct² within the ball), never corpus-quadratic — the audio
    * fixture's 973-signature quotient makes this frame constant-size
    * while the expanded form grows n². No member ids: expansion back to
    * ids is a join against the quotient's member table, priced only when
    * a consumer actually wants the pairs.
    */
  def hammingPairsFactored64(sig: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "blocking uses 4 x 16-bit chunks => hamming <= 3")
    val groups = sig.groupBy(col("sig")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val chunked = groups.select(
      col("sig"), col("n"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "key"))
    val l = chunked.select(col("chunk"), col("key"), col("sig").as("sig_a"), col("n").as("n_a"))
    val r = chunked.select(col("chunk"), col("key"), col("sig").as("sig_b"), col("n").as("n_b"))
    val cross = l.join(r, Seq("chunk", "key"))
      .filter(col("sig_a") < col("sig_b"))
      .select(col("sig_a"), col("sig_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"),
        (col("n_a") * col("n_b")).as("n_pairs"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val within = groups.filter(col("n") > 1)
      .select(col("sig").as("sig_a"), col("sig").as("sig_b"),
        lit(0).as("hamming"), expr("n * (n - 1) DIV 2").as("n_pairs"))
    cross.unionByName(within)
  }

  /** Connected components over a 64-bit signature frame `(id, sig)` by
    * hamming ball — the EXACT quotient of [[hammingPairs64]] +
    * [[connectedComponents]]: identical signatures collapse to one class
    * (rep = min member id) BEFORE pair generation, CC runs on the
    * class graph, and members expand back at the end. Equivalence: the
    * expanded pair graph is precisely the blow-up of the class graph
    * (hamming is a function of the signatures, so every member of class
    * A pairs with every member of class B iff the classes are within
    * `maxHamming`), components correspond one-to-one, and min-id reps
    * agree (min over a cluster's classes of each class's min member =
    * the cluster's global min). Cost: CC joins scale with CLASS-graph
    * edges, not the C(k,2)-per-class expanded multigraph — at the 100×
    * image replica the expanded graph is 17.3 M pairs while the class
    * graph is ~10⁴ edges, which is the difference between ~25 s and
    * sub-second per pointer-doubling round. Emits (id, rep).
    */
  def signatureComponents(sig: DataFrame, maxHamming: Int = 3,
      budgetPairs: Long = Long.MaxValue, maxIter: Int = 20): DataFrame = {
    // one pass over the (possibly codec-derived) signature frame serves
    // class collapse, pair generation, and the final expansion join. A
    // frame whose plan root is ALREADY a materialized checkpoint (every
    // lifecycle caller hands one in) is reused as-is — re-checkpointing
    // it would be one full copy job per call for nothing.
    val sigC = if (isCheckpointRoot(sig)) sig else sig.localCheckpoint()
    val classes = sigC.groupBy(col("sig")).agg(min(col("id")).as("cid"))
      .localCheckpoint()
    val classPairs = hammingPairs64(
      classes.select(col("cid").as("id"), col("sig")), maxHamming, budgetPairs)
    val comp = connectedComponents(
      classes.select(col("cid").as("id")), "id", classPairs, maxIter)
      .withColumnsRenamed(Map("id" -> "cid"))
    sigC.join(classes, Seq("sig"))
      .join(comp, Seq("cid"))
      .select(col("id"), col("rep"))
  }

  // --------------------------------------------------------------------------
  // Persisted MinHash dedup index: the materialized form of
  // [[minhashLshPairsIncremental]]'s existing side. Day-to-day dedup of a
  // 100-TB corpus never re-shingles the corpus — the signatures live on
  // disk; every crawl batch pays |batch| signature passes, one equi-join
  // against the banded index, and one append.
  // --------------------------------------------------------------------------

  /** Build the index under `indexDir`, three tables: `sets/` (skey, sh,
    * sh_size — each DISTINCT shingle set once, the exact-verify payload),
    * `bands/` (skey, band, bucket — `bands` slim rows per set, the
    * candidate-join side; sets are NOT duplicated per band), `members/`
    * (skey, id — the expansion back to document ids). The banding is the
    * ONE shared [[bandedKeys]] definition, so index probes and full
    * recomputes agree bucket-for-bucket.
    */
  def buildDedupIndex(corpus: DataFrame, idCol: String, textCol: String,
      indexDir: String, n: Int = 3, numHashes: Int = 64, bands: Int = 16): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    GraftFunctions.register(corpus.sparkSession)
    val (reps0, members0) = setRepresentatives(corpus, idCol, textCol, n)
    // checkpoint the set quotient ONCE: the three table writes previously
    // each re-ran the whole tokenize+shingle+collapse pipeline (three
    // corpus passes per build — §2.4 redundant subtrees); now the corpus
    // is shingled twice (reps + members share the pass only up to the
    // collapse) and the writes scan the checkpointed quotients
    val reps = reps0.localCheckpoint()
    val members = members0.localCheckpoint()
    bandedKeys(reps, numHashes, bands).select("skey", "band", "bucket")
      .write.mode("overwrite").parquet(s"$indexDir/bands")
    reps.select("skey", "sh", "sh_size")
      .write.mode("overwrite").parquet(s"$indexDir/sets")
    members.write.mode("overwrite").parquet(s"$indexDir/members")
  }

  /** Append a batch into the index (no rebuild): the batch's distinct sets
    * band with the same [[bandedKeys]] definition and append to all three
    * tables. Sets already present under another document id are appended
    * as duplicate skey rows — harmless for candidate generation (the
    * verify is exact and the pair distinct dedupes) but batches should be
    * deduped against the index FIRST ([[minhashLshPairsAgainstIndex]]),
    * which is the point of having one.
    */
  def dedupIndexIngest(incoming: DataFrame, idCol: String, textCol: String,
      indexDir: String, n: Int = 3, numHashes: Int = 64, bands: Int = 16): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    GraftFunctions.register(incoming.sparkSession)
    CompactionLease.guardedAppend(incoming.sparkSession, indexDir) {
      // the buildDedupIndex one-pass rule: without the checkpoints the
      // three appends each re-run the batch's shingle pipeline
      val (reps0, members0) = setRepresentatives(incoming, idCol, textCol, n)
      val reps = reps0.localCheckpoint()
      val members = members0.localCheckpoint()
      bandedKeys(reps, numHashes, bands).select("skey", "band", "bucket")
        .write.mode("append").parquet(s"$indexDir/bands")
      reps.select("skey", "sh", "sh_size")
        .write.mode("append").parquet(s"$indexDir/sets")
      members.write.mode("append").parquet(s"$indexDir/members")
    }
  }

  /** Dedup a batch AGAINST the persisted index: row-identical to
    * [[minhashLshPairsIncremental]](corpus, batch) — same banding, same
    * size-compatibility prefilter, same exact-jaccard verify, same
    * (existing_id, incoming_id, jaccard) contract — but the corpus side is
    * three index reads instead of a corpus recompute. The candidate join
    * ships only (skey, band, bucket) rows; the full sets are fetched BY
    * SKEY for the ≤ candidate-count verify joins.
    *
    * REGIME DISPATCH (measured, tools/IndexBenefit at the 10× replica):
    * the probe wins at crawl cadence (0.1%-of-corpus batch: 4.4× faster
    * than recompute — candidates touch few corpus sets, so the verify
    * decodes a sliver of `sets/`) but LOSES at bulk cadence (10% batch:
    * 3.9× SLOWER — candidates touch nearly every corpus set and decoding
    * corpus-scale `array<long>` shingle parquet costs more than
    * re-shingling the corpus text does). Pass the corpus frame as
    * `corpusForBulk` and the call pre-flights the batch/corpus doc-count
    * ratio (one count of the incoming frame + one slim `members/` scan),
    * routing batches above `bulkDispatchRatio` to the
    * [[minhashLshPairsIncremental]] recompute — output row-identical
    * either way (q205's invariant), choice logged. With the default
    * `corpusForBulk = None` no dispatch happens — the streaming sinks
    * call at crawl cadence every batch and must not pay a members-scan
    * per micro-batch. Undispatched BULK misuse is not silent, though: on
    * an exponential-backoff schedule (calls 1, 2, 4, 8, … per index per
    * process — O(log calls) slim pre-flights, so the crawl path stays
    * effectively free) the call still measures the batch/index doc
    * ratio and WARNS once, naming the measured 6.6× penalty, when a
    * bulk-sized batch is probed without the dispatcher.
    */
  def minhashLshPairsAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, incoming: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      verifyThreshold: Double = 0.7,
      corpusForBulk: Option[DataFrame] = None,
      bulkDispatchRatio: Double = 0.02): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    GraftFunctions.register(spark)
    val bulkRoute: Option[DataFrame] = corpusForBulk.flatMap { corpus =>
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      val incomingDocs = incoming.count()
      val indexDocs = spark.read.parquet(s"$indexDir/members").count()
      if (incomingDocs > bulkDispatchRatio * indexDocs) {
        log.info(s"dedup-index dispatch: BULK batch ($incomingDocs docs vs " +
          s"$indexDocs indexed, ratio > $bulkDispatchRatio) — routing to " +
          "direct recompute (minhashLshPairsIncremental); the index probe " +
          "is measured slower in this regime")
        Some(minhashLshPairsIncremental(corpus, incoming, idCol, textCol,
          n, numHashes, bands, verifyThreshold))
      } else {
        log.info(s"dedup-index dispatch: crawl-cadence batch ($incomingDocs " +
          s"docs vs $indexDocs indexed) — probing the persisted index")
        None
      }
    }
    if (bulkRoute.isDefined) return bulkRoute.get
    if (corpusForBulk.isEmpty) warnOnUndispatchedBulk(spark, indexDir,
      incoming, bulkDispatchRatio)
    val idxBands = spark.read.schema("skey bigint, band int, bucket bigint")
      .parquet(s"$indexDir/bands")
      .withColumnsRenamed(Map("skey" -> "skey_e"))
    val idxSets = spark.read
      .schema("skey bigint, sh array<bigint>, sh_size int")
      .parquet(s"$indexDir/sets")
      .select(col("skey").as("skey_e"), col("sh").as("sh_e"), col("sh_size").as("sz_e"))
      .dropDuplicates("skey_e") // ingest may append duplicate set rows
    val idxMembers = spark.read.parquet(s"$indexDir/members")
      .select(col("skey").as("skey_e"), col("id").as("existing_id")).distinct()
    val (repsI, memI) = setRepresentatives(incoming, idCol, textCol, n)
    val i = bandedKeys(repsI, numHashes, bands).withColumnsRenamed(
      Map("skey" -> "skey_i", "sh" -> "sh_i", "sh_size" -> "sz_i"))
    // candidate skey pairs from shared buckets — slim rows only, then the
    // verify fetches each side's set once per surviving candidate
    val candKeys = idxBands.join(
        i.select(col("skey_i"), col("band"), col("bucket")), Seq("band", "bucket"))
      .select(col("skey_e"), col("skey_i")).distinct()
    def inter = GraftFunctions.sortedIntersectSize(col("sh_e"), col("sh_i"))
    def jac = inter.cast("double") /
      (col("sz_e") + col("sz_i") - inter).cast("double")
    val repPairs = candKeys
      .join(idxSets, Seq("skey_e"))
      .join(repsI.select(col("skey").as("skey_i"), col("sh").as("sh_i"),
        col("sh_size").as("sz_i")), Seq("skey_i"))
      .filter(col("sz_i") >= col("sz_e") * lit(verifyThreshold) &&
        col("sz_e") >= col("sz_i") * lit(verifyThreshold))
      .filter(jac >= lit(verifyThreshold))
      .select(col("skey_e"), col("skey_i"), round(jac, 6).as("jaccard"))
    repPairs
      .join(idxMembers, Seq("skey_e"))
      .join(memI.select(col("skey").as("skey_i"), col("id").as("incoming_id")),
        Seq("skey_i"))
      .select(col("existing_id"), col("incoming_id"), col("jaccard"))
  }

  /** Per-(process, index) probe-call counter driving the backoff schedule
    * of [[warnOnUndispatchedBulk]]; visible for the spec's log assertion.
    */
  private[graft] val probeCallCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private[graft] val bulkWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Guard against SILENT bulk-cadence probe misuse when the caller did
    * not hand over `corpusForBulk`: on probe calls 1, 2, 4, 8, … per
    * index per process, pre-flight the batch/index doc-count ratio (one
    * count of the incoming frame + one footer-metadata count of
    * `members/`) and WARN — once per index — when the batch is in the
    * bulk regime the dispatcher would have routed away from. The backoff
    * keeps the crawl sinks' per-micro-batch cost at zero beyond
    * O(log batches) slim jobs over the process lifetime, while a
    * steadily-misused bulk caller is caught on its first call.
    */
  private def warnOnUndispatchedBulk(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, incoming: DataFrame, bulkDispatchRatio: Double): Unit = {
    val calls = probeCallCounts
      .computeIfAbsent(indexDir, _ => new java.util.concurrent.atomic.AtomicLong())
      .incrementAndGet()
    if ((calls & (calls - 1)) != 0 || bulkWarned.contains(indexDir)) return
    val incomingDocs = incoming.count()
    val indexDocs = spark.read.parquet(s"$indexDir/members").count()
    if (incomingDocs > bulkDispatchRatio * indexDocs && bulkWarned.add(indexDir))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedup-index probe at BULK cadence without dispatch: the batch " +
          s"($incomingDocs docs) exceeds $bulkDispatchRatio of the indexed " +
          s"corpus ($indexDocs docs). The index probe is measured ~6.6x " +
          "SLOWER than the direct recompute in this regime " +
          "(tools/IndexBenefit, BASELINE round 12) — pass corpusForBulk " +
          "to minhashLshPairsAgainstIndex/dedupComponentsIngest to enable " +
          "the regime dispatcher.")
  }

  /** Compact the index in place: every [[dedupIndexIngest]] appends a small
    * file set per table and may duplicate set/band rows (a re-ingested
    * shingle set lands again under a new document id) — at crawl cadence
    * that is the classic small-files problem plus candidate-join
    * amplification. Compaction rewrites each table once: duplicate rows
    * dropped (sets by skey — the payload is identical by construction;
    * bands and members by full row) and the layout re-bounded to
    * `targetPartitions` files (defaultParallelism when 0). Rewrites go to
    * a sibling `_compacting` dir then swap in via the backup-rename
    * [[swapIn]], so a crash never leaves a table that cannot be recovered
    * (mid-swap the old data survives at `_backup`). Compaction must NOT
    * run concurrently with the indexed ingest sinks: an append landing
    * between the compactor's read and its swap is dropped with the old
    * dir. That contract is now ENFORCED, not just documented: every
    * compactor holds the [[CompactionLease]] exclusive marker and every
    * ingest append pre/post-checks it — a concurrent append fails
    * loudly with a retry instruction instead of silently vanishing
    * (CompactionSpec drives the witness). Probe results are
    * IDENTICAL before and after (q206 drives the witness): the probe
    * already dropDuplicates/distincts these tables on read — compaction
    * moves that work out of every future probe.
    */
  def dedupIndexCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, targetPartitions: Int = 0): Unit =
    CompactionLease.withLease(spark, indexDir) {
      dedupIndexCompactUnleased(spark, indexDir, targetPartitions)
    }

  private def dedupIndexCompactUnleased(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, targetPartitions: Int): Unit = {
    val parts = if (targetPartitions > 0) targetPartitions
      else spark.sparkContext.defaultParallelism
    def one(table: String, dedup: DataFrame => DataFrame): Unit = {
      val tmp = s"$indexDir/${table}_compacting"
      dedup(spark.read.parquet(s"$indexDir/$table")).repartition(parts)
        .write.mode("overwrite").parquet(tmp)
      swapIn(spark, tmp, s"$indexDir/$table")
    }
    one("sets", _.dropDuplicates("skey"))
    one("bands", _.distinct())
    one("members", _.distinct())
  }

  // --------------------------------------------------------------------------
  // Persisted connected-components index: the materialized form of
  // [[signatureComponents]]. Dedup clustering of a 100-TB corpus never
  // re-runs corpus-scale CC — the assignment lives on disk as a lazy
  // union-find: an append-only `comps/` table of (id, rep-at-append-time)
  // rows plus a TINY append-only `merges/` table of (old_rep, new_rep)
  // union events, resolved at read time through one broadcast joined
  // flattened map. Every crawl batch pays O(|batch|) work: one
  // bucket-pruned probe against the co-located signature index, CC over
  // the CONTRACTED graph (batch classes x touched corpus reps — a few
  // rows, never the corpus), one comps append, and one merges append.
  // Compaction folds merges into comps and clears them.
  // --------------------------------------------------------------------------

  /** comps/ is hive-partitioned by `ib = pmod(id, COMP_BUCKETS)` so the
    * ingest's rep-lookup of probe-matched existing ids prunes to matched
    * buckets instead of scanning the corpus-scale assignment.
    */
  private[ext] val COMP_BUCKETS = 64

  /** The one writer shape for every comps/ write: hash-repartitioned to
    * EXACTLY one task per `ib` bucket before the partitioned write.
    * Without it the small-store writes arrive AQE-coalesced to a single
    * task that creates all 64 bucket files SERIALLY — measured 1.7-2.0 s
    * per write on the q223 lifecycle (JobProfile: 1-task WriteFiles jobs),
    * pure file-open latency. The explicit partition count pins one file
    * per bucket directory at any store size (bucket-parallel writes;
    * COMP_BUCKETS is the same knob that bounds the lookup's pruning, so a
    * store wanting wider writes raises both together).
    */
  private def writeComps(assign: DataFrame, path: String, mode: String): Unit =
    assign.withColumn("ib", pmod(col("id"), lit(COMP_BUCKETS)))
      .repartition(indexWritePartitions(assign.sparkSession), col("ib"))
      .write.mode(mode).partitionBy("ib").parquet(path)

  /** Append assignment rows to the level-0 delta `comps_delta/`:
    * unpartitioned, `ib` a data column, one file per write task — the
    * bucketed append it replaces created one file per touched `ib`.
    */
  private def appendCompsDelta(assign: DataFrame, indexDir: String): Unit =
    assign.select(col("id"), col("rep"),
        pmod(col("id"), lit(COMP_BUCKETS)).cast("int").as("ib"))
      .write.mode("append").parquet(s"$indexDir/comps_delta")

  /** Write parallelism for every hive-bucketed index layout (comps/ ib,
    * sigs/ chunk-kb, IVF/PQ cell): an EXPLICIT partition count so AQE
    * cannot coalesce a small store's write onto one task that then
    * creates every bucket file SERIALLY (measured 1.7-2.0 s per write at
    * 64-256 dirs on the q223 lifecycle — pure file-create latency, the
    * dominant cost of the small-store index entries). Hash-partitioning
    * on the bucket columns keeps each bucket in exactly one task — one
    * file per directory per write at ANY count — and the default
    * (defaultParallelism = the cluster's write-throughput bound) is
    * scale-adaptive, not a local constant; `spark.graft.index.
    * writePartitions` overrides for stores whose rewrites want finer
    * tasks.
    */
  private[ext] def indexWritePartitions(
      spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.index.writePartitions").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** Build the index under `indexDir`, three tables: `sigs/` (the
    * [[buildSignatureIndex]] chunk/key-bucket layout — probes co-located
    * with the assignment), `comps/` ((id, rep) — [[signatureComponents]]
    * over the corpus, hive-partitioned by id bucket), `merges/` (empty;
    * grows one slim row per component-union event at ingest).
    */
  def buildComponentsIndex(sig: DataFrame, indexDir: String,
      maxHamming: Int = 3, budgetPairs: Long = Long.MaxValue): Unit = {
    // one pass over the (possibly codec-derived) signature frame serves
    // both the signature index and the CC build. The two legs consume the
    // same checkpointed frame and write DISJOINT tables, so they run as
    // concurrent jobs (guide §2.6) — the CC leg's driver-sequential gaps
    // backfill with the signature leg's write tasks. merges/ still lands
    // LAST: its presence is what marks the index complete, and both
    // orderings of a crashed build leave a loudly-missing table.
    val sigC = sig.select(col("id"), col("sig")).localCheckpoint()
    clearDelta(sigC.sparkSession, s"$indexDir/comps")
    val sigLeg = concurrently { buildSignatureIndex(sigC, indexDir) }
    try writeComps(signatureComponents(sigC, maxHamming, budgetPairs),
      s"$indexDir/comps", "overwrite")
    finally sigLeg.await()
    emptyMerges(sigC.sparkSession)
      .write.mode("overwrite").parquet(s"$indexDir/merges")
  }

  /** Run one side job on a private thread so two independent Spark
    * actions overlap (guide §2.6 — the FIFO scheduler backfills the
    * other job's driver gaps). `await` rethrows the leg's failure.
    */
  private[graft] final class Leg(body: () => Unit) {
    private val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    private val t = new Thread(() =>
      try body() catch { case e: Throwable => err.set(e) },
      "graft-index-leg")
    t.setDaemon(true)
    t.start()
    def await(): Unit = { t.join(); if (err.get() != null) throw err.get() }
  }

  private[graft] def concurrently(body: => Unit): Leg = new Leg(() => body)

  // an explicit 1-slice empty RDD forces exactly one (empty) part file so
  // the parquet dir always carries a readable schema — range(0) alone can
  // plan zero tasks, and the previous repartition(1) paid an Exchange
  // stage (an extra scheduling round-trip) on every build/recompute
  private def emptyMerges(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("old_rep",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("new_rep",
          org.apache.spark.sql.types.LongType, nullable = false))))

  /** Flatten the merges chain (old_rep -> new_rep) to direct pointers by
    * pointer doubling — merge events chain across batches (r2 merged into
    * r1 in one crawl, r1 into r0 in a later one), and resolution must
    * follow the whole path. The table is component-UNION-event sized
    * (tiny next to the corpus; empty until two stored components first
    * merge), so the handful of self-joins are sub-second; each round
    * halves the longest unresolved path. Replayed duplicate events
    * collapse in the leading distinct.
    */
  private def flattenMerges(merges: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = merges.sparkSession
    import spark.implicits._
    driverMergeMap(merges) match {
      case Some(m) => return m.toSeq.toDF("old_rep", "new_rep")
      case None =>
    }
    var m = checkpointFlat(merges.select(col("old_rep"), col("new_rep")).distinct())
    var converged = m.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = m.select(col("old_rep").as("hop_old"), col("new_rep").as("hop_new"))
      val hopped = checkpointFlat(
        m.join(next, m("new_rep") === next("hop_old"), "left")
          .select(col("old_rep"),
            coalesce(col("hop_new"), col("new_rep")).as("new_rep"),
            col("new_rep").as("prev")))
      converged = hopped.filter(col("new_rep") =!= col("prev")).count() == 0
      m = hopped.select(col("old_rep"), col("new_rep"))
      iter += 1
    }
    m
  }

  /** The driver regime of [[flattenMerges]]: (old_rep -> FINAL new_rep),
    * or None when the events exceed the cap or are not longs.
    *
    * REGIME DISPATCH (the connectedComponents pattern): the merge table
    * is component-UNION-EVENT sized — tiny next to the corpus by
    * construction — yet the pointer-doubling loop costs 2-3 scheduling
    * round-trips per round on every componentsTable / unionFindIngest
    * call of every lifecycle. Under the bounded-collect cap the events
    * are pulled in one job (packed longs, 16 B/row) and chains are
    * resolved by driver pointer-chasing: new_rep < old_rep on every event
    * (a component absorbs into a smaller min), so chains strictly
    * decrease and terminate; an absorbed old_rep is never a current rep
    * again, so keys are unique and replayed duplicate events collapse in
    * the map exactly as they do in the loop's leading distinct. Two
    * events giving one old_rep different new_reps — impossible under the
    * contract, reachable through a torn unleased append — fail loudly, as
    * a cycle does. Above the cap — corpus-scale merge backlogs — the
    * distributed loop runs unchanged.
    */
  private def driverMergeMap(
      merges: DataFrame): Option[scala.collection.mutable.LongMap[Long]] = {
    val cap = merges.sparkSession.conf.getOption("spark.graft.cc.driverMergeRows")
      .map(_.toLong).getOrElse(4000000L)
    val longTypes =
      merges.schema("old_rep").dataType == org.apache.spark.sql.types.LongType &&
        merges.schema("new_rep").dataType == org.apache.spark.sql.types.LongType
    if (!longTypes) return None
    collectLongPairsUpTo(merges.select(col("old_rep"), col("new_rep")), cap)
      ._2.map { packed =>
        val m = new scala.collection.mutable.LongMap[Long](packed.length / 2)
        var p = 0
        while (p < packed.length) {
          val prior = m.getOrElseUpdate(packed(p), packed(p + 1))
          if (prior != packed(p + 1))
            throw new IllegalStateException(
              s"flattenMerges: old_rep ${packed(p)} merged into both $prior " +
                s"and ${packed(p + 1)} (corrupt merges/)")
          p += 2
        }
        m.map { case (old, first) =>
          var v = first
          var hops = 0
          // chain length is bounded by the event count; the guard turns a
          // (contract-impossible) cycle into a loud failure, not a hang
          while (m.get(v).exists(_ != v)) {
            v = m(v)
            hops += 1
            if (hops > m.size)
              throw new IllegalStateException(
                "flattenMerges: merge-event cycle detected (corrupt merges/)")
          }
          (old, v)
        }
      }
  }

  /** The current full assignment (id, rep): comps rows resolved through
    * the flattened merge map (broadcast — union events, not corpus rows),
    * deduped by id (replayed ingests append bit-identical duplicate rows,
    * the tolerated-append convention of every index here). The dedup is a
    * hash-agg over 16-byte rows; [[componentsIndexCompact]] folds merges
    * in so steady-state reads resolve through an empty map.
    */
  def componentsTable(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    resolveReps(readComps(spark, indexDir).select(col("id"), col("rep")),
      flattenMerges(readMerges(spark, indexDir)))
      .groupBy(col("id")).agg(min(col("rep")).as("rep"))

  /** Schema-pinned reads of the engine-owned index tables: parquet schema
    * inference is its own footer-reading Spark job PER READ — on the
    * lifecycle hot paths that is 4-8 extra scheduling round-trips per
    * entry for schemas this library fixed at write time (ids are int64
    * engine-wide). The pinned types match what partition discovery infers
    * from the written layout (ib/chunk/kb ints), so plans are unchanged.
    * `comps/` and `sigs/` read as base ∪ level-0 delta: these two readers
    * are the only ones, so every probe, lookup, count and compaction sees
    * the appended rows.
    */
  private[graft] def readComps(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    withDelta(spark, s"$indexDir/comps", "id bigint, rep bigint, ib int")

  private def readMerges(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    spark.read.schema("old_rep bigint, new_rep bigint")
      .parquet(s"$indexDir/merges")

  private[graft] def readSigs(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    withDelta(spark, s"$indexDir/sigs", "id bigint, sig bigint, chunk int, kb int")

  /** The bucketed table at `base` unioned with its unpartitioned delta
    * `<base>_delta` (written with the partition columns as data columns,
    * so one pinned schema reads both), when the delta exists.
    */
  private def withDelta(spark: org.apache.spark.sql.SparkSession,
      base: String, schema: String): DataFrame = {
    val b = spark.read.schema(schema).parquet(base)
    val d = new org.apache.hadoop.fs.Path(s"${base}_delta")
    if (!d.getFileSystem(spark.sessionState.newHadoopConf()).exists(d)) b
    else b.unionByName(spark.read.schema(schema).parquet(d.toString))
  }

  /** Delete the delta of the bucketed table at `base`: called by a
    * rewrite of the base from base ∪ delta only AFTER its swap, and by a
    * build before it writes.
    */
  private def clearDelta(spark: org.apache.spark.sql.SparkSession,
      base: String): Unit = {
    val d = new org.apache.hadoop.fs.Path(s"${base}_delta")
    d.getFileSystem(spark.sessionState.newHadoopConf()).delete(d, true): Unit
  }

  private def resolveReps(assign: DataFrame, flat: DataFrame): DataFrame = {
    // an EMPTY local flat map (the steady state after compaction, and the
    // whole pre-first-merge life of an index) resolves as the identity —
    // skip the broadcast-build + join instead of planning a no-op join on
    // every componentsTable read. Detection is plan-level (a LocalRelation
    // with no rows, what the driver flattenMerges path returns), so the
    // distributed flat path never pays an extra action for it.
    val emptyLocal = flat.queryExecution.logical match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }
    if (emptyLocal) assign.select(col("id"), col("rep"))
    else assign.join(broadcast(flat.withColumnsRenamed(Map("old_rep" -> "rep"))),
        Seq("rep"), "left")
      .select(col("id"), coalesce(col("new_rep"), col("rep")).as("rep"))
  }

  /** Ingest a crawl batch `(id, sig)` into the components index,
    * maintaining the invariant that [[componentsTable]] equals
    * [[signatureComponents]] over everything ever ingested (q223/q224 pin
    * this, including chained merges across waves). Batch ids must be new.
    *
    * Per batch: (1) batch-internal CC on the batch's class quotient;
    * (2) one bucket-pruned [[signatureIndexProbe]] for batch-to-corpus
    * edges; (3) rep lookup of the matched existing ids against comps/ —
    * pruned to the matched id buckets, resolved through the merge map;
    * (4) CC on the CONTRACTED graph (touched corpus reps x batch class
    * reps — rows, not the corpus; corpus reps are component min ids and
    * batch reps batch-class min ids, so the contracted min IS the global
    * min); (5) append union events to merges/ (self-merges filtered —
    * replays append nothing new), batch assignments to the comps delta,
    * and LAST the batch signatures into the sigs delta, so any signature
    * a future probe can match already has its assignment row. A replayed
    * batch recomputes bit-identical appends (dedup at read).
    *
    * A batch of at most [[DRIVER_INGEST_ROWS]] rows — every crawl batch —
    * runs steps (1), (3)'s resolution and (4) on the driver
    * ([[driverSignatureComponents]], [[driverUnionFindIngest]]): one
    * collect of the batch decides the route and is also its row count,
    * then one store probe, one comps lookup and three one-file appends.
    * Larger batches run the same steps as distributed jobs.
    *
    * Measured regime (BASELINE round-12 CcBenefit, sf10 = 500 k rows):
    * for STORED fixed-width signatures, full [[signatureComponents]]
    * re-clustering beat this maintenance path at BOTH 0.1% and 10%
    * batch cadence (7.5 s vs 11.7 / 22.4 s) — the fixed per-batch costs
    * (probe, two CCs, appends) exceed a whole re-cluster of 8-byte rows
    * at this size. Maintenance wins where signature DERIVATION dominates
    * recompute (the text family: 18.5× at crawl cadence) or once the
    * corpus CC itself outgrows the crawl interval; this path stays the
    * only O(|batch|) form, so that crossover exists.
    *
    * The ingest therefore DISPATCHES on TWO measured conditions (both
    * pre-flights are trivial: a footer-metadata count of the pruned
    * `chunk=0` slice and the batch count the route's collect returns):
    * it re-clusters stored ∪ batch with [[signatureComponents]] and
    * swaps the result in (merges/ cleared — a full assignment resolves
    * through an empty map) when the store is below `recomputeBelow`
    * AND the batch is at bulk cadence (`batch ≥ bulkRatio × stored` —
    * the durable recompute route pays an O(store) comps REWRITE every
    * call where maintenance appends O(batch), so at crawl cadence
    * maintenance wins even where the re-cluster COMPUTE alone is
    * cheaper: lifecycle-vs-lifecycle at 500 k stored, CcBenefit r13 —
    * 0.1% batch: maintain 15.8 s vs recompute-route 18.9; 1%: 13.4 vs
    * 14.6; 10%: 29.5 vs 15.0). Otherwise it runs the incremental
    * union-find. Both routes end with the same [[signatureIndexIngest]]
    * append and keep the q224 invariant ([[componentsTable]] ≡ one-shot
    * CC over everything ingested). Pass `recomputeBelow = 0` to pin the
    * maintenance machinery (the spec and witness-entry form), or
    * `bulkRatio = 0` with a large `recomputeBelow` to always
    * re-cluster.
    */
  def componentsIngest(spark: org.apache.spark.sql.SparkSession,
      incoming: DataFrame, indexDir: String,
      maxHamming: Int = 3, budgetPairs: Long = Long.MaxValue,
      recomputeBelow: Long = SIG_CC_RECOMPUTE_BELOW,
      bulkRatio: Double = SIG_CC_BULK_RATIO): Unit = {
    // the route-deciding collect is also the batch's only row count
    val (n, rows) = collectLongPairsUpTo(
      incoming.select(col("id"), col("sig")), DRIVER_INGEST_ROWS)
    // a batch that fits is pinned by its collected rows; one that does
    // not is pinned by a checkpoint
    val inc = rows.map(localPairs(spark, _, "id", "sig").coalesce(1))
      .getOrElse(incoming.select(col("id"), col("sig")).localCheckpoint())
    if (recomputeBelow > 0 && {
          val stored = storedSignatureCount(spark, indexDir)
          stored < recomputeBelow && n >= bulkRatio * stored
        }) {
      // recompute route: one re-cluster of 8-byte rows beats the fixed
      // per-batch maintenance costs below the measured crossover. The
      // route swaps tables, so it takes the compaction lease — a
      // concurrent compactor fails loudly instead of interleaving swaps.
      CompactionLease.withLease(spark, indexDir) {
        val all = storedSignatures(spark, indexDir).unionByName(inc)
          .dropDuplicates("id", "sig") // replayed batches re-supply their rows
        val assign = signatureComponents(all, maxHamming, budgetPairs)
        // comps FIRST (its delta cleared only after the swap), then
        // merges, then sigs LAST — the crash arguments of foldComponents
        // (stale merges resolve as identity over a full assignment) and
        // of the maintenance route (a signature a future probe can match
        // already has its assignment row) both carry over
        val tmp = s"$indexDir/comps_compacting"
        writeComps(assign, tmp, "overwrite")
        swapIn(spark, tmp, s"$indexDir/comps")
        clearDelta(spark, s"$indexDir/comps")
        val mtmp = s"$indexDir/merges_compacting"
        emptyMerges(spark).write.mode("overwrite").parquet(mtmp)
        swapIn(spark, mtmp, s"$indexDir/merges")
      }
      signatureIndexIngest(spark, indexDir, inc)
      return
    }
    // one sigmeta read serves the probe and the trailing sigs append —
    // each read was a 2-job round-trip per ingest call
    val (wide, kbBits) = readSigMeta(spark, indexDir)
    rows match {
      case Some(packed) =>
        // driver route: batch CC and contraction on the driver, one
        // bucket-pruned probe, one pruned comps lookup, one-file appends
        val ids = Array.tabulate(packed.length / 2)(i => packed(2 * i))
        val sigs = Array.tabulate(packed.length / 2)(i => packed(2 * i + 1))
        val breps = driverSignatureComponents(ids, sigs, maxHamming, budgetPairs)
        val batchComp = Array.tabulate(packed.length)(i =>
          if (i % 2 == 0) packed(i) else breps(i / 2))
        val cross = signatureProbeStream(spark, indexDir, inc, maxHamming,
            wide, kbBits, probeBuckets(sigs.iterator, wide, kbBits))
          .select(col("existing_id"), col("incoming_id"))
        collectLongPairsUpTo(cross, DRIVER_INGEST_ROWS)._2 match {
          case Some(c) => driverUnionFindIngest(spark, batchComp, c, indexDir)
          case None => distributedUnionFindIngest(spark,
            localPairs(spark, batchComp, "id", "brep"), cross.distinct(), indexDir)
        }
      case None =>
        val batchComp = checkpointFlat(signatureComponents(inc, maxHamming, budgetPairs)
          .withColumnsRenamed(Map("rep" -> "brep")))
        distributedUnionFindIngest(spark, batchComp,
          probeAgainstIndex(spark, indexDir, inc, maxHamming, wide, kbBits), indexDir)
    }
    signatureIndexIngestWithLayout(spark, indexDir, inc, wide, kbBits)
  }

  /** Batch row count up to which [[componentsIngest]] and the text family's
    * [[unionFindIngest]] run every batch-sized step on the driver (the
    * bounded-collect dispatch of [[connectedComponents]] and
    * [[flattenMerges]]); the same cap bounds the collected cross pairs.
    * Measured on a 4-vCPU box against a 5 k-signature store, median of
    * three ingests, driver vs distributed route: 1 k rows 2.0 vs 4.5 s,
    * 10 k 1.7 vs 4.9 s, 100 k 4.1 vs 8.7 s. At 16 B per collected row
    * the cap holds a few MB of driver heap.
    */
  private[graft] val DRIVER_INGEST_ROWS: Long = 100000L

  /** [[signatureComponents]] on the driver, for a batch already collected
    * as parallel (id, sig) arrays: classes by signature (rep = min member
    * id), blocked hamming pairs between classes sharing a 16-bit chunk
    * key, union-find over the class graph. Returns each row's component
    * rep, index-aligned with `ids`. The bucket-candidate STREAM count and
    * its refusal are [[hammingPairs64]]'s, so `budgetPairs` means the
    * same on both routes.
    */
  private def driverSignatureComponents(ids: Array[Long], sigs: Array[Long],
      maxHamming: Int, budgetPairs: Long): Array[Long] = {
    require(maxHamming <= 3, "blocking uses 4 x 16-bit chunks => hamming <= 3")
    val cidOf = new scala.collection.mutable.LongMap[Long]()
    ids.indices.foreach { i =>
      if (ids(i) < cidOf.getOrElse(sigs(i), Long.MaxValue)) cidOf(sigs(i)) = ids(i)
    }
    val csig = cidOf.keys.toArray
    val buckets = (0 until 4).flatMap(c =>
      csig.indices.groupBy(j => (csig(j) >> (16 * c)) & 0xFFFFL).values)
    val candidates = buckets.map(b => b.size.toLong * (b.size - 1)).sum / 2
    if (candidates > budgetPairs)
      throw new Similarity.PairBudgetExceededException(candidates, budgetPairs, 4, 1,
        "the count is bucket-candidate STREAM size — a pair sharing k " +
        "chunk keys is counted k times (up to 4x), so refusal can fire " +
        "up to 4x before the distinct-pair volume crosses the budget")
    val edges = new scala.collection.mutable.ArrayBuilder.ofLong
    buckets.foreach { b =>
      for (x <- b.indices; y <- x + 1 until b.size)
        if (java.lang.Long.bitCount(csig(b(x)) ^ csig(b(y))) <= maxHamming) {
          edges += cidOf(csig(b(x)))
          edges += cidOf(csig(b(y)))
        }
    }
    val cids = sortedDistinct(csig.map(cidOf))
    val reps = driverUnionFind(cids, edges.result())
    sigs.map(sg => reps(java.util.Arrays.binarySearch(cids, cidOf(sg))))
  }

  /** Store-size ceiling of the [[componentsIngest]] recompute route:
    * at or above it the incremental union-find is the only path.
    * MEASURED (round-13 [[graft.tools.SigCcCrossover]] synthetic decade
    * sweep, 0.1% cadence, warm-pair minima; full table in BASELINE
    * round 13): the re-cluster COMPUTE beats the maintenance lifecycle
    * through 8 M stored signatures (ratio 0.38 → 0.84) and the region
    * above is parity-to-noise (16 M: 1.30; 32 M isolated: 0.74) — the
    * blocking probe stops pruning once a batch touches all 256 buckets,
    * so both paths converge to O(n) there. 8 M caps the route where the
    * compute economics were ever in its favor; WITHIN the cap the
    * cadence condition ([[SIG_CC_BULK_RATIO]]) decides, because the
    * durable route also pays an O(store) comps rewrite per call.
    */
  val SIG_CC_RECOMPUTE_BELOW: Long = 8000000L

  /** Cadence condition of the recompute route: engage only when the
    * batch is at least this fraction of the store. MEASURED
    * lifecycle-vs-lifecycle at 500 k stored (CcBenefit round 13, the
    * dispatched row): maintenance wins at 0.1% cadence (15.8 s vs
    * 18.9) and holds parity at 1% (13.4 vs 14.6), the recompute route
    * wins 2× at 10% (15.0 vs 29.5) — the crossover sits between 1% and
    * 10%, and 2% matches the text family's measured
    * `bulkDispatchRatio`, placing the near-parity band on the
    * maintenance side where the mis-pick cost is smallest.
    */
  val SIG_CC_BULK_RATIO: Double = 0.02

  /** One row per stored signature — the `chunk=0` slice of the sigs/
    * blocking layout (partition-pruned scan of a quarter of the store),
    * deduped against replayed appends.
    */
  private def storedSignatures(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    readSigs(spark, indexDir).filter(col("chunk") === 0)
      .select(col("id"), col("sig")).dropDuplicates("id", "sig")

  /** Stored-signature count for the dispatch pre-flight: COUNT(*) over
    * the pruned `chunk=0` partitions is answered from parquet footer
    * metadata — no data scan, so the sink cadence never pays a store
    * read to route. Replayed duplicate appends inflate the estimate
    * until compaction; acceptable for a regime threshold.
    */
  private def storedSignatureCount(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Long =
    readSigs(spark, indexDir).filter(col("chunk") === 0).count()

  /** The union-find update shared by the signature- and text-family
    * components ingests — family-agnostic because it sees only the
    * batch's internal assignment `(id, brep)` and the batch-to-corpus
    * cross pairs `(existing_id, incoming_id)`; the caller supplies
    * whichever pair generator defines the family's edges. Both are
    * collected under [[DRIVER_INGEST_ROWS]] ([[driverUnionFindIngest]]);
    * a batch or a cross-pair set over the cap runs
    * [[distributedUnionFindIngest]].
    */
  private def unionFindIngest(spark: org.apache.spark.sql.SparkSession,
      batchComp: DataFrame, cross: DataFrame, indexDir: String): Unit = {
    val fits = collectLongPairsUpTo(batchComp.select(col("id"), col("brep")),
        DRIVER_INGEST_ROWS)._2
      .flatMap(b => collectLongPairsUpTo(
          cross.select(col("existing_id"), col("incoming_id")),
          DRIVER_INGEST_ROWS)._2.map(c => (b, c)))
    fits match {
      case Some((b, c)) => driverUnionFindIngest(spark, b, c, indexDir)
      case None => distributedUnionFindIngest(spark, batchComp, cross, indexDir)
    }
  }

  /** [[distributedUnionFindIngest]] on the driver, over the collected
    * packed `(id, brep)` batch assignment and `(existing_id, incoming_id)`
    * cross pairs: one pruned comps/ lookup of the matched existing ids
    * resolved through the merge map ([[lookupReps]]), the contracted CC
    * by union-find, and one-file appends of the union events and the
    * batch's assignment rows. Same rows as the distributed form.
    */
  private def driverUnionFindIngest(spark: org.apache.spark.sql.SparkSession,
      batch: Array[Long], cross: Array[Long], indexDir: String): Unit = {
    val brepOf = new scala.collection.mutable.LongMap[Long]()
    var p = 0
    while (p < batch.length) { brepOf(batch(p)) = batch(p + 1); p += 2 }
    val crepOf = lookupReps(spark, indexDir,
      sortedDistinct(Array.tabulate(cross.length / 2)(i => cross(2 * i))))
    // contracted edges: (corpus rep, batch rep) per cross pair
    val edges = new scala.collection.mutable.ArrayBuilder.ofLong
    p = 0
    while (p < cross.length) {
      for (crep <- crepOf.get(cross(p)); brep <- brepOf.get(cross(p + 1))) {
        edges += crep
        edges += brep
      }
      p += 2
    }
    val e = edges.result()
    val creps = sortedDistinct(Array.tabulate(e.length / 2)(i => e(2 * i)))
    val nodes = sortedDistinct(creps ++ brepOf.values)
    val reps = driverUnionFind(nodes, e)
    def repOf(x: Long): Long = reps(java.util.Arrays.binarySearch(nodes, x))
    // union events: corpus reps whose component grew a smaller min
    val events = creps.filter(c => repOf(c) != c).flatMap(c => Seq(c, repOf(c)))
    val assign = Array.tabulate(batch.length)(i =>
      if (i % 2 == 0) batch(i) else repOf(batch(i)))
    // merges/ FIRST: a crash after it leaves the corpus consistent and
    // the replay's self-merge filter makes the re-append a no-op
    CompactionLease.guardedAppend(spark, indexDir) {
      if (events.nonEmpty)
        localPairs(spark, events, "old_rep", "new_rep").coalesce(1)
          .write.mode("append").parquet(s"$indexDir/merges")
      if (assign.nonEmpty)
        appendCompsDelta(localPairs(spark, assign, "id", "rep").coalesce(1), indexDir)
    }
  }

  /** Current reps of the existing ids `need` (sorted, distinct): their
    * comps rows (base ∪ delta) in the `ib` buckets `need` falls in — a
    * static partition filter — kept by binary search on the executors,
    * min rep per id, resolved through the merge map. One job, plus one
    * for the merge map.
    */
  private def lookupReps(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, need: Array[Long]): scala.collection.mutable.LongMap[Long] = {
    val cur = new scala.collection.mutable.LongMap[Long]()
    if (need.isEmpty) return cur
    val ibs = need.map(id => Math.floorMod(id, COMP_BUCKETS.toLong).toInt).distinct
    readComps(spark, indexDir).filter(col("ib").isin(ibs.toIndexedSeq: _*))
      .select(col("id"), col("rep")).rdd
      .mapPartitions { it =>
        val b = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r =>
          if (java.util.Arrays.binarySearch(need, r.getLong(0)) >= 0) {
            b += r.getLong(0); b += r.getLong(1)
          }
        }
        Iterator.single(b.result())
      }.collect()
      .foreach { c =>
        var p = 0
        while (p < c.length) {
          if (c(p + 1) < cur.getOrElse(c(p), Long.MaxValue)) cur(c(p)) = c(p + 1)
          p += 2
        }
      }
    val merges = readMerges(spark, indexDir)
    driverMergeMap(merges) match {
      case Some(m) => cur.mapValuesInPlace((_, r) => m.getOrElse(r, r))
      case None =>
        collectLongPairs(resolveReps(
            localPairs(spark, cur.toArray.flatMap { case (i, r) => Seq(i, r) },
              "id", "rep"),
            flattenMerges(merges)))
          .foreach(c => c.grouped(2).foreach(ir => cur(ir(0)) = ir(1)))
    }
    cur
  }

  private def distributedUnionFindIngest(spark: org.apache.spark.sql.SparkSession,
      batchComp: DataFrame, cross0: DataFrame, indexDir: String): Unit = {
    // the cross-pair generator (the expensive store probe) feeds BOTH the
    // rep lookup's id restriction and the contracted-edge join below —
    // checkpoint it once so the probe executes once and every downstream
    // action plans against a flat scan instead of re-optimizing the whole
    // probe tree (plan size is driver gap time on 100+-job lifecycles)
    val cross = checkpointFlat(cross0)
    // rep lookup restricted to matched ids BEFORE the corpus-scale table:
    // join on (ib, id) so partition pruning reaches the comps/ scan
    val need = cross.select(col("existing_id").as("id")).distinct()
      .withColumn("ib", pmod(col("id"), lit(COMP_BUCKETS)))
    val flat = flattenMerges(readMerges(spark, indexDir))
    val curReps = resolveReps(
      readComps(spark, indexDir).join(need, Seq("ib", "id"))
        .groupBy(col("id")).agg(min(col("rep")).as("rep")),
      flat)
    val crossReps0 = cross
      .join(curReps.withColumnsRenamed(Map("id" -> "existing_id", "rep" -> "crep")),
        Seq("existing_id"))
      .join(batchComp.withColumnsRenamed(Map("id" -> "incoming_id")),
        Seq("incoming_id"))
      .select(col("crep"), col("brep")).distinct()
    val crossRepsF = checkpointFlat(crossReps0)
    val nodes = crossRepsF.select(col("crep").as("id"))
      .unionByName(batchComp.select(col("brep").as("id")))
      .distinct()
    val merged = checkpointFlat(connectedComponents(nodes, "id",
      crossRepsF.select(col("crep").as("id_a"), col("brep").as("id_b"))))
    // union events: corpus reps whose component grew a smaller min.
    // merges/ FIRST: a crash after it leaves the corpus consistent and
    // the replay's self-merge filter makes the re-append a no-op.
    CompactionLease.guardedAppend(spark, indexDir) {
    merged.join(crossRepsF.select(col("crep").as("id")).distinct(), Seq("id"), "left_semi")
      .filter(col("id") =!= col("rep"))
      .select(col("id").as("old_rep"), col("rep").as("new_rep"))
      .write.mode("append").parquet(s"$indexDir/merges")
    appendCompsDelta(batchComp
      .join(merged.withColumnsRenamed(Map("id" -> "brep", "rep" -> "frep")),
        Seq("brep"), "left")
      .select(col("id"), coalesce(col("frep"), col("brep")).as("rep")),
      indexDir)
    }
  }

  /** Compact the components index: fold the merge map and the comps
    * delta into comps/ (one resolved, deduped rewrite of base ∪ delta),
    * then delete the delta, then clear merges/, then compact sigs/ (which
    * folds and deletes its own delta). A crash after a swap and before
    * its delta delete leaves rows the new base already holds — duplicates
    * reads tolerate. Order matters for crash recovery: comps first — re-applying the
    * still-present map to already-resolved reps is the identity (a final
    * rep is never an old_rep key), so a crash between the two swaps
    * leaves reads correct; clearing merges first would lose the events a
    * crashed comps rewrite still needs. Concurrent-ingest exclusion is
    * enforced by the [[CompactionLease]] (the [[dedupIndexCompact]]
    * contract).
    */
  def componentsIndexCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    CompactionLease.withLease(spark, indexDir) {
      foldComponents(spark, indexDir)
      signatureIndexCompactUnleased(spark, indexDir)
    }

  private def foldComponents(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit = {
    val tmp = s"$indexDir/comps_compacting"
    writeComps(componentsTable(spark, indexDir), tmp, "overwrite")
    swapIn(spark, tmp, s"$indexDir/comps")
    clearDelta(spark, s"$indexDir/comps")
    val mtmp = s"$indexDir/merges_compacting"
    emptyMerges(spark).write.mode("overwrite").parquet(mtmp)
    swapIn(spark, mtmp, s"$indexDir/merges")
  }

  // --------------------------------------------------------------------------
  // TEXT-family persisted components: the same lazy union-find layer
  // (comps/ + merges/, [[componentsTable]] reads both families' layouts)
  // over the MinHash dedup index — cluster maintenance for text corpora
  // where the edge relation is banded-LSH candidates exact-verified at a
  // jaccard threshold instead of a hamming ball. Edge-set equivalence to
  // the one-shot CC holds exactly because banding is deterministic and
  // shared: build-time edges = minhashLshPairs(corpus), cross edges =
  // the index probe (row-identical to minhashLshPairsIncremental — q205),
  // batch edges = minhashLshPairs(batch); together those are precisely
  // minhashLshPairs(union)'s candidates split by ingest epoch.
  // --------------------------------------------------------------------------

  /** Connected components over banded-MinHash near-dup pairs — the
    * text-family analog of [[signatureComponents]], and the same
    * class-quotient argument: identical shingle sets pair identically
    * (banding and jaccard are functions of the set), so CC runs on the
    * DISTINCT-set graph contracted to per-class min doc ids and members
    * expand back at the end. Dup-heavy corpora (the normal case) collapse
    * their hottest classes to one node each instead of C(k,2) multigraph
    * edges per identical-text cluster. Emits (id, rep), rep = global min
    * doc id of the component — identical output to
    * [[connectedComponents]] over [[minhashLshPairs]].
    */
  def minhashComponents(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      verifyThreshold: Double = 0.7): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val (reps, members) = setRepresentatives(df, idCol, textCol, n)
    val repPairs = minhashRepPairs(df, textCol, n, reps, members,
      numHashes, bands, verifyThreshold)
    val classRep = members.groupBy(col("skey")).agg(min(col("id")).as("cid"))
      .localCheckpoint()
    val classPairs = repPairs
      .join(classRep.select(col("skey").as("skey_a"), col("cid").as("id_a")),
        Seq("skey_a"))
      .join(classRep.select(col("skey").as("skey_b"), col("cid").as("id_b")),
        Seq("skey_b"))
      .select(col("id_a"), col("id_b"))
    val comp = connectedComponents(
      classRep.select(col("cid").as("id")), "id", classPairs)
      .withColumnsRenamed(Map("id" -> "cid"))
    members.join(classRep, Seq("skey")).join(comp, Seq("cid"))
      .select(col("id"), col("rep"))
  }

  /** Build under `indexDir`: the [[buildDedupIndex]] tables (sets/bands/
    * members) plus comps/ (CC over the corpus's banded near-dup pairs)
    * and an empty merges/.
    */
  def buildDedupComponentsIndex(corpus: DataFrame, idCol: String,
      textCol: String, indexDir: String, n: Int = 3, numHashes: Int = 64,
      bands: Int = 16, verifyThreshold: Double = 0.7): Unit = {
    val c = corpus.select(col(idCol).as("id"), col(textCol).as("text"))
      .localCheckpoint()
    clearDelta(c.sparkSession, s"$indexDir/comps")
    // MinHash tables and the CC assignment are disjoint legs over the
    // same checkpointed corpus — overlap them (the buildComponentsIndex
    // pattern); merges/ last marks the index complete
    val idxLeg = concurrently {
      buildDedupIndex(c, "id", "text", indexDir, n, numHashes, bands)
    }
    try writeComps(
      minhashComponents(c, "id", "text", n, numHashes, bands, verifyThreshold),
      s"$indexDir/comps", "overwrite")
    finally idxLeg.await()
    emptyMerges(c.sparkSession)
      .write.mode("overwrite").parquet(s"$indexDir/merges")
  }

  /** Ingest a crawl batch `(idCol, textCol)` into the text-family
    * components index — [[componentsIngest]]'s contract with jaccard
    * edges: [[componentsTable]] equals one-shot CC over
    * [[minhashLshPairs]] of everything ever ingested. Per batch:
    * batch-internal banded CC, one banded probe against the persisted
    * index (crawl-cadence regime — the sink cadence this exists for),
    * the shared [[unionFindIngest]] contraction, and a
    * [[dedupIndexIngest]] append so future probes see this batch.
    */
  def dedupComponentsIngest(spark: org.apache.spark.sql.SparkSession,
      incoming: DataFrame, idCol: String, textCol: String, indexDir: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      verifyThreshold: Double = 0.7,
      corpusForBulk: Option[DataFrame] = None): Unit = {
    val inc = incoming.select(col(idCol).as("id"), col(textCol).as("text"))
      .localCheckpoint()
    val batchComp = checkpointFlat(minhashComponents(inc, "id", "text", n,
      numHashes, bands, verifyThreshold)
      .withColumnsRenamed(Map("rep" -> "brep")))
    // corpusForBulk (id/text columns pre-normalized by the caller) enables
    // the probe's measured regime dispatch: bulk-cadence batches route to
    // the direct recompute, crawl-cadence ones probe the index
    val cross = minhashLshPairsAgainstIndex(spark, indexDir, inc, "id", "text",
      n, numHashes, bands, verifyThreshold,
      corpusForBulk = corpusForBulk.map(
        _.select(col(idCol).as("id"), col(textCol).as("text"))))
    unionFindIngest(spark, batchComp, cross, indexDir)
    dedupIndexIngest(inc, "id", "text", indexDir, n, numHashes, bands)
  }

  /** [[componentsIndexCompact]] for the text family: fold merges into
    * comps, then compact the MinHash tables. Same crash ordering and
    * concurrent-ingest restriction.
    */
  def dedupComponentsCompact(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Unit =
    CompactionLease.withLease(spark, indexDir) {
      foldComponents(spark, indexDir)
      dedupIndexCompactUnleased(spark, indexDir, targetPartitions = 0)
    }

  /** Atomic-as-the-filesystem-allows table swap, recoverable at every
    * step: rename live -> `_backup`, rename tmp -> live, delete backup.
    * A crash between the two renames leaves the table recoverable from
    * `_backup` (the first-draft delete-then-rename left NO live table in
    * that window); a crash before the backup delete leaves both, and the
    * next compaction clears the stale backup first. NOT safe against a
    * CONCURRENT writer: an ingest appending between the compactor's read
    * and the swap has its rows dropped with the old dir — which is why
    * every public compactor calling this holds the [[CompactionLease]]
    * and every ingest append checks it (enforced on
    * [[dedupIndexCompact]] and siblings).
    */
  private[ext] def swapIn(spark: org.apache.spark.sql.SparkSession,
      tmp: String, dst: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dst)
    val bak = new org.apache.hadoop.fs.Path(dst + "_backup")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(bak, true) // stale backup from an earlier crashed swap
    if (fs.exists(p))
      require(fs.rename(p, bak), s"compaction swap failed: $dst -> $bak")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), p),
      s"compaction swap failed: $tmp -> $dst (live preserved at $bak)")
    fs.delete(bak, true): Unit
  }
}
