package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Fns
import graft.operators.{Aggregates, Joins, Relational, Upsert}
import graft.ext.{Classifier, Cms, Dedup, Graph, Imputation, Mixing, Multimodal, Profiling, Recall, Similarity, Sketches, TextAnalysis}
import graft.streaming.Streams

/** Driver contract — the operator catalog (SURVEY.md §2) plus the
  * LLM-data-pipeline extensions, each as a `queries` entry with (where
  * SQL-expressible) a DuckDB oracle.
  *
  * Cross-engine determinism rules used throughout (SURVEY.md §7.4):
  *  - double SUM/AVG go through a DECIMAL(18,4) cast (order-independent,
  *    bit-exact in both engines — see [[Fns.dsum]]);
  *  - order-sensitive "first/last" use explicit ordinals via min_by/max_by;
  *  - event-time gap math uses integer epoch millis, never double seconds;
  *  - ratios are int/int divisions promoted to double (bit-exact).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Tables.load(s, dir, name)

  /** SQL text of an order-independent, bit-exact double sum (see Fns.dsum). */
  private def sqlDsum(x: String): String =
    s"CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"

  /** DuckDB-side tokenization matching [[graft.ext.TextAnalysis.tokens]] on
    * ARBITRARY input (not just the single-space-separated test corpus):
    * trim, split on whitespace RUNS, blank text → empty list. Every
    * token-based oracle uses this so Spark and DuckDB tokenize identically
    * on leading/trailing/repeated whitespace and tabs.
    */
  /** Shared curation-gate CTE chain (language ID + quality features +
    * reject reasons) — the SQL mirror of [[graft.ext.TextAnalysis.curationGate]]
    * with the q105 parameters; reused by q105 (per-doc audit rows) and
    * q123 (pipeline stage counts).
    */
  private def curationSqlCtes: String = s"""
      WITH tk AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS w FROM documents),
      lid0 AS (
        SELECT doc_id,
          len(list_filter(w,
            w -> w IN ('der','die','das','und','zu','in','ist','ein','nicht','mit'))) AS s_de,
          len(list_filter(w,
            w -> w IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
          len(list_filter(w,
            w -> w IN ('el','la','de','y','que','en','un','una','es','por'))) AS s_es,
          len(list_filter(w,
            w -> w IN ('le','la','de','et','que','en','un','une','est','pour'))) AS s_fr
        FROM tk),
      lid AS (
        SELECT doc_id,
          CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
               WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
               WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
               WHEN s_es >= s_fr THEN 'es'
               ELSE 'fr' END AS lang_pred
        FROM lid0),
      f AS (
        SELECT doc_id,
          len(${sqlTokens("text")}) AS n_tokens,
          length(text) AS n_chars,
          length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
          len(list_filter(${sqlTokens("lower(text)")},
            w -> w IN ('the','a','of','and','to','in','is','it','that','for'))) AS n_stop
        FROM documents),
      q AS (
        SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
          least(1.0, CAST(n_tokens AS DOUBLE) / 64.0) * 0.5
            + least(1.0, (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 4.0) * 0.25
            + (1.0 - least(1.0, (CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 10.0)) * 0.25
            AS quality_score
        FROM f),
      g AS (
        SELECT q.doc_id, lid.lang_pred, q.n_tokens, q.quality_score,
          CASE WHEN q.n_tokens < 5 THEN 'too_short'
               WHEN q.n_tokens > 1000 THEN 'too_long'
               WHEN lid.lang_pred <> 'en' THEN 'lang'
               WHEN q.quality_score < 0.5 THEN 'low_quality'
               ELSE NULL END AS reject_reason
        FROM q JOIN lid USING (doc_id))"""

  private def sqlTokens(x: String): String =
    s"CASE WHEN trim($x) = '' THEN []::VARCHAR[] ELSE string_split_regex(trim($x), '\\s+') END"

  /** Source-overlap matrix shared by q136 (exact pairs) and q144 (banded
    * pairs): near-dup pair counts by unordered (source_a, source_b) —
    * pair ids join back to the docs' sources, the source pair normalizes
    * to upper-triangular. The pair generator is the only thing the two
    * queries differ in.
    */
  private def overlapMatrix(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.withColumnsRenamed(Map("doc_id" -> "id_a", "source" -> "src_a")), Seq("id_a"))
      .join(src.withColumnsRenamed(Map("doc_id" -> "id_b", "source" -> "src_b")), Seq("id_b"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Flagship on sf0.001 (driver smoke-checks rows>0): the reference's own
    * imputations ETL, end-to-end as one declarative plan.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q54_pipeline_imputations")(spark, "/root/testdata/sf0.001")

  // ===========================================================================
  // Catalog
  // ===========================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- A2 flagship: TPC-H Q1-shaped summarize (scan+filter+hashagg) ------
    "q01_summarize" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      l.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Fns.dsum(col("l_quantity")).as("sum_qty"),
          Fns.dsum(col("l_extendedprice")).as("sum_base_price"),
          Fns.dsumDisc(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          Fns.dsumCharge(col("l_extendedprice"), col("l_discount"), col("l_tax")).as("sum_charge"),
          Fns.davg(col("l_quantity")).as("avg_qty"),
          Fns.davg(col("l_extendedprice")).as("avg_price"),
          Fns.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // ---- S3/S4 ranged scan: predicate pushed to the parquet reader --------
    "q02_ranged_scan" -> ((s, dir) => {
      Relational.rangedScan(t(s, dir, "lineitem"), "l_shipdate", "1996-01-01", "1996-04-01")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_shipdate"))
    }),

    // ---- P1-P4 + F1-F4 projection / derive / rename -------------------------
    "q03_project_derive" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      l.select(
          col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          Fns.toDateCol(col("l_shipdate")).as("ship_day"),
          Fns.fmtDate(col("l_shipdate")).as("ship_day_str"))
        .withColumnsRenamed(Map("l_orderkey" -> "orderkey", "l_linenumber" -> "linenumber"))
    }),

    // ---- F6 date spine (the reference's per-day fetch loop, relationally) --
    "q04_date_spine" -> ((s, _) => {
      s.range(1).select(Fns.dateSpine("2024-01-01", "2024-03-31").as("d"))
        .withColumn("month", date_format(col("d"), "yyyy-MM"))
    }),

    // ---- U1 unionByName with missing columns (pd.concat semantics) ---------
    "q05_union_by_name" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val b = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
      Relational.unionAll(Seq(a, b))
    }),

    // ---- J1/J2 broadcast enrichment joins + A3 rollup -----------------------
    "q06_enrich_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      Joins.enrich(
          Joins.enrich(c, n, c("c_nationkey") === n("n_nationkey")),
          r, col("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), Fns.dsum(col("c_acctbal")).as("sum_bal"))
    }),

    // ---- J3/J5 left join + F11/F12 null defaults ----------------------------
    "q07_left_join_fill" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val bigParts = t(s, dir, "part").filter(col("p_size") > 40)
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      Joins.enrich(l, bigParts, l("l_partkey") === bigParts("p_partkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"), col("p_brand"), col("p_retailprice"))
        .na.fill(Map("p_brand" -> "No asignado", "p_retailprice" -> 0.0))
    }),

    // ---- J4 inner join silently dropping unmatched (reference parity) ------
    "q08_inner_drop" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val richCust = t(s, dir, "customer").filter(col("c_acctbal") > 500)
        .select(col("c_custkey"), col("c_name"))
      Joins.enrich(o, richCust, o("o_custkey") === richCust("c_custkey"))
        .groupBy(col("c_name")).agg(count(lit(1)).as("n_orders"))
    }),

    // ---- J6 anti join (incremental diff) ------------------------------------
    "q09_anti_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val shipped = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1999-01-01")))
        .select(col("l_orderkey").as("o_orderkey"))
      Joins.antiByKey(o, shipped, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    }),

    // ---- J7 contains-match lookup join (the reference's get_field_id) ------
    "q10_contains_lookup" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val dim = t(s, dir, "part").select(col("p_type")).distinct()
      Joins.containsLookup(p, dim, "p_name", "p_type", "p_type", "p_type", "matched_type")
        .select(col("p_partkey"), col("p_name"), col("matched_type"))
    }),

    // ---- K2 insert-only merge (upsert), pure relational form ---------------
    "q11_upsert_merge" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val existing = o.filter(col("o_orderdate") < to_timestamp(lit("1999-01-01")))
      val incoming = o.filter(
        col("o_orderdate") >= to_timestamp(lit("1998-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("2000-01-01")))
        .select(o.columns.toSeq.map(col): _*)
      Upsert.mergeInsertOnly(existing, incoming, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderdate"))
    }),

    // ---- A1 dedupe-last per natural key (max_by over full row) -------------
    "q12_dedupe_last" -> ((s, dir) => {
      Aggregates.dedupeLastByKey(t(s, dir, "customer"), "c_nationkey", "c_custkey")
        .select(col("c_nationkey"), col("c_custkey"), col("c_name"), col("c_acctbal"))
    }),

    // ---- A2 first-by-ordinal per group (min_by) -----------------------------
    // (l_orderkey, l_linenumber) is not unique in the corpus, so the ordinal
    // is the composite (l_linenumber, l_partkey) packed into one long —
    // deterministic: ties on the full composite imply equal l_partkey.
    "q13_first_by" -> ((s, dir) => {
      val ord = col("l_linenumber").cast("long") * lit(1000000L) + col("l_partkey")
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          Aggregates.firstBy(col("l_partkey"), ord).as("first_part"),
          Aggregates.lastBy(col("l_partkey"), ord).as("last_part"),
          count(lit(1)).as("n_lines"))
    }),

    // ---- A4 argmax row per group (latest event per user) --------------------
    "q14_argmax_group" -> ((s, dir) => {
      Aggregates.argmaxRowPerGroup(t(s, dir, "events"), Seq("user_id"), "ts", "event_id")
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    }),

    // ---- A3 grouped sums (fichajes-style rollup) ----------------------------
    "q15_grouped_sums" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(
          Fns.dsum(col("value")).as("sum_value"),
          count(lit(1)).as("n_events"))
    }),

    // ---- Window ranking (top-3 orders per priority) --------------------------
    "q16_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("rk", rank().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("int").as("rn"), col("rk").cast("int").as("rk"))
    }),

    // ---- Global top-k (orderBy + limit with deterministic tie-break) --------
    "q17_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    }),

    // ---- F1-F5, F13 + JSON extraction over events ---------------------------
    "q18_scalar_json" -> ((s, dir) => {
      t(s, dir, "events").select(
        col("event_id"),
        to_date(col("ts")).as("day"),
        date_format(col("ts"), "yyyy-MM-dd").as("day_str"),
        hour(col("ts")).cast("int").as("h"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        upper(col("event_type")).as("etype"))
    }),

    // ---- F9/F10 casts (truncating toward zero, null-safe) -------------------
    "q19_casts" -> ((s, dir) => {
      t(s, dir, "customer").select(
        col("c_custkey"),
        col("c_acctbal").cast("int").as("bal_int"),
        col("c_nationkey").cast("double").as("nk_double"),
        col("c_custkey").cast("string").as("key_str"))
    }),

    // ---- Rollup grouping sets (extension beyond reference) ------------------
    "q20_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), Fns.dsum(col("l_quantity")).as("sum_qty"))
    }),

    // ---- Streaming-shaped: tumbling event-time window (batch form) ----------
    "q21_tumbling_window" -> ((s, dir) => {
      Streams.tumblingCounts(t(s, dir, "events"), "1 hour")
    }),

    // ---- Streaming-shaped: gap sessionization (batch form) ------------------
    "q22_sessionize" -> ((s, dir) => {
      Streams.sessionizeBatch(t(s, dir, "events"), 30)
    }),

    // ---- Dedup: exact content-hash groups ------------------------------------
    "q23_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
    }),

    // ---- Dedup: bag-of-words fingerprint collision groups --------------------
    "q24_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .filter(col("n_dups") > 1)
    }),

    // ---- Dedup: exact n-gram Jaccard pairs (unigram word sets) ---------------
    // budget-governed like every catalog pair generator (round-10 verdict):
    // the pre-flight counts the prefix-join candidate volume exactly and
    // refuses above 100 M — far above any test SF (sf0.1 ≈ 31 k pairs),
    // far below the disk-fill regime
    "q25_jaccard_pairs" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", 1, 0.8,
        budgetPairs = 100000000L)
    }),

    // ---- Dedup: 3-gram Jaccard pairs (sequence shingles) ----------------------
    "q26_jaccard3_pairs" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.1)
    }),

    // ---- Dedup: MinHash+LSH candidates, exact-verified (no oracle: engine hash)
    "q27_minhash_lsh" -> ((s, dir) => {
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text", n = 1,
        numHashes = 64, bands = 16, verifyThreshold = 0.8)
    }),

    // ---- Dedup: SimHash near-dup pairs (no oracle: engine hash) --------------
    "q28_simhash" -> ((s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, budgetPairs = 10000000000L)
    }),

    // ---- Similarity: brute-force cosine top-k ---------------------------------
    "q29_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),

    // ---- Similarity: LSH-bucketed ANN top-k (no oracle: approximate) ----------
    // planes auto-scaled to constant bucket occupancy (floors at the tuned
    // 4-plane default here, so the pinned partial check is unchanged)
    "q30_lsh_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopKAuto(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),

    // ---- Similarity: cosine near-dup pairs -------------------------------------
    // brute-force EXACTNESS BASELINE, budget-governed: all-pairs volume is
    // n·(n−1)/2 from one count — 100 M budget admits n ≤ ~14 k (sf0.1 has
    // 5 k vectors) and refuses the replica scales that filled the disk
    "q31_cosine_pairs" -> ((s, dir) => {
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4,
        budgetPairs = 100000000L)
        .select(col("id_a"), col("id_b"))
    }),

    // ---- Text: token/char/quality stats ---------------------------------------
    "q32_text_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("int").as("n_tokens"),
        length(col("text")).cast("int").as("n_chars"),
        (length(col("text")) - (TextAnalysis.tokenCount(col("text")) - lit(1))).cast("double")
          ./(greatest(TextAnalysis.tokenCount(col("text")), lit(1))).as("mean_token_len"))
    }),

    // ---- Text: heuristic language ID -------------------------------------------
    "q33_langid" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
    }),

    // ---- Multimodal: opaque binary payload stats --------------------------------
    "q34_media_bytestats" -> ((s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text", "txt")
      Multimodal.byteStats(media)
    }),

    // ---- Multimodal: frame sampling over typed metadata (the frame count
    // arrives as store-side metadata here; the REAL decode boundary is
    // exercised by q166's javax.imageio round-trip) --------------------------
    "q35_frame_sample" -> ((s, dir) => {
      val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text", "txt")
      val decoded = media.withColumn("decoded", struct(
        (lit(1) + pmod(length(col("media")), lit(16))).cast("int").as("n_frames")))
      Multimodal.sampleFrames(decoded, stride = 4)
    }),

    // ---- Imputation: mean over non-missing ("negative = missing") ---------------
    "q36_impute_mean" -> ((s, dir) => {
      Imputation.impute(t(s, dir, "customer"), "c_acctbal", Imputation.Mean, col("c_acctbal") < 0)
        .select(col("c_custkey"), col("c_acctbal_imputed"))
    }),

    // ---- Imputation: median ------------------------------------------------------
    "q37_impute_median" -> ((s, dir) => {
      Imputation.impute(t(s, dir, "customer"), "c_acctbal", Imputation.Median, col("c_acctbal") < 0)
        .select(col("c_custkey"), col("c_acctbal_imputed"))
    }),

    // ---- Imputation: categorical mode ---------------------------------------------
    "q38_impute_mode" -> ((s, dir) => {
      Imputation.impute(t(s, dir, "orders"), "o_orderpriority", Imputation.Mode, col("o_orderstatus") === "P")
        .select(col("o_orderkey"), col("o_orderpriority_imputed"))
    }),

    // ---- Imputation: grouped mean ---------------------------------------------------
    "q39_impute_group_mean" -> ((s, dir) => {
      Imputation.imputeGroupMean(t(s, dir, "customer"), "c_acctbal", Seq("c_mktsegment"), col("c_acctbal") < 0)
        .select(col("c_custkey"), col("c_acctbal_imputed"))
    }),

    // ---- TPC-H Q3-shaped: join + agg + top-k via spark.sql ---------------------------
    "q40_sql_q3" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT l.l_orderkey AS orderkey,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               o.o_orderdate AS orderdate
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
          AND l.l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l.l_orderkey, o.o_orderdate
        ORDER BY revenue DESC, orderkey ASC
        LIMIT 10
      """)
    }),

    // ---- TPC-H Q5-shaped: multi-join star query ----------------------------------------
    "q41_sql_q5" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql("""
        SELECT n.n_name AS nation,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n.n_name
      """)
    }),

    // ---- Composite: the reference's imputations pipeline shape -------------------------
    "q42_pipeline" -> ((s, dir) => {
      val l = ext.Multimodal.fanOut(t(s, dir, "lineitem"))
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val fact = l
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .withColumn("fecha", to_date(col("l_shipdate")))
      fact.groupBy(col("o_custkey"), col("n_name"), col("fecha"))
        .agg(
          Fns.dsum(col("l_quantity")).as("horas"),
          Aggregates.firstBy(col("o_orderpriority"), col("o_orderkey")).as("prioridad"),
          count(lit(1)).as("n_lineas"))
    }),

    // ---- DISTINCT (set semantics) --------------------------------------------------------
    "q43_distinct" -> ((s, dir) => {
      t(s, dir, "events").select(col("user_id"), col("event_type")).distinct()
    }),

    // ---- As-of join (trade/quote pattern; union+window, one shuffle) ---------
    "q44_asof_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
      Joins.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts", Seq("purchase_value"))
        .select(col("event_id"), col("user_id"), col("purchase_value"))
    }),

    // ---- Range join without equi key (binned interval join) ------------------
    "q45_range_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val windows = s.range(1).select(explode(sequence(
          to_timestamp(lit("2024-01-01")).cast("timestamp_ntz"),
          to_timestamp(lit("2024-01-29")).cast("timestamp_ntz"),
          expr("interval 7 days"))).as("w_start"))
        .withColumn("w_end", col("w_start") + expr("interval 7 days"))
      Joins.rangeJoinBinned(e, "ts", windows, "w_start", "w_end", 7L * 86400)
        .groupBy(col("w_start"))
        .agg(count(lit(1)).as("n"), Fns.dsum(col("value")).as("sum_value"))
    }),

    // ---- PIVOT (explicit value list => deterministic columns) ----------------
    "q46_pivot" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
    }),

    // ---- Exact percentiles + distinct aggregate ------------------------------
    "q47_percentiles" -> ((s, dir) => {
      // Exact percentiles via the histogram operator (no per-group value
      // buffering — see Aggregates.exactPercentilesByKey); countDistinct
      // runs as its own two-phase aggregate (mixing it with other aggs
      // forces an Expand that duplicates the input) and joins back on the
      // 3-row result.
      val li = t(s, dir, "lineitem")
      val pcts = Aggregates.exactPercentilesByKey(li, "l_returnflag", "l_quantity",
        Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75"))
      val nd = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"))
      pcts.join(nd, Seq("l_returnflag"))
    }),

    // ---- CUBE grouping sets ---------------------------------------------------
    "q48_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), Fns.dsum(col("l_quantity")).as("sum_qty"))
    }),

    // ---- Window frames: moving sum + lag delta --------------------------------
    "q49_window_frames" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(DecimalType(18, 4)))
          .over(w.rowsBetween(-2, Window.currentRow)).cast("double").as("moving3"),
        (col("o_totalprice") - lag(col("o_totalprice"), 1).over(w)).as("delta_prev"))
    }),

    // ---- String/conditional scalar battery ------------------------------------
    "q50_scalar_strings" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_name"), 1, 10).as("name_prefix"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_type"), lit(" "), lit("_")).as("type_snake"),
        length(col("p_name")).cast("int").as("name_len"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
        regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
        instr(col("p_name"), " ").cast("int").as("first_space"),
        when(col("p_size") > 25, lit("big")).otherwise(lit("small")).as("size_class"),
        coalesce(nullif(col("p_brand"), lit("Brand#13")), lit("OTHER")).as("brand_or_other"))
    }),

    // ---- Semi join (EXISTS) ----------------------------------------------------
    "q51_exists_semi" -> ((s, dir) => {
      val shipped98 = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1998-01-01")) &&
                col("l_shipdate") < to_timestamp(lit("1999-01-01")))
        .select(col("l_suppkey").as("s_suppkey"))
      Joins.semiByKey(t(s, dir, "supplier"), shipped98, Seq("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"))
    }),

    // ---- Explode / unnest + token frequency ------------------------------------
    "q52_explode_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    }),

    // ---- HLL approximate distinct (no oracle: engine-specific sketch) ----------
    "q53_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
             countDistinct(col("l_partkey")).as("exact_parts"))
    }),

    // ---- Full reference pipelines, end-to-end ----------------------------------
    "q54_pipeline_imputations" -> ((s, dir) => {
      graft.pipeline.Pipelines.imputations(s, dir,
        from = "1998-06-01", to = "1998-09-01", loadedFrom = "1998-01-01")
    }),

    "q55_pipeline_fichajes" -> ((s, dir) => {
      graft.pipeline.Pipelines.fichajes(s, dir)
    }),

    // ---- IVF approximate nearest neighbors (no oracle: approximate) ------------
    "q56_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // near-random corpus: nprobe 8/16 holds the 0.7 recall floor (see
      // SimilaritySpec); clustered corpora need far fewer probes
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
        nlist = 16, nprobe = 8)
    }),

    // ---- Text quality scoring ----------------------------------------------------
    "q57_quality_score" -> ((s, dir) => {
      TextAnalysis.qualityFeatures(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
          col("stopword_ratio"), col("mean_token_len"), col("quality_score"))
    }),

    // ---- Deterministic second-moment stats (cov/corr via decimal sums) ----------
    // stddev/corr over doubles are accumulation-order-dependent; computing the
    // moments as exact decimal sums and combining in double is bit-reproducible
    // on any cluster AND matches the oracle exactly.
    "q59_stats_moments" -> ((s, dir) => {
      // Per-row work is pure long arithmetic: the 2-decimal doubles are lifted
      // to scaled longs (qty*100, price*100 — exact: representation error of a
      // 2-dec double is ~1e-9, far below the 0.5 rounding margin), multiplied
      // as longs, and summed as DECIMAL(38,0) so the running sum can never
      // overflow even at 100 TB group sizes. Decimal(38,0) of a long stays on
      // the compact (long-backed) fast path — no per-row BigDecimal, unlike a
      // Decimal(18,2)×Decimal(18,2) product which widens to Decimal(37,4).
      // Finalization: each integer sum gets ONE correctly-rounded cast to
      // double (identical to DuckDB's hugeint→double), then the covariance /
      // correlation formulas run in doubles with the 10^4 scale divided out
      // once — the oracle SQL evaluates the exact same expression tree.
      val q100 = round(col("l_quantity") * lit(100)).cast("long")
      val p100 = round(col("l_extendedprice") * lit(100)).cast("long")
      val d380 = DecimalType(38, 0)
      val base = t(s, dir, "lineitem")
        .select(col("l_returnflag"), q100.as("q100"), p100.as("p100"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("q100").cast(d380)).as("sx"),
          sum(col("p100").cast(d380)).as("sy"),
          sum((col("q100") * col("p100")).cast(d380)).as("sxy"),
          sum((col("q100") * col("q100")).cast(d380)).as("sxx"),
          sum((col("p100") * col("p100")).cast(d380)).as("syy"))
      val n = col("n").cast("double")
      val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
      val cov = (col("sxy").cast("double") / n - (sx / n) * (sy / n)) / lit(1.0e4)
      val varX = (col("sxx").cast("double") / n - (sx / n) * (sx / n)) / lit(1.0e4)
      val varY = (col("syy").cast("double") / n - (sy / n) * (sy / n)) / lit(1.0e4)
      base.select(
        col("l_returnflag"), col("n"),
        cov.as("cov_qty_price"),
        (cov / sqrt(varX * varY)).as("corr_qty_price"))
    }),

    // ---- TF / DF term statistics (exact-ratio form; log-free for determinism) ---
    "q68_tf_df" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val docLen = toks.groupBy("doc_id").agg(count(lit(1)).as("doc_len"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      // dfreq has VOCABULARY cardinality (grows with the corpus) — no
      // broadcast hint; AQE broadcasts only when it actually fits
      tf.join(docLen, Seq("doc_id"))
        .join(dfreq, Seq("token"))
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          (col("tf").cast("double") / col("doc_len")).as("tf_norm"))
    }),

    // ---- Deterministic train/val/test split (stable across runs & engines) ------
    "q69_train_split" -> ((s, dir) => {
      val split = when(pmod(col("doc_id"), lit(10)) < 8, lit("train"))
        .when(pmod(col("doc_id"), lit(10)) === 8, lit("val"))
        .otherwise(lit("test"))
      t(s, dir, "documents")
        .withColumn("split", split)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          Fns.dsum(length(col("text")).cast("double")).as("total_chars"))
    }),

    // ---- Recall harness: measured approximation quality of the ANN/sketch ops.
    // The approximate side is not SQL-expressible (engine-specific hashes), so
    // these are rows-only entries — but the recall VALUES are deterministic
    // (hyperplanes/centroids/minhash all seed-free) and are asserted against
    // floors in SimilaritySpec/DedupSpec.
    "q70_lsh_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Recall.topKRecall(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5),
        Similarity.lshTopK(e, q, "vec_id", "embedding", 5))
    }),

    "q71_ivf_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Recall.topKRecall(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5),
        Similarity.ivfTopK(e, q, "vec_id", "embedding", 5, nlist = 16, nprobe = 8))
    }),

    "q72_minhash_recall" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Recall.pairRecall(
        Dedup.ngramJaccardPairs(d, "doc_id", "text", 1, 0.8),
        Dedup.minhashLshPairs(d, "doc_id", "text", 1, 64, 16, 0.8))
    }),

    // ---- Cosine near-dup pairs, LSH-bucketed (the scale path for q31) ---------
    // (planes, tables) auto-selected by lshPlan: occupancy-constant buckets
    // keep candidates ~linear in the corpus (the fixed-(4,8) form measured
    // 28× wall-time at 10× rows on the sf1 replica), tables solved for the
    // 0.9 recall target.
    // GOVERNED since round 10: the auto plan now runs behind the
    // candidate-volume pre-flight (q174's arithmetic) — under the 2·10⁹
    // budget the plan and pairs are IDENTICAL to the ungoverned auto form
    // (the ×4-SF pins are unchanged); over it (the sf10/θ=0.4 regime that
    // once filled the sandbox disk) the operator refuses with the estimate
    // in seconds instead of spilling for an hour.
    "q73_cosine_pairs_bucketed" -> ((s, dir) => {
      Similarity.cosineNearDupPairsGoverned(
        t(s, dir, "embeddings"), "vec_id", "embedding", 0.4,
        budgetPairs = 2000000000L)
        .select(col("id_a"), col("id_b"))
    }),

    // ---- Per-key row caps (per-source document limits) ------------------------
    "q76_cap_per_key" -> ((s, dir) => {
      Relational.capPerKey(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"), col("o_orderdate")),
        "o_custkey", 3, col("o_orderkey"))
    }),

    // ---- Deterministic hash sampling (engine-neutral md5 threshold) ------------
    "q77_hash_sample" -> ((s, dir) => {
      Relational.deterministicSample(t(s, dir, "documents"), "doc_id", "19999999")
        .select(col("doc_id"))
    }),

    // ---- PII redaction (email / phone / digit-run scrub, codegen projection) ---
    "q78_redact" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"), TextAnalysis.redact(col("c_name")).as("redacted"))
    }),

    // ---- Column profiling (single-scan melt + one grouped aggregate) ----------
    "q79_profile" -> ((s, dir) => {
      Profiling.columnProfile(t(s, dir, "part"),
        Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size"))
    }),

    // ---- Stratified deterministic sampling (per-domain keep rates) ------------
    "q84_stratified_sample" -> ((s, dir) => {
      Relational.stratifiedSample(t(s, dir, "events"), "event_id", "event_type",
        Map("purchase" -> 1.0, "click" -> 0.25), defaultFraction = 0.0625)
        .select(col("event_id"), col("event_type"))
    }),

    // ---- SQL surface of the native expressions (SparkSessionExtensions) -------
    // The same exact ANN as q29, but written ENTIRELY in SQL against the
    // graft_* functions that `GraftFunctions.register` /
    // `spark.sql.extensions=graft.functions.GraftExtensions` inject — the
    // parser→FunctionRegistry→codegen path a pure-SQL user exercises.
    "q85_sql_extensions" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("embeddings")
      s.sql("""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
                          sqrt(graft_float_dot(embedding, embedding)) AS qn
                   FROM embeddings WHERE vec_id < 10),
             c AS (SELECT vec_id AS neighbor_id, embedding AS cv,
                          sqrt(graft_float_dot(embedding, embedding)) AS cn
                   FROM embeddings)
        SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY graft_float_dot(qv, cv) / (qn * cn) DESC,
                            neighbor_id ASC) AS rank
          FROM q JOIN c ON query_id <> neighbor_id)
        WHERE rank <= 5
      """)
    }),

    // ---- Exact heavy hitters (corpus-frequency outliers) ----------------------
    // Tokens holding > 1/30 of all token mass: one explode + hash agg, then
    // the 31-row aggregate broadcast back — the total never shuffles the
    // token stream twice, so the shape is scan + one shuffle at any corpus
    // size. (Sketch variants: see `approx_count_distinct` q53 and the
    // CountMinSketch spec.)
    "q86_heavy_hitters" -> ((s, dir) => {
      val tk = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val g = tk.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val tot = g.agg(sum(col("cnt")).as("n"))
      g.crossJoin(broadcast(tot))
        .filter(col("cnt") * 30 > col("n"))
        .select(col("token"), col("cnt"),
          (col("cnt").cast("double") / col("n").cast("double")).as("share"))
    }),

    // ---- SQ8-compressed ANN (approximate: quantized ordering, no oracle) ------
    "q87_sq8_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.sq8TopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
    }),

    "q88_sq8_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Recall.topKRecall(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5),
        Similarity.sq8TopK(e, q, "vec_id", "embedding", 5))
    }),

    // ---- Context-window chunking (50-token chunks every 40 tokens) ------------
    "q89_doc_chunks" -> ((s, dir) =>
      TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text", 50, 40)),

    // ---- Per-domain deterministic sequence packing (budget 200 tokens) --------
    "q90_sequence_pack" -> ((s, dir) =>
      TextAnalysis.sequencePack(t(s, dir, "documents"), "doc_id", "text",
        "source", 200)),

    // ---- Composed ANN: LSH buckets prune, SQ8 codes rank — the flagship
    // 100-TB similarity plan (equi-join candidate generation + compressed
    // ranking + bounded-heap top-k; recall floor asserted in SimilaritySpec) --
    "q91_lsh_sq8_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshSq8TopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
        numPlanes = 4, tables = 12)
    }),

    // ---- Driver-visible partial checks for the approximate (no-oracle)
    // operators. The approximate outputs themselves are not SQL-expressible
    // (engine-specific hashes), but these companions ARE exactly checkable:
    // containment of derivable subsets, structural contracts, and measured
    // recall floors, each with a real DuckDB oracle. They turn the no_oracle
    // rows into partially-verified ones without weakening the originals. ----

    // q27/q72 companion: documents with the same bag-of-words fingerprint
    // have IDENTICAL 1-gram shingle sets, hence jaccard = 1 and identical
    // MinHash signatures — every fingerprint-collision pair MUST survive
    // banding + verification. Non-vacuous at sf0.01 (21 collision groups),
    // and the collision pairs are fully derivable in SQL (q24's fingerprint).
    "q92_minhash_dup_check" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val fp = d.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      val dup = fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      Dedup.minhashLshPairs(d, "doc_id", "text", 1, 64, 16, 0.8)
        .select(col("id_a"), col("id_b"))
        .join(dup, Seq("id_a", "id_b"))
    }),

    // q28 companion: identical text => identical SimHash => hamming 0 <= 3.
    // (Vacuously true at sf0.01 — the corpus has no exact-duplicate texts —
    // but the invariant is what a driver-visible regression would break at
    // any scale factor that does have them; frequency-sensitive SimHash
    // gives no guarantee for weaker-than-identical duplicates.)
    "q93_simhash_dup_check" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val dup = d.as("a").join(d.as("b"),
          col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      Dedup.simhashPairs(d, "doc_id", "text", maxHamming = 3,
          budgetPairs = 10000000000L)
        .select(col("id_a"), col("id_b"))
        .join(dup, Seq("id_a", "id_b"))
    }),

    // q30/q70 companion: macro recall@5 of LSH vs exact, thresholded at the
    // spec floor — the recall VALUE is deterministic (seed-free planes).
    "q94_lsh_recall_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Recall.topKRecall(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5),
          Similarity.lshTopK(e, q, "vec_id", "embedding", 5))
        .agg(count(lit(1)).as("n_queries"),
          (avg(col("recall")) >= 0.6).as("above_floor"))
    }),

    // q56/q71 companion: IVF recall floor (k-means cells, nprobe 8/16).
    "q95_ivf_recall_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Recall.topKRecall(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5),
          Similarity.ivfTopK(e, q, "vec_id", "embedding", 5, nlist = 16, nprobe = 8))
        .agg(count(lit(1)).as("n_queries"),
          (avg(col("recall")) >= 0.7).as("above_floor"))
    }),

    // q87/q88 companion: 1 B/dim quantization keeps every query's top-5
    // recall above a SCALE-AWARE floor — exactly 1.0 at sf0.001/sf0.01
    // (small corpora leave no near-ties at the k-boundary, so anything
    // under 1.0 there is a quantizer regression and must fail), 0.75 at
    // sf0.1 and beyond, where 5000+ candidates put near-ties at the
    // k-boundary and the quantization grid flips one borderline neighbor
    // for 2 of 10 queries. Keyed off the sf-dir basename like
    // partialExpectations — a single loosened-for-the-largest-SF floor
    // would let small-sf regressions down to 0.75 pass silently.
    "q96_sq8_recall_check" -> ((s, dir) => {
      val floor = new java.io.File(dir).getName match {
        case "sf0.001" | "sf0.01" => 0.999 // i.e. exact 1.0 for 5-neighbor recall
        case _ => 0.75
      }
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Recall.topKRecall(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5),
          Similarity.sq8TopK(e, q, "vec_id", "embedding", 5))
        .select(col("query_id"), col("n_exact"),
          (col("recall") >= floor).as("above_floor"))
    }),

    // q87 companion: structural contract — every query gets EXACTLY k=5
    // neighbors ranked contiguously 1..5 (sum 15), no more, no fewer.
    "q97_sq8_shape_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.sq8TopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n"), sum(col("rank")).as("rank_sum"))
    }),

    // q53 companion: HLL estimate within its documented error envelope of
    // the exact distinct count, per group (rsd 0.05 default => 15% is a
    // generous deterministic bound; the estimate itself is deterministic).
    "q98_hll_check" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("a"),
          countDistinct(col("l_partkey")).as("e"))
        .select(col("l_returnflag"),
          (abs(col("a") - col("e")).cast("double") / col("e") <= 0.15).as("within_tol"))
    }),

    // q91 companion: composed LSH+SQ8 recall floor (macro 0.94 measured).
    "q99_lsh_sq8_recall_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Recall.topKRecall(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5),
          Similarity.lshSq8TopK(e, q, "vec_id", "embedding", 5,
            numPlanes = 4, tables = 12))
        .agg(count(lit(1)).as("n_queries"),
          (avg(col("recall")) >= 0.8).as("above_floor"))
    }),

    // q73 companion: the bucketed pair generator's verify stage is exact, so
    // its output is a SUBSET of the exact all-pairs result — the anti-join
    // must be empty (precision = 1 by construction, now driver-checked).
    "q100_bucketed_pairs_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.cosineNearDupPairsAuto(e, "vec_id", "embedding", 0.4)
        .select(col("id_a"), col("id_b"))
        .join(Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.4)
          .select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_anti")
    }),

    // q27 companion: the MinHash pair generator verifies candidates against
    // exact jaccard, so its pairs are a subset of the exact generator's —
    // anti-join empty (precision = 1, driver-checked).
    "q101_minhash_precision_check" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.minhashLshPairs(d, "doc_id", "text", 1, 64, 16, 0.8)
        .select(col("id_a"), col("id_b"))
        .join(Dedup.ngramJaccardPairs(d, "doc_id", "text", 1, 0.8)
          .select(col("id_a"), col("id_b")), Seq("id_a", "id_b"), "left_anti")
    }),

    // ---- End-to-end dedup materialization: the operation an LLM-data
    // pipeline actually runs — pairs -> connected components -> keep ONE
    // representative (min id) per cluster with its cluster size. Threshold
    // 0.98 keeps the expected clusters SQL-expressible (see q61), so the
    // whole pipeline is oracle-checked; at lower thresholds the same code
    // runs with MinHash pairs (q27) as the candidate source.
    "q102_dedup_materialize" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.98)
      Dedup.connectedComponents(docs, "doc_id", pairs)
        .groupBy(col("rep"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("rep").as("doc_id"), col("n_members"))
    }),

    // ---- Count-Min sketch heavy hitters, with the sketch's CERTAIN
    // invariant driver-checked: CMS never undercounts, so for every exact
    // heavy hitter the estimate must be >= the true count. The sketch is a
    // fixed-size driver model (width 2719 x depth 5 here) built in one
    // aggregate pass — the frequency surface at 100 TB where even the
    // token->count map no longer fits anywhere. The estimate lookup is a
    // driver-side probe over the <=31 heavy tokens (cold path, not per-row).
    "q108_cms_check" -> ((s, dir) => {
      val tk = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val cms = tk.stat.countMinSketch("token", eps = 0.001, confidence = 0.99, seed = 42)
      val g = tk.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val tot = g.agg(sum(col("cnt")).as("n"))
      val heavy = g.crossJoin(broadcast(tot))
        .filter(col("cnt") * 30 > col("n"))
        .select(col("token"), col("cnt")).collect()
      val s2 = tk.sparkSession
      import scala.jdk.CollectionConverters._
      s2.createDataFrame(
        heavy.map(r => org.apache.spark.sql.Row(
          r.getString(0), cms.estimateCount(r.getString(0)) >= r.getLong(1))).toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("token",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("no_undercount",
            org.apache.spark.sql.types.BooleanType, nullable = false))))
    }),

    // ---- Corpus curation gate: language allowlist + quality floor + token
    // window, first failing check as the reject reason — the keep-list audit
    // artifact of a pre-training curation run. One codegen projection.
    "q105_curation_gate" -> ((s, dir) =>
      TextAnalysis.curationGate(t(s, dir, "documents"), "doc_id", "text",
        langs = Seq("en"), minQuality = 0.5, minTokens = 5, maxTokens = 1000)),

    // ---- TF-IDF scores (q68's exact ratios + smoothed idf; 6-dp rounded
    // because ln() is the one function here that is not integer-exact) ------
    "q106_tfidf" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val docLen = toks.groupBy("doc_id").agg(count(lit(1)).as("doc_len"))
      val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      // dfreq is vocabulary-sized — un-hinted equi-join (AQE decides);
      // only the 1-row nDocs frame is force-broadcast
      tf.join(docLen, Seq("doc_id"))
        .join(dfreq, Seq("token"))
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), col("token"),
          round((col("tf").cast("double") / col("doc_len"))
            * (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + lit(1.0)), 6)
            .as("tfidf"))
    }),

    // ---- Fixed-width histogram (profiling surface: value distribution per
    // group in one hash aggregate — bins are pure arithmetic, no sort) -----
    "q107_histogram" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          floor(col("l_extendedprice") / 5000).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("bin"), (col("bin") * 5000).as("bin_lo"), col("n"))
    }),

    // ---- Blocked edit-distance near-dup pairs: levenshtein <= 2 within
    // two-token-prefix blocks — the title/URL-variant dedup an LLM pipeline
    // runs where token-set similarity is blind (one-char typos). The block
    // width is the quadratic-cost knob: a 1-word prefix on this corpus
    // gives 8 blocks and 25M candidates, the 2-word prefix 64 blocks and
    // 3.1M — with an IDENTICAL result set (measured at sf0.1), because
    // dist<=2 pairs here always agree on the prefix. Length-band prefilter
    // + thresholded (early-abandon) levenshtein; fully oracle-checked
    // against DuckDB's unthresholded computation.
    "q103_editdist_pairs" -> ((s, dir) => {
      val w = split(col("p_name"), " ")
      Dedup.editDistancePairs(t(s, dir, "part"), "p_partkey", "p_name",
        maxDist = 2, blockCol = concat_ws(" ", w.getItem(0), w.getItem(1)))
    }),

    // ---- q103 with the blocking width AUTO-SELECTED: one probe pass
    // measures each candidate prefix width's quadratic residue and the
    // narrowest width under the comparison budget wins (width 1 here at
    // sf0.01, width 2 at sf0.1 — measured identical result sets, which is
    // why one oracle covers both; DedupSpec covers the skewed-block
    // degradation the probe exists for).
    "q124_editdist_auto" -> ((s, dir) =>
      Dedup.editDistancePairsAuto(t(s, dir, "part"), "p_partkey", "p_name",
        maxDist = 2)),

    // ---- Data-recipe mixing: largest language-mixture-exact downsample -------
    // (50% en / 20% de / 15% es / 15% fr; zh outside the recipe drops).
    // Deterministic member selection by (md5(doc_id), doc_id) rank — any
    // engine reproduces the exact set, not just the proportions.
    "q125_mixture_sample" -> ((s, dir) =>
      Mixing.mixtureSample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.15, "fr" -> 0.15))),

    // ---- Epoch-style repeat factors toward a 1000-row mix at the same
    // recipe: scarce domains repeat, abundant domains subsample — the
    // upsampling step real data recipes need. n_repeats=0 rows are the
    // dropped-doc audit trail.
    "q126_mixture_repeats" -> ((s, dir) =>
      Mixing.mixtureRepeats(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.15, "fr" -> 0.15), 1000L)),

    // ---- Token-budget mixture (recipes weight by TOKENS): hash-ranked docs
    // fill each domain's token budget; en cuts off mid-pool, de's whole
    // pool fits its budget — both paths exercised at sf0.01.
    "q128_token_mixture" -> ((s, dir) =>
      Mixing.mixtureTokenSample(t(s, dir, "documents"), "doc_id", "lang",
        size(TextAnalysis.tokens(col("text"))),
        Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.15, "fr" -> 0.15), 20000L)),

    // ---- Dedup-preserving ingest: accept-list for appending a batch to an
    // exactly-deduplicated corpus (anti-join on content hash + within-batch
    // canonical copy) — the invariant-maintenance form of q23/q11.
    "q129_dedup_ingest" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.dedupIngest(d.filter(col("doc_id") < 400), d.filter(col("doc_id") >= 400),
        "doc_id", "text")
    }),

    // ---- Directed containment pairs: the partial-overlap dup Jaccard
    // under-scores (short doc quoted whole inside a long one) — 3-gram
    // shingles, |A∩B|/|A| >= 0.8, (a,b) = a inside b.
    "q130_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text", 3, 0.8)),

    // ---- Dataset card: the per-(source, lang) datasheet a corpus release
    // ships — doc/token counts, mean quality (decimal-domain avg, order-
    // independent), and exact-dup counts (docs sharing a content hash with
    // ANY corpus doc). One scan + two hash joins on 16-byte keys.
    "q137_dataset_card" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val feats = TextAnalysis.qualityFeatures(d, "text")
        .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      val hashes = d.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      val hc = hashes.groupBy(col("h")).agg(count(lit(1)).as("hc"))
      val dup = hashes.join(hc, Seq("h")).select(col("doc_id"), (col("hc") > 1).as("is_dup"))
      d.select(col("doc_id"), col("source"), col("lang"))
        .join(feats, Seq("doc_id")).join(dup, Seq("doc_id"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("n_tokens"),
          // decimal-domain SUM (exact, order-independent); the mean is
          // sum/n_docs for the reader — dividing here would reintroduce
          // the double round-half-tie the decimal domain exists to avoid
          sum(round(col("quality_score"), 6).cast("decimal(18,6)"))
            .cast("double").as("sum_quality"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_exact_dups"))
    }),

    // ---- Vocabulary coverage: top-V tokens by corpus frequency with the
    // cumulative coverage fraction — the vocab-construction artifact. The
    // cumsum window is global but runs AFTER TakeOrderedAndProject bounds
    // the frame to V rows — bounded by the model size, not the corpus.
    "q138_vocab_coverage" -> ((s, dir) => {
      val tk = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      val counts = tk.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("tot"))
      val top = counts.orderBy(col("cnt").desc, col("token").asc).limit(1000)
      val w = Window.orderBy(col("cnt").desc, col("token").asc)
      top.withColumn("rank", row_number().over(w))
        .withColumn("cum", sum(col("cnt")).over(w))
        .crossJoin(broadcast(total))
        .select(col("token"), col("cnt"), col("rank").cast("int").as("rank"),
          round(col("cum").cast("double") / col("tot"), 6).as("coverage"))
    }),

    // ---- Source-overlap matrix: near-dup pair counts by (source_a,
    // source_b) — WHICH sources copy from each other, the curation
    // diagnostic that decides dedup order and source trust. Exact 1-gram
    // Jaccard pairs (q25 machinery) joined back to the two docs' sources;
    // unordered source pair normalized so the matrix is upper-triangular.
    // This is the LABELED EXACT BASELINE — the matrix an audit run
    // computes at a scale where the exact pair job is affordable; q144 is
    // the same matrix over the MinHash-banded generator, the form that
    // survives corpus scale.
    "q136_source_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      overlapMatrix(d, Dedup.ngramJaccardPairs(d, "doc_id", "text", 1, 0.8))
    }),

    // ---- q136's SCALE PATH: the same source-overlap matrix over the
    // MinHash-banded pair generator (candidates from one band equi-join,
    // exact-Jaccard verify) instead of the exact all-pairs machinery —
    // AND aggregated at the distinct-set level (Dedup.minhashSourceOverlap),
    // so no document pair is ever materialized: on the dup-dense 10×
    // replica the expanded pair set is ~30 M rows and composing
    // overlapMatrix over minhashLshPairs drags it through five pair-sized
    // shuffles; the count factors through (skey, source) member counts
    // instead. Verify-first ⇒ every counted pair is a true ≥0.8 pair, so
    // each cell is a LOWER BOUND of q136's cell (missed pairs are banding
    // recall, not precision) — q145 driver-checks that dominance cell by
    // cell, and ALSO that this factored count equals the pair-expanded
    // count exactly.
    "q144_source_overlap_lsh" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.minhashSourceOverlap(d, "doc_id", "text", "source", 1, 64, 16, 0.8)
    }),

    // q144 companion, two invariants in one empty witness: (1) banded
    // pairs ⊆ exact pairs (precision 1 by verify-first construction), so
    // q144's matrix must be cell-wise dominated by q136's — a q144 cell
    // exceeding its q136 cell, or appearing without one, would prove a
    // false pair; (2) the factored set-level count must EQUAL the
    // pair-expanded count (overlapMatrix over minhashLshPairs) cell by
    // cell — any mismatch would prove the factorization wrong. Empty by
    // construction, driver-checked against a WHERE FALSE oracle.
    "q145_source_overlap_check" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val banded = Dedup.minhashSourceOverlap(d, "doc_id", "text", "source", 1, 64, 16, 0.8)
      val expanded = overlapMatrix(d, Dedup.minhashLshPairs(d, "doc_id", "text", 1, 64, 16, 0.8))
        .withColumnsRenamed(Map("n_pairs" -> "n_expanded"))
      val exact = overlapMatrix(d, Dedup.ngramJaccardPairs(d, "doc_id", "text", 1, 0.8))
        .withColumnsRenamed(Map("n_pairs" -> "n_exact"))
      banded.join(exact, Seq("source_a", "source_b"), "left")
        .join(expanded, Seq("source_a", "source_b"), "full")
        .filter(col("n_exact").isNull || col("n_pairs") > col("n_exact") ||
          col("n_pairs").isNull || col("n_expanded").isNull ||
          col("n_pairs") =!= col("n_expanded"))
        .select(col("source_a"), col("source_b"), col("n_pairs"))
    }),

    // ---- Hot-token boilerplate pruning (C4-style strip at token
    // granularity): tokens in > 40% of documents are corpus boilerplate;
    // the rewrite is one codegen'd projection against the broadcast Zipf
    // head — corpus text never shuffles.
    "q146_prune_hot_tokens" -> ((s, dir) =>
      TextAnalysis.pruneHotTokens(t(s, dir, "documents"), "doc_id", "text", 0.4)),

    // ---- LM-perplexity curation funnel (CCNet-style): gate documents on
    // the bigram-LM mean log-probability (q135 machinery) and report the
    // per-source funnel — scored (>= 2 tokens), kept at the floor, and
    // the decimal-exact sum of kept scores as the audit statistic.
    "q147_lm_gate_funnel" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val scores = TextAnalysis.bigramLmScores(d, "doc_id", "text")
      d.select(col("doc_id"), col("source"))
        .join(scores.select(col("doc_id"), col("avg_logprob")), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("avg_logprob")).as("n_scored"),
          sum(when(col("avg_logprob") >= lit(-3.5), 1L).otherwise(0L)).as("n_kept"),
          // decimal-domain sum (order-free), double on the way out — the
          // Fns.dsum contract; 6 dp matches the scores' rounding
          sum(when(col("avg_logprob") >= lit(-3.5),
            col("avg_logprob").cast("decimal(18,6)")).otherwise(lit(null)))
            .cast("double").as("sum_kept_logprob"))
    }),

    // ---- Containment-prune policy: drop every document that is (nearly)
    // contained in another (q130's directed pairs, contained side), keep
    // the containers — the dedup decision substring-style duplication
    // calls for, where Jaccard under-scores. Reports the per-source
    // keep/drop funnel.
    "q148_containment_prune" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val contained = Dedup.containmentPairs(d, "doc_id", "text", 3, 0.8)
        .select(col("id_a").as("doc_id")).distinct()
      d.select(col("doc_id"), col("source"))
        .join(contained.withColumn("__drop", lit(1)), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__drop").isNotNull, 1L).otherwise(0L)).as("n_dropped"))
    }),

    // ---- Pairwise correlation matrix in ONE aggregate pass: the q59
    // integer-moment discipline extended to 3 variables — one groupBy
    // computes the full moment vector (3 sums, 6 products as
    // DECIMAL(38,0)), every pairwise corr derives from it, and the matrix
    // unpivots map-side. The scan is read ONCE however many variable
    // pairs are profiled; corr's ×10⁴ scale cancels.
    "q149_corr_matrix" -> ((s, dir) => {
      val d380 = DecimalType(38, 0)
      def s100(c: String) = round(col(c) * lit(100)).cast("long")
      val m = t(s, dir, "lineitem")
        .select(col("l_returnflag"), s100("l_quantity").as("v1"),
          s100("l_extendedprice").as("v2"), s100("l_discount").as("v3"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("v1").cast(d380)).as("s1"),
          sum(col("v2").cast(d380)).as("s2"),
          sum(col("v3").cast(d380)).as("s3"),
          sum((col("v1") * col("v1")).cast(d380)).as("s11"),
          sum((col("v2") * col("v2")).cast(d380)).as("s22"),
          sum((col("v3") * col("v3")).cast(d380)).as("s33"),
          sum((col("v1") * col("v2")).cast(d380)).as("s12"),
          sum((col("v1") * col("v3")).cast(d380)).as("s13"),
          sum((col("v2") * col("v3")).cast(d380)).as("s23"))
      val n = col("n").cast("double")
      def dbl(c: String) = col(c).cast("double")
      def corr(si: String, sj: String, sij: String, sii: String, sjj: String) =
        (n * dbl(sij) - dbl(si) * dbl(sj)) /
          sqrt((n * dbl(sii) - dbl(si) * dbl(si)) * (n * dbl(sjj) - dbl(sj) * dbl(sj)))
      m.select(col("l_returnflag"), col("n"), explode(array(
          struct(lit("quantity").as("var_x"), lit("price").as("var_y"),
            corr("s1", "s2", "s12", "s11", "s22").as("corr")),
          struct(lit("quantity").as("var_x"), lit("discount").as("var_y"),
            corr("s1", "s3", "s13", "s11", "s33").as("corr")),
          struct(lit("price").as("var_x"), lit("discount").as("var_y"),
            corr("s2", "s3", "s23", "s22", "s33").as("corr")))).as("p"))
        .select(col("l_returnflag"), col("n"), col("p.var_x").as("var_x"),
          col("p.var_y").as("var_y"), col("p.corr").as("corr"))
    }),

    // ---- Per-group OLS trend (price on quantity): closed-form fit from
    // the same one-pass decimal moments; slope/intercept/r² per segment.
    "q150_group_ols" -> ((s, dir) =>
      Profiling.groupOls(t(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", "l_extendedprice")),

    // ---- Per-source token-distribution entropy: vocabulary-diversity
    // observability (template spam collapses it); 6-dp-rounded decimal
    // terms keep the transcendental sum order-free and cross-engine exact.
    "q151_token_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(t(s, dir, "documents"), "source", "text")),

    // ---- Population stability index between the pre-/post-1995 shipment
    // snapshots of the price distribution — the drift gate a retraining
    // pipeline runs on a new corpus cut; q107's bin convention, one-sided
    // bins reported rather than epsilon-smoothed away.
    "q153_psi_drift" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val cut = to_timestamp(lit("1995-01-01"))
      Profiling.populationStability(
        li.filter(col("l_shipdate") < cut), li.filter(col("l_shipdate") >= cut),
        "l_returnflag", "l_extendedprice", 5000.0)
    }),

    // ---- MAD robust outlier screen (the 50%-breakdown complement to
    // q121's IQR fence): exact interpolated medians, per-group stat
    // frames broadcast, fence comparison riding the scan.
    "q154_mad_outliers" -> ((s, dir) =>
      Profiling.madOutliers(t(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", 3.0)),

    // ---- Cluster-balanced diversity sampling: equal per-cell budgets
    // over the auto-fit quantizer cells, so rare embedding modes survive
    // a subsample that uniform hashing would wash out; deterministic
    // md5-order selection within cells. q156 witnesses exact budget
    // adherence and assignment consistency.
    "q155_cluster_sample" -> ((s, dir) =>
      Similarity.clusterSample(t(s, dir, "embeddings"), "vec_id", "embedding", 0.2)),

    // q155 companion, empty by construction: a sampled row missing from
    // the recomputed assignment (the quantizer is a pure function of the
    // corpus, so both runs see identical cells), or a cell whose sampled
    // count differs from min(budget, cell size), would prove the sampler
    // wrong. WHERE FALSE oracle.
    "q156_cluster_sample_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val sample = Similarity.clusterSample(e, "vec_id", "embedding", 0.2)
      val assigned = Similarity.clusterAssign(e, "vec_id", "embedding")
      val n = e.count()
      val nlist = Similarity.autoNlist(n, 256, 4096)
      val budget = math.max(1L, math.ceil(0.2 * n / nlist).toLong)
      val orphan = sample.join(assigned, Seq("vec_id", "cell"), "left_anti")
        .select(col("cell"), lit("orphan").as("violation"), lit(1L).as("n"))
      val sc = sample.groupBy(col("cell")).agg(count(lit(1)).as("got"))
      val ac = assigned.groupBy(col("cell")).agg(count(lit(1)).as("avail"))
      val miscount = ac.join(sc, Seq("cell"), "left")
        .withColumn("want", least(lit(budget), col("avail")))
        .filter(coalesce(col("got"), lit(0L)) =!= col("want"))
        .select(col("cell"), lit("count").as("violation"),
          coalesce(col("got"), lit(0L)).as("n"))
      orphan.unionByName(miscount)
    }),

    // ---- Near-dup degree distribution: how CLUSTERED is the corpus —
    // n_docs per near-dup degree (0 = unique docs), the audit that
    // decides whether pairwise dedup output will be dominated by a few
    // mega-cliques (quadratic pair blowup) or spread thin. Derived from
    // the exact pair set; degree 0 from one anti-count against the
    // corpus total.
    "q159_degree_distribution" -> ((s, dir) =>
      // BANDED candidates folded in the distinct-set QUOTIENT (the
      // q144/q145 pattern end to end): a degree histogram is both
      // approximation-tolerant — so it rides the banded generator, not the
      // exact one (n^1.26, the q136 composition mistake) — and a pure
      // count, so no document pair is ever materialized. q165 witnesses
      // banded ⊆ exact per doc with the expanded exact form as the
      // timing-excluded companion; DedupSpec asserts factored == expanded.
      Dedup.minhashDegreeHistogram(t(s, dir, "documents"), "doc_id", "text",
        1, 64, 16, 0.8)),

    // q159 companion, empty by construction: every banded pair is exact-
    // verified at the same threshold over the same shingles, so the banded
    // pair set is a SUBSET of the exact generator's — a doc whose banded
    // degree exceeds its exact degree (or pairs with no exact row at all)
    // would prove the banding wrong. Re-executes both pipelines, so it is
    // timing-excluded (measurementOnly). WHERE FALSE oracle.
    "q165_degree_check" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      def degrees(pairs: DataFrame, name: String) = pairs
        .select(col("id_a").as("doc_id"))
        .unionAll(pairs.select(col("id_b").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as(name))
      val banded = degrees(
        Dedup.minhashLshPairs(d, "doc_id", "text", 1, 64, 16, 0.8), "banded_degree")
      val exact = degrees(
        Dedup.ngramJaccardPairs(d, "doc_id", "text", 1, 0.8), "exact_degree")
      banded.join(exact, Seq("doc_id"), "left")
        .filter(col("exact_degree").isNull ||
          col("banded_degree") > col("exact_degree"))
        .select(col("doc_id"), col("banded_degree"), col("exact_degree"))
    }),

    // ---- Temperature-weighted domain sampling (α = 0.5, the multilingual
    // rebalancing standard): big sources flatten toward sqrt-share, small
    // sources keep proportionally more — budgets derived in exact integer
    // arithmetic from IEEE sqrt micro-units, selection by the exact
    // bucketed rank-threshold.
    "q163_temperature_sample" -> ((s, dir) =>
      Mixing.temperatureSample(t(s, dir, "documents"), "doc_id", "source", 300L)),

    // Same operator at α = 0.75 (closer to the natural distribution —
    // the "mild rebalance" end of the recipe sweep): n^0.75 factors as
    // sqrt(n)·sqrt(sqrt(n)), so the micro-unit weights stay engine-exact
    // (every sqrt correctly rounded, one once-rounded product) and the
    // oracle reproduces them bit-for-bit.
    "q164_temperature_sample_a75" -> ((s, dir) =>
      Mixing.temperatureSample(t(s, dir, "documents"), "doc_id", "source", 300L,
        alpha = 0.75)),

    // ---- REAL image decode through the batched mapPartitions seam: every
    // row synthesizes an actual PNG (dimensions and RGBA-vs-RGB chosen by
    // a doc_id formula), javax.imageio parses the bytes back, and the
    // row-level decoded properties are the output. The oracle computes the
    // same properties straight from the formula — Spark only matches it by
    // round-tripping a real encoder and a real decoder, so a broken codec
    // (or a stub) cannot pass. Encode and decode both ride mapPartitions:
    // payload bytes are born and die inside the partition, nothing
    // pair-sized or byte-sized ever shuffles.
    "q166_image_decode" -> ((s, dir) => {
      val spec = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        (lit(16) + pmod(col("doc_id"), lit(32))).cast("int").as("width"),
        (lit(16) + pmod(col("doc_id") * 7, lit(24))).cast("int").as("height"),
        (pmod(col("doc_id"), lit(5)) === 0).as("alpha"))
      Multimodal.decodeImages(Multimodal.synthesizePngs(spec))
        .select(col("media_id").as("doc_id"),
          col("decoded.width").as("width"),
          col("decoded.height").as("height"),
          col("decoded.n_channels").as("n_channels"),
          col("decoded.ok").as("decode_ok"))
    }),

    // ---- The END-TO-END corpus-prep recipe — the one artifact an LLM data
    // team ships, chaining every pipeline stage the catalog provides
    // piecemeal: curation gate (q105) → exact dedup (q23) → near dedup at
    // 0.98 (q102) → benchmark decontamination (q81) → leakage-free train
    // split (q161) → temperature mixing at α=0.5 (q163) → sequence packing
    // (q90). Emits the per-stage funnel; every stage count is
    // SQL-expressible, so the WHOLE chain is oracle-checked — any
    // cross-stage contract drift (id/schema mismatch between operators)
    // breaks the hash. Scale shape: each stage materializes only its
    // surviving ID SET (localCheckpoint'd so later stages don't recompute
    // the whole prefix chain — at cluster scale these are the tiny frames
    // you'd persist); the text payload stays in the documents scan and is
    // re-joined per stage, never checkpointed or shuffled whole. The split
    // stage runs the real leakageFreeSplit operator; after near-dedup its
    // 0.98-clusters are singletons BY CONSTRUCTION — that is the invariant
    // the dedup stage guarantees, and exactly why the split's hash decision
    // is leakage-free here (q161 demonstrates the non-degenerate case).
    "q167_corpus_pipeline" -> ((s, dir) => {
      // fanned out AND materialized once at the head: every stage's
      // scan-side pass (the regex-heavy curation gate above all — 1.4 s on
      // ONE task per JobProfile) otherwise inherits the one-row-group
      // sf0.1 scan, and the seven restrict() re-reads would otherwise each
      // re-pay the fan-out shuffle; all downstream joins/aggregates are
      // partitioning-invariant
      val docs = ext.Multimodal.fanOut(t(s, dir, "documents")).localCheckpoint()
      def ids(df: DataFrame): DataFrame = df.select(col("doc_id")).localCheckpoint()
      def restrict(idFrame: DataFrame): DataFrame =
        docs.join(idFrame, Seq("doc_id"), "left_semi")
      // 1. curation: language/quality/length gate
      val curatedIds = ids(TextAnalysis.curationGate(docs, "doc_id", "text",
        langs = Seq("en"), minQuality = 0.5, minTokens = 5, maxTokens = 1000)
        .filter(col("keep")))
      val curated = restrict(curatedIds)
      // 2. exact dedup: one survivor per identical text
      val exactIds = ids(Dedup.exactDedupe(curated, "doc_id", "text"))
      val exact = restrict(exactIds)
      // 3. near dedup: one representative per 0.98-Jaccard component
      val nearIds = ids(Dedup.connectedComponents(exact, "doc_id",
          Dedup.ngramJaccardPairs(exact, "doc_id", "text", 1, 0.98))
        .filter(col("doc_id") === col("rep")))
      val near = restrict(nearIds)
      // 4. decontamination: drop docs sharing >= 20% of 3-gram shingles
      // with the benchmark slice (docs with no shingles carry no evidence
      // of contamination and are kept — the anti-join's null semantics)
      val contaminated = TextAnalysis.contaminationScores(near, "doc_id", "text",
          docs.filter(col("doc_id") < 50), "text", 3)
        .filter(col("contamination") >= 0.2).select(col("doc_id"))
      val cleanIds = near.select(col("doc_id"))
        .join(contaminated, Seq("doc_id"), "left_anti").localCheckpoint()
      val clean = restrict(cleanIds)
      // 5. leakage-free split: whole near-dup clusters to one side
      val trainIds = ids(Dedup.leakageFreeSplit(clean, "doc_id",
          Dedup.ngramJaccardPairs(clean, "doc_id", "text", 1, 0.98),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .filter(col("split") === "train"))
      val train = restrict(trainIds)
      // 6. temperature mixing: flatten source skew at α = 0.5, 200-doc budget
      val mixedIds = ids(Mixing.temperatureSample(train, "doc_id", "source", 200L))
      val mixed = restrict(mixedIds)
      // 7. pack into 200-token training sequences per source
      val packed = TextAnalysis.sequencePack(mixed, "doc_id", "text", "source", 200)
      def stage(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs")).select(lit(name).as("stage"), col("n_docs"))
      stage("0_input", docs)
        .unionByName(stage("1_curated", curatedIds))
        .unionByName(stage("2_exact_dedup", exactIds))
        .unionByName(stage("3_near_dedup", nearIds))
        .unionByName(stage("4_decontaminated", cleanIds))
        .unionByName(stage("5_train", trainIds))
        .unionByName(stage("6_mixed", mixedIds))
        .unionByName(packed
          .agg(countDistinct(concat_ws("#", col("source"), col("bin"))).as("n_docs"))
          .select(lit("7_packed_bins").as("stage"), col("n_docs")))
    }),

    // ---- Substring-level duplication (ExactSubstr diagnostics): a
    // position is duplicated iff its 20-char substring occurs >= 2 times
    // corpus-wide — the duplication token-set dedup cannot see (a copied
    // paragraph inside an otherwise novel document). Exact, linear
    // hash-agg shape; the sampled scale path is winnowing (q75).
    "q168_duplicated_text" -> ((s, dir) =>
      TextAnalysis.duplicatedTextFraction(
        t(s, dir, "documents"), "doc_id", "text", 20)),

    // Corpus-side companion: the most repeated 20-char substrings with
    // occurrence and distinct-document counts — names the boilerplate an
    // ExactSubstr pass would strip. Bounded TakeOrderedAndProject tail.
    "q169_top_dup_grams" -> ((s, dir) =>
      TextAnalysis.topDuplicatedGrams(
        t(s, dir, "documents"), "doc_id", "text", 20, 50)),

    // Char-coverage member: union of the duplicated-gram intervals per
    // document (position counts double-count overlap; this is the text an
    // ExactSubstr cut would actually remove). Interval merge is a per-doc
    // codegen'd sorted fold — bounded by document length, no corpus-sized
    // group state.
    "q170_duplicated_coverage" -> ((s, dir) =>
      TextAnalysis.duplicatedCharCoverage(
        t(s, dir, "documents"), "doc_id", "text", 20)),

    // ---- Leakage-free train/val/test split: near-dup clusters (q61's
    // components at 0.98 — identical word sets on this corpus, so the
    // expected clusters are SQL-expressible) assigned WHOLE to one split
    // by the md5 of their representative — a dedup-unaware random split
    // leaks training near-dups into eval. Fully oracle-checked; q162
    // witnesses the invariant directly.
    "q161_leakage_free_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.98)
      Dedup.leakageFreeSplit(docs, "doc_id", pairs,
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
    }),

    // q161 companion, empty by construction: a near-dup pair whose two
    // docs landed in different splits would be the leak the operator
    // exists to prevent. WHERE FALSE oracle.
    "q162_split_leak_check" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.98)
      val split = Dedup.leakageFreeSplit(docs, "doc_id", pairs,
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select(col("doc_id"), col("split"))
      pairs
        .join(split.withColumnsRenamed(Map("doc_id" -> "id_a", "split" -> "split_a")), Seq("id_a"))
        .join(split.withColumnsRenamed(Map("doc_id" -> "id_b", "split" -> "split_b")), Seq("id_b"))
        .filter(col("split_a") =!= col("split_b"))
        .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"))
    }),

    // ---- Snapshot diff (dataset versioning): added / removed / changed /
    // unchanged between two cuts of the corpus, classified on 16-byte
    // payload hashes computed inside each side's scan — key+hash rows
    // cross the shuffle, the corpus text does not. v2 simulates a release:
    // drops ids < 50, adds >= 450, revises every 13th doc's text.
    "q160_snapshot_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val v1 = d.filter(col("doc_id") < 450)
      val v2 = d.filter(col("doc_id") >= 50)
        .withColumn("text", when(pmod(col("doc_id"), lit(13)) === 0,
          concat(col("text"), lit(" rev"))).otherwise(col("text")))
      Relational.snapshotDiff(v1, v2, "doc_id", Seq("text", "source"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
    }),

    // ---- Incremental source-overlap: the q144 audit matrix in its
    // per-batch production form — which sources is today's batch copying
    // from? Directed (existing source, incoming source), cross-pairs
    // only, counts factored through the per-side set quotient. Split
    // mirrors q118/q129 (corpus < 400, batch >= 400).
    "q157_incremental_overlap" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.minhashSourceOverlapIncremental(
        d.filter(col("doc_id") < 400), d.filter(col("doc_id") >= 400),
        "doc_id", "text", "source", 1, 64, 16, 0.8)
    }),

    // q157 companion, empty by construction: the factored matrix must
    // equal (cell by cell, both directions of the full join) the matrix
    // counted from the EXPANDED incremental pairs — any difference proves
    // the factorization wrong. Pair-level precision (banded ⊆ exact) is
    // q119's witness; this one pins the aggregation. WHERE FALSE oracle.
    "q158_incremental_overlap_check" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val ex = d.filter(col("doc_id") < 400)
      val inc = d.filter(col("doc_id") >= 400)
      val factored = Dedup.minhashSourceOverlapIncremental(
        ex, inc, "doc_id", "text", "source", 1, 64, 16, 0.8)
      val src = d.select(col("doc_id"), col("source"))
      val expanded = Dedup.minhashLshPairsIncremental(
          ex, inc, "doc_id", "text", 1, 64, 16, 0.8)
        .join(src.withColumnsRenamed(
          Map("doc_id" -> "existing_id", "source" -> "source_existing")), Seq("existing_id"))
        .join(src.withColumnsRenamed(
          Map("doc_id" -> "incoming_id", "source" -> "source_incoming")), Seq("incoming_id"))
        .groupBy(col("source_existing"), col("source_incoming"))
        .agg(count(lit(1)).as("n_expanded"))
      factored.join(expanded, Seq("source_existing", "source_incoming"), "full")
        .filter(col("n_pairs").isNull || col("n_expanded").isNull ||
          col("n_pairs") =!= col("n_expanded"))
        .select(col("source_existing"), col("source_incoming"), col("n_pairs"))
    }),

    // ---- Daily volume anomaly flags: day-over-day z-score of event counts
    // from integer-exact moments (n, Σx, Σx² are all integers, so the
    // derived doubles are bit-identical cross-engine) — the ingest-health
    // monitor a data pipeline runs on arrival volumes. |z| > 2 flagged.
    "q143_daily_anomaly" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day")).agg(count(lit(1)).as("n"))
      val stats = daily.agg(count(lit(1)).as("nd"), sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"))
      val mean = col("s1").cast("double") / col("nd")
      val variance = col("s2").cast("double") / col("nd") - mean * mean
      daily.crossJoin(broadcast(stats))
        .withColumn("z", round((col("n") - mean) / sqrt(variance), 6))
        .filter(abs(col("z")) > lit(2.0))
        .select(col("day"), col("n"), col("z"))
    }),

    // ---- Daily event-type distribution DRIFT (q143's volume z-score sees
    // count anomalies; this sees MIX anomalies at constant volume — a
    // producer going quiet while another doubles): per-day Shannon entropy
    // of the event-type distribution (the q151 decimal-term discipline)
    // plus the day-over-day delta from a lag window over the tiny
    // day-level frame. Two hash aggs on (day, type) keys + one window
    // over |days| rows — the event stream never shuffles twice.
    "q152_daily_mix_drift" -> ((s, dir) => {
      val c = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val daily = c.groupBy(col("day"))
        .agg(sum(col("c")).as("n_events"),
          count(lit(1)).as("n_types"),
          sum(round(col("c").cast("double") * log(col("c").cast("double")), 6)
            .cast("decimal(18,6)")).as("__sclnc"))
        .select(col("day"), col("n_events"), col("n_types"),
          round(log(col("n_events").cast("double")) -
            col("__sclnc").cast("double") / col("n_events").cast("double"), 6)
            .as("entropy"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      daily.withColumn("delta_entropy",
        round(col("entropy") - lag(col("entropy"), 1).over(w), 6))
    }),

    // ---- Semantic retrieval: exact ANN top-3 joined back to the document
    // payloads (vec_id and doc_id share the id space in this corpus) — the
    // retrieval surface a RAG pipeline runs; the ANN stage never touches
    // text, payloads join in by id AFTER the top-k is fixed.
    "q142_semantic_retrieval" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val hits = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 3)
      hits.join(t(s, dir, "documents")
          .select(col("doc_id").as("neighbor_id"), col("source")),
        Seq("neighbor_id"))
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("source"))
    }),

    // ---- Per-source doc-length profile: exact token-count quartiles per
    // source via the histogram-percentile operator (no per-group value
    // buffering) — the length-distribution panel of the dataset card.
    "q140_length_profile" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("double").as("n_tokens"))
      Aggregates.exactPercentilesByKey(d, "source", "n_tokens",
        Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75"))
    }),

    // ---- Language-ID confusion matrix: labeled lang vs langId prediction
    // counts — the quality audit of the classifier the curation gate
    // (q105) depends on; one projection + one hash aggregate.
    "q141_langid_confusion" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))),

    // ---- N-gram novelty (memorization surface): fraction of a doc's
    // distinct 3-grams that appear NOWHERE else in the corpus — low
    // novelty flags boilerplate/templated docs that survive exact and
    // near dedup. One explode + df join on 8-byte shingle hashes.
    "q139_ngram_novelty" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), explode(Dedup.hashedShingles(col("text"), 3)).as("sg"))
      val df3 = sh.groupBy(col("sg")).agg(count(lit(1)).as("df"))
      sh.join(df3, Seq("sg"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_ngrams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_ngrams"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_ngrams")).as("novelty"))
    }),

    // ---- Bigram-LM document scoring (KenLM/CCNet-style fluency signal,
    // self-scored corpus LM; decimal-domain log sums for determinism) -------
    "q135_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLmScores(t(s, dir, "documents"), "doc_id", "text")),

    // ---- Sliding event-time windows (1h width / 15min slide: each event
    // fans out to 4 windows; epoch-aligned, batch+stream same semantics) ----
    "q133_sliding_window" -> ((s, dir) =>
      Streams.slidingCounts(t(s, dir, "events"), "1 hour", "15 minutes")),

    // ---- Winsorization (clip to per-group exact p01/p99, then decimal-
    // exact sums): the standard outlier-robust cleaning step; the stat
    // frame is one row per group (fixed 3-value domain), broadcast.
    "q134_winsorize" -> ((s, dir) => {
      // fanned out: both the exact-percentile build and the clip pass are
      // single-split at small SFs otherwise (the scan files carry one row
      // group) — identical results, the stat frame is order-independent
      val li = graft.ext.Multimodal.fanOut(t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice")))
      val q = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.01D)").as("p01"),
          expr("percentile(l_extendedprice, 0.99D)").as("p99"))
      li.join(broadcast(q), Seq("l_returnflag"))
        .withColumn("clipped",
          least(greatest(col("l_extendedprice"), col("p01")), col("p99")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), Fns.dsum(col("clipped")).as("sum_clipped"),
          Fns.dsum(col("l_extendedprice")).as("sum_raw"))
    }),

    // ---- Semantic-dedup ingest: accept-list for appending a vector batch
    // to a semantically-deduplicated store (store-owned quantizer, cell-
    // pruned exact cosine, cross pairs only) — q118's embedding analog.
    "q131_semantic_ingest" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.semanticIngest(e.filter(col("vec_id") < 400),
        e.filter(col("vec_id") >= 400), "vec_id", "embedding", 0.4)
    }),

    // q131 companion: every REJECTED incoming vector has an exact-cosine
    // partner >= threshold somewhere in the store — the anti-join against
    // the brute-force cross scores is empty (precision witness, q112
    // style; the accept side is recall, measured not promised).
    "q132_semantic_ingest_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val ex = e.filter(col("vec_id") < 400)
      val inc = e.filter(col("vec_id") >= 400)
      val rejected = Similarity.semanticIngest(ex, inc, "vec_id", "embedding", 0.4)
        .filter(!col("accept")).select(col("vec_id"))
      val i = inc.select(col("vec_id"), col("embedding").as("iv"))
      val x = ex.select(col("vec_id").as("ex_id"), col("embedding").as("ev"))
      val partnered = i.crossJoin(x)
        .filter(round(Similarity.cosine(col("iv"), col("ev")), 6) >= 0.4)
        .select(col("vec_id")).distinct()
      rejected.join(partnered, Seq("vec_id"), "left_anti")
    }),

    // ---- GROUPING SETS (the explicit form beside rollup q20 / cube q48) -------
    "q114_grouping_sets" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("int").as("gid"),
          count(lit(1)).as("n"), Fns.dsum(col("o_totalprice")).as("total"))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("gid"), col("n"), col("total"))
    }),

    // ---- Funnel analysis (ordered-stage conversion counts) --------------------
    // Each stage's timestamp must be AT OR AFTER the previous stage's: the
    // standard product-analytics funnel, as three per-user aggregates
    // chained by equi-joins on user_id (the event scan is filtered by
    // stage type at the source each time).
    "q115_funnel" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      // The per-user stage frames scale with the USER BASE, not a dim
      // table — no broadcast hints; the joins stay one shuffle on user_id
      // and AQE broadcasts when a stage frame actually fits.
      val s2 = e.filter(col("event_type") === "click")
        .join(s1, "user_id").filter(col("ts") >= col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2, "user_id").filter(col("ts") >= col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_users")).select(lit("1_signup").as("stage"), col("n_users"))
        .unionByName(s2.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click").as("stage"), col("n_users")))
        .unionByName(s3.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase").as("stage"), col("n_users")))
    }),

    // ---- Corpus-prep pipeline: curation gate -> exact dedup, stage counts -----
    // The end-to-end composition a pre-training data run executes: every
    // stage is an already-verified operator (q105 gate, q23-shape exact
    // dedup); this query is the funnel over them — the drop-rate audit
    // artifact that ships with a corpus release.
    "q123_corpus_prep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val gate = TextAnalysis.curationGate(docs, "doc_id", "text",
        langs = Seq("en"), minQuality = 0.5, minTokens = 5, maxTokens = 1000)
      val kept = gate.filter(col("keep")).select(col("doc_id")).join(docs, "doc_id")
      val deduped = Dedup.exactDedupe(kept, "doc_id", "text")
      docs.agg(count(lit(1)).as("n_docs")).select(lit("0_input").as("stage"), col("n_docs"))
        .unionByName(kept.agg(count(lit(1)).as("n_docs"))
          .select(lit("1_curated").as("stage"), col("n_docs")))
        .unionByName(deduped.agg(count(lit(1)).as("n_docs"))
          .select(lit("2_deduped").as("stage"), col("n_docs")))
    }),

    // ---- Unicode normalization (NFC here: DuckDB's nfc_normalize oracles the
    // registered expression end-to-end; NFKC/ligature folding is spec-tested
    // with unicode fixtures in TextAnalysisSpec) -------------------------------
    "q122_text_normalize" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.GraftFunctions.normalizeText(col("text"), "NFC").as("text_nfc"))
    }),

    // ---- Rare-token ratio (deterministic perplexity proxy) --------------------
    "q120_rare_token_ratio" -> ((s, dir) =>
      TextAnalysis.rareTokenRatio(t(s, dir, "documents"), "doc_id", "text", 100L)),

    // ---- IQR outlier counts per group (data-quality profiling) ----------------
    // Tukey fences from EXACT quartiles (the q47 percentile machinery):
    // rows outside [q1 - 1.5*iqr, q3 + 1.5*iqr] flagged per group. The
    // quartile frame is one row per group — broadcast back into the scan.
    "q121_iqr_outliers" -> ((s, dir) => {
      // fanned out like q134: exact-percentile build + fence pass must not
      // inherit the single-split scan; identical results
      val li = graft.ext.Multimodal.fanOut(t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice")))
      val q = li.groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.25D)").as("q1"),
          expr("percentile(l_extendedprice, 0.75D)").as("q3"))
        .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
        .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
      li.join(broadcast(q), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("lo")
            || col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_outliers"))
    }),

    // ---- Incremental dedup: new batch vs stored corpus (cross pairs only) -----
    "q118_incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.minhashLshPairsIncremental(
        d.filter(col("doc_id") < 400), d.filter(col("doc_id") >= 400),
        "doc_id", "text", n = 1, verifyThreshold = 0.8)
    }),

    // q118 companion: verify-first means every emitted cross pair is an
    // exact-jaccard pair of the full corpus at the same threshold — the
    // anti-join against the exact generator is empty (precision = 1,
    // driver-checked; q101 style).
    "q119_incremental_dedup_check" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val inc = Dedup.minhashLshPairsIncremental(
          d.filter(col("doc_id") < 400), d.filter(col("doc_id") >= 400),
          "doc_id", "text", n = 1, verifyThreshold = 0.8)
        .select(least(col("existing_id"), col("incoming_id")).as("id_a"),
          greatest(col("existing_id"), col("incoming_id")).as("id_b"))
      val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", 1, 0.8)
        .select(col("id_a"), col("id_b"))
      inc.join(exact, Seq("id_a", "id_b"), "left_anti")
    }),

    // ---- PMI collocations (phrase mining over corpus-wide counts) -------------
    "q117_pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(t(s, dir, "documents"), "text",
        minCount = 5, topK = 50)),

    // ---- Cohort retention (signup-week cohorts x active-week offsets) ---------
    // The other standard product-analytics matrix beside the funnel: the
    // per-user cohort frame joins the distinct-activity scan on user_id;
    // the only other wide stage is the final (cohort, offset) count.
    "q116_cohort_retention" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val su = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("cohort_day"))
        .withColumn("cohort_week",
          floor(datediff(col("cohort_day"), lit("2024-01-01").cast("date")) / 7))
      val act = e.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      // su is per-user (grows with the user base) — un-hinted join on
      // user_id; AQE may still broadcast at small scale
      act.join(su, "user_id")
        .withColumn("week_offset", floor(datediff(col("d"), col("cohort_day")) / 7))
        .filter(col("week_offset") >= 0)
        .select(col("user_id"), col("cohort_week"), col("week_offset")).distinct()
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // ---- Hard-negative mining (contrastive pairs: nearest different-label) ----
    "q104_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", 5)
    }),

    // ---- Approximate quantiles with a driver-checked error envelope -----------
    // percentile_approx is the sketch that survives 100 TB (bounded-memory
    // mergeable summaries; exact percentile needs the full sorted column) —
    // the check asserts the approximation lands within 1% of the exact
    // value at the configured accuracy, q98-HLL style.
    "q113_approx_quantile_check" -> ((s, dir) => {
      val ps = array(lit(0.25), lit(0.5), lit(0.75))
      t(s, dir, "lineitem")
        .agg(
          expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("ex"),
          percentile_approx(col("l_extendedprice"), ps, lit(10000)).as("ap"))
        .select(posexplode(arrays_zip(col("ex"), col("ap"))))
        .select(element_at(ps, col("pos") + 1).as("p"),
          (abs(col("col.ap") - col("col.ex")) <= abs(col("col.ex")) * lit(0.01))
            .as("within"))
    }),

    // ---- SemDeDup: cluster-pruned semantic dedup keep-list --------------------
    // nlist auto-scaled to constant cell size (fixed 16 cells measured a
    // quadratic curve on the sf1 replica); floors at 16 here, so the sf0.01
    // output — and its pinned partial check — is unchanged.
    "q111_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedupAuto(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)),

    // q111 companion: every id semanticDedup drops was connected to its
    // group by at least one exact-cosine pair ≥ threshold, so a dropped id
    // with NO exact near-dup partner anywhere in the corpus would be a
    // correctness bug — the anti-join is empty by construction
    // (driver-checked precision witness, like q100/q101).
    "q112_semdedup_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val dropped = Similarity.semanticDedupAuto(e, "vec_id", "embedding", 0.4)
        .filter(!col("keep")).select(col("vec_id"))
      val exact = Similarity.cosineNearDupPairs(e, "vec_id", "embedding", 0.4)
      val partnered = exact.select(col("id_a").as("vec_id"))
        .unionByName(exact.select(col("id_b").as("vec_id"))).distinct()
      dropped.join(partnered, Seq("vec_id"), "left_anti")
    }),

    // ---- Repetition scores (Gopher-style curation signals) --------------------
    "q110_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionScores(t(s, dir, "documents"), "doc_id", "text")),

    // ---- Bloom-prefiltered semi join (scan-side pruning before the shuffle) ---
    "q109_bloom_semijoin" -> ((s, dir) => {
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 350000)
      Joins.bloomSemiJoin(t(s, dir, "lineitem"), "l_orderkey",
          bigOrders, "o_orderkey", expectedKeys = 20000)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), Fns.dsum(col("l_quantity")).as("sum_qty"))
    }),

    // ---- KNN imputation (similarity search composed with imputation) ----------
    "q83_knn_impute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
        when(col("vec_id") % 10 === 0, lit(null))
          .otherwise(col("label")).cast("double").as("label"))
      Imputation.knnImpute(e, "vec_id", "embedding", "label", 5)
        .select(col("vec_id"), col("label"))
    }),

    // ---- Typed Aggregator top-k (bounded-buffer partial-aggregable heap) ------
    "q82_topk_agg" -> ((s, dir) => {
      val topk = graft.functions.TopKAgg.topK(3)
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(topk(col("event_id"), col("value")).as("top"))
        .select(col("user_id"), posexplode(col("top")))
        .select(col("user_id"), (col("pos") + 1).cast("int").as("rank"),
          col("col._2").as("event_id"), col("col._1").as("value"))
    }),

    // ---- Benchmark contamination (cross-corpus 3-gram containment) ------------
    "q81_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      TextAnalysis.contaminationScores(
        d, "doc_id", "text", d.filter(col("doc_id") < 50), "text", 3)
    }),

    // ---- Native session_window (declarative gap sessions; the third form
    // next to the window-function batch and flatMapGroupsWithState stream) --
    "q80_session_window" -> ((s, dir) => {
      Streams.sessionWindowAgg(t(s, dir, "events"), "30 minutes")
    }),

    // ---- Winnowing (MOSS) fingerprints: substring-level dedup keys ------------
    "q75_winnowing" -> ((s, dir) => {
      // explode_outer, NOT explode: for a plain explode the optimizer infers
      // a `size(fps) > 0` pre-filter (InferFiltersFromGenerate) and pushes
      // it below the staged projections — inlining the ENTIRE fingerprint
      // expression into an interpreted per-row Filter (measured 300x
      // slowdown). The outer form gets no inferred filter; the explicit
      // null filter on the generator OUTPUT is unpushable and free.
      TextAnalysis.winnowingFingerprints(t(s, dir, "documents"), "text", 3, 4, "fps")
        .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
        .filter(col("fp").isNotNull)
    }),

    // ---- Interval join (batch form of the stream-stream join) -----------------
    "q74_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      Streams.intervalJoin(clicks, buys, "user_id", "0 seconds", "1 hour")
        .select(col("user_id"),
          col("event_id").as("click_id"), col("r_event_id").as("purchase_id"),
          col("ts").as("click_ts"), col("r_ts").as("purchase_ts"))
    }),

    // ---- J7 fast path: contains lookup as a codegen projection (no join) --------
    "q67_contains_indexed" -> ((s, dir) => {
      val p = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val dim = t(s, dir, "part").select(col("p_type")).distinct()
      Joins.containsLookupIndexed(p, dim, "p_name", "p_type", "p_type", "p_type", "matched_type")
        .select(col("p_partkey"), col("p_name"), col("matched_type"))
    }),

    // ---- Full MERGE (update-or-insert, last writer wins) -------------------------
    "q65_merge_full" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val existing = o.filter(col("o_orderdate") < to_timestamp(lit("1999-01-01")))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val incoming = o.filter(
          col("o_orderdate") >= to_timestamp(lit("1998-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("2000-01-01")))
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"))
      Upsert.mergeUpsert(existing, incoming, Seq("o_orderkey"))
    }),

    // ---- SCD Type-2 dimension maintenance ----------------------------------------
    "q66_scd2" -> ((s, dir) => {
      val cur = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
        .withColumn("valid_from", to_timestamp(lit("2020-01-01")).cast("timestamp_ntz"))
        .withColumn("valid_to", lit(null).cast("timestamp_ntz"))
      val upd = Aggregates.argmaxRowPerGroup(
          t(s, dir, "orders"), Seq("o_custkey"), "o_orderdate", "o_orderkey")
        .select(col("o_custkey").as("c_custkey"),
          col("o_orderpriority").as("segment"),
          col("o_orderdate").as("updated_at"))
      Upsert.scd2Apply(cur, upd, "c_custkey", Seq("segment"), "updated_at")
    }),

    // ---- Set operations: INTERSECT / EXCEPT (distinct semantics) ----------------
    "q62_set_ops" -> ((s, dir) => {
      val buyers = t(s, dir, "orders").select(col("o_custkey").as("custkey"))
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"))
      val both = buyers.intersect(rich).withColumn("tag", lit("rich_buyer"))
      val richOnly = rich.except(buyers).withColumn("tag", lit("rich_no_orders"))
      both.unionByName(richOnly)
    }),

    // ---- Null semantics: null-safe equality, IS DISTINCT FROM, null ordering ----
    "q63_null_semantics" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .withColumn("maybe_brand",
          when(col("p_size") % 7 === 0, lit(null).cast("string")).otherwise(col("p_brand")))
      p.select(
          col("p_partkey"),
          col("maybe_brand"),
          col("maybe_brand").eqNullSafe(lit("Brand#13")).as("nullsafe_eq"),
          col("maybe_brand").isNull.as("is_null"))
        .orderBy(col("maybe_brand").asc_nulls_last, col("p_partkey").asc)
        .limit(100)
    }),

    // ---- Array functions over embeddings ----------------------------------------
    "q64_array_ops" -> ((s, dir) => {
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).cast("int").as("dim"),
        element_at(col("embedding"), 1).cast("double").as("first_val"),
        (element_at(col("embedding"), 1).cast("double") >= 0).as("first_nonneg"),
        size(filter(col("embedding"), x => x > 0)).cast("int").as("n_pos"))
    }),

    // ---- Dedup clustering: connected components over near-dup pairs -------------
    // Threshold 0.98 > 30/31 guarantees (for this corpus's <=31-element word
    // sets) that edges connect exactly-identical sets, making the expected
    // components expressible in SQL; the Spark side still runs the general
    // label-propagation algorithm on the pair graph.
    "q61_dedup_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.98)
      Dedup.connectedComponents(docs, "doc_id", pairs)
    }),

    // ---- Quality-aware canonical selection: near-dup clusters (q61's
    // components) keep their HIGHEST-QUALITY member (q57's score, ties on
    // doc_id) instead of the min-id — what a production dedup actually
    // ships, since the canonical doc should be the best copy, not the
    // first-crawled one. Composes three verified operators; one extra
    // argmax per cluster on top of the component join.
    "q127_quality_canonical" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.98)
      val comp = Dedup.connectedComponents(docs, "doc_id", pairs)
      val q = TextAnalysis.qualityFeatures(docs, "text")
        .select(col("doc_id"), col("quality_score"))
      Aggregates.argmaxRowPerGroup(
          comp.join(q, Seq("doc_id")), Seq("rep"), "quality_score", "doc_id")
        .select(col("rep").as("cluster_rep"), col("doc_id").as("keep_id"),
          col("quality_score"))
    }),

    // ---- DataSourceV2: the reference's per-day fetch loop as a parallel source --
    "q60_dsv2_dayrange" -> ((s, _) => {
      s.read.format("graft.sources.v2.DayRangeSource")
        .option("from", "2024-01-01").option("to", "2024-03-31")
        .option("numPartitions", "8").load()
    }),

    // ---- Skew-safe salted join (same result as plain inner join) ----------------
    "q58_salted_join" -> ((s, dir) => {
      // fanOut: the salted-join probe side inherits the one-row-group
      // sf0.1 scan (q42's fix); join + agg are partitioning-invariant
      val l = ext.Multimodal.fanOut(t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      Joins.saltedJoin(l, o, Seq("l_orderkey"), salts = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Fns.dsum(col("l_quantity")).as("sum_qty"))
    }),

    // ---- Key-skew profile (the q58 planning input): heaviest keys of a
    // prospective shuffle with exact counts, ppm shares, and the integer
    // salt factor that evens each key across `parts` reducers. One hash
    // agg + 1-row total frame + bounded top-k — the measurement costs one
    // payload-free pass of the shuffle it is sizing.
    "q171_skew_profile" -> ((s, dir) =>
      Profiling.skewProfile(t(s, dir, "documents"), "lang", 32, 25)),

    // ---- Top-p (nucleus) corpus selection: per source, the best docs by
    // q57's quality score until 80% of the source's character budget is
    // spent — the quality-tail trim a curation recipe runs after the
    // mixtures set domain proportions. Exact integer prefix rule; the
    // two-phase score-bucketed selection never sorts a whole domain in
    // one window (only the boundary bucket windows row-level).
    "q172_top_p_select" -> ((s, dir) => {
      val scored = TextAnalysis.qualityFeatures(t(s, dir, "documents"), "text")
      Mixing.topPByWeight(scored, "doc_id", "source", "quality_score",
        "n_chars", 80)
    }),

    // ---- REAL pixel resize: synthesize PNGs (q166's spec), resample to
    // 8×6 with the nearest-neighbor raster pass, re-encode, then DECODE
    // THE RESIZED BYTES and probe pixel (0,0). The oracle reproduces the
    // probed pixel from the synthesis formula by modular arithmetic —
    // nearest-neighbor maps target (0,0) to source (0,0), whose RGB is
    // (doc_id·FNV64prime) mod 2²⁴ — so a resample, transcode, or channel
    // bug anywhere in decode→resize→encode→decode changes the answer.
    // All three codec passes ride batched mapPartitions; pixels never
    // shuffle.
    "q173_image_resize" -> ((s, dir) => {
      val spec = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        (lit(16) + pmod(col("doc_id"), lit(32))).cast("int").as("width"),
        (lit(16) + pmod(col("doc_id") * 7, lit(24))).cast("int").as("height"),
        (pmod(col("doc_id"), lit(5)) === 0).as("alpha"))
      val resized = Multimodal.resizeImages(Multimodal.synthesizePngs(spec), 8, 6)
      val dims = Multimodal.decodeImages(resized).select(
        col("media_id"),
        col("decoded.width").as("width"),
        col("decoded.height").as("height"),
        col("decoded.n_channels").as("n_channels"))
      dims.join(Multimodal.pixelProbe(resized, 0, 0), Seq("media_id"))
        .select(col("media_id").as("doc_id"), col("width"), col("height"),
          col("n_channels"), col("rgb24"))
    }),

    // ---- Pair-enumeration output governance: the pre-flight every
    // exhaustive pair job must pass. One count probe + one count-only
    // bucket aggregate — the exact candidate volume the q73 plan would
    // shuffle, computed WITHOUT materializing a pair. within_budget flips
    // false exactly where the ungoverned job once filled the disk (the
    // 100× replica at θ=0.4); at the driver SFs it documents the margin.
    "q174_pair_budget" -> ((s, dir) => {
      Similarity.pairBudgetReport(
        t(s, dir, "embeddings"), "vec_id", "embedding", 0.4,
        budgetPairs = 2000000000L)
    }),

    // q174 companion: the estimate is EXACT, not heuristic — re-deriving
    // the candidate volume by actually running the generator's join
    // (pre-distinct, id_a < id_b; ids unique here) must give the same
    // number. Emits only disagreement rows — empty, WHERE FALSE oracle.
    "q175_pair_budget_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val (planes, tables) = Similarity.lshPlan(e.count(), 0.4)
      val est = Similarity.estimateBucketedCandidates(e, "vec_id", "embedding", planes, tables)
      val actual = Similarity.actualBucketedCandidates(e, "vec_id", "embedding", planes, tables)
      import s.implicits._
      Seq((est, actual)).toDF("est_candidates", "actual_candidates")
        .filter(col("est_candidates") =!= col("actual_candidates"))
    }),

    // ---- Mixed-format media: PNG and JPEG payloads in ONE table, decoded
    // through the ONE decodeImages seam — javax.imageio dispatches the
    // reader plugin from each payload's magic bytes, so this proves format
    // DISPATCH, not just the PNG path. Per-format lossless decode
    // properties (dimensions sum, channel counts, ok count) are
    // oracle-derivable from the spec formulas; JPEG pixel tolerance lives
    // in the spec (lossy codec — exact pixels are quantizer-dependent).
    "q176_mixed_media" -> ((s, dir) => {
      val spec = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        (lit(16) + pmod(col("doc_id"), lit(32))).cast("int").as("width"),
        (lit(16) + pmod(col("doc_id") * 7, lit(24))).cast("int").as("height"),
        (pmod(col("doc_id"), lit(10)) === 0).as("alpha"),
        when(pmod(col("doc_id"), lit(2)) === 0, "png").otherwise("jpeg").as("format"))
      Multimodal.decodeImages(Multimodal.synthesizeMedia(spec))
        .groupBy(col("meta.format").as("format"))
        .agg(count(lit(1)).as("n_media"),
          sum(when(col("decoded.ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(col("decoded.width").cast("long")).as("sum_width"),
          sum(col("decoded.height").cast("long")).as("sum_height"),
          min(col("decoded.n_channels")).as("min_channels"),
          max(col("decoded.n_channels")).as("max_channels"))
    }),

    // ---- REAL audio decode through the same batched seam: every row
    // synthesizes an actual 16-bit PCM WAV (frame count / rate / channel
    // layout from doc_id formulas, samples from Multimodal.wavSample's
    // all-integer recurrence with deterministic silent blocks), the JDK's
    // javax.sound.sampled parses the RIFF container back, and the decoded
    // header fields PLUS sample-level integer aggregates (sum |s|, peak)
    // are the output. 16-bit PCM is lossless and the sample formula is
    // pure integer arithmetic, so DuckDB re-derives every column exactly
    // from generate_series — the audio twin of q166's image proof: a
    // broken container parser, byte-order slip, or stubbed decoder cannot
    // match the oracle. Encode and decode both ride mapPartitions;
    // payload bytes never shuffle.
    "q177_audio_decode" -> ((s, dir) => {
      val spec = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        (lit(200) + pmod(col("doc_id"), lit(512))).cast("int").as("n_frames"),
        (lit(8000) + pmod(col("doc_id"), lit(3)) * 4000).cast("int").as("sample_rate"),
        when(pmod(col("doc_id"), lit(5)) === 0, 2).otherwise(1).cast("int").as("channels"))
      Multimodal.decodeAudio(Multimodal.synthesizeWavs(spec))
        .select(col("media_id").as("doc_id"),
          col("decoded.sample_rate").as("sample_rate"),
          col("decoded.channels").as("channels"),
          col("decoded.n_frames").as("n_frames"),
          col("decoded.sum_abs").as("sum_abs"),
          col("decoded.peak").as("peak"),
          col("decoded.ok").as("decode_ok"))
    }),

    // ---- Windowed audio energy / silence detection — the VAD-prefilter
    // stage of audio corpus prep, run over the mono subset of q177's
    // corpus: per-256-frame |sample| energy aggregated INSIDE the decode
    // partition (window-grain output, ~256× smaller than the samples —
    // sample-sized data never becomes rows or shuffles), with the quiet
    // verdict catching exactly the formula's silent blocks. All-integer,
    // fully oracle-checked.
    "q178_audio_energy" -> ((s, dir) => {
      val spec = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(
          col("doc_id").as("media_id"),
          (lit(200) + pmod(col("doc_id"), lit(512))).cast("int").as("n_frames"),
          lit(16000).as("sample_rate"),
          lit(1).as("channels"))
      Multimodal.audioWindowEnergy(Multimodal.synthesizeWavs(spec), 256)
    }),

    // ---- REAL video-container decode, completing the image/audio/video
    // triad behind the one codec seam: every row synthesizes an actual
    // multi-frame animated GIF (geometry from doc_id formulas, per-frame
    // flat gray from Multimodal.gifFrameGray's integer recurrence with
    // every 4th frame exactly black), the JDK's GIF reader walks the
    // container back frame-by-frame, and the decoded dimensions PLUS
    // pixel-level integer aggregates (sum of frame grays, black-frame
    // count) are the output. Indexed-GIF pixels are lossless, so DuckDB
    // re-derives every column exactly from generate_series — a stubbed
    // frame decoder or container-parse shortcut cannot match. Encode and
    // decode both ride mapPartitions; payloads and pixels never shuffle.
    "q179_video_decode" -> ((s, dir) => {
      val spec = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        (lit(8) + pmod(col("doc_id"), lit(17))).cast("int").as("width"),
        (lit(8) + pmod(col("doc_id") * 3, lit(13))).cast("int").as("height"),
        (lit(4) + pmod(col("doc_id"), lit(8))).cast("int").as("n_frames"))
      Multimodal.decodeVideo(Multimodal.synthesizeGifs(spec))
        .select(col("media_id").as("doc_id"),
          col("decoded.width").as("width"),
          col("decoded.height").as("height"),
          col("decoded.n_frames").as("n_frames"),
          col("decoded.sum_gray").as("sum_gray"),
          col("decoded.black_frames").as("black_frames"),
          col("decoded.ok").as("decode_ok"))
    }),

    // ---- Strided frame sampling — the keyframe-extraction stage of video
    // corpus prep, over the same GIF corpus: every 3rd frame decoded by
    // index-addressed read inside the encode partition, one row per
    // sampled frame with its decoded gray and black verdict (frame-grain
    // output; pixels never become rows). The black verdict lands exactly
    // on the recurrence's scene-cut frames; fully oracle-checked.
    "q180_frame_sample" -> ((s, dir) => {
      val spec = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        (lit(8) + pmod(col("doc_id"), lit(17))).cast("int").as("width"),
        (lit(8) + pmod(col("doc_id") * 3, lit(13))).cast("int").as("height"),
        (lit(4) + pmod(col("doc_id"), lit(8))).cast("int").as("n_frames"))
      Multimodal.videoFrameSample(Multimodal.synthesizeGifs(spec), 3)
    }),

    // ---- Scene segmentation — video analytics expressed RELATIONALLY on
    // top of the codec seam: decode every frame (stride 1), then a running
    // count of black cut-frames per media (window partitioned by media —
    // partitions are frame-count-sized, ≤15 rows, no buffering risk)
    // assigns each non-black frame a scene id; one aggregate row per
    // scene with its extent and exact gray mass. The decode stays in
    // mapPartitions; everything above it is codegen'd window + hash-agg.
    // Fully oracle-checked: scene boundaries derive from decoded pixels,
    // which the recurrence pins exactly.
    "q181_scene_segments" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spec = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        (lit(4) + pmod(col("doc_id"), lit(5))).cast("int").as("width"),
        lit(4).cast("int").as("height"),
        (lit(6) + pmod(col("doc_id"), lit(10))).cast("int").as("n_frames"))
      val frames = Multimodal.videoFrameSample(Multimodal.synthesizeGifs(spec), 1)
      val w = Window.partitionBy("media_id").orderBy("frame_idx")
      frames
        .withColumn("scene_id",
          sum(when(col("is_black"), 1L).otherwise(0L)).over(w).cast("int"))
        .filter(!col("is_black"))
        .groupBy("media_id", "scene_id")
        .agg(count(lit(1)).cast("int").as("n_frames_scene"),
          min("frame_idx").as("first_frame"),
          max("frame_idx").as("last_frame"),
          sum(col("gray").cast("long")).as("sum_gray"))
    }),

    // ---- Distributed BPE vocabulary induction: tokenizer training as a
    // corpus operator. The corpus collapses once to the distinct-word
    // frequency quotient; each of the 30 merge rounds is one hash-agg +
    // one 1-row argmax + one codegen'd fold on that quotient. Iterative →
    // no single-statement SQL analog; pinned ×SF, with the first round
    // oracle-checked from raw text (q183) and the applied-count
    // bookkeeping re-derived from the final state (q185).
    "q182_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", 30)),

    // q182 companion, fully oracle-checked: the top-20 first-round
    // adjacency counts in argmax order — DuckDB recounts them per word
    // instance from raw text, pinning the tokenization, symbolization,
    // weighting, and tie-break that the training loop builds on.
    "q183_bpe_pair_counts" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(t(s, dir, "documents"), "text", 20)),

    // BPE applied at corpus scale by vocabulary LOOKUP (the merge loop
    // never touches documents): per-doc word/BPE-token/char accounting
    // under the 30 learned merges. All-integer output; pinned ×SF.
    "q184_bpe_token_counts" -> ((s, dir) =>
      TextAnalysis.bpeTokenCounts(t(s, dir, "documents"), "doc_id", "text", 30)),

    // q182/q184 invariant: Σ applied_count telescopes exactly to
    // initial−final symbol mass recounted from the final vocabulary —
    // emits only disagreement rows; WHERE FALSE oracle.
    "q185_bpe_conservation" -> ((s, dir) =>
      TextAnalysis.bpeConservationCheck(t(s, dir, "documents"), "text", 30)),

    // ---- PageRank centrality over the near-dup pair graph (q61's edge
    // set): the canonical-selection / importance-weighting signal for
    // graph-aware sampling. Integer micro-unit power iteration — every
    // per-node value is an exact BIGINT, so EIGHT iterations hash-match a
    // DuckDB oracle that unrolls the same recurrence as CTE layers: a
    // fully oracle-checked ITERATIVE operator, not a pinned one.
    "q186_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 1, 0.98)
      Graph.pageRank(pairs, iterations = 8, idColOut = "doc_id")
    }),

    // ---- Mergeable HLL sketches as MATERIALIZED data: per-(source,lang)
    // cell sketches unioned to per-source distinct-doc estimates, beside
    // the direct one-pass estimate. The 100-TB reporting pattern — sketch
    // the raw data once at the finest grain, answer every coarser
    // distinct-count later from kilobytes of sketch bytes (parquet
    // round-trip proven in SketchesSpec). Estimates => pinned, with q188
    // as the oracle-checked error-band companion.
    "q187_hll_rollup" -> ((s, dir) =>
      Sketches.hllRollup(t(s, dir, "documents"), "source", "lang", "doc_id")),

    // q187 companion (q98 convention): both estimate paths land within
    // 15% of the exact per-source distinct count; at this corpus's
    // per-source cardinalities the sketches are in exact coupon mode, so
    // the band is equality in disguise. Oracle asserts TRUE per source.
    "q188_hll_rollup_check" -> ((s, dir) =>
      Sketches.hllRollupCheck(t(s, dir, "documents"), "source", "lang", "doc_id")),

    // ---- Streaming cardinality: distinct users per tumbling hour via a
    // mergeable HLL sketch — per-window state is one small sketch instead
    // of a per-user set (exact distinct is rejected by Spark in streaming
    // aggs; this form runs identically in batch and under a watermark —
    // stream equivalence in StreamsSpec). Estimate head => pinned; q190
    // is the oracle-checked band companion.
    "q189_windowed_distinct" -> ((s, dir) =>
      Streams.windowedDistinctUsers(t(s, dir, "events"), "1 hour")),

    // q189 companion (q98 convention): sketch estimate within 15% of the
    // exact per-window distinct count (lgK=12 ~ 1.6% RSE; coupon-exact at
    // this corpus's per-hour cardinalities). Oracle asserts TRUE per
    // window.
    "q190_windowed_distinct_check" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val exact = ev.groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .select(col("w.start").as("win_start"), col("exact_users"))
      Streams.windowedDistinctUsers(ev, "1 hour")
        .join(exact, Seq("win_start"))
        .select(col("win_start"),
          (abs(col("est_users") - col("exact_users")).cast("double")
            / col("exact_users") <= 0.15).as("within_tol"))
    }),

    // ---- Weighted sampling without replacement (A-ES, k per domain):
    // row-level quality-proportional selection, deterministic via the
    // md5-numeric-uniform convention, so the member set is EXACTLY
    // oracle-checked (no pin needed). Weight = n_chars+1 — longer docs
    // proportionally likelier, the simplest honest quality proxy.
    "q191_weighted_reservoir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("w", col("n_chars") + lit(1L))
      Mixing.weightedReservoir(docs, "doc_id", "source", "w", 25)
    }),

    // ---- HLL set algebra: pairwise distinct-user overlap between event
    // types via inclusion-exclusion on mergeable sketches — one corpus
    // scan builds |groups| sketches, every pair estimate is arithmetic on
    // kilobytes (the 100-TB alternative is a self-join per pair).
    // Estimates => pinned (10 unordered pairs at every SF), with q193 as
    // the oracle-checked union-relative error-band companion.
    "q192_hll_intersect" -> ((s, dir) =>
      Sketches.hllIntersect(t(s, dir, "events"), "event_type", "user_id")),

    // q192 companion (q98 convention): every pair's intersection estimate
    // within 15% of the exact overlap relative to the exact UNION size
    // (the honest denominator for inclusion-exclusion error). Oracle
    // asserts TRUE per pair.
    "q193_hll_intersect_check" -> ((s, dir) =>
      Sketches.hllIntersectCheck(t(s, dir, "events"), "event_type", "user_id")),

    // ---- Count-min sketch: mergeable FREQUENCY summaries (the "how
    // often" sibling of the HLL "how many distinct" family). The md5
    // bucket hashes make every estimate deterministic, so the DuckDB
    // oracle recomputes the whole sketch and hash-matches the estimates
    // EXACTLY — a full differential, not a tolerance pin.
    "q194_cms_heavy_hitters" -> ((s, dir) => {
      val tk = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      Cms.heavyHitters(tk, "token", 25, depth = 4, width = 8192)
    }),

    // ---- Join-size estimation from two CMS inner products: prices
    // |orders ⋈ customer| from two constant-size counter tables before
    // any executor shuffles a row of the join — the q174 governance
    // posture extended from self-join pair volume to arbitrary
    // equi-joins.
    "q195_cms_join_size" -> ((s, dir) =>
      Cms.joinSizeEstimate(t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey", depth = 4, width = 16384)),

    // q194/q195 companion: the CMS theory bands — deterministic
    // no-underestimate on EVERY key, and the Markov overshoot band on
    // the reported heads and the join estimate. Oracle asserts TRUE ×4.
    "q196_cms_bands" -> ((s, dir) => {
      val tk = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      Cms.bandsCheck(tk, "token", 25,
        t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey", depth = 4, width = 8192)
    }),

    // ---- Histogram cells → percentile rollup: the DISTRIBUTION member
    // of the materialized-summary triad (HLL distinct / CMS frequency /
    // this). Doc-length p50/p90/p99 per source from (source, lang) cells
    // merged WITHOUT rescanning documents — integer bin arithmetic, so
    // the oracle recomputes the whole two-level pipeline exactly.
    "q197_hist_rollup" -> ((s, dir) => {
      val cells = Profiling.histCells(t(s, dir, "documents"),
        "source", "lang", "n_chars", binWidth = 64L, nBins = 256)
      Profiling.histRollupPercentiles(cells, "source", 64L, Seq(50, 90, 99))
    }),

    // ---- WordPiece-style substring vocabulary induction: all chars +
    // top-200 multi-char substrings (≤8 chars) of the word quotient by
    // frequency — one aggregate + one bounded top-k, no merge loop.
    // Deterministic integers + binary-order tie-break → exact oracle.
    "q198_wordpiece_vocab" -> ((s, dir) =>
      TextAnalysis.substringVocab(t(s, dir, "documents"), "text",
        maxLen = 8, k = 200)),

    // ---- Greedy longest-match encoding against the self-trained q198
    // vocabulary: per-position best-piece argmax (explode + broadcast
    // equi-join), then the walk length by pointer doubling over the
    // quotient; documents re-tokenize by lookup. Exact oracle: DuckDB
    // replays the same greedy walk with a recursive CTE.
    "q199_wordpiece_encode" -> ((s, dir) =>
      TextAnalysis.wordpieceTokenCounts(t(s, dir, "documents"), "doc_id",
        "text", maxLen = 8, k = 200)),

    // ---- Persisted IVF index: build (fit + assign + hive-partition by
    // cell) lands on disk once; the query pays a partition-pruned read of
    // its nprobe cells. Same params as q56, so q201 can assert row
    // identity against the in-memory form. No oracle (approximate ANN);
    // pinned rows+schema, witness q201.
    "q200_ivf_index_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = ivfIndexDir(dir)
      Similarity.buildIvfIndex(e, "vec_id", "embedding", idx, nlist = 16)
      Similarity.ivfIndexTopK(s, idx, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, nprobe = 8)
    }),

    // ---- q200 companion: the persisted-index path must be ROW-IDENTICAL
    // to the in-memory ivfTopK at the same (nlist, nprobe, fit) — same
    // deterministic centroids, same candidates, same exact cosine, same
    // bounded-heap tail; parquet stores floats exactly, so the round-trip
    // cannot perturb a single rank. Symmetric multiset diff, empty by
    // construction (WHERE FALSE oracle).
    "q201_ivf_index_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val idx = ivfIndexDir(dir)
      Similarity.buildIvfIndex(e, "vec_id", "embedding", idx, nlist = 16)
      val fromIndex = Similarity.ivfIndexTopK(s, idx, q,
        "vec_id", "embedding", 5, nprobe = 8)
      val direct = Similarity.ivfTopK(e, q, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 8)
      fromIndex.exceptAll(direct).unionByName(direct.exceptAll(fromIndex))
    }),

    // ---- Index lifecycle, day-2: build on half the corpus, INGEST the
    // other half (assigned by the index's own centroids, appended into the
    // cell layout — the indexed half is never touched), then query the
    // union. No oracle (approximate); pinned rows+schema, witness q203.
    "q202_ivf_index_ingest" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = ivfIndexDir(dir) + "_ingest"
      Similarity.buildIvfIndex(e.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nlist = 16)
      Similarity.ivfIndexIngest(s, idx, e.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding")
      Similarity.ivfIndexTopK(s, idx, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, nprobe = 8)
    }),

    // ---- q202 companion: build-then-ingest must be ROW-IDENTICAL to a
    // one-shot assignment of the union corpus under the SAME centroids
    // (the index's own, read back) — ingest changes where rows live, never
    // what a probe returns. Symmetric diff, WHERE FALSE oracle.
    "q203_ivf_ingest_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val idx = ivfIndexDir(dir) + "_ingest"
      Similarity.buildIvfIndex(e.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nlist = 16)
      Similarity.ivfIndexIngest(s, idx, e.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding")
      val fromIndex = Similarity.ivfIndexTopK(s, idx, q,
        "vec_id", "embedding", 5, nprobe = 8)
      val reference = Similarity.ivfTopKWithCentroids(e, q,
        "vec_id", "embedding", 5, nprobe = 8,
        cents = Similarity.readIvfCentroids(s, idx))
      fromIndex.exceptAll(reference).unionByName(reference.exceptAll(fromIndex))
    }),

    // ---- Persisted MinHash dedup index: signatures + band keys + members
    // materialized once; the batch (docs 400+, the q118 split) dedupes
    // against the index without re-shingling the corpus. No oracle
    // (banding-approximate); pinned rows+schema, witness q205.
    "q204_dedup_index" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = ivfIndexDir(dir) + "_dedup"
      Dedup.buildDedupIndex(d.filter(col("doc_id") < 400), "doc_id", "text", idx,
        n = 1, numHashes = 64, bands = 16)
      Dedup.minhashLshPairsAgainstIndex(s, idx, d.filter(col("doc_id") >= 400),
        "doc_id", "text", n = 1, numHashes = 64, bands = 16, verifyThreshold = 0.7)
    }),

    // ---- q204 companion: the index path is ROW-IDENTICAL to the direct
    // cross-frame incremental dedup (one shared banding definition, exact
    // verify both ways). Symmetric diff, WHERE FALSE oracle.
    "q205_dedup_index_check" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = ivfIndexDir(dir) + "_dedup"
      Dedup.buildDedupIndex(d.filter(col("doc_id") < 400), "doc_id", "text", idx,
        n = 1, numHashes = 64, bands = 16)
      val fromIndex = Dedup.minhashLshPairsAgainstIndex(s, idx,
        d.filter(col("doc_id") >= 400), "doc_id", "text",
        n = 1, numHashes = 64, bands = 16, verifyThreshold = 0.7)
      val direct = Dedup.minhashLshPairsIncremental(
        d.filter(col("doc_id") < 400), d.filter(col("doc_id") >= 400),
        "doc_id", "text", n = 1, numHashes = 64, bands = 16,
        verifyThreshold = 0.7)
      fromIndex.exceptAll(direct).unionByName(direct.exceptAll(fromIndex))
    }),

    // ---- Compaction is semantically a no-op: build + ingest, probe, then
    // compact (duplicate set/band/member rows dropped, file count
    // re-bounded) and probe again — the two probes are ROW-IDENTICAL.
    // Symmetric diff, WHERE FALSE oracle.
    "q206_dedup_index_compact" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val idx = ivfIndexDir(dir) + "_compact"
      val batch = d.filter(col("doc_id") >= 400)
      Dedup.buildDedupIndex(d.filter(col("doc_id") < 400), "doc_id", "text", idx,
        n = 1, numHashes = 64, bands = 16)
      Dedup.dedupIndexIngest(batch, "doc_id", "text", idx,
        n = 1, numHashes = 64, bands = 16)
      def probe() = Dedup.minhashLshPairsAgainstIndex(s, idx,
        d.filter(col("doc_id") < 50), "doc_id", "text",
        n = 1, numHashes = 64, bands = 16, verifyThreshold = 0.7)
      val before = probe().localCheckpoint()
      Dedup.dedupIndexCompact(s, idx)
      val after = probe()
      before.exceptAll(after).unionByName(after.exceptAll(before))
    }),

    // ---- Same contract for the IVF side: ingest leaves small per-cell
    // appends; compact re-clusters each cell into one file set; a probe
    // before and after compaction is ROW-IDENTICAL. Symmetric diff,
    // WHERE FALSE oracle.
    "q207_ivf_index_compact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = ivfIndexDir(dir) + "_compact_ivf"
      Similarity.buildIvfIndex(e.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx, nlist = 16)
      Similarity.ivfIndexIngest(s, idx, e.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding")
      val q = e.filter(col("vec_id") < 10)
      def probe() = Similarity.ivfIndexTopK(s, idx, q,
        "vec_id", "embedding", 5, nprobe = 8)
      val before = probe().localCheckpoint()
      Similarity.ivfIndexCompact(s, idx)
      val after = probe()
      before.exceptAll(after).unionByName(after.exceptAll(before))
    }),

    // ---- Semantic ingest against the persisted IVF index: build on the
    // even half, gate the odd half — one row per incoming vector with its
    // accept flag and highest-cosine blocker; the quantizer is the
    // index's own centroids, never refit. No oracle (quantizer-
    // approximate); pinned rows+schema, witness q209. Auto-sized cells:
    // a corpus-sized batch probes EVERY row against its cell, so fixed
    // nlist curves toward n² (sf10 measured 47.7 s at 16 cells vs
    // constant-size cells — see buildIvfIndexAuto scaladoc).
    "q208_semantic_ingest_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = ivfIndexDir(dir) + "_seming"
      Similarity.buildIvfIndexAuto(e.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx)
      Similarity.semanticIngestAgainstIndex(s, idx,
        e.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding",
        threshold = 0.4)
    }),

    // ---- q208 companion: the index path is ROW-IDENTICAL to the direct
    // recompute under the SAME centroids (read back from the index) —
    // one quantizer definition, one verify arithmetic. Symmetric diff,
    // WHERE FALSE oracle.
    "q209_semantic_index_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = ivfIndexDir(dir) + "_seming"
      val half0 = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      val half1 = e.filter(pmod(col("vec_id"), lit(2)) === 1)
      Similarity.buildIvfIndexAuto(half0, "vec_id", "embedding", idx)
      val fromIndex = Similarity.semanticIngestAgainstIndex(s, idx, half1,
        "vec_id", "embedding", threshold = 0.4)
      val direct = Similarity.semanticIngestWithCentroids(half0, half1,
        "vec_id", "embedding", threshold = 0.4,
        cents = Similarity.readIvfCentroids(s, idx))
      fromIndex.exceptAll(direct).unionByName(direct.exceptAll(fromIndex))
    }),

    // ---- Perceptual image hash (dHash): every doc_id pair (2k, 2k+1)
    // is the SAME raster encoded RGBA vs RGB — byte-distinct payloads,
    // identical decoded pixels. The hash is integer arithmetic over
    // losslessly-decoded pixels, so the oracle recomputes ALL 64 BITS
    // from the synthesis spec in SQL: a value-level differential over
    // decode → 9×8 resample → luma → gradient bit-pack.
    "q210_image_dhash" -> ((s, dir) => {
      Multimodal.imageDHash(Multimodal.synthesizePngs(dhashSpec(t(s, dir, "documents"))))
        .select(col("media_id").as("doc_id"), col("dhash"),
          col("ok").as("decode_ok"))
    }),

    // ---- Image near-dup pairs within hamming ≤ 3 of the dHash, via the
    // shared 16-bit-chunk pigeonhole blocking (one definition with text
    // SimHash). The oracle is the BRUTE-FORCE all-pairs join over the
    // SQL-recomputed hashes — for ≤3 bits the blocked join is provably
    // the all-pairs result, and this query checks that equality
    // hash-for-hash. Finds every (2k, 2k+1) re-encode pair (hamming 0)
    // that byte-level dedup (md5) misses, plus any cross-seed collision.
    "q211_image_neardup" -> ((s, dir) => {
      Multimodal.imageNearDupPairs(
        Multimodal.synthesizePngs(dhashSpec(t(s, dir, "documents"))),
        maxHamming = 3, budgetPairs = 10000000000L)
    }),

    // ---- Audio fingerprint (energy-delta bits over PCM windows): every
    // doc_id pair (2k, 2k+1) is the SAME samples under a DIFFERENT
    // container header (sample rate) — byte-distinct payloads, identical
    // decoded PCM. n_frames ≥ 650 keeps all 64 delta bits defined at
    // windowFrames=10. Oracle recomputes all 64 bits from the sample
    // formula — a value-level differential over the WAV decode path.
    "q212_audio_fingerprint" -> ((s, dir) => {
      Multimodal.audioFingerprint(
        Multimodal.synthesizeWavs(afpSpec(t(s, dir, "documents"))),
        windowFrames = 10)
        .select(col("media_id").as("doc_id"), col("afp"),
          col("n_windows"), col("ok").as("decode_ok"))
    }),

    // ---- Audio near-dup pairs within hamming ≤ 3 of the fingerprint —
    // the third signature family on the ONE hammingPairs64 blocking
    // (text SimHash, image dHash, audio fingerprint). Brute-force
    // all-pairs oracle, like q211.
    "q213_audio_neardup" -> ((s, dir) => {
      Multimodal.audioNearDupPairs(
        Multimodal.synthesizeWavs(afpSpec(t(s, dir, "documents"))),
        windowFrames = 10, maxHamming = 3, budgetPairs = 10000000000L)
    }),

    // ---- The COUNT-FACTORED audio near-dup quotient — the scale path
    // for fingerprint-degenerate corpora (this synthetic one collapses
    // 50k docs to 973 distinct fingerprints at the 10× replica, so the
    // expanded q213 form is corpus-quadratic and its governor refuses at
    // sf10 BY DESIGN). Pair mass per signature pair; the oracle
    // recomputes the factorization brute-force over the distinct-hash
    // quotient, and Σ n_pairs ties it to q213's expanded row count.
    "q214_audio_neardup_factored" -> ((s, dir) => {
      Multimodal.audioNearDupFactored(
        Multimodal.synthesizeWavs(afpSpec(t(s, dir, "documents"))),
        windowFrames = 10, maxHamming = 3)
    }),

    // ---- Crawl-cadence image dedup: the EVEN-id images are the stored
    // corpus (RGB encodes), the ODD-id batch arrives as RGBA re-encodes
    // of the same rasters — every incoming image is a re-encode of a
    // stored one, the "already crawled under another encode?" gate.
    // Cross-frame blocking touches only shared chunk buckets; the store
    // is never paired against itself. Brute-force cross-join oracle.
    "q215_image_neardup_incremental" -> ((s, dir) => {
      val media = Multimodal.synthesizePngs(dhashSpec(t(s, dir, "documents")))
      Multimodal.imageNearDupIncremental(
        media.filter(pmod(col("media_id"), lit(2)) === 0),
        media.filter(pmod(col("media_id"), lit(2)) === 1),
        maxHamming = 3, budgetPairs = 10000000000L)
    }),

    // ---- Persisted signature index: build on the even-id dHashes
    // (signatures stored in the blocking's own hive-bucket layout),
    // probe the odd-id batch — the day-2 form of q215 with the SAME
    // brute-force oracle: the index path must reproduce the in-memory
    // cross join exactly, through a parquet round-trip and a
    // partition-pruned read.
    "q216_signature_index" -> ((s, dir) => {
      val sig = dhashSigs(s, dir)
      val idx = sigIndexDir(dir)
      // build side pinned: buildSignatureIndex counts to pick its layout,
      // and an unpinned frame would re-run the PNG codec per pass (the
      // probe side stays lazy — DPP needs its filters visible)
      Dedup.buildSignatureIndex(
        sig.filter(pmod(col("id"), lit(2)) === 0).localCheckpoint(), idx)
      Dedup.signatureIndexProbe(s, idx, sig.filter(pmod(col("id"), lit(2)) === 1))
    }),

    // ---- q216 companion lifecycle: build on ids ≡ 0 (mod 4), INGEST
    // ids ≡ 2 (mod 4) (together: all even), probe the odd batch — the
    // grown index is row-identical to the direct cross-frame recompute
    // over all even signatures. Symmetric diff, WHERE FALSE oracle.
    "q217_signature_index_check" -> ((s, dir) => {
      val sig = dhashSigs(s, dir)
      val idx = sigIndexDir(dir) + "_ing"
      val even = sig.filter(pmod(col("id"), lit(2)) === 0)
      val odd = sig.filter(pmod(col("id"), lit(2)) === 1)
      Dedup.buildSignatureIndex(
        sig.filter(pmod(col("id"), lit(4)) === 0).localCheckpoint(), idx)
      Dedup.signatureIndexIngest(s, idx, sig.filter(pmod(col("id"), lit(4)) === 2))
      val fromIndex = Dedup.signatureIndexProbe(s, idx, odd)
      val direct = Dedup.hammingPairsIncremental64(even, odd)
      fromIndex.exceptAll(direct).unionByName(direct.exceptAll(fromIndex))
    }),

    // ---- END-TO-END image dedup under re-encodes: dHash once → blocked
    // near-dup pairs → connected components → keep one representative
    // per cluster. Every (2k, 2k+1) re-encode pair collapses to one kept
    // image; hamming-3 chains merge transitively, which is why the
    // oracle needs a RECURSIVE closure, not q61's fingerprint partition.
    // CC runs on the distinct-signature CLASS quotient
    // (signatureComponents): the expanded pair multigraph at the 100×
    // replica is 17.3 M rows (identical-hash classes contribute C(k,2)
    // pairs each) while the class graph CC joins are ~10⁴ rows — exact
    // same output, measured 114 s → seconds at sf10. Fully
    // oracle-checked end to end.
    "q219_image_dedup_materialize" -> ((s, dir) => {
      val sig = Multimodal.imageDHash(
          Multimodal.synthesizePngs(dhashSpec(t(s, dir, "documents"))))
        .filter(col("ok"))
      Dedup.signatureComponents(
          sig.select(col("media_id").as("id"), col("dhash").as("sig")),
          maxHamming = 3, budgetPairs = 10000000000L)
        .select(col("id").as("media_id"), col("rep"))
        .withColumn("keep", col("media_id") === col("rep"))
    }),

    // ---- Perceptual VIDEO signature: per-frame dHash over decoded
    // patterned-GIF frames, folded by per-bit temporal majority. Every
    // doc_id pair (2k, 2k+1) is the SAME frame sequence encoded with a
    // straight vs reversed palette — byte-distinct containers, identical
    // decoded rasters. The oracle recomputes ALL 64 BITS from the
    // synthesis spec in SQL — a value-level differential over container
    // walk → frame decode → resample → luma → gradient → majority.
    "q220_video_signature" -> ((s, dir) => {
      Multimodal.videoSignature(
        Multimodal.synthesizePatternGifs(videoSpec(t(s, dir, "documents"))))
        .select(col("media_id").as("doc_id"), col("vsig"),
          col("n_frames"), col("ok").as("decode_ok"))
    }),

    // ---- Video near-dup pairs within hamming ≤ 3 of the majority
    // signature — the FOURTH signature family on the ONE hammingPairs64
    // blocking (text SimHash, image dHash, audio fingerprint, video
    // majority), completing the perceptual triad with a real blocked
    // join. Brute-force all-pairs oracle, like q211/q213: for ≤3 bits
    // the pigeonhole-blocked plan must equal all-pairs exactly.
    "q221_video_neardup" -> ((s, dir) => {
      Multimodal.videoNearDupPairs(
        Multimodal.synthesizePatternGifs(videoSpec(t(s, dir, "documents"))),
        maxHamming = 3, budgetPairs = 10000000000L)
    }),

    // ---- Crawl-cadence video dedup: the EVEN-id videos are the stored
    // corpus (straight-palette encodes), the ODD-id batch arrives as
    // reversed-palette re-encodes of the same frame sequences — every
    // incoming video is a re-encode of a stored one, the "already
    // crawled under another encode?" gate (q215's shape for the fourth
    // family). Cross-frame blocking touches only shared chunk buckets;
    // the store is never paired against itself. Brute-force cross-join
    // oracle.
    "q222_video_neardup_incremental" -> ((s, dir) => {
      val media = Multimodal.synthesizePatternGifs(videoSpec(t(s, dir, "documents")))
      Multimodal.videoNearDupIncremental(
        media.filter(pmod(col("media_id"), lit(2)) === 0),
        media.filter(pmod(col("media_id"), lit(2)) === 1),
        maxHamming = 3, budgetPairs = 10000000000L)
    }),

    // ---- q216 compaction witness: a REPLAYED ingest appends duplicate
    // rows; compaction dedupes and re-clusters the buckets, and the
    // probe is row-identical before/after. Symmetric diff, WHERE FALSE
    // oracle (the q206/q207 convention for the third index family).
    "q218_signature_index_compact" -> ((s, dir) => {
      val sig = dhashSigs(s, dir)
      val idx = sigIndexDir(dir) + "_cmp"
      val even = sig.filter(pmod(col("id"), lit(2)) === 0).localCheckpoint()
      val odd = sig.filter(pmod(col("id"), lit(2)) === 1).localCheckpoint()
      Dedup.buildSignatureIndex(even, idx)
      Dedup.signatureIndexIngest(s, idx, even) // replayed append
      val before = Dedup.signatureIndexProbe(s, idx, odd).localCheckpoint()
      Dedup.signatureIndexCompact(s, idx)
      val after = Dedup.signatureIndexProbe(s, idx, odd)
      before.exceptAll(after).unionByName(after.exceptAll(before))
    }),

    // ---- PERSISTED COMPONENTS INDEX: cluster assignment maintained at
    // crawl cadence as a lazy union-find (append-only comps/ + tiny
    // merges/ union-event table, resolved through one broadcast map).
    // Build on the even half, ingest the odd half as a crawl batch, read
    // the assignment — the DuckDB oracle recomputes the FULL corpus CC by
    // recursive closure, so the hash check pins incremental maintenance
    // ≡ full recompute end to end (every (2k, 2k+1) re-encode pair must
    // land in one component without ever re-running corpus-scale CC).
    // recomputeBelow = 0 pins the MAINTENANCE machinery (q243 covers the
    // dispatcher's recompute route; production callers take the default).
    "q223_components_index" -> ((s, dir) => {
      // checkpointed ONCE (the q216/q243 pattern): build, ingest and their
      // internal count/pair/write actions otherwise each re-run the full
      // PNG synthesize+decode — the codec is the corpus pass, the (id,
      // sig) rows are 16 bytes each
      val sig = dhashSigs(s, dir).localCheckpoint()
      val idx = sigIndexDir(dir) + "_cc"
      Dedup.buildComponentsIndex(
        sig.filter(pmod(col("id"), lit(2)) === 0), idx,
        maxHamming = 3, budgetPairs = 10000000000L)
      Dedup.componentsIngest(s,
        sig.filter(pmod(col("id"), lit(2)) === 1), idx,
        maxHamming = 3, budgetPairs = 10000000000L, recomputeBelow = 0L)
      Dedup.componentsTable(s, idx)
    }),

    // ---- q223 companion: CHAINED waves — build on ids ≡ 0 (mod 4),
    // ingest ids ≡ 2 (mod 4), then the odds; merge events from wave 2
    // must resolve through wave 1's (flattenMerges chain). Assignment
    // row-identical to the one-shot signatureComponents over everything.
    // Symmetric diff, WHERE FALSE oracle.
    "q224_components_index_check" -> ((s, dir) => {
      val sig = dhashSigs(s, dir).localCheckpoint()
      val idx = sigIndexDir(dir) + "_ccw"
      Dedup.buildComponentsIndex(
        sig.filter(pmod(col("id"), lit(4)) === 0), idx,
        maxHamming = 3, budgetPairs = 10000000000L)
      Dedup.componentsIngest(s,
        sig.filter(pmod(col("id"), lit(4)) === 2), idx,
        maxHamming = 3, budgetPairs = 10000000000L, recomputeBelow = 0L)
      Dedup.componentsIngest(s,
        sig.filter(pmod(col("id"), lit(2)) === 1), idx,
        maxHamming = 3, budgetPairs = 10000000000L, recomputeBelow = 0L)
      val fromIndex = Dedup.componentsTable(s, idx)
      val direct = Dedup.signatureComponents(sig,
        maxHamming = 3, budgetPairs = 10000000000L)
      fromIndex.exceptAll(direct).unionByName(direct.exceptAll(fromIndex))
    }),

    // ---- q223 compaction witness: a REPLAYED ingest appends duplicate
    // assignment rows; compaction folds the merge map into comps/,
    // clears merges/, and re-clusters — the assignment is row-identical
    // before/after AND the merge table is empty (its survivors are
    // unioned into the diff). Symmetric diff, WHERE FALSE oracle.
    "q225_components_compact" -> ((s, dir) => {
      val sig = dhashSigs(s, dir)
      val idx = sigIndexDir(dir) + "_ccc"
      val odd = sig.filter(pmod(col("id"), lit(2)) === 1).localCheckpoint()
      Dedup.buildComponentsIndex(
        sig.filter(pmod(col("id"), lit(2)) === 0), idx,
        maxHamming = 3, budgetPairs = 10000000000L)
      Dedup.componentsIngest(s, odd, idx,
        maxHamming = 3, budgetPairs = 10000000000L, recomputeBelow = 0L)
      Dedup.componentsIngest(s, odd, idx, // replayed crawl batch
        maxHamming = 3, budgetPairs = 10000000000L, recomputeBelow = 0L)
      val before = Dedup.componentsTable(s, idx).localCheckpoint()
      Dedup.componentsIndexCompact(s, idx)
      val after = Dedup.componentsTable(s, idx)
      val leftoverMerges = s.read.parquet(s"$idx/merges")
        .select(col("old_rep").as("id"), col("new_rep").as("rep"))
      before.exceptAll(after).unionByName(after.exceptAll(before))
        .unionByName(leftoverMerges)
    }),

    // ---- TEXT-family persisted components: the q223 lifecycle over the
    // MinHash dedup index — edges are banded-LSH candidates exact-verified
    // at jaccard >= 0.7 instead of a hamming ball. Banding is not
    // SQL-expressible, so this is a PINNED no-oracle entry (the q27
    // convention) and q227 is the oracle-checked witness.
    "q226_text_components_index" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = sigIndexDir(dir) + "_tcc"
      val even = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      Dedup.buildDedupComponentsIndex(even, "doc_id", "text", idx)
      // the half-corpus "batch" is BULK cadence — hand the dispatcher the
      // indexed corpus so it can route to the measured-cheaper recompute
      Dedup.dedupComponentsIngest(s,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", idx,
        corpusForBulk = Some(even))
      Dedup.componentsTable(s, idx)
    }),

    // ---- q226 witness: chained waves (quarter build + two ingests)
    // vs the one-shot class-quotient CC over the SAME banded pair
    // generator. Symmetric diff, WHERE FALSE oracle.
    "q227_text_components_check" -> ((s, dir) => {
      val docs = t(s, dir, "documents").localCheckpoint()
      val idx = sigIndexDir(dir) + "_tccw"
      Dedup.buildDedupComponentsIndex(
        docs.filter(pmod(col("doc_id"), lit(4)) === 0), "doc_id", "text", idx)
      // corpusForBulk = exactly the currently-indexed prefix at each wave
      Dedup.dedupComponentsIngest(s,
        docs.filter(pmod(col("doc_id"), lit(4)) === 2), "doc_id", "text", idx,
        corpusForBulk = Some(docs.filter(pmod(col("doc_id"), lit(4)) === 0)))
      Dedup.dedupComponentsIngest(s,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", idx,
        corpusForBulk = Some(docs.filter(pmod(col("doc_id"), lit(2)) === 0)))
      val fromIndex = Dedup.componentsTable(s, idx)
      val direct = Dedup.minhashComponents(docs, "doc_id", "text")
      fromIndex.exceptAll(direct).unionByName(direct.exceptAll(fromIndex))
    }),

    // ---- q226 compaction witness: replayed ingest + compact; assignment
    // unchanged, merges emptied. Symmetric diff, WHERE FALSE oracle.
    "q228_text_components_compact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val idx = sigIndexDir(dir) + "_tccc"
      val odd = docs.filter(pmod(col("doc_id"), lit(2)) === 1).localCheckpoint()
      Dedup.buildDedupComponentsIndex(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text", idx)
      Dedup.dedupComponentsIngest(s, odd, "doc_id", "text", idx)
      Dedup.dedupComponentsIngest(s, odd, "doc_id", "text", idx) // replay
      val before = Dedup.componentsTable(s, idx).localCheckpoint()
      Dedup.dedupComponentsCompact(s, idx)
      val after = Dedup.componentsTable(s, idx)
      val leftoverMerges = s.read.parquet(s"$idx/merges")
        .select(col("old_rep").as("id"), col("new_rep").as("rep"))
      before.exceptAll(after).unionByName(after.exceptAll(before))
        .unionByName(leftoverMerges)
    }),

    // ---- Product quantization (q229-q232): the compression tier past SQ8.
    // m=16 one-byte codes per 64-dim vector (16× smaller than float32, 4×
    // smaller than SQ8); scoring is ADC — per-query lookup tables, m adds
    // per candidate — with FAISS's refine stage on top: exact re-rank of
    // the top-50 ADC shortlist (only 50 float vectors per query ever
    // leave the compressed domain). Approximate ordering → no oracle;
    // recall floors are the oracle-checked companions (q230/q232).
    "q229_pq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.pqTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
        m = 16, ksub = 64, rerank = 50)
    }),

    // q229 companion: PQ+refine recall floor vs the exact baseline —
    // measured 1.00 / 1.00 / 0.98 macro at sf0.001/0.01/0.1.
    "q230_pq_recall_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Recall.topKRecall(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5),
          Similarity.pqTopK(e, q, "vec_id", "embedding", 5,
            m = 16, ksub = 64, rerank = 50))
        .agg(count(lit(1)).as("n_queries"),
          (avg(col("recall")) >= 0.9).as("above_floor"))
    }),

    // ---- IVF-PQ: FAISS's billion-scale architecture as a Spark join —
    // IVF cells PRUNE (equi-join on the coarse cell id, nprobe/nlist of
    // the corpus touched per query), PQ codes RANK, exact refine on the
    // shortlist. Recall is prune-dominated (the PQ+refine stage alone is
    // ≥0.98 — q230), so the floor matches the plain-IVF q95 contract.
    "q231_ivfpq_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
        nlist = 16, nprobe = 8, m = 16, ksub = 64, rerank = 50)
    }),

    // q231 companion: IVF-PQ recall floor — measured 0.90 / 0.84 / 0.82
    // macro at sf0.001/0.01/0.1 (nprobe=8 of nlist=16).
    "q232_ivfpq_recall_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Recall.topKRecall(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5),
          Similarity.ivfPqTopK(e, q, "vec_id", "embedding", 5,
            nlist = 16, nprobe = 8, m = 16, ksub = 64, rerank = 50))
        .agg(count(lit(1)).as("n_queries"),
          (avg(col("recall")) >= 0.7).as("above_floor"))
    }),

    // ---- Chunk-level exact dedup with document REWRITE (the paragraph-
    // dedup pass of Dolma/RefinedWeb, on 10-token windows since this
    // corpus has no newlines): a chunk occurrence survives iff it is the
    // corpus-wide first occurrence of that exact text, documents are
    // reassembled from their surviving chunks. Exact string semantics —
    // full DuckDB oracle.
    "q233_chunk_dedup" -> ((s, dir) =>
      TextAnalysis.chunkDedupRewrite(t(s, dir, "documents"), "doc_id", "text", 10)),

    // ---- In-pipeline trained quality classifier (q234/q235): the
    // CCNet/fastText-filter component — driver-fit logistic regression on
    // hashed bag-of-words (bounded sample, deterministic GD), corpus
    // scored in ONE codegen'd scan (no shuffle, no joins). The fixture
    // label is a KNOWN linear function of the features (count('window') >
    // count('scan')) — the corpus's lang/source columns are random
    // metadata with no token signal, so the honest test of the trainer is
    // recovering a known separator from hashed features on a held-out
    // split (measured 1.00 / 0.996 / 1.00 at sf0.001/0.01/0.1).
    "q234_quality_classifier" -> ((s, dir) => {
      val (train, hold) = classifierSplit(s, dir)
      Classifier.score(hold, "doc_id", "text",
        Classifier.fit(train, "doc_id", "text", "label"))
    }),

    // q234 companion: held-out accuracy floor 0.95 (the label is
    // recomputed exactly on the holdout — only the classifier is learned)
    "q235_classifier_check" -> ((s, dir) => {
      val (train, hold) = classifierSplit(s, dir)
      Classifier.score(hold, "doc_id", "text",
          Classifier.fit(train, "doc_id", "text", "label"))
        .join(hold.select(col("doc_id"), col("label")), "doc_id")
        .agg(count(lit(1)).as("n_holdout"),
          (avg(when(col("predicted") === col("label"), 1.0).otherwise(0.0)) >= 0.95)
            .as("above_floor"))
    }),

    // ---- Persisted PQ index (q236-q238): the fourth index family. Codes
    // written once (build on even vec_ids, frozen-codebook ingest of the
    // odd crawl batch), probed by ADC scan + exact refine against the
    // vector store. Approximate ordering → no oracle; q237 pins the
    // lifecycle exactly against the in-memory comparator.
    "q236_pq_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = pqIndexDir(dir)
      Similarity.buildPqIndex(e.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx)
      Similarity.pqIndexIngest(s, idx, e.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding")
      Similarity.pqIndexTopK(s, idx, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, rerank = 50, vectors = Some(e))
    }),

    // q236 companion: build+frozen-ingest+probe ≡ the in-memory form given
    // the SAME books (fit on the even half) over the same rows — empty
    // symmetric diff, WHERE FALSE oracle.
    "q237_pq_index_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val even = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      val idx = pqIndexDir(dir) + "_chk"
      Similarity.buildPqIndex(even, "vec_id", "embedding", idx)
      Similarity.pqIndexIngest(s, idx, e.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding")
      val fromIndex = Similarity.pqIndexTopK(s, idx, q, "vec_id", "embedding", 5,
        rerank = 50, vectors = Some(e))
      val direct = Similarity.pqTopKWithBooks(e, q, "vec_id", "embedding", 5,
        Similarity.pqFit(even, "vec_id", "embedding", m = 16, ksub = 64),
        rerank = 50)
      fromIndex.exceptAll(direct).unionByName(direct.exceptAll(fromIndex))
    }),

    // q236 compaction witness: a REPLAYED ingest appends bit-identical
    // rows (which would duplicate neighbors in top-k); compaction folds
    // them and the probe equals the comparator again. Union with the
    // post-compact duplicate-id frame (must both be empty).
    "q238_pq_index_compact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val even = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      val odd = e.filter(pmod(col("vec_id"), lit(2)) === 1)
      val idx = pqIndexDir(dir) + "_cc"
      Similarity.buildPqIndex(even, "vec_id", "embedding", idx)
      Similarity.pqIndexIngest(s, idx, odd, "vec_id", "embedding")
      Similarity.pqIndexIngest(s, idx, odd, "vec_id", "embedding") // replay
      Similarity.pqIndexCompact(s, idx)
      val fromIndex = Similarity.pqIndexTopK(s, idx, q, "vec_id", "embedding", 5,
        rerank = 50, vectors = Some(e))
      val direct = Similarity.pqTopKWithBooks(e, q, "vec_id", "embedding", 5,
        Similarity.pqFit(even, "vec_id", "embedding", m = 16, ksub = 64),
        rerank = 50)
      val dupIds = s.read.parquet(s"$idx/codes")
        .groupBy(col("neighbor_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .select(col("neighbor_id").as("query_id"),
          col("neighbor_id"), lit(1).as("rank"))
      fromIndex.exceptAll(direct).unionByName(direct.exceptAll(fromIndex))
        .unionByName(dupIds)
    }),

    // ---- Persisted chunk-hash index (q239/q240): chunk-level dedup at
    // crawl cadence — new docs drop chunks already admitted corpus-wide,
    // O(|batch|) per batch, the corpus never re-shuffles. The incremental
    // rewrite of the batch EQUALS the batch form (q233) restricted to the
    // batch's ids when ids arrive in nondecreasing ranges — so q239 has
    // the exact DuckDB oracle, not just a pin.
    "q239_chunk_index" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val split = chunkSplitId(d)
      val idx = pqIndexDir(dir).replace("pq_index", "chunk_index")
      TextAnalysis.buildChunkIndex(d.filter(col("doc_id") < split),
        "doc_id", "text", 10, idx)
      TextAnalysis.chunkIndexIngest(s, idx, d.filter(col("doc_id") >= split),
        "doc_id", "text", 10)
    }),

    // q239 companion: two waves + a REPLAYED wave — (a) incremental wave
    // outputs equal the batch form restricted to the waves' ids, (b) the
    // replayed wave keeps ZERO chunks (every hash is already admitted),
    // (c) compaction leaves exactly the distinct hash set. All three
    // guards emit rows only on violation — WHERE FALSE oracle.
    "q240_chunk_index_check" -> ((s, dir) => {
      val d = t(s, dir, "documents").localCheckpoint()
      val split = chunkSplitId(d)
      val mx = d.agg(max(col("doc_id"))).head().getLong(0)
      val mid = (split + mx + 1) / 2 // midpoint of the batch id range
      val idx = pqIndexDir(dir).replace("pq_index", "chunk_index") + "_chk"
      TextAnalysis.buildChunkIndex(d.filter(col("doc_id") < split),
        "doc_id", "text", 10, idx)
      val waveA = TextAnalysis.chunkIndexIngest(s, idx,
        d.filter(col("doc_id") >= split && col("doc_id") < mid),
        "doc_id", "text", 10).localCheckpoint()
      val waveB = TextAnalysis.chunkIndexIngest(s, idx,
        d.filter(col("doc_id") >= mid), "doc_id", "text", 10).localCheckpoint()
      val replayB = TextAnalysis.chunkIndexIngest(s, idx,
        d.filter(col("doc_id") >= mid), "doc_id", "text", 10).localCheckpoint()
      TextAnalysis.chunkIndexCompact(s, idx)
      val incremental = waveA.unionByName(waveB)
      val full = TextAnalysis.chunkDedupRewrite(d, "doc_id", "text", 10)
        .filter(col("doc_id") >= split)
      val survivorsOnReplay = replayB.filter(col("n_kept") > 0)
      val hashes = s.read.parquet(s"$idx/chunks")
      val dupHashGuard = hashes.groupBy(col("chash")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .select(col("chash").as("doc_id"), lit("dup-hash").as("text_dedup"),
          lit(1).as("n_kept"), lit(1).as("n_chunks"))
      incremental.exceptAll(full).unionByName(full.exceptAll(incremental))
        .unionByName(survivorsOnReplay)
        .unionByName(dupHashGuard)
    }),

    // ---- Content-defined chunk dedup (q241): chunk boundaries from the
    // engine-neutral md5 token rule instead of fixed windows — the
    // rsync/CDC trick, so a one-token insertion re-synchronizes at the
    // next boundary instead of shifting every window (the structural
    // miss of q233, demonstrated in TextAnalysisSpec). Exact string
    // semantics — full DuckDB oracle recomputing boundaries + rewrite.
    "q241_cdc_chunk_dedup" -> ((s, dir) =>
      TextAnalysis.cdcChunkDedupRewrite(t(s, dir, "documents"), "doc_id", "text")),

    // ---- CDC chunk-hash index (q242): q239's crawl-cadence lifecycle on
    // content-defined chunks — the same EXACT incremental-equals-batch
    // oracle (the dedup tail never depends on how chunks were cut).
    "q242_cdc_chunk_index" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val split = chunkSplitId(d)
      val idx = pqIndexDir(dir).replace("pq_index", "cdc_chunk_index")
      TextAnalysis.buildCdcChunkIndex(d.filter(col("doc_id") < split),
        "doc_id", "text", idx)
      TextAnalysis.cdcChunkIndexIngest(s, idx, d.filter(col("doc_id") >= split),
        "doc_id", "text")
    }),

    // ---- Signature-family components DISPATCH witness (q243): the r12
    // CcBenefit measurement showed the incremental union-find LOSING to a
    // full signatureComponents re-cluster at sf10 at BOTH cadences, so
    // componentsIngest now pre-flights the stored-signature count and
    // routes small stores to the recompute. Fixture proves the ROUTE as
    // well as the result: the odd half is ingested TWICE under default
    // dispatch (catalog corpus « crossover -> recompute route) — the
    // recompute SWAPS comps/ to exactly one raw row per id, where the
    // maintenance route would have APPENDED a duplicate assignment row
    // per replayed batch id — and the assignment must be row-identical
    // to the one-shot CC over everything. Symmetric diff ∪ raw-dup
    // survivors ∪ merges survivors, WHERE FALSE oracle.
    "q243_components_dispatch_check" -> ((s, dir) => {
      // quarter of the media universe (doc_id in {8m, 8m+1}: every kept
      // id is a member of an INTACT seed-pair (4m, 4m+1), both parities
      // present — same composition as the half form, half its size): the
      // route proof is scale-independent and this entry otherwise pays
      // the codec plus FOUR corpus CC runs — the costliest entry in the
      // whole bench at full width (20.1 s full → 14.3 s half → quarter)
      val sig = Multimodal.imageDHash(Multimodal.synthesizePngs(dhashSpec(
          t(s, dir, "documents")
            .filter(pmod(expr("doc_id DIV 2"), lit(4)) === 0))))
        .filter(col("ok"))
        .select(col("media_id").as("id"), col("dhash").as("sig"))
        .localCheckpoint()
      val idx = sigIndexDir(dir) + "_ccd"
      val odd = sig.filter(pmod(col("id"), lit(2)) === 1).localCheckpoint()
      // the direct one-shot comparator depends only on the checkpointed
      // sig frame, not on the index lifecycle — run it as a concurrent
      // job (guide §2.6) so its compute backfills the lifecycle's
      // driver-sequential gaps; awaited before the diff is built
      var direct: DataFrame = null
      val directLeg = Dedup.concurrently {
        direct = Dedup.signatureComponents(sig,
          maxHamming = 3, budgetPairs = 10000000000L).localCheckpoint()
      }
      try {
        Dedup.buildComponentsIndex(
          sig.filter(pmod(col("id"), lit(2)) === 0), idx,
          maxHamming = 3, budgetPairs = 10000000000L)
        Dedup.componentsIngest(s, odd, idx,
          maxHamming = 3, budgetPairs = 10000000000L)
        Dedup.componentsIngest(s, odd, idx, // replayed batch, same route
          maxHamming = 3, budgetPairs = 10000000000L)
      } finally directLeg.await()
      // both symmetric-diff inputs feed BOTH exceptAll branches — without
      // the checkpoints each side's whole pipeline executes twice in the
      // one returned action (rows identical either way)
      val fromIndex = Dedup.componentsTable(s, idx).localCheckpoint()
      val rawDups = Dedup.readComps(s, idx) // base ∪ delta
        .groupBy(col("id")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .select(col("id"), col("n").as("rep"))
      val leftoverMerges = s.read.parquet(s"$idx/merges")
        .select(col("old_rep").as("id"), col("new_rep").as("rep"))
      fromIndex.exceptAll(direct).unionByName(direct.exceptAll(fromIndex))
        .unionByName(rawDups).unionByName(leftoverMerges)
    }),

    // ---- Distributed classifier fit witness (q244): the
    // full-batch-gradient regime (Classifier.fitDistributed, engaged by
    // sampleN > driverSampleCap) on the q234 fixture, with the driver
    // cap scaled to the SF (64 rows of the ~50%-positive corpus): the
    // capped driver fit's holdout positive recall stays BELOW 0.95
    // (measured 0.76/0.86/0.79 at the three SFs) while the distributed
    // fit over every labeled row clears it (0.98/0.99/1.00, iters=500)
    // — the contrast the distributed path exists for, at catalog scale.
    // ClassifierSpec carries the same contrast at a 20 k-row rare-marker
    // fixture with the production 1024 cap. Oracle recomputes the
    // holdout-positive count exactly; the recall floors are the model
    // contract (the q235 convention).
    "q244_distributed_classifier_check" -> ((s, dir) => {
      val (train, hold) = classifierSplit(s, dir)
      def posRecall(m: Classifier.LogRegModel): Double =
        Classifier.score(hold, "doc_id", "text", m)
          .join(hold.select(col("doc_id"), col("label")), "doc_id")
          .filter(col("label"))
          .agg(avg(when(col("predicted"), 1.0).otherwise(0.0)))
          .head().getDouble(0)
      val driverRecall = posRecall(Classifier.fit(train, "doc_id", "text",
        "label", sampleN = 64, iters = 500))
      val distRecall = posRecall(Classifier.fit(train, "doc_id", "text",
        "label", sampleN = Int.MaxValue, iters = 500, driverSampleCap = 64))
      hold.filter(col("label"))
        .agg(count(lit(1)).as("n_holdout_pos"),
          lit(driverRecall < 0.95).as("driver_underfits"),
          lit(distRecall >= 0.95).as("dist_above_floor"))
    }),

    // ---- Batched BPE induction (q245/q246): the scale path for real
    // vocabularies — q182's merge loop runs ONE Spark round per merge
    // (fine at 30, hopeless at 32 k), the batched form accepts up to
    // batchK symbol-disjoint merges per round (counts invariant under
    // each other by disjointness; merge ORDER is the documented
    // approximation), so numMerges=256 takes ceil(256/64)=4 driver
    // rounds instead of 256. Merge ranks depend on the batched order →
    // pinned no-oracle, with the conservation identity (q246,
    // order-independent: Σ applied_count telescopes to initial−final
    // symbol mass) as the oracle-checked companion.
    "q245_bpe_merges_batched" -> ((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text",
        numMerges = 256, batchK = 64)),

    "q246_bpe_batched_conservation" -> ((s, dir) =>
      TextAnalysis.bpeConservationCheck(t(s, dir, "documents"), "text",
        numMerges = 256, batchK = 64)),

    // ---- Auto-knob IVF-PQ witness (q247): q232 documented the fixed
    // 8-of-16 nprobe's recall ceiling (0.74-0.86 regardless of rerank);
    // ivfPqTopKAuto derives nlist (cell-size rule), nprobe (the MEASURED
    // 0.75 probe fraction — on this corpus family recall tracks the
    // probe fraction nearly independently of nlist and n) and the refine
    // depth (√n rule) from one count probe. Measured macro recall@5:
    // 0.92/0.90 at the catalog 500-vec corpora, 0.92/0.90/0.94 at the
    // 2k/20k/200k decades (tools/IvfPqAutoProbe) — floor 0.88 leaves
    // deterministic-fixture margin under the measured 0.90 minimum.
    "q247_ivfpq_auto_recall_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Recall.topKRecall(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5),
          Similarity.ivfPqTopKAuto(e, q, "vec_id", "embedding", 5))
        .agg(count(lit(1)).as("n_queries"),
          (avg(col("recall")) >= 0.88).as("above_floor"))
    }),

    // ---- Zone-map manifest scan (q248): range-layout orders on
    // o_orderdate, one-pass per-file min/max manifest
    // (Tables.writeStatsManifest — the file-skipping statistics a
    // lakehouse metadata layer keeps, as a plain parquet sidecar), then a
    // DRIVER-side file prune for one quarter's band before any data
    // footer is read. At 100 TB the prune skips ~96% of ~800 k files
    // without a footer read or task launch each. Full DuckDB oracle: the
    // pruned scan must equal the plain filtered scan.
    "q248_manifest_scan" -> ((s, dir) => {
      val dest = pqIndexDir(dir).replace("pq_index", "orders_layout_q248")
      graft.sources.Tables.writeRangeLayout(t(s, dir, "orders"), dest,
        "o_orderdate", 16)
      graft.sources.Tables.writeStatsManifest(s, dest, Seq("o_orderdate"))
      graft.sources.Tables.manifestPrunedScan(s, dest, "o_orderdate",
          "1995-01-01 00:00:00", "1995-03-31 00:00:00")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          Fns.dsum(col("o_totalprice")).as("sum_price"))
    }),

    // ---- Manifest prune witness (q249): violations-only frame (q243
    // convention, WHERE FALSE oracle). Violations: (a) any row where the
    // pruned scan and the plain filtered scan disagree (symmetric diff on
    // the key), (b) the quarter band failing to skip files on a 16-file
    // range layout, (c) an out-of-domain band keeping any file. Runs the
    // whole layout+manifest lifecycle plus a full comparator scan —
    // measurement-only in the bench, like every ≡-witness.
    "q249_manifest_prune_check" -> ((s, dir) => {
      import s.implicits._
      val dest = pqIndexDir(dir).replace("pq_index", "orders_layout_q249")
      graft.sources.Tables.writeRangeLayout(t(s, dir, "orders"), dest,
        "o_orderdate", 16)
      graft.sources.Tables.writeStatsManifest(s, dest, Seq("o_orderdate"))
      val (lo, hi) = ("1995-01-01 00:00:00", "1995-03-31 00:00:00")
      val pruned = graft.sources.Tables.manifestPrunedScan(
        s, dest, "o_orderdate", lo, hi)
      val odt = s.read.parquet(dest).schema("o_orderdate").dataType
      val full = s.read.parquet(dest).filter(
        col("o_orderdate") >= lit(lo).cast(odt) &&
          col("o_orderdate") <= lit(hi).cast(odt))
      def keys(df: DataFrame) = df.select(col("o_orderkey"))
      // pinned eagerly: `full` lists dest lazily and the maintenance leg
      // below APPENDS to it — without the checkpoint this comparator
      // would see the appended files and spuriously diverge
      val mismatch = keys(pruned).exceptAll(keys(full))
        .unionByName(keys(full).exceptAll(keys(pruned)))
        .select(lit("mismatch").as("kind"),
          col("o_orderkey").cast("string").as("detail"))
        .localCheckpoint()
      val (keptIn, total) = graft.sources.Tables.manifestKeptFiles(
        s, dest, "o_orderdate", lo, hi)
      val (keptOut, _) = graft.sources.Tables.manifestKeptFiles(
        s, dest, "o_orderdate", "2031-01-01 00:00:00", "2031-12-31 00:00:00")
      val structural = Seq(
        (keptIn.size < total, "no_pruning", s"kept ${keptIn.size} of $total"),
        (keptOut.isEmpty, "empty_band_kept_files", s"kept ${keptOut.size}"))
        .collect { case (ok, k, d) if !ok => (k, d) }
      // O(batch) maintenance leg: append a slice as new files, ingest
      // ONLY them (statsManifestIngest), and the pruned scan must still
      // equal the plain filter over the grown table
      t(s, dir, "orders").filter(col("o_orderkey") % 10 === 0)
        .coalesce(1).write.mode("append").parquet(dest)
      graft.sources.Tables.statsManifestIngest(s, dest)
      val pruned2 = graft.sources.Tables.manifestPrunedScan(
        s, dest, "o_orderdate", lo, hi)
      val full2 = s.read.parquet(dest).filter(
        col("o_orderdate") >= lit(lo).cast(odt) &&
          col("o_orderdate") <= lit(hi).cast(odt))
      val ingestMismatch = keys(pruned2).exceptAll(keys(full2))
        .unionByName(keys(full2).exceptAll(keys(pruned2)))
        .select(lit("ingest_mismatch").as("kind"),
          col("o_orderkey").cast("string").as("detail"))
      mismatch.unionByName(ingestMismatch)
        .unionByName(structural.toDF("kind", "detail"))
    }),

    // ---- Persisted composed IVF-PQ index (q250-q252): the
    // billion-scale serving shape as the fifth persisted family — IVF
    // cells PRUNE (hive cell= layout, DPP-restricted probe reads), PQ
    // codes COMPRESS (~24 B/row ADC), float store REFINES (exact rerank).
    // Approximate ordering → q250 pinned; q251 pins the lifecycle
    // hash-exactly against the in-memory composed comparator; q252 holds
    // the q247 recall floor through the persisted path.
    "q250_ivfpq_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = pqIndexDir(dir).replace("pq_index", "ivfpq_index")
      Similarity.buildIvfPqIndex(e.filter(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", idx)
      Similarity.ivfPqIndexIngest(s, idx,
        e.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", "embedding")
      Similarity.ivfPqIndexTopKAuto(s, idx, e.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, vectors = e)
    }),

    // q250 companion: build + frozen two-model ingest + replay + compact
    // ≡ the in-memory composed form given the SAME models (read back from
    // the index) over the same rows; plus no duplicate code row survives
    // compaction. Symmetric diff ∪ dup frame, WHERE FALSE oracle.
    "q251_ivfpq_index_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val even = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      val odd = e.filter(pmod(col("vec_id"), lit(2)) === 1)
      val idx = pqIndexDir(dir).replace("pq_index", "ivfpq_index") + "_chk"
      Similarity.buildIvfPqIndex(even, "vec_id", "embedding", idx)
      Similarity.ivfPqIndexIngest(s, idx, odd, "vec_id", "embedding")
      Similarity.ivfPqIndexIngest(s, idx, odd, "vec_id", "embedding") // replay
      Similarity.ivfPqIndexCompact(s, idx)
      val fromIndex = Similarity.ivfPqIndexTopK(s, idx, q, "vec_id",
        "embedding", 5, nprobe = 4, rerank = 50, vectors = Some(e))
      val direct = Similarity.ivfPqTopKWithModels(e, q, "vec_id", "embedding",
        5, nprobe = 4, Similarity.readIvfCentroids(s, idx),
        Similarity.readPqCodebooks(s, idx), rerank = 50)
      val dupIds = s.read.parquet(s"$idx/codes")
        .groupBy(col("neighbor_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .select(col("neighbor_id").as("query_id"),
          col("neighbor_id"), lit(1).as("rank"))
      fromIndex.exceptAll(direct).unionByName(direct.exceptAll(fromIndex))
        .unionByName(dupIds)
    }),

    // q250 recall companion: the persisted auto probe (nprobe from the
    // stored cell count, rerank from the stored code count) must hold the
    // q247 floor — the index path adds no recall cost over the in-memory
    // auto form because the models and arithmetic are identical.
    "q252_ivfpq_index_recall_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      val idx = pqIndexDir(dir).replace("pq_index", "ivfpq_index") + "_rc"
      Similarity.buildIvfPqIndex(e, "vec_id", "embedding", idx,
        nlist = Similarity.autoNlist(e.count(), 256, 4096))
      Recall.topKRecall(
          Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5),
          Similarity.ivfPqIndexTopKAuto(s, idx, q, "vec_id", "embedding", 5,
            vectors = e))
        .agg(count(lit(1)).as("n_queries"),
          (avg(col("recall")) >= 0.88).as("above_floor"))
    }),

    // ---- PQ-sink codebook lifecycle witness (q253): the frozen-model
    // risk made concrete and repaired — a DEGENERATE 50-vector bootstrap
    // (all-ones vectors; their fit collapses every subspace to one
    // centroid, so ADC ordering of the later corpus carries no signal)
    // followed by a frozen-codebook ingest of the real corpus leaves
    // probe recall under the floor; pqSinkRetrainCompact refits on the
    // float store and re-encodes, restoring recall ≥ 0.9. Oracle
    // recomputes the query count exactly; the recall floors are the model
    // contract (q235/q244 convention).
    "q253_pq_retrain_check" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").localCheckpoint()
      val skewed = e.filter(col("vec_id") < 50)
        .withColumn("embedding",
          expr("transform(embedding, x -> cast(1.0 as float))"))
      val store = skewed.unionByName(e.filter(col("vec_id") >= 50))
        .localCheckpoint()
      val idx = pqIndexDir(dir) + "_rt"
      Similarity.buildPqIndex(skewed, "vec_id", "embedding", idx)
      Similarity.pqIndexIngest(s, idx, e.filter(col("vec_id") >= 50),
        "vec_id", "embedding")
      val q = e.filter(col("vec_id").between(50, 59))
      val exact = Similarity.bruteForceTopK(store, q, "vec_id", "embedding", 5)
        .localCheckpoint()
      def recall(): Double = Recall.topKRecall(exact,
          Similarity.pqIndexTopKAuto(s, idx, q, "vec_id", "embedding", 5,
            vectors = store))
        .agg(avg(col("recall"))).head().getDouble(0)
      val before = recall()
      Similarity.pqSinkRetrainCompact(s, idx, store, "vec_id", "embedding")
      val after = recall()
      q.agg(count(lit(1)).as("n_queries"),
        lit(before < 0.9).as("bootstrap_underperforms"),
        lit(after >= 0.9).as("retrain_above_floor"),
        lit(after > before).as("retrain_improves"))
    }),

    // ---- Bloom point-lookup manifest band (q254): the `key IN (...)`
    // shape min/max zone maps cannot serve — o_orderkey is
    // high-cardinality and UNCLUSTERED by the o_orderdate range layout,
    // so every file's [min, max] spans the whole key domain; the per-file
    // bloom keeps only the true files plus bounded false positives.
    // Bits sized ~16 per stored key (fpp ≈ 1.4%/probe at any SF). Full
    // DuckDB oracle: pruned point scan ≡ plain IN-filter.
    "q254_manifest_point_lookup" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val dest = pqIndexDir(dir).replace("pq_index", "orders_layout_q254")
      graft.sources.Tables.writeRangeLayout(orders, dest, "o_orderdate", 64)
      val r = orders.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val mid = orders.filter(col("o_orderkey") >= (lo + hi) / 2)
        .agg(min(col("o_orderkey"))).head().getLong(0)
      val n = orders.count()
      val bits = math.max(8192L, ((n / 64) * 16 / 64 + 1) * 64).toInt
      graft.sources.Tables.writeStatsManifest(s, dest, Seq("o_orderdate"),
        bloomCols = Seq("o_orderkey"), bloomBits = bits)
      graft.sources.Tables.manifestPrunedScanPoint(s, dest, "o_orderkey",
          Seq(lo, mid, hi))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    // q254 prune witness (q249 convention, WHERE FALSE oracle):
    // violations only — (a) pruned point scan ≠ plain IN-filter, (b) a
    // 3-key probe keeping more than 10% of the 64 files (the ≥90%-skip
    // contract), (c) an ABSENT key keeping more than the false-positive
    // allowance.
    "q255_manifest_point_prune_check" -> ((s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
      val dest = pqIndexDir(dir).replace("pq_index", "orders_layout_q255")
      graft.sources.Tables.writeRangeLayout(orders, dest, "o_orderdate", 64)
      val r = orders.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val mid = orders.filter(col("o_orderkey") >= (lo + hi) / 2)
        .agg(min(col("o_orderkey"))).head().getLong(0)
      val n = orders.count()
      val bits = math.max(8192L, ((n / 64) * 16 / 64 + 1) * 64).toInt
      graft.sources.Tables.writeStatsManifest(s, dest, Seq("o_orderdate"),
        bloomCols = Seq("o_orderkey"), bloomBits = bits)
      val probe = Seq(lo, mid, hi)
      val pruned = graft.sources.Tables.manifestPrunedScanPoint(
        s, dest, "o_orderkey", probe)
      val full = s.read.parquet(dest)
        .filter(col("o_orderkey").isin(probe: _*))
      def keys(df: DataFrame) = df.select(col("o_orderkey"))
      val mismatch = keys(pruned).exceptAll(keys(full))
        .unionByName(keys(full).exceptAll(keys(pruned)))
        .select(lit("mismatch").as("kind"),
          col("o_orderkey").cast("string").as("detail"))
      val (keptIn, total) = graft.sources.Tables.manifestKeptFilesPoint(
        s, dest, "o_orderkey", probe)
      // absent key: hi+1 can never be stored (hi is the max)
      val (keptAbs, _) = graft.sources.Tables.manifestKeptFilesPoint(
        s, dest, "o_orderkey", Seq(hi + 1))
      val structural = Seq(
        (keptIn.size <= total / 10, "skip_below_90pct",
          s"kept ${keptIn.size} of $total"),
        (keptAbs.size <= math.max(2, total / 20), "absent_key_kept_files",
          s"kept ${keptAbs.size} of $total"))
        .collect { case (ok, k, d) if !ok => (k, d) }
      mismatch.unionByName(structural.toDF("kind", "detail"))
    }),

    // ---- WIDE signature blocking witness (q256): the layout
    // buildSignatureIndex auto-selects above SIG_WIDE_BLOCKING_AT stored
    // signatures (2×32-bit blocks, hamming-1 ball probe — multi-index
    // hashing), FORCED here on the catalog corpus so the q217 lifecycle
    // identity pins it at every SF: build + ingest + probe ≡ the direct
    // cross-frame recompute, plus a replay + compact identity leg.
    // Symmetric diffs, WHERE FALSE oracle.
    "q256_sig_wide_blocking_check" -> ((s, dir) => {
      val sig = dhashSigs(s, dir)
      val idx = sigIndexDir(dir) + "_wide"
      val even = sig.filter(pmod(col("id"), lit(2)) === 0).localCheckpoint()
      val odd = sig.filter(pmod(col("id"), lit(2)) === 1).localCheckpoint()
      Dedup.buildSignatureIndexWithLayout(
        even.filter(pmod(col("id"), lit(4)) === 0), idx,
        wide = true, kbBits = 8)
      Dedup.signatureIndexIngest(s, idx,
        even.filter(pmod(col("id"), lit(4)) === 2))
      Dedup.signatureIndexIngest(s, idx, // replayed append
        even.filter(pmod(col("id"), lit(4)) === 2))
      val before = Dedup.signatureIndexProbe(s, idx, odd).localCheckpoint()
      Dedup.signatureIndexCompact(s, idx)
      val after = Dedup.signatureIndexProbe(s, idx, odd)
      val direct = Dedup.hammingPairsIncremental64(even, odd)
      before.exceptAll(direct).unionByName(direct.exceptAll(before))
        .unionByName(before.exceptAll(after))
        .unionByName(after.exceptAll(before))
    })
  )

  /** Scale-invariant range split for the chunk-index family: the id at
    * which the "batch" begins — ceil((max+1)/2) of the frame's id range
    * (a 1-row bounded aggregate, never a data pass). SQL analog:
    * `doc_id * 2 >= max(doc_id) + 1`.
    */
  private def chunkSplitId(d: DataFrame): Long = {
    val mx = d.agg(max(col("doc_id"))).head().getLong(0)
    (mx + 2) / 2
  }

  private def pqIndexDir(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_pq_index_${new java.io.File(dir).getName}"

  /** Shared fixture of the classifier family (q234/q235): label =
    * count('window') > count('scan') per document — linearly separable in
    * the hashed-BoW feature space by construction — split even/odd on
    * doc_id into train/holdout.
    */
  private def classifierSplit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val tk = TextAnalysis.tokens(lower(col("text")))
    val labeled = t(s, dir, "documents").select(col("doc_id"), col("text"),
      (size(filter(tk, tok => tok === "window")) >
        size(filter(tk, tok => tok === "scan"))).as("label"))
    (labeled.filter(pmod(col("doc_id"), lit(2)) === 0),
      labeled.filter(pmod(col("doc_id"), lit(2)) === 1))
  }

  /** dHash signature frame over the q210 fixture — the shared input of
    * the signature-index lifecycle queries (q216-q218).
    */
  private def dhashSigs(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageDHash(
      Multimodal.synthesizePngs(dhashSpec(t(s, dir, "documents"))))
      .filter(col("ok"))
      .select(col("media_id").as("id"), col("dhash").as("sig"))

  private def sigIndexDir(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_sig_index_${new java.io.File(dir).getName}"

  /** Shared fixture spec for the audio-fingerprint family (q212/q213):
    * consecutive doc_id pairs (2k, 2k+1) share the sample seed and frame
    * count but differ in `sample_rate` — the same audio re-containered,
    * the near-duplicate class byte-level dedup misses. Mono keeps frame
    * index == global sample index (the [[graft.ext.Multimodal.wavSample]]
    * alignment its oracle needs).
    */
  private def afpSpec(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      (lit(650) + pmod(expr("doc_id DIV 2") * 13, lit(62))).cast("int").as("n_frames"),
      (lit(8000) + pmod(col("doc_id"), lit(2)) * 4000).cast("int").as("sample_rate"),
      lit(1).cast("int").as("channels"),
      expr("doc_id DIV 2").cast("long").as("seed"))

  /** Shared fixture spec for the perceptual-hash family (q210/q211):
    * consecutive doc_id pairs (2k, 2k+1) share seed and dimensions but
    * differ in `alpha` — the same raster re-encoded RGBA vs RGB, the
    * near-duplicate class perceptual hashing exists to catch.
    */
  private def dhashSpec(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      (lit(16) + pmod(expr("doc_id DIV 2"), lit(32))).cast("int").as("width"),
      (lit(16) + pmod(expr("doc_id DIV 2") * 7, lit(24))).cast("int").as("height"),
      (pmod(col("doc_id"), lit(2)) === 1).as("alpha"),
      expr("doc_id DIV 2").cast("long").as("seed"))

  /** Shared fixture spec for the perceptual VIDEO family (q220/q221):
    * [[dhashSpec]]'s dimensions, 5-10 patterned frames, and consecutive
    * doc_id pairs (2k, 2k+1) sharing seed/geometry but differing in
    * `inverted` — the same frame sequence encoded straight vs
    * reversed-palette, byte-distinct containers with identical decoded
    * rasters.
    */
  private def videoSpec(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      (lit(16) + pmod(expr("doc_id DIV 2"), lit(32))).cast("int").as("width"),
      (lit(16) + pmod(expr("doc_id DIV 2") * 7, lit(24))).cast("int").as("height"),
      (lit(5) + pmod(expr("doc_id DIV 2") * 13, lit(6))).cast("int").as("n_frames"),
      expr("doc_id DIV 2").cast("long").as("seed"),
      (pmod(col("doc_id"), lit(2)) === 1).as("inverted"))

  /** Deterministic per-SF location of the q200/q201 index build (under the
    * JVM tmpdir, keyed by the sf dir's basename so replicas don't collide;
    * rebuilt mode=overwrite on every call — the build is part of what the
    * queries measure).
    */
  private def ivfIndexDir(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_ivf_index_${new java.io.File(dir).getName}"

  // ===========================================================================
  // Oracle SQL (DuckDB dialect, same parquet tables registered by name)
  // ===========================================================================

  def oracleSql: Map[String, String] = Map(
    // q85 is q29's exact ANN re-expressed through the SQL-registered
    // native functions, so it shares q29's oracle shape.
    "q85_sql_extensions" -> """
      WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
           c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id ASC) AS rank
        FROM q JOIN c ON query_id <> neighbor_id)
      WHERE rank <= 5""",

    "q86_heavy_hitters" -> s"""
      WITH tk AS (SELECT unnest(${sqlTokens("lower(text)")}) AS token FROM documents),
      g AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
      tot AS (SELECT sum(cnt) AS n FROM g)
      SELECT token, cnt, CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) AS share
      FROM g, tot WHERE cnt * 30 > n""",

    "q89_doc_chunks" -> s"""
      WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
      d AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0),
      s AS (SELECT doc_id, t, n, unnest(generate_series(0, n - 1, 40)) AS start FROM d)
      SELECT doc_id, CAST(start // 40 AS INT) AS chunk_id,
             CAST(least(50, n - start) AS INT) AS n_tok,
             array_to_string(t[start + 1 : start + 50], ' ') AS chunk_text
      FROM s""",

    "q90_sequence_pack" -> s"""
      WITH d AS (SELECT doc_id, source,
                   CAST(len(${sqlTokens("text")}) AS INT) AS n_tok
                 FROM documents)
      SELECT doc_id, source, n_tok,
        CAST((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) - n_tok) // 200 AS BIGINT) AS bin
      FROM d""",

    "q01_summarize" -> s"""
      SELECT l_returnflag, l_linestatus,
        ${sqlDsum("l_quantity")} AS sum_qty,
        ${sqlDsum("l_extendedprice")} AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
          * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
        ${sqlDsum("l_quantity")} / COUNT(l_quantity) AS avg_qty,
        ${sqlDsum("l_extendedprice")} / COUNT(l_extendedprice) AS avg_price,
        ${sqlDsum("l_discount")} / COUNT(l_discount) AS avg_disc,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus""",

    "q02_ranged_scan" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'""",

    "q03_project_derive" -> """
      SELECT l_orderkey AS orderkey, l_linenumber AS linenumber,
        l_extendedprice * (1 - l_discount) AS revenue,
        CAST(l_shipdate AS DATE) AS ship_day,
        strftime(l_shipdate, '%Y-%m-%d') AS ship_day_str
      FROM lineitem""",

    "q04_date_spine" -> """
      SELECT CAST(d AS DATE) AS d, strftime(d, '%Y-%m') AS month
      FROM (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-03-31', INTERVAL 1 DAY)) AS d)""",

    "q05_union_by_name" -> """
      SELECT o_orderkey, o_orderstatus, o_totalprice, NULL::TIMESTAMP AS o_orderdate
      FROM orders WHERE o_orderstatus = 'F'
      UNION ALL
      SELECT o_orderkey, o_orderstatus, NULL::DOUBLE AS o_totalprice, o_orderdate
      FROM orders WHERE o_orderstatus = 'O'""",

    "q06_enrich_join" -> s"""
      SELECT r_name, n_name, COUNT(*) AS n_cust, ${sqlDsum("c_acctbal")} AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name""",

    "q07_left_join_fill" -> """
      SELECT l_orderkey, l_linenumber,
        COALESCE(p_brand, 'No asignado') AS p_brand,
        COALESCE(p_retailprice, 0.0) AS p_retailprice
      FROM lineitem
      LEFT JOIN (SELECT p_partkey, p_brand, p_retailprice FROM part WHERE p_size > 40) p
        ON l_partkey = p_partkey""",

    "q08_inner_drop" -> """
      SELECT c_name, COUNT(*) AS n_orders
      FROM orders
      JOIN (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 500) c
        ON o_custkey = c_custkey
      GROUP BY c_name""",

    "q09_anti_join" -> """
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders o
      WHERE NOT EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_shipdate >= TIMESTAMP '1999-01-01' AND l.l_orderkey = o.o_orderkey)""",

    "q10_contains_lookup" -> """
      SELECT p.p_partkey, p.p_name, MIN(d.p_type) AS matched_type
      FROM (SELECT p_partkey, p_name FROM part) p
      LEFT JOIN (SELECT DISTINCT p_type FROM part) d
        ON contains(lower(p.p_name), lower(d.p_type))
      GROUP BY p.p_partkey, p.p_name""",

    "q11_upsert_merge" -> """
      WITH existing AS (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
           incoming AS (SELECT * FROM orders
                        WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '2000-01-01')
      SELECT o_orderkey, o_orderstatus, o_orderdate FROM existing
      UNION ALL
      SELECT i.o_orderkey, i.o_orderstatus, i.o_orderdate FROM incoming i
      WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.o_orderkey = i.o_orderkey)""",

    "q12_dedupe_last" -> """
      SELECT c_nationkey, c_custkey, c_name, c_acctbal
      FROM customer
      QUALIFY row_number() OVER (PARTITION BY c_nationkey ORDER BY c_custkey DESC) = 1""",

    "q13_first_by" -> """
      SELECT l_orderkey,
        arg_min(l_partkey, CAST(l_linenumber AS BIGINT) * 1000000 + l_partkey) AS first_part,
        arg_max(l_partkey, CAST(l_linenumber AS BIGINT) * 1000000 + l_partkey) AS last_part,
        COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey""",

    "q14_argmax_group" -> """
      SELECT user_id, event_id, event_type, value
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) = 1""",

    "q15_grouped_sums" -> s"""
      SELECT user_id, CAST(ts AS DATE) AS day,
        ${sqlDsum("value")} AS sum_value, COUNT(*) AS n_events
      FROM events GROUP BY user_id, CAST(ts AS DATE)""",

    "q16_window_rank" -> """
      SELECT o_orderpriority, o_orderkey, o_totalprice,
        CAST(row_number() OVER w AS INT) AS rn,
        CAST(rank() OVER w AS INT) AS rk
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)
      QUALIFY row_number() OVER w <= 3""",

    "q17_topk" -> """
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",

    "q18_scalar_json" -> """
      SELECT event_id, CAST(ts AS DATE) AS day,
        strftime(ts, '%Y-%m-%d') AS day_str,
        CAST(EXTRACT(hour FROM ts) AS INT) AS h,
        CAST(json_extract_string(props, '$.k') AS INT) AS k,
        upper(event_type) AS etype
      FROM events""",

    "q19_casts" -> """
      SELECT c_custkey,
        CAST(TRUNC(c_acctbal) AS INT) AS bal_int,
        CAST(c_nationkey AS DOUBLE) AS nk_double,
        CAST(c_custkey AS VARCHAR) AS key_str
      FROM customer""",

    "q20_rollup" -> s"""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q21_tumbling_window" -> s"""
      SELECT date_trunc('hour', ts) AS win_start, event_type,
        COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
      FROM events GROUP BY date_trunc('hour', ts), event_type""",

    "q22_sessionize" -> """
      WITH g AS (
        SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 30*60*1000
               THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      ), s AS (
        SELECT user_id, ts,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM g
      )
      SELECT user_id, CAST(session_seq AS INT) AS session_seq,
        MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events
      FROM s GROUP BY user_id, session_seq""",

    "q23_dedup_exact" -> """
      SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
      FROM documents GROUP BY md5(text)""",

    "q24_fingerprint" -> s"""
      SELECT md5(array_to_string(list_sort(list_distinct(${sqlTokens("lower(text)")})), ' ')) AS fp,
        MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
      FROM documents
      GROUP BY 1 HAVING COUNT(*) > 1""",

    "q25_jaccard_pairs" -> s"""
      WITH t AS (
        SELECT doc_id AS id, list_distinct(${sqlTokens("lower(text)")}) AS sh FROM documents
      ), inv AS (
        SELECT id, len(sh) AS sz, unnest(sh) AS s FROM t WHERE len(sh) > 0
      )
      SELECT a.id AS id_a, b.id AS id_b,
        CAST(COUNT(*) AS DOUBLE) / (a.sz + b.sz - COUNT(*)) AS jaccard
      FROM inv a JOIN inv b ON a.s = b.s AND a.id < b.id
      GROUP BY a.id, b.id, a.sz, b.sz
      HAVING CAST(COUNT(*) AS DOUBLE) / (a.sz + b.sz - COUNT(*)) >= 0.8""",

    "q26_jaccard3_pairs" -> s"""
      WITH toks AS (
        SELECT doc_id AS id, ${sqlTokens("lower(text)")} AS tk FROM documents
      ), t AS (
        SELECT id,
          CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
               ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
                      i -> array_to_string(tk[i:i+2], ' '))) END AS sh
        FROM toks
      ), inv AS (
        SELECT id, len(sh) AS sz, unnest(sh) AS s FROM t WHERE len(sh) > 0
      )
      SELECT a.id AS id_a, b.id AS id_b,
        CAST(COUNT(*) AS DOUBLE) / (a.sz + b.sz - COUNT(*)) AS jaccard
      FROM inv a JOIN inv b ON a.s = b.s AND a.id < b.id
      GROUP BY a.id, b.id, a.sz, b.sz
      HAVING CAST(COUNT(*) AS DOUBLE) / (a.sz + b.sz - COUNT(*)) >= 0.1""",

    "q29_cosine_topk" -> """
      WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
           c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id ASC) AS rank
        FROM q JOIN c ON query_id <> neighbor_id)
      WHERE rank <= 5""",

    "q31_cosine_pairs" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4""",

    "q32_text_stats" -> s"""
      WITH f AS (SELECT doc_id, length(text) AS n_chars,
                        len(${sqlTokens("text")}) AS n_tokens FROM documents)
      SELECT doc_id,
        CAST(n_tokens AS INT) AS n_tokens,
        CAST(n_chars AS INT) AS n_chars,
        CAST(n_chars - (n_tokens - 1) AS DOUBLE)
          / greatest(n_tokens, 1) AS mean_token_len
      FROM f""",

    "q33_langid" -> s"""
      WITH tk AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS w FROM documents),
      s AS (
        SELECT doc_id,
          len(list_filter(w,
            w -> w IN ('der','die','das','und','zu','in','ist','ein','nicht','mit'))) AS s_de,
          len(list_filter(w,
            w -> w IN ('the','a','of','and','to','in','is','it','that','for'))) AS s_en,
          len(list_filter(w,
            w -> w IN ('el','la','de','y','que','en','un','una','es','por'))) AS s_es,
          len(list_filter(w,
            w -> w IN ('le','la','de','et','que','en','un','une','est','pour'))) AS s_fr
        FROM tk)
      SELECT doc_id,
        CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
             WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
             WHEN s_es >= s_fr THEN 'es'
             ELSE 'fr' END AS lang_pred
      FROM s""",

    "q34_media_bytestats" -> """
      SELECT doc_id AS media_id,
        CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        md5(text) AS payload_md5
      FROM documents""",

    "q35_frame_sample" -> """
      WITH d AS (
        SELECT doc_id AS media_id,
          1 + (octet_length(CAST(text AS BLOB)) % 16) AS n_frames
        FROM documents)
      SELECT media_id, CAST(unnest(generate_series(0, n_frames - 1, 4)) AS INT) AS frame_idx
      FROM d""",

    "q36_impute_mean" -> """
      WITH m AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(c_acctbal) AS v
        FROM customer WHERE NOT (c_acctbal < 0))
      SELECT c_custkey,
        CASE WHEN c_acctbal < 0 THEN (SELECT v FROM m) ELSE c_acctbal END AS c_acctbal_imputed
      FROM customer""",

    "q37_impute_median" -> """
      WITH m AS (SELECT median(c_acctbal) AS v FROM customer WHERE NOT (c_acctbal < 0))
      SELECT c_custkey,
        CASE WHEN c_acctbal < 0 THEN (SELECT v FROM m) ELSE c_acctbal END AS c_acctbal_imputed
      FROM customer""",

    "q38_impute_mode" -> """
      WITH ok AS (SELECT o_orderpriority FROM orders WHERE NOT (o_orderstatus = 'P')),
           counts AS (SELECT o_orderpriority AS v, COUNT(*) AS c FROM ok GROUP BY 1),
           m AS (SELECT MIN(v) AS mode FROM counts WHERE c = (SELECT MAX(c) FROM counts))
      SELECT o_orderkey,
        CASE WHEN o_orderstatus = 'P' THEN (SELECT mode FROM m) ELSE o_orderpriority END
          AS o_orderpriority_imputed
      FROM orders""",

    "q39_impute_group_mean" -> """
      WITH g AS (
        SELECT c_mktsegment,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(c_acctbal) AS v
        FROM customer WHERE NOT (c_acctbal < 0) GROUP BY c_mktsegment)
      SELECT c_custkey,
        CASE WHEN c_acctbal < 0 THEN g.v ELSE c_acctbal END AS c_acctbal_imputed
      FROM customer LEFT JOIN g USING (c_mktsegment)""",

    "q40_sql_q3" -> """
      SELECT l.l_orderkey AS orderkey,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        o.o_orderdate AS orderdate
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
        AND l.l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY l.l_orderkey, o.o_orderdate
      ORDER BY revenue DESC, orderkey ASC
      LIMIT 10""",

    "q41_sql_q5" -> """
      SELECT n.n_name AS nation,
        CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY n.n_name""",

    "q42_pipeline" -> s"""
      SELECT o_custkey, n_name, CAST(l_shipdate AS DATE) AS fecha,
        ${sqlDsum("l_quantity")} AS horas,
        arg_min(o_orderpriority, o_orderkey) AS prioridad,
        COUNT(*) AS n_lineas
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY o_custkey, n_name, CAST(l_shipdate AS DATE)""",

    "q43_distinct" -> """
      SELECT DISTINCT user_id, event_type FROM events""",

    "q44_asof_join" -> """
      SELECT c.event_id, c.user_id, p.purchase_value
      FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
      ASOF LEFT JOIN (SELECT user_id, ts, value AS purchase_value FROM events
                      WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND c.ts >= p.ts""",

    "q45_range_join" -> s"""
      WITH w AS (
        SELECT unnest(generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-29',
                                      INTERVAL 7 DAY)) AS w_start)
      SELECT w_start, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
      FROM events e JOIN w
        ON e.ts >= w.w_start AND e.ts < w.w_start + INTERVAL 7 DAY
      GROUP BY w_start""",

    "q46_pivot" -> """
      SELECT o_orderpriority,
        COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
        COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
        COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
      FROM orders GROUP BY o_orderpriority""",

    "q47_percentiles" -> """
      SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS p25,
        quantile_cont(l_quantity, 0.5)  AS p50,
        quantile_cont(l_quantity, 0.75) AS p75,
        COUNT(DISTINCT l_partkey) AS n_parts
      FROM lineitem GROUP BY l_returnflag""",

    "q48_cube" -> s"""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",

    "q49_window_frames" -> """
      SELECT o_custkey, o_orderkey,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving3,
        o_totalprice - lag(o_totalprice, 1) OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS delta_prev
      FROM orders""",

    "q50_scalar_strings" -> """
      SELECT p_partkey,
        upper(p_name) AS name_upper,
        substring(p_name, 1, 10) AS name_prefix,
        concat_ws('-', p_brand, p_type) AS brand_type,
        regexp_replace(p_type, ' ', '_', 'g') AS type_snake,
        CAST(length(p_name) AS INT) AS name_len,
        lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        CAST(strpos(p_name, ' ') AS INT) AS first_space,
        CASE WHEN p_size > 25 THEN 'big' ELSE 'small' END AS size_class,
        COALESCE(nullif(p_brand, 'Brand#13'), 'OTHER') AS brand_or_other
      FROM part""",

    "q51_exists_semi" -> """
      SELECT s_suppkey, s_name FROM supplier s
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_suppkey = s.s_suppkey
                      AND l.l_shipdate >= TIMESTAMP '1998-01-01'
                      AND l.l_shipdate < TIMESTAMP '1999-01-01')""",

    "q52_explode_tokens" -> s"""
      SELECT token, COUNT(*) AS cnt
      FROM (SELECT unnest(${sqlTokens("lower(text)")}) AS token FROM documents)
      GROUP BY token""",

    "q54_pipeline_imputations" -> s"""
      WITH emp AS (SELECT s_suppkey FROM supplier WHERE s_acctbal > 0),
      parts AS (SELECT p_partkey, p_name FROM part),
      types AS (SELECT DISTINCT p_type FROM part),
      rows_inc AS (
        SELECT l.l_suppkey AS s_suppkey, CAST(l.l_shipdate AS DATE) AS fecha,
               l.l_quantity AS horas, l.l_extendedprice, p.p_name
        FROM lineitem l
        JOIN emp e ON l.l_suppkey = e.s_suppkey
        JOIN parts p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1998-06-01' AND l.l_shipdate < TIMESTAMP '1998-09-01'),
      rows_ex AS (
        SELECT l.l_suppkey AS s_suppkey, CAST(l.l_shipdate AS DATE) AS fecha,
               l.l_quantity AS horas, l.l_extendedprice, p.p_name
        FROM lineitem l
        JOIN emp e ON l.l_suppkey = e.s_suppkey
        JOIN parts p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1998-01-01' AND l.l_shipdate < TIMESTAMP '1998-06-01'),
      agg_inc AS (
        SELECT s_suppkey, fecha,
          COALESCE((SELECT MIN(t.p_type) FROM types t
                    WHERE contains(lower(r.p_name), lower(t.p_type))), 'No asignado') AS tipo,
          ${sqlDsum("horas")} AS horas,
          MIN(l_extendedprice) AS precio_min,
          COUNT(*) AS n_lineas
        FROM rows_inc r GROUP BY 1, 2, 3),
      agg_ex AS (
        SELECT s_suppkey, fecha,
          COALESCE((SELECT MIN(t.p_type) FROM types t
                    WHERE contains(lower(r.p_name), lower(t.p_type))), 'No asignado') AS tipo,
          ${sqlDsum("horas")} AS horas,
          MIN(l_extendedprice) AS precio_min,
          COUNT(*) AS n_lineas
        FROM rows_ex r GROUP BY 1, 2, 3)
      SELECT i.* FROM agg_inc i
      WHERE NOT EXISTS (SELECT 1 FROM agg_ex e
        WHERE e.s_suppkey = i.s_suppkey AND e.fecha = i.fecha AND e.tipo = i.tipo)""",

    "q55_pipeline_fichajes" -> s"""
      WITH r AS (
        SELECT user_id, CAST(ts AS DATE) AS fecha,
          ${sqlDsum("value")} AS segundos_trabajados, COUNT(*) AS n_fichajes
        FROM events GROUP BY 1, 2)
      SELECT CAST(user_id AS BIGINT) AS empleado_id, fecha,
        COALESCE(c_name, 'No asignado') AS empleado,
        COALESCE(c_mktsegment, 'No asignado') AS departamento,
        segundos_trabajados, n_fichajes
      FROM r LEFT JOIN customer ON user_id = c_custkey""",

    "q57_quality_score" -> s"""
      WITH f AS (
        SELECT doc_id, text,
          len(${sqlTokens("text")}) AS n_tokens,
          length(text) AS n_chars,
          length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
          len(list_filter(${sqlTokens("lower(text)")},
            w -> w IN ('the','a','of','and','to','in','is','it','that','for'))) AS n_stop
        FROM documents)
      SELECT doc_id,
        CAST(n_tokens AS INT) AS n_tokens,
        CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio,
        CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1) AS stopword_ratio,
        CAST(n_chars - (n_tokens - 1) AS DOUBLE) / greatest(n_tokens, 1) AS mean_token_len,
        least(1.0, CAST(n_tokens AS DOUBLE) / 64.0) * 0.5
          + least(1.0, (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 4.0) * 0.25
          + (1.0 - least(1.0, (CAST(n_punct AS DOUBLE) / greatest(n_chars, 1)) * 10.0)) * 0.25
          AS quality_score
      FROM f""",

    "q58_salted_join" -> s"""
      SELECT o_orderpriority, COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""",

    // exact integer arithmetic end to end: // is DuckDB's integer
    // division, div is Spark's — both truncate toward zero on these
    // non-negative counts
    "q171_skew_profile" -> """
      WITH c AS (SELECT COALESCE(CAST(lang AS VARCHAR), '<null>') AS key,
                        COUNT(*) AS cnt
                 FROM documents GROUP BY 1),
           tot AS (SELECT SUM(cnt) AS total FROM c)
      SELECT key, cnt,
        CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
        CAST((cnt * 32 + total - 1) // total AS BIGINT) AS salt
      FROM c, tot
      ORDER BY cnt DESC, key ASC LIMIT 25""",

    // the NAIVE global-window form of the top-p rule — the two-phase
    // bucketed selection must reproduce it bit-for-bit. Quality score is
    // q57's expression verbatim (hash-proven identical doubles); weight
    // is the table's n_chars column, the punct denominator is length(text)
    // (q57's convention) — two different quantities by design.
    "q172_top_p_select" -> s"""
      WITH f AS (
        SELECT doc_id, source, n_chars,
          len(${sqlTokens("text")}) AS n_tokens,
          length(text) AS n_chars_r,
          length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
          len(list_filter(${sqlTokens("lower(text)")},
            w -> w IN ('the','a','of','and','to','in','is','it','that','for'))) AS n_stop
        FROM documents),
      q AS (
        SELECT doc_id, source, n_chars,
          least(1.0, CAST(n_tokens AS DOUBLE) / 64.0) * 0.5
            + least(1.0, (CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1)) * 4.0) * 0.25
            + (1.0 - least(1.0, (CAST(n_punct AS DOUBLE) / greatest(n_chars_r, 1)) * 10.0)) * 0.25
            AS qs
        FROM f WHERE n_chars > 0),
      r AS (
        SELECT doc_id, source, n_chars, qs,
          COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY qs DESC, doc_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
          SUM(n_chars) OVER (PARTITION BY source) AS tot
        FROM q)
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight
      FROM r WHERE 100 * cb < 80 * tot""",

    // the pixel formula in SQL: corner RGB = (doc_id · 1099511628211)
    // mod 2²⁴, computed as ((doc_id mod 2²⁴)·(prime mod 2²⁴)) mod 2²⁴ =
    // ((doc_id mod 16777216)·435) mod 16777216 so the product never
    // overflows a BIGINT (DuckDB raises on overflow rather than wrapping)
    "q173_image_resize" -> """
      SELECT doc_id,
        CAST(8 AS INT) AS width, CAST(6 AS INT) AS height,
        CAST(CASE WHEN doc_id % 5 = 0 THEN 4 ELSE 3 END AS INT) AS n_channels,
        CAST(((doc_id % 16777216) * 435) % 16777216 AS INT) AS rgb24
      FROM documents""",

    "q59_stats_moments" -> """
      WITH s AS (
        SELECT l_returnflag,
          CAST(round(l_quantity * 100) AS BIGINT) AS q100,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS p100
        FROM lineitem),
      m AS (
        SELECT l_returnflag, COUNT(*) AS n,
          SUM(q100) AS sx, SUM(p100) AS sy,
          SUM(q100 * p100) AS sxy, SUM(q100 * q100) AS sxx, SUM(p100 * p100) AS syy
        FROM s GROUP BY l_returnflag),
      d AS (
        SELECT l_returnflag, n,
          CAST(n AS DOUBLE) AS nd,
          CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
          CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
        FROM m)
      SELECT l_returnflag, n,
        (sxyd / nd - (sxd / nd) * (syd / nd)) / 1.0e4 AS cov_qty_price,
        ((sxyd / nd - (sxd / nd) * (syd / nd)) / 1.0e4)
          / sqrt(((sxxd / nd - (sxd / nd) * (sxd / nd)) / 1.0e4)
               * ((syyd / nd - (syd / nd) * (syd / nd)) / 1.0e4))
          AS corr_qty_price
      FROM d""",

    "q68_tf_df" -> s"""
      WITH toks AS (
        SELECT doc_id, unnest(${sqlTokens("lower(text)")}) AS token FROM documents),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, COUNT(*) AS doc_len FROM toks GROUP BY 1),
      dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1)
      SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        CAST(tf.tf AS DOUBLE) / dl.doc_len AS tf_norm
      FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token)""",

    "q69_train_split" -> s"""
      SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                  WHEN doc_id % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split,
        COUNT(*) AS n_docs,
        ${sqlDsum("CAST(length(text) AS DOUBLE)")} AS total_chars
      FROM documents GROUP BY 1""",

    "q67_contains_indexed" -> """
      SELECT p.p_partkey, p.p_name, MIN(d.p_type) AS matched_type
      FROM (SELECT p_partkey, p_name FROM part) p
      LEFT JOIN (SELECT DISTINCT p_type FROM part) d
        ON contains(lower(p.p_name), lower(d.p_type))
      GROUP BY p.p_partkey, p.p_name""",

    "q65_merge_full" -> """
      WITH existing AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderdate < TIMESTAMP '1999-01-01'),
      incoming AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '2000-01-01')
      SELECT e.* FROM existing e
      WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.o_orderkey = e.o_orderkey)
      UNION ALL
      SELECT * FROM incoming""",

    "q66_scd2" -> """
      WITH upd AS (
        SELECT o_custkey AS c_custkey,
          arg_min(o_orderpriority,
                  -CAST(epoch(o_orderdate) AS BIGINT) * 10000000 + o_orderkey) AS segment,
          MAX(o_orderdate) AS updated_at
        FROM orders GROUP BY o_custkey),
      cur AS (
        SELECT c_custkey, c_mktsegment AS segment,
          TIMESTAMP '2020-01-01' AS valid_from, NULL::TIMESTAMP AS valid_to
        FROM customer)
      SELECT c.c_custkey, c.segment, c.valid_from, u.updated_at AS valid_to
      FROM cur c JOIN upd u USING (c_custkey)
      UNION ALL
      SELECT u.c_custkey, u.segment, u.updated_at AS valid_from, NULL::TIMESTAMP AS valid_to
      FROM upd u
      UNION ALL
      SELECT c.c_custkey, c.segment, c.valid_from, NULL::TIMESTAMP AS valid_to
      FROM cur c
      WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = c.c_custkey)""",

    "q62_set_ops" -> """
      SELECT custkey, 'rich_buyer' AS tag FROM (
        SELECT o_custkey AS custkey FROM orders
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      UNION ALL
      SELECT custkey, 'rich_no_orders' AS tag FROM (
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        EXCEPT
        SELECT o_custkey FROM orders)""",

    "q63_null_semantics" -> """
      WITH p AS (
        SELECT p_partkey,
          CASE WHEN p_size % 7 = 0 THEN NULL ELSE p_brand END AS maybe_brand
        FROM part)
      SELECT p_partkey, maybe_brand,
        maybe_brand IS NOT DISTINCT FROM 'Brand#13' AS nullsafe_eq,
        maybe_brand IS NULL AS is_null
      FROM p
      ORDER BY maybe_brand ASC NULLS LAST, p_partkey ASC
      LIMIT 100""",

    "q64_array_ops" -> """
      SELECT vec_id,
        CAST(len(embedding) AS INT) AS dim,
        CAST(embedding[1] AS DOUBLE) AS first_val,
        CAST(embedding[1] AS DOUBLE) >= 0 AS first_nonneg,
        CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos
      FROM embeddings""",

    "q61_dedup_components" -> s"""
      WITH t AS (
        SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(${sqlTokens("lower(text)")})), ' ')) AS fp
        FROM documents)
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS rep FROM t""",

    "q60_dsv2_dayrange" -> """
      SELECT CAST(d AS DATE) AS day,
        CAST(row_number() OVER (ORDER BY d) - 1 AS INT) AS day_ordinal
      FROM (SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-03-31',
                                          INTERVAL 1 DAY)) AS d)""",

    "q74_interval_join" -> """
      WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
      SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
             c.ts AS click_ts, p.ts AS purchase_ts
      FROM c JOIN p ON c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR""",

    "q76_cap_per_key" -> """
      SELECT o_custkey, o_orderkey, o_orderdate FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
          row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        FROM orders)
      WHERE rn <= 3""",

    "q77_hash_sample" -> """
      SELECT doc_id FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '19999999'""",

    // same RE2-safe pattern strings as TextAnalysis.redactions, same order
    "q78_redact" -> """
      SELECT c_custkey,
        regexp_replace(
          regexp_replace(
            regexp_replace(c_name,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g'),
          '[0-9]{4,}', '<NUM>', 'g') AS redacted
      FROM customer""",

    // 0.25 -> 40000000, 0.0625 -> 10000000 (fraction * 16^8 in hex)
    "q84_stratified_sample" -> """
      SELECT event_id, event_type FROM events
      WHERE CASE event_type
              WHEN 'purchase' THEN TRUE
              WHEN 'click' THEN substr(md5(CAST(event_id AS VARCHAR)), 1, 8) < '40000000'
              ELSE substr(md5(CAST(event_id AS VARCHAR)), 1, 8) < '10000000'
            END""",

    "q83_knn_impute" -> """
      WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                   CASE WHEN vec_id % 10 = 0 THEN NULL
                        ELSE CAST(label AS DOUBLE) END AS label
                 FROM embeddings),
      known AS (SELECT * FROM e WHERE label IS NOT NULL),
      missing AS (SELECT * FROM e WHERE label IS NULL),
      nn AS (SELECT m.vec_id AS qid, n.label AS nv,
               row_number() OVER (PARTITION BY m.vec_id
                 ORDER BY list_cosine_similarity(m.v, n.v) DESC, n.vec_id ASC) AS rn
             FROM missing m CROSS JOIN known n),
      imp AS (SELECT qid AS vec_id, avg(nv) AS label FROM nn WHERE rn <= 5 GROUP BY qid)
      SELECT vec_id, label FROM known
      UNION ALL
      SELECT m.vec_id, i.label FROM missing m LEFT JOIN imp i ON m.vec_id = i.vec_id""",

    "q82_topk_agg" -> """
      SELECT user_id, CAST(rn AS INT) AS rank, event_id, value FROM (
        SELECT user_id, event_id, value,
          row_number() OVER (PARTITION BY user_id
                             ORDER BY value DESC, event_id ASC) AS rn
        FROM events)
      WHERE rn <= 3""",

    "q81_contamination" -> s"""
      WITH tk AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS t FROM documents),
      g AS (SELECT doc_id,
              CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                   ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
                          i -> array_to_string(t[i:i+2], ' '))) END AS grams
            FROM tk),
      bench AS (SELECT DISTINCT unnest(grams) AS s FROM g WHERE doc_id < 50),
      d AS (SELECT doc_id, unnest(grams) AS s FROM g)
      SELECT d.doc_id, count(*) AS n_shingles, count(b.s) AS n_matched,
        CAST(count(b.s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS contamination
      FROM d LEFT JOIN bench b ON d.s = b.s
      GROUP BY d.doc_id""",

    // session_window semantics: same session while gap < 30 min (windows
    // [ts, ts+30m) merge on overlap); session end = last ts + 30 min
    "q80_session_window" -> """
      WITH marked AS (
        SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), seqd AS (
        SELECT user_id, ts,
          sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS seq
        FROM marked
      )
      SELECT user_id, min(ts) AS session_start,
        max(ts) + INTERVAL 30 MINUTE AS session_end,
        count(*) AS n_events
      FROM seqd GROUP BY user_id, seq""",

    "q79_profile" -> """
      SELECT 'p_partkey' AS column_name, count(*) AS n_rows,
        count(*) - count(p_partkey) AS null_count,
        count(DISTINCT p_partkey) AS n_distinct,
        min(CAST(p_partkey AS VARCHAR)) AS min_value,
        max(CAST(p_partkey AS VARCHAR)) AS max_value FROM part
      UNION ALL
      SELECT 'p_name', count(*), count(*) - count(p_name),
        count(DISTINCT p_name), min(p_name), max(p_name) FROM part
      UNION ALL
      SELECT 'p_brand', count(*), count(*) - count(p_brand),
        count(DISTINCT p_brand), min(p_brand), max(p_brand) FROM part
      UNION ALL
      SELECT 'p_type', count(*), count(*) - count(p_type),
        count(DISTINCT p_type), min(p_type), max(p_type) FROM part
      UNION ALL
      SELECT 'p_size', count(*), count(*) - count(p_size),
        count(DISTINCT p_size), min(CAST(p_size AS VARCHAR)),
        max(CAST(p_size AS VARCHAR)) FROM part""",

    "q75_winnowing" -> s"""
      WITH tk AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS t FROM documents),
      g AS (SELECT doc_id,
              CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                   ELSE list_transform(generate_series(1, len(t) - 2),
                          i -> md5(array_to_string(t[i:i+2], ' '))) END AS grams
            FROM tk),
      f AS (SELECT doc_id,
              CASE WHEN len(grams) = 0 THEN []::VARCHAR[]
                   WHEN len(grams) < 4 THEN [list_min(grams)]
                   ELSE list_distinct(list_transform(generate_series(1, len(grams) - 3),
                          j -> list_min(grams[j:j+3]))) END AS fps
            FROM g)
      SELECT doc_id, unnest(fps) AS fp FROM f""",

    // ---- companion partial checks for the approximate operators ----------
    // (q92-q101: real DuckDB oracles over derivable facts — duplicate-pair
    // containment, structural contracts, thresholded deterministic recall)

    "q92_minhash_dup_check" -> s"""
      WITH f AS (
        SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(${sqlTokens("lower(text)")})), ' ')) AS fp
        FROM documents)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id""",

    "q93_simhash_dup_check" -> """
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM documents a JOIN documents b
        ON a.text = b.text AND a.doc_id < b.doc_id""",

    "q94_lsh_recall_check" -> """
      SELECT count(*) AS n_queries, TRUE AS above_floor
      FROM embeddings WHERE vec_id < 10""",

    "q95_ivf_recall_check" -> """
      SELECT count(*) AS n_queries, TRUE AS above_floor
      FROM embeddings WHERE vec_id < 10""",

    "q96_sq8_recall_check" -> """
      SELECT vec_id AS query_id, 5 AS n_exact, TRUE AS above_floor
      FROM embeddings WHERE vec_id < 10""",

    "q97_sq8_shape_check" -> """
      SELECT vec_id AS query_id, 5 AS n, 15 AS rank_sum
      FROM embeddings WHERE vec_id < 10""",

    "q98_hll_check" -> """
      SELECT l_returnflag, TRUE AS within_tol
      FROM lineitem GROUP BY l_returnflag""",

    "q99_lsh_sq8_recall_check" -> """
      SELECT count(*) AS n_queries, TRUE AS above_floor
      FROM embeddings WHERE vec_id < 10""",

    "q100_bucketed_pairs_check" -> """
      SELECT vec_id AS id_a, vec_id AS id_b FROM embeddings WHERE FALSE""",

    "q101_minhash_precision_check" -> """
      SELECT doc_id AS id_a, doc_id AS id_b FROM documents WHERE FALSE""",

    "q112_semdedup_check" -> """
      SELECT vec_id FROM embeddings WHERE FALSE""",

    "q114_grouping_sets" -> s"""
      SELECT o_orderstatus, o_orderpriority,
        CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                              (o_orderstatus), ())""",

    "q119_incremental_dedup_check" -> """
      SELECT doc_id AS id_a, doc_id AS id_b FROM documents WHERE FALSE""",

    "q122_text_normalize" -> """
      SELECT doc_id, nfc_normalize(text) AS text_nfc FROM documents""",

    "q123_corpus_prep" -> s"""
      $curationSqlCtes
      SELECT '0_input' AS stage, COUNT(*) AS n_docs FROM documents
      UNION ALL
      SELECT '1_curated', COUNT(*) FROM g WHERE reject_reason IS NULL
      UNION ALL
      SELECT '2_deduped', COUNT(DISTINCT d.text)
      FROM g JOIN documents d USING (doc_id) WHERE reject_reason IS NULL""",

    "q120_rare_token_ratio" -> s"""
      WITH ex AS (
        SELECT doc_id, unnest(${sqlTokens("lower(text)")}) AS tok FROM documents),
      freq AS (SELECT tok, COUNT(*) AS f FROM ex GROUP BY 1)
      SELECT doc_id, COUNT(*) AS n_tok,
        CAST(SUM(CASE WHEN f < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        CAST(SUM(CASE WHEN f < 100 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
          AS rare_ratio
      FROM ex JOIN freq USING (tok)
      GROUP BY doc_id""",

    "q121_iqr_outliers" -> """
      WITH q AS (
        SELECT l_returnflag,
          quantile_cont(l_extendedprice, 0.25) AS q1,
          quantile_cont(l_extendedprice, 0.75) AS q3
        FROM lineitem GROUP BY 1),
      f AS (SELECT l_returnflag, q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi FROM q)
      SELECT l.l_returnflag, COUNT(*) AS n,
        CAST(SUM(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM lineitem l JOIN f USING (l_returnflag)
      GROUP BY 1""",

    "q117_pmi_collocations" -> s"""
      WITH ta AS (
        SELECT ${sqlTokens("lower(text)")} AS ts FROM documents),
      nz AS (SELECT ts FROM ta WHERE len(ts) > 0),
      uni AS (SELECT tok AS w, COUNT(*) AS nw
              FROM (SELECT unnest(ts) AS tok FROM nz) GROUP BY 1),
      tu AS (SELECT CAST(SUM(nw) AS DOUBLE) AS t FROM uni),
      bi AS (SELECT unnest([ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]) AS bg
             FROM nz WHERE len(ts) >= 2),
      ba AS (SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
               COUNT(*) AS nab
             FROM bi GROUP BY 1, 2),
      tb AS (SELECT CAST(SUM(nab) AS DOUBLE) AS tb FROM ba),
      sc AS (
        SELECT w1, w2, nab,
          round(ln((nab / tb.tb) / ((na.nw / tu.t) * (nb.nw / tu.t))), 6) AS pmi
        FROM ba JOIN uni na ON ba.w1 = na.w JOIN uni nb ON ba.w2 = nb.w
        CROSS JOIN tu CROSS JOIN tb
        WHERE nab >= 5)
      SELECT w1, w2, nab, pmi FROM (
        SELECT *, row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rk
        FROM sc)
      WHERE rk <= 50""",

    "q116_cohort_retention" -> """
      WITH su AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        FROM events WHERE event_type = 'signup' GROUP BY 1),
      su2 AS (
        SELECT user_id, cohort_day,
          CAST(floor(date_diff('day', DATE '2024-01-01', cohort_day) / 7.0) AS BIGINT)
            AS cohort_week
        FROM su),
      act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      j AS (
        SELECT DISTINCT act.user_id, cohort_week,
          CAST(floor(date_diff('day', cohort_day, d) / 7.0) AS BIGINT) AS week_offset
        FROM act JOIN su2 USING (user_id)
        WHERE date_diff('day', cohort_day, d) >= 0)
      SELECT cohort_week, week_offset, COUNT(*) AS n_users
      FROM j GROUP BY 1, 2""",

    "q115_funnel" -> """
      WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                  WHERE event_type = 'signup' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
             WHERE event_type = 'click' AND ts >= t1 GROUP BY 1),
      s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND ts >= t2 GROUP BY 1)
      SELECT '1_signup' AS stage, COUNT(*) AS n_users FROM s1
      UNION ALL SELECT '2_click', COUNT(*) FROM s2
      UNION ALL SELECT '3_purchase', COUNT(*) FROM s3""",

    "q104_hard_negatives" -> """
      WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS ql
                 FROM embeddings WHERE vec_id < 10),
           c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, label AS cl
                 FROM embeddings)
      SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id ASC) AS rank
        FROM q JOIN c ON query_id <> neighbor_id AND ql <> cl)
      WHERE rank <= 5""",

    "q113_approx_quantile_check" -> """
      SELECT CAST(p AS DOUBLE) AS p, within
      FROM (VALUES (0.25, TRUE), (0.5, TRUE), (0.75, TRUE)) t(p, within)""",

    "q102_dedup_materialize" -> s"""
      WITH t AS (
        SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(${sqlTokens("lower(text)")})), ' ')) AS fp
        FROM documents)
      SELECT min(doc_id) AS doc_id, count(*) AS n_members
      FROM t GROUP BY fp""",

    "q108_cms_check" -> s"""
      WITH tk AS (SELECT unnest(${sqlTokens("lower(text)")}) AS token FROM documents),
      g AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
      tot AS (SELECT sum(cnt) AS n FROM g)
      SELECT token, TRUE AS no_undercount FROM g, tot WHERE cnt * 30 > n""",

    "q105_curation_gate" -> s"""
      $curationSqlCtes
      SELECT doc_id, lang_pred, n_tokens, quality_score, reject_reason,
        reject_reason IS NULL AS keep
      FROM g""",

    // q61's fp-partition cluster shape + the curation quality CTE (q is
    // bit-exact cross-engine, so the argmax needs no rounding)
    "q127_quality_canonical" -> s"""
      $curationSqlCtes,
      fp AS (SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(${sqlTokens("lower(text)")})), ' ')) AS fp
             FROM documents),
      comp AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS rep FROM fp),
      j AS (SELECT comp.doc_id, comp.rep, q.quality_score FROM comp JOIN q USING (doc_id)),
      rr AS (SELECT j.*, row_number() OVER (PARTITION BY rep
               ORDER BY quality_score DESC, doc_id) AS rn FROM j)
      SELECT rep AS cluster_rep, doc_id AS keep_id, quality_score FROM rr WHERE rn = 1""",

    "q106_tfidf" -> s"""
      WITH toks AS (
        SELECT doc_id, unnest(${sqlTokens("lower(text)")}) AS token FROM documents),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dl AS (SELECT doc_id, COUNT(*) AS doc_len FROM toks GROUP BY 1),
      dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT COUNT(*) AS n_docs FROM documents)
      SELECT tf.doc_id, tf.token,
        round((CAST(tf.tf AS DOUBLE) / dl.doc_len)
          * (ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfreq.df + 1)) + 1.0), 6) AS tfidf
      FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token) CROSS JOIN n""",

    "q107_histogram" -> """
      SELECT l_returnflag, CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
        CAST(floor(l_extendedprice / 5000) AS BIGINT) * 5000 AS bin_lo,
        COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2, 3""",

    "q103_editdist_pairs" -> """
      WITH p AS (
        SELECT p_partkey, p_name,
          split_part(p_name, ' ', 1) || ' ' || split_part(p_name, ' ', 2) AS blk
        FROM part)
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 2""",

    "q125_mixture_sample" -> """
      WITH w(lang, wt) AS (VALUES ('en', 0.5), ('de', 0.2), ('es', 0.15), ('fr', 0.15)),
      c AS (SELECT d.lang, COUNT(*) AS n FROM documents d JOIN w ON d.lang = w.lang GROUP BY 1),
      t AS (SELECT FLOOR(MIN(n / wt)) AS ntot FROM c JOIN w ON c.lang = w.lang),
      q AS (SELECT w.lang, CAST(FLOOR(wt * ntot) AS BIGINT) AS quota FROM w, t),
      r AS (SELECT d.doc_id, d.lang,
              row_number() OVER (PARTITION BY d.lang
                ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
            FROM documents d JOIN w ON d.lang = w.lang)
      SELECT r.doc_id, r.lang FROM r JOIN q ON r.lang = q.lang WHERE rk <= quota""",

    "q126_mixture_repeats" -> """
      WITH w(lang, wt) AS (VALUES ('en', 0.5), ('de', 0.2), ('es', 0.15), ('fr', 0.15)),
      c AS (SELECT d.lang, COUNT(*) AS n FROM documents d JOIN w ON d.lang = w.lang GROUP BY 1),
      q AS (SELECT w.lang, CAST(FLOOR(wt * 1000) AS BIGINT) AS quota, c.n
            FROM w JOIN c ON w.lang = c.lang),
      r AS (SELECT d.doc_id, d.lang,
              row_number() OVER (PARTITION BY d.lang
                ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
            FROM documents d JOIN w ON d.lang = w.lang)
      SELECT r.doc_id, r.lang,
        (q.quota // q.n) + CASE WHEN r.rk <= (q.quota % q.n) THEN 1 ELSE 0 END AS n_repeats
      FROM r JOIN q ON r.lang = q.lang""",

    "q128_token_mixture" -> s"""
      WITH w(lang, bud) AS (VALUES
        ('en', CAST(FLOOR(0.5 * 20000) AS BIGINT)), ('de', CAST(FLOOR(0.2 * 20000) AS BIGINT)),
        ('es', CAST(FLOOR(0.15 * 20000) AS BIGINT)), ('fr', CAST(FLOOR(0.15 * 20000) AS BIGINT))),
      tk AS (SELECT doc_id, lang, CAST(len(${sqlTokens("text")}) AS INT) AS n_tokens
             FROM documents),
      r AS (SELECT tk.doc_id, tk.lang, tk.n_tokens, w.bud,
              SUM(CAST(tk.n_tokens AS BIGINT)) OVER (PARTITION BY tk.lang
                ORDER BY md5(CAST(tk.doc_id AS VARCHAR)), tk.doc_id) AS cum
            FROM tk JOIN w ON tk.lang = w.lang)
      SELECT doc_id, lang, n_tokens FROM r WHERE cum - n_tokens < bud""",

    "q130_containment_pairs" -> s"""
      WITH toks AS (
        SELECT doc_id AS id, ${sqlTokens("lower(text)")} AS tk FROM documents
      ), t AS (
        SELECT id,
          CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
               ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
                      i -> array_to_string(tk[i:i+2], ' '))) END AS sh
        FROM toks
      ), inv AS (
        SELECT id, len(sh) AS sz, unnest(sh) AS s FROM t WHERE len(sh) > 0
      )
      SELECT a.id AS id_a, b.id AS id_b,
        CAST(COUNT(*) AS DOUBLE) / a.sz AS containment
      FROM inv a JOIN inv b ON a.s = b.s AND a.id <> b.id
      WHERE b.sz >= a.sz * 0.8
      GROUP BY a.id, b.id, a.sz
      HAVING COUNT(*) >= a.sz * 0.8""",

    "q132_semantic_ingest_check" -> """
      SELECT vec_id FROM embeddings WHERE FALSE""",

    "q145_source_overlap_check" -> """
      SELECT source AS source_a, source AS source_b,
        CAST(0 AS BIGINT) AS n_pairs FROM documents WHERE FALSE""",

    // hot set = tokens in > 40% of docs; rebuild preserves order via the
    // original token list filtered against the hot list (lambda over the
    // cross-joined one-row hot set)
    "q146_prune_hot_tokens" -> s"""
      WITH nz AS (SELECT doc_id, ${sqlTokens("text")} AS ts FROM documents),
      tok AS (SELECT doc_id, unnest(list_distinct(ts)) AS tok FROM nz),
      dfreq AS (SELECT tok, COUNT(*) AS df FROM tok GROUP BY 1),
      hot AS (SELECT coalesce(list(tok), []::VARCHAR[]) AS hs FROM dfreq
              WHERE df > 0.4 * (SELECT COUNT(*) FROM documents))
      SELECT nz.doc_id,
        CAST(len(ts) AS INT) AS n_tokens_before,
        CAST(len(list_filter(ts, t -> NOT list_contains(hs, t))) AS INT) AS n_tokens_after,
        coalesce(array_to_string(list_filter(ts, t -> NOT list_contains(hs, t)), ' '),
          '') AS text_pruned
      FROM nz CROSS JOIN hot""",

    // q135's score pipeline verbatim, then the gate + per-source funnel;
    // kept-score sum in the decimal domain (order-free), double out
    "q147_lm_gate_funnel" -> s"""
      WITH nz AS (
        SELECT doc_id, ${sqlTokens("lower(text)")} AS ts FROM documents),
      n2 AS (SELECT doc_id, ts FROM nz WHERE len(ts) >= 2),
      db0 AS (SELECT doc_id,
                unnest([{'w1': ts[i], 'w2': ts[i+1]} for i in range(1, len(ts))]) AS b
              FROM n2),
      db AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM db0),
      uni AS (SELECT unnest(ts) AS w1 FROM n2),
      ug AS (SELECT w1, COUNT(*) AS na FROM uni GROUP BY 1),
      bi AS (SELECT w1, w2, COUNT(*) AS nab FROM db GROUP BY 1, 2),
      j AS (SELECT db.doc_id,
              CAST(round(ln(CAST(nab AS DOUBLE) / na), 6) AS DECIMAL(18,6)) AS term
            FROM db JOIN bi USING (w1, w2) JOIN ug USING (w1)),
      scores AS (SELECT doc_id,
              floor(CAST(SUM(term) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_logprob
            FROM j GROUP BY 1)
      SELECT d.source,
        COUNT(*) AS n_docs,
        COUNT(s.avg_logprob) AS n_scored,
        CAST(SUM(CASE WHEN s.avg_logprob >= -3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN s.avg_logprob >= -3.5
          THEN CAST(s.avg_logprob AS DECIMAL(18,6)) END) AS DOUBLE) AS sum_kept_logprob
      FROM documents d LEFT JOIN scores s USING (doc_id)
      GROUP BY 1""",

    // q130's directed containment pairs as a CTE; drop the contained side
    "q148_containment_prune" -> s"""
      WITH toks AS (
        SELECT doc_id AS id, ${sqlTokens("lower(text)")} AS tk FROM documents
      ), t AS (
        SELECT id,
          CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
               ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
                      i -> array_to_string(tk[i:i+2], ' '))) END AS sh
        FROM toks
      ), inv AS (
        SELECT id, len(sh) AS sz, unnest(sh) AS s FROM t WHERE len(sh) > 0
      ), contained AS (
        SELECT DISTINCT a.id
        FROM inv a JOIN inv b ON a.s = b.s AND a.id <> b.id
        WHERE b.sz >= a.sz * 0.8
        GROUP BY a.id, b.id, a.sz
        HAVING COUNT(*) >= a.sz * 0.8
      )
      SELECT d.source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN c.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
      FROM documents d LEFT JOIN contained c ON d.doc_id = c.id
      GROUP BY 1""",

    // same integer moments, same expression tree as the Spark side (q59
    // discipline): corr = (n·sij − si·sj) / sqrt((n·sii − si²)(n·sjj − sj²))
    "q149_corr_matrix" -> """
      WITH s AS (
        SELECT l_returnflag,
          CAST(round(l_quantity * 100) AS BIGINT) AS v1,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS v2,
          CAST(round(l_discount * 100) AS BIGINT) AS v3
        FROM lineitem),
      m AS (
        SELECT l_returnflag, COUNT(*) AS n,
          SUM(v1) AS s1, SUM(v2) AS s2, SUM(v3) AS s3,
          SUM(v1 * v1) AS s11, SUM(v2 * v2) AS s22, SUM(v3 * v3) AS s33,
          SUM(v1 * v2) AS s12, SUM(v1 * v3) AS s13, SUM(v2 * v3) AS s23
        FROM s GROUP BY 1),
      d AS (
        SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
          CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) AS s3d,
          CAST(s11 AS DOUBLE) AS s11d, CAST(s22 AS DOUBLE) AS s22d, CAST(s33 AS DOUBLE) AS s33d,
          CAST(s12 AS DOUBLE) AS s12d, CAST(s13 AS DOUBLE) AS s13d, CAST(s23 AS DOUBLE) AS s23d
        FROM m)
      SELECT l_returnflag, n, 'quantity' AS var_x, 'price' AS var_y,
        (nd * s12d - s1d * s2d) /
          sqrt((nd * s11d - s1d * s1d) * (nd * s22d - s2d * s2d)) AS corr FROM d
      UNION ALL
      SELECT l_returnflag, n, 'quantity', 'discount',
        (nd * s13d - s1d * s3d) /
          sqrt((nd * s11d - s1d * s1d) * (nd * s33d - s3d * s3d)) FROM d
      UNION ALL
      SELECT l_returnflag, n, 'price', 'discount',
        (nd * s23d - s2d * s3d) /
          sqrt((nd * s22d - s2d * s2d) * (nd * s33d - s3d * s3d)) FROM d""",

    "q150_group_ols" -> """
      WITH s AS (
        SELECT l_returnflag,
          CAST(round(l_quantity * 100) AS BIGINT) AS x,
          CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem),
      m AS (
        SELECT l_returnflag, COUNT(*) AS n,
          SUM(x) AS sx, SUM(y) AS sy,
          SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM s GROUP BY 1),
      d AS (
        SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
          CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
          CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd,
          CAST(syy AS DOUBLE) AS syyd
        FROM m)
      SELECT l_returnflag, n,
        CASE WHEN (nd * sxxd - sxd * sxd) > 0
          THEN (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) END AS slope,
        CASE WHEN (nd * sxxd - sxd * sxd) > 0
          THEN (syd / nd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd))
            * (sxd / nd)) / 100.0 END AS intercept,
        CASE WHEN (nd * sxxd - sxd * sxd) > 0 AND (nd * syyd - syd * syd) > 0
          THEN ((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd))
            / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)) END AS r2
      FROM d""",

    // terms rounded to 6 dp and lifted to DECIMAL(18,6) before the sum
    // (order-free); H = ln(N) − (Σ c·ln c)/N, final round 6 dp
    "q151_token_entropy" -> s"""
      WITH toks AS (
        SELECT source, unnest(${sqlTokens("lower(text)")}) AS tok FROM documents),
      c AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2)
      SELECT source,
        CAST(SUM(c) AS BIGINT) AS n_tokens,
        COUNT(*) AS vocab_size,
        round(ln(CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE))
          - CAST(SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 6)
              AS DECIMAL(18,6))) AS DOUBLE)
            / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE), 6) AS entropy
      FROM c GROUP BY 1""",

    "q143_daily_anomaly" -> """
      WITH d AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1),
      s AS (SELECT COUNT(*) AS nd, CAST(SUM(n) AS BIGINT) AS s1,
              CAST(SUM(n * n) AS BIGINT) AS s2 FROM d)
      SELECT day, n,
        round((n - CAST(s1 AS DOUBLE) / nd)
          / sqrt(CAST(s2 AS DOUBLE) / nd
            - (CAST(s1 AS DOUBLE) / nd) * (CAST(s1 AS DOUBLE) / nd)), 6) AS z
      FROM d, s
      WHERE abs((n - CAST(s1 AS DOUBLE) / nd)
          / sqrt(CAST(s2 AS DOUBLE) / nd
            - (CAST(s1 AS DOUBLE) / nd) * (CAST(s1 AS DOUBLE) / nd))) > 2.0""",

    "q156_cluster_sample_check" -> """
      SELECT CAST(0 AS BIGINT) AS cell, 'x' AS violation, CAST(0 AS BIGINT) AS n
      FROM embeddings WHERE FALSE""",

    "q158_incremental_overlap_check" -> """
      SELECT source AS source_existing, source AS source_incoming,
        CAST(0 AS BIGINT) AS n_pairs FROM documents WHERE FALSE""",

    // same integer budget form: wμ = floor(sqrt(n)·1e6 + 0.5),
    // budget = min(n, (2·T·wμ + Wμ) // (2·Wμ)); selection by md5 rank
    "q163_temperature_sample" -> """
      WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
      w AS (SELECT source, n,
              CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS wu
            FROM c),
      tot AS (SELECT CAST(SUM(wu) AS BIGINT) AS wt FROM w),
      b AS (SELECT source, least(n, (2 * 300 * wu + wt) // (2 * wt)) AS q
            FROM w, tot),
      h AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hh
            FROM documents),
      r AS (SELECT doc_id, source,
              row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rk
            FROM h)
      SELECT r.doc_id, r.source FROM r JOIN b USING (source) WHERE rk <= q""",

    // the whole 7-stage recipe re-derived in SQL from the stage oracles it
    // composes (q105 gate CTEs, q23 md5 dedup, q161 fingerprint clusters +
    // hex split thresholds, q81 3-gram contamination, q163 integer budget
    // math, q90 packing window) — a count drift at ANY stage breaks the hash
    "q167_corpus_pipeline" -> s"""
      $curationSqlCtes,
      cur AS (
        SELECT d.doc_id, d.text, d.source FROM documents d
        JOIN g USING (doc_id) WHERE g.reject_reason IS NULL),
      ex AS (
        SELECT * FROM cur WHERE doc_id IN (
          SELECT MIN(doc_id) FROM cur GROUP BY md5(text))),
      fp AS (
        SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(${sqlTokens("lower(text)")})), ' ')) AS f
        FROM ex),
      nr AS (
        SELECT e.* FROM ex e WHERE e.doc_id IN (
          SELECT MIN(doc_id) FROM fp GROUP BY f)),
      tk3 AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS t FROM nr),
      gr3 AS (SELECT doc_id,
                CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                     ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
                            i -> array_to_string(t[i:i+2], ' '))) END AS grams
              FROM tk3),
      bt3 AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS t
              FROM documents WHERE doc_id < 50),
      bn3 AS (SELECT DISTINCT unnest(
                CASE WHEN len(t) < 3 THEN []::VARCHAR[]
                     ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
                            i -> array_to_string(t[i:i+2], ' '))) END) AS s
              FROM bt3),
      ct AS (
        SELECT d.doc_id,
          CAST(count(b.s) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS contamination
        FROM (SELECT doc_id, unnest(grams) AS s FROM gr3) d
        LEFT JOIN bn3 b ON d.s = b.s GROUP BY d.doc_id),
      cl AS (
        SELECT * FROM nr WHERE doc_id NOT IN (
          SELECT doc_id FROM ct WHERE contamination >= 0.2)),
      tr AS (
        SELECT * FROM cl
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
          < '${graft.operators.Relational.fractionToHex8(0.8)}'),
      mc AS (SELECT source, COUNT(*) AS n FROM tr GROUP BY 1),
      mw AS (SELECT source, n,
               CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS wu
             FROM mc),
      mt AS (SELECT CAST(SUM(wu) AS BIGINT) AS wt FROM mw),
      mb AS (SELECT source, least(n, (2 * 200 * wu + wt) // (2 * wt)) AS q
             FROM mw, mt),
      mr AS (SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             FROM tr),
      mxd AS (
        SELECT t.* FROM tr t JOIN mr USING (doc_id) JOIN mb ON mr.source = mb.source
        WHERE mr.rk <= mb.q),
      pk AS (SELECT doc_id, source, CAST(len(${sqlTokens("text")}) AS INT) AS n_tok
             FROM mxd),
      pb AS (SELECT source,
               CAST((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS UNBOUNDED PRECEDING) - n_tok) // 200 AS BIGINT) AS bin
             FROM pk)
      SELECT '0_input' AS stage, COUNT(*) AS n_docs FROM documents
      UNION ALL SELECT '1_curated', COUNT(*) FROM cur
      UNION ALL SELECT '2_exact_dedup', COUNT(*) FROM ex
      UNION ALL SELECT '3_near_dedup', COUNT(*) FROM nr
      UNION ALL SELECT '4_decontaminated', COUNT(*) FROM cl
      UNION ALL SELECT '5_train', COUNT(*) FROM tr
      UNION ALL SELECT '6_mixed', COUNT(*) FROM mxd
      UNION ALL SELECT '7_packed_bins',
        COUNT(DISTINCT source || '#' || CAST(bin AS VARCHAR)) FROM pb""",

    // char-20-gram explode with a CONSTANT series bound (4096 — documents
    // top out at 577 chars at every SF; DuckDB's generate_series cannot
    // take a correlated bound) filtered to real positions; then the same
    // per-(doc, gram) / corpus-total / verdict-join chain as the operator
    "q168_duplicated_text" -> """
      WITH grams AS (
        SELECT doc_id, substring(text, i, 20) AS g
        FROM documents, generate_series(1, 4096) AS t(i)
        WHERE i <= length(text) - 19),
      per_doc AS (
        SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
      tot AS (SELECT g, sum(c) AS n FROM per_doc GROUP BY g),
      scored AS (
        SELECT p.doc_id, sum(p.c) AS n_grams,
               sum(CASE WHEN t.n >= 2 THEN p.c ELSE 0 END) AS n_dup
        FROM per_doc p JOIN tot t USING (g) GROUP BY p.doc_id)
      SELECT d.doc_id,
        CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
        CAST(coalesce(s.n_dup, 0) AS BIGINT) AS n_dup,
        CASE WHEN coalesce(s.n_grams, 0) = 0 THEN 0.0
             ELSE CAST(s.n_dup AS DOUBLE) / CAST(s.n_grams AS DOUBLE)
        END AS dup_fraction
      FROM documents d LEFT JOIN scored s USING (doc_id)""",

    "q169_top_dup_grams" -> """
      SELECT g, n, n_docs FROM (
        SELECT substring(text, i, 20) AS g, CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM documents, generate_series(1, 4096) AS t(i)
        WHERE i <= length(text) - 19
        GROUP BY 1)
      WHERE n >= 2 ORDER BY n DESC, g LIMIT 50""",

    // interval union as gaps-and-islands: a position starts a new island
    // iff it clears the previous maximum interval end (i > prev_max + 20);
    // each island covers max(i) - min(i) + 20 chars — identical to the
    // engine's sorted fold (covered += max(0, i+20 - max(i, prevEnd)))
    "q170_duplicated_coverage" -> """
      WITH grams AS (
        SELECT doc_id, i, substring(text, i, 20) AS g
        FROM documents, generate_series(1, 4096) AS t(i)
        WHERE i <= length(text) - 19),
      per_doc AS (
        SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
      tot AS (SELECT g, sum(c) AS n FROM per_doc GROUP BY g),
      dup_pos AS (
        SELECT gr.doc_id, gr.i
        FROM grams gr JOIN tot t ON gr.g = t.g WHERE t.n >= 2),
      isl AS (
        SELECT doc_id, i,
          CASE WHEN i > coalesce(max(i) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -100000) + 20
               THEN 1 ELSE 0 END AS brk
        FROM dup_pos),
      grp AS (
        SELECT doc_id, i, sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS gid
        FROM isl),
      seg AS (
        SELECT doc_id, gid, max(i) - min(i) + 20 AS seg_len
        FROM grp GROUP BY doc_id, gid),
      cov AS (
        SELECT doc_id, CAST(sum(seg_len) AS BIGINT) AS covered_chars
        FROM seg GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(coalesce(length(d.text), 0) AS BIGINT) AS n_chars,
        CAST(coalesce(c.covered_chars, 0) AS BIGINT) AS covered_chars,
        CASE WHEN coalesce(length(d.text), 0) = 0 THEN 0.0
             ELSE CAST(coalesce(c.covered_chars, 0) AS DOUBLE)
                  / CAST(length(d.text) AS DOUBLE)
        END AS coverage
      FROM documents d LEFT JOIN cov c USING (doc_id)""",

    // the decoded properties ARE the spec formula — DuckDB computes them
    // directly; Spark must round-trip real PNG bytes to agree
    "q166_image_decode" -> """
      SELECT doc_id,
        CAST(16 + doc_id % 32 AS INT) AS width,
        CAST(16 + (doc_id * 7) % 24 AS INT) AS height,
        CAST(CASE WHEN doc_id % 5 = 0 THEN 4 ELSE 3 END AS INT) AS n_channels,
        TRUE AS decode_ok
      FROM documents""",

    // α = 0.75: wμ = floor(sqrt(n)·sqrt(sqrt(n))·1e6 + 0.5) — every sqrt
    // exactly rounded, one once-rounded IEEE product, so both engines
    // derive identical micro-units; budget math is pure integers after.
    "q164_temperature_sample_a75" -> """
      WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
      w AS (SELECT source, n,
              CAST(floor(sqrt(CAST(n AS DOUBLE)) * sqrt(sqrt(CAST(n AS DOUBLE)))
                * 1e6 + 0.5) AS BIGINT) AS wu
            FROM c),
      tot AS (SELECT CAST(SUM(wu) AS BIGINT) AS wt FROM w),
      b AS (SELECT source, least(n, (2 * 300 * wu + wt) // (2 * wt)) AS q
            FROM w, tot),
      h AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hh
            FROM documents),
      r AS (SELECT doc_id, source,
              row_number() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rk
            FROM h)
      SELECT r.doc_id, r.source FROM r JOIN b USING (source) WHERE rk <= q""",

    // q61's identical-set components + the engine's md5-prefix split
    // decision (same hex thresholds the Scala side derives)
    "q161_leakage_free_split" -> s"""
      WITH t AS (
        SELECT doc_id,
          md5(array_to_string(list_sort(list_distinct(${sqlTokens("lower(text)")})), ' ')) AS fp
        FROM documents),
      c AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS rep FROM t)
      SELECT doc_id, rep,
        CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 8)
               < '${graft.operators.Relational.fractionToHex8(0.8)}' THEN 'train'
             WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 8)
               < '${graft.operators.Relational.fractionToHex8(0.9)}' THEN 'val'
             ELSE 'test' END AS split
      FROM c""",

    "q162_split_leak_check" -> """
      SELECT doc_id AS id_a, doc_id AS id_b, 'x' AS split_a, 'x' AS split_b
      FROM documents WHERE FALSE""",

    // same per-side payload hashing + full-join classification; each
    // engine compares only its OWN hashes, so md5 equality is internal
    // (the JSON struct form mirrors snapshotDiff's null-distinguishing
    // payload hash — engines differ in JSON spelling, never in equality)
    "q160_snapshot_diff" -> """
      WITH v1 AS (
        SELECT doc_id, md5(CAST(to_json(struct_pack(
          text := CAST(text AS VARCHAR),
          source := CAST(source AS VARCHAR))) AS VARCHAR)) AS h
        FROM documents WHERE doc_id < 450),
      v2 AS (
        SELECT doc_id, md5(CAST(to_json(struct_pack(
          text := CAST(CASE WHEN doc_id % 13 = 0 THEN text || ' rev' ELSE text END AS VARCHAR),
          source := CAST(source AS VARCHAR))) AS VARCHAR)) AS h
        FROM documents WHERE doc_id >= 50),
      d AS (
        SELECT CASE WHEN v1.h IS NULL THEN 'added'
                    WHEN v2.h IS NULL THEN 'removed'
                    WHEN v1.h <> v2.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM v1 FULL JOIN v2 USING (doc_id))
      SELECT status, COUNT(*) AS n FROM d GROUP BY 1""",

    // q25's exact pairs + degree fold; degree 0 = docs in no pair
    // q159 rides the banded generator (band recall is corpus-dependent —
    // not SQL-expressible), so its gate is the 3-SF row/schema pin plus
    // the q165 subset witness, which IS oracle-checked (empty).
    "q165_degree_check" -> """
      SELECT doc_id, CAST(0 AS BIGINT) AS banded_degree,
        CAST(0 AS BIGINT) AS exact_degree
      FROM documents WHERE FALSE""",

    // same bins, same (p−q)·ln(p/q) tree, 6-dp decimal terms
    "q153_psi_drift" -> """
      WITH a0 AS (
        SELECT l_returnflag, CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
          COUNT(*) AS na
        FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-01-01' GROUP BY 1, 2),
      a AS (SELECT l_returnflag, bin, na,
              CAST(SUM(na) OVER (PARTITION BY l_returnflag) AS BIGINT) AS ta FROM a0),
      b0 AS (
        SELECT l_returnflag, CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bin,
          COUNT(*) AS nb
        FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' GROUP BY 1, 2),
      b AS (SELECT l_returnflag, bin, nb,
              CAST(SUM(nb) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tb FROM b0),
      j AS (
        SELECT coalesce(a.l_returnflag, b.l_returnflag) AS l_returnflag,
          na, ta, nb, tb,
          CAST(na AS DOUBLE) / CAST(ta AS DOUBLE) AS p,
          CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE) AS q
        FROM a FULL JOIN b ON a.l_returnflag = b.l_returnflag AND a.bin = b.bin)
      SELECT l_returnflag,
        CAST(MAX(ta) AS BIGINT) AS n_a, CAST(MAX(tb) AS BIGINT) AS n_b,
        COUNT(CASE WHEN na IS NOT NULL AND nb IS NOT NULL THEN 1 END) AS n_bins_both,
        COUNT(CASE WHEN nb IS NULL THEN 1 END) AS n_bins_a_only,
        COUNT(CASE WHEN na IS NULL THEN 1 END) AS n_bins_b_only,
        round(CAST(SUM(CASE WHEN na IS NOT NULL AND nb IS NOT NULL
          THEN CAST(round((p - q) * ln(p / q), 6) AS DECIMAL(18,6)) END)
          AS DOUBLE), 6) AS psi
      FROM j GROUP BY 1""",

    "q154_mad_outliers" -> """
      WITH med AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS median
                   FROM lineitem GROUP BY 1),
      dev AS (SELECT l.l_returnflag, m.median,
                abs(l.l_extendedprice - m.median) AS ad
              FROM lineitem l JOIN med m USING (l_returnflag)),
      mad AS (SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad
              FROM dev GROUP BY 1)
      SELECT d.l_returnflag, COUNT(*) AS n, MAX(d.median) AS median,
        MAX(m.mad) AS mad,
        CAST(SUM(CASE WHEN d.ad > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
          AS n_outliers
      FROM dev d JOIN mad m USING (l_returnflag) GROUP BY 1""",

    // q151's entropy discipline per day + lag over the day frame
    "q152_daily_mix_drift" -> """
      WITH c AS (SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS c
                 FROM events GROUP BY 1, 2),
      d AS (
        SELECT day,
          CAST(SUM(c) AS BIGINT) AS n_events,
          COUNT(*) AS n_types,
          round(ln(CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE))
            - CAST(SUM(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)), 6)
                AS DECIMAL(18,6))) AS DOUBLE)
              / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE), 6) AS entropy
        FROM c GROUP BY 1)
      SELECT day, n_events, n_types, entropy,
        round(entropy - lag(entropy, 1) OVER (ORDER BY day), 6) AS delta_entropy
      FROM d""",

    // q85's exact ANN SQL shape + the payload join
    "q142_semantic_retrieval" -> """
      WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
           c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
           r AS (
             SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank FROM (
               SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id ASC) AS rank
               FROM q JOIN c ON query_id <> neighbor_id)
             WHERE rank <= 3)
      SELECT r.query_id, r.rank, r.neighbor_id, d.source
      FROM r JOIN documents d ON r.neighbor_id = d.doc_id""",

    "q140_length_profile" -> s"""
      WITH t AS (SELECT source,
                   CAST(len(${sqlTokens("text")}) AS DOUBLE) AS n_tokens
                 FROM documents)
      SELECT source,
        quantile_cont(n_tokens, 0.25) AS p25,
        quantile_cont(n_tokens, 0.5) AS p50,
        quantile_cont(n_tokens, 0.75) AS p75
      FROM t GROUP BY 1""",

    // reuses the curation CTE chain's lid (language-ID) stage
    "q141_langid_confusion" -> s"""
      $curationSqlCtes
      SELECT d.lang, lid.lang_pred, COUNT(*) AS n
      FROM documents d JOIN lid ON d.doc_id = lid.doc_id
      GROUP BY 1, 2""",

    "q139_ngram_novelty" -> s"""
      WITH toks AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS tk FROM documents),
      t3 AS (SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
                    ELSE list_distinct(list_transform(generate_series(1, len(tk) - 2),
                           i -> array_to_string(tk[i:i+2], ' '))) END AS sh
             FROM toks),
      inv AS (SELECT doc_id, unnest(sh) AS sg FROM t3 WHERE len(sh) > 0),
      dfq AS (SELECT sg, COUNT(*) AS df FROM inv GROUP BY 1)
      SELECT doc_id, COUNT(*) AS n_ngrams,
        CAST(COUNT(*) FILTER (WHERE df = 1) AS BIGINT) AS n_novel,
        CAST(COUNT(*) FILTER (WHERE df = 1) AS DOUBLE) / COUNT(*) AS novelty
      FROM inv JOIN dfq USING (sg) GROUP BY 1""",

    "q137_dataset_card" -> s"""
      $curationSqlCtes,
      h AS (SELECT doc_id, md5(text) AS h FROM documents),
      hcnt AS (SELECT h, COUNT(*) AS hc FROM h GROUP BY 1),
      dup AS (SELECT h.doc_id, hcnt.hc > 1 AS is_dup FROM h JOIN hcnt USING (h))
      SELECT d.source, d.lang, COUNT(*) AS n_docs,
        CAST(SUM(CAST(q.n_tokens AS BIGINT)) AS BIGINT) AS n_tokens,
        CAST(SUM(CAST(round(q.quality_score, 6) AS DECIMAL(18,6))) AS DOUBLE)
          AS sum_quality,
        COUNT(*) FILTER (WHERE dup.is_dup) AS n_exact_dups
      FROM documents d JOIN q USING (doc_id) JOIN dup USING (doc_id)
      GROUP BY 1, 2""",

    "q138_vocab_coverage" -> s"""
      WITH tk AS (SELECT unnest(${sqlTokens("lower(text)")}) AS token FROM documents),
      c AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY 1),
      tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM c),
      top AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 1000),
      r AS (SELECT token, cnt,
              row_number() OVER (ORDER BY cnt DESC, token) AS rank,
              CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token) AS BIGINT) AS cum
            FROM top)
      SELECT token, cnt, CAST(rank AS INT) AS rank,
        round(CAST(cum AS DOUBLE) / tot, 6) AS coverage
      FROM r, tot""",

    "q136_source_overlap" -> s"""
      WITH t AS (
        SELECT doc_id AS id, list_distinct(${sqlTokens("lower(text)")}) AS sh FROM documents
      ), inv AS (
        SELECT id, len(sh) AS sz, unnest(sh) AS s FROM t WHERE len(sh) > 0
      ), pairs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM inv a JOIN inv b ON a.s = b.s AND a.id < b.id
        GROUP BY a.id, b.id, a.sz, b.sz
        HAVING CAST(COUNT(*) AS DOUBLE) / (a.sz + b.sz - COUNT(*)) >= 0.8
      )
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             COUNT(*) AS n_pairs
      FROM pairs
      JOIN documents da ON pairs.id_a = da.doc_id
      JOIN documents db ON pairs.id_b = db.doc_id
      GROUP BY 1, 2""",

    "q135_bigram_lm" -> s"""
      WITH nz AS (
        SELECT doc_id, ${sqlTokens("lower(text)")} AS ts FROM documents),
      n2 AS (SELECT doc_id, ts FROM nz WHERE len(ts) >= 2),
      db0 AS (SELECT doc_id,
                unnest([{'w1': ts[i], 'w2': ts[i+1]} for i in range(1, len(ts))]) AS b
              FROM n2),
      db AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM db0),
      uni AS (SELECT unnest(ts) AS w1 FROM n2),
      ug AS (SELECT w1, COUNT(*) AS na FROM uni GROUP BY 1),
      bi AS (SELECT w1, w2, COUNT(*) AS nab FROM db GROUP BY 1, 2),
      j AS (SELECT db.doc_id,
              CAST(round(ln(CAST(nab AS DOUBLE) / na), 6) AS DECIMAL(18,6)) AS term
            FROM db JOIN bi USING (w1, w2) JOIN ug USING (w1))
      SELECT doc_id, COUNT(*) AS n_bigrams,
        floor(CAST(SUM(term) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS avg_logprob
      FROM j GROUP BY 1""",

    // windows generated on epoch-aligned 15-min boundaries DERIVED from the
    // events range (floor min ts to the grid minus the window width, floor
    // max ts to the grid) — literal bounds would silently miss windows on a
    // regenerated or differently-scaled events table; inner join drops
    // empty windows, matching Spark's event-driven window() fan-out
    "q133_sliding_window" -> """
      WITH b AS (SELECT
          TIMESTAMP '1970-01-01' + CAST(floor(epoch(MIN(ts))/900)*900 AS BIGINT) * INTERVAL 1 SECOND - INTERVAL 45 MINUTE AS lo,
          TIMESTAMP '1970-01-01' + CAST(floor(epoch(MAX(ts))/900)*900 AS BIGINT) * INTERVAL 1 SECOND AS hi
        FROM events),
      g AS (SELECT unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS ws FROM b)
      SELECT g.ws AS win_start, e.event_type, COUNT(*) AS n
      FROM events e JOIN g ON e.ts >= g.ws AND e.ts < g.ws + INTERVAL 1 HOUR
      GROUP BY 1, 2""",

    "q134_winsorize" -> s"""
      WITH q AS (SELECT l_returnflag,
                   quantile_cont(l_extendedprice, 0.01) AS p01,
                   quantile_cont(l_extendedprice, 0.99) AS p99
                 FROM lineitem GROUP BY 1)
      SELECT l.l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(least(greatest(l_extendedprice, p01), p99) AS DECIMAL(18,4))) AS DOUBLE) AS sum_clipped,
        ${sqlDsum("l_extendedprice")} AS sum_raw
      FROM lineitem l JOIN q USING (l_returnflag) GROUP BY 1""",

    "q129_dedup_ingest" -> """
      WITH ex AS (SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE doc_id < 400),
      inc AS (SELECT md5(text) AS content_hash, MIN(doc_id) AS doc_id
              FROM documents WHERE doc_id >= 400 GROUP BY 1)
      SELECT inc.doc_id, inc.content_hash FROM inc
      LEFT JOIN ex ON inc.content_hash = ex.content_hash
      WHERE ex.content_hash IS NULL""",

    // Same oracle shape as q103: the auto-picked width (1 at sf0.01) and
    // the pinned width-2 blocking produce IDENTICAL pair sets on this
    // corpus (measured: width1 EXCEPT width2 = 0 rows at sf0.01 and sf0.1).
    "q124_editdist_auto" -> """
      WITH p AS (
        SELECT p_partkey, p_name,
          split_part(p_name, ' ', 1) || ' ' || split_part(p_name, ' ', 2) AS blk
        FROM part)
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 2""",

    "q109_bloom_semijoin" -> s"""
      SELECT l_returnflag, COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
      FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 350000)
      GROUP BY l_returnflag""",

    "q110_repetition" -> s"""
      WITH toks AS (
        SELECT doc_id, ${sqlTokens("lower(text)")} AS ts FROM documents),
      nz AS (SELECT doc_id, ts FROM toks WHERE len(ts) > 0),
      ex AS (SELECT doc_id, unnest(ts) AS tok FROM nz),
      tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM ex GROUP BY 1, 2),
      t1 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok, COUNT(*) AS nd,
               MAX(c) AS top_c
             FROM tf GROUP BY 1),
      g AS (SELECT doc_id,
              CASE WHEN len(ts) < 2 THEN []::VARCHAR[]
                   ELSE [ts[i] || ' ' || ts[i+1] for i in range(1, len(ts))]
              END AS gs
            FROM nz),
      g2 AS (SELECT doc_id, len(gs) AS n2, len(list_distinct(gs)) AS d2 FROM g)
      SELECT t1.doc_id, t1.n_tok,
        CAST(t1.top_c AS DOUBLE) / t1.n_tok AS top_tok_ratio,
        CAST(t1.nd AS DOUBLE) / t1.n_tok AS distinct_ratio,
        CASE WHEN g2.n2 = 0 THEN 0.0
             ELSE 1.0 - CAST(g2.d2 AS DOUBLE) / g2.n2 END AS dup_2gram_ratio
      FROM t1 JOIN g2 USING (doc_id)""",

    // q175: the estimate-vs-actual disagreement frame is empty by the
    // counting identity Σ c·(c−1)/2 = |{(a,b): a<b, same bucket}| for
    // unique ids — WHERE FALSE oracle
    "q175_pair_budget_check" -> """
      SELECT CAST(vec_id AS BIGINT) AS est_candidates,
             CAST(vec_id AS BIGINT) AS actual_candidates
      FROM embeddings WHERE FALSE""",

    // q176: every lossless decode property derives from the synthesis
    // formulas — dims from the spec arithmetic, channels from the
    // format/alpha rule (JPEG always 3-band; PNG 4-band iff alpha, i.e.
    // doc_id ≡ 0 (mod 10)), all payloads decodable
    "q176_mixed_media" -> """
      SELECT CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        COUNT(*) AS n_media,
        COUNT(*) AS n_ok,
        CAST(SUM(16 + doc_id % 32) AS BIGINT) AS sum_width,
        CAST(SUM(16 + (doc_id * 7) % 24) AS BIGINT) AS sum_height,
        CAST(MIN(CASE WHEN doc_id % 2 = 0 AND doc_id % 10 = 0 THEN 4 ELSE 3 END) AS INT) AS min_channels,
        CAST(MAX(CASE WHEN doc_id % 2 = 0 AND doc_id % 10 = 0 THEN 4 ELSE 3 END) AS INT) AS max_channels
      FROM documents GROUP BY 1""",

    // q177/q178: the WAV payload is 16-bit PCM (lossless) of the shared
    // integer sample recurrence (Multimodal.wavSample), so the oracle
    // re-derives the DECODED sample aggregates exactly from
    // generate_series — header fields from the spec formulas, energy from
    // the recurrence. DuckDB's % on non-negative operands matches Scala's
    // floorMod here; // is integer floor division on non-negative k.
    "q177_audio_decode" -> """
      WITH spec AS (
        SELECT doc_id, 200 + doc_id % 512 AS n_frames,
               CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
               CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS INT) AS channels
        FROM documents),
      s AS (
        SELECT doc_id, n_frames, sample_rate, channels,
               unnest(generate_series(0, n_frames * channels - 1)) AS k
        FROM spec),
      v AS (
        SELECT doc_id, n_frames, sample_rate, channels,
               CASE WHEN (doc_id + k // 256) % 4 = 0 THEN 0
                    ELSE ((doc_id * 7919 + k * 104729) % 65536) - 32768 END AS smp
        FROM s)
      SELECT doc_id, sample_rate, channels, CAST(n_frames AS BIGINT) AS n_frames,
             CAST(SUM(ABS(smp)) AS BIGINT) AS sum_abs,
             CAST(MAX(ABS(smp)) AS INT) AS peak,
             TRUE AS decode_ok
      FROM v GROUP BY doc_id, sample_rate, channels, n_frames""",

    "q178_audio_energy" -> """
      WITH spec AS (
        SELECT doc_id AS media_id, 200 + doc_id % 512 AS n
        FROM documents WHERE doc_id % 5 <> 0),
      s AS (SELECT media_id, unnest(generate_series(0, n - 1)) AS k FROM spec),
      v AS (
        SELECT media_id, CAST(k // 256 AS INT) AS window_idx,
               CASE WHEN (media_id + k // 256) % 4 = 0 THEN 0
                    ELSE ((media_id * 7919 + k * 104729) % 65536) - 32768 END AS smp
        FROM s)
      SELECT media_id, window_idx, CAST(COUNT(*) AS INT) AS n_frames_w,
             CAST(SUM(ABS(smp)) AS BIGINT) AS sum_abs,
             SUM(ABS(smp)) < COUNT(*) * 328 AS quiet
      FROM v GROUP BY media_id, window_idx""",

    // q179/q180: indexed-GIF pixels are lossless, so the oracle re-derives
    // the DECODED per-frame grays exactly from the shared integer
    // recurrence (Multimodal.gifFrameGray) over generate_series — geometry
    // from the spec formulas, grays from the recurrence. All operands
    // non-negative, so DuckDB's % matches Scala's floorMod.
    "q179_video_decode" -> """
      WITH spec AS (
        SELECT doc_id, CAST(8 + doc_id % 17 AS INT) AS width,
               CAST(8 + (doc_id * 3) % 13 AS INT) AS height,
               4 + doc_id % 8 AS n_frames
        FROM documents),
      f AS (
        SELECT doc_id, width, height, n_frames,
               unnest(generate_series(0, n_frames - 1)) AS f
        FROM spec),
      v AS (
        SELECT doc_id, width, height, n_frames,
               CASE WHEN (doc_id + f) % 4 = 0 THEN 0
                    ELSE 1 + (doc_id * 31 + f * 97) % 255 END AS g
        FROM f)
      SELECT doc_id, width, height, CAST(n_frames AS INT) AS n_frames,
             CAST(SUM(g) AS BIGINT) AS sum_gray,
             CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS INT) AS black_frames,
             TRUE AS decode_ok
      FROM v GROUP BY doc_id, width, height, n_frames""",

    "q180_frame_sample" -> """
      WITH spec AS (
        SELECT doc_id AS media_id, 4 + doc_id % 8 AS n FROM documents),
      f AS (
        SELECT media_id, unnest(generate_series(0, n - 1, 3)) AS frame_idx
        FROM spec)
      SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
             CAST(CASE WHEN (media_id + frame_idx) % 4 = 0 THEN 0
                  ELSE 1 + (media_id * 31 + frame_idx * 97) % 255 END AS INT) AS gray,
             (media_id + frame_idx) % 4 = 0 AS is_black
      FROM f""",

    "q181_scene_segments" -> """
      WITH spec AS (
        SELECT doc_id AS media_id, 6 + doc_id % 10 AS n FROM documents),
      f AS (
        SELECT media_id, unnest(generate_series(0, n - 1)) AS frame_idx
        FROM spec),
      v AS (
        SELECT media_id, frame_idx,
               CASE WHEN (media_id + frame_idx) % 4 = 0 THEN 0
                    ELSE 1 + (media_id * 31 + frame_idx * 97) % 255 END AS gray
        FROM f),
      sc AS (
        SELECT media_id, frame_idx, gray,
               SUM(CASE WHEN gray = 0 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY media_id ORDER BY frame_idx) AS scene_id
        FROM v)
      SELECT media_id, CAST(scene_id AS INT) AS scene_id,
             CAST(COUNT(*) AS INT) AS n_frames_scene,
             CAST(MIN(frame_idx) AS INT) AS first_frame,
             CAST(MAX(frame_idx) AS INT) AS last_frame,
             CAST(SUM(gray) AS BIGINT) AS sum_gray
      FROM sc WHERE gray <> 0
      GROUP BY media_id, scene_id""",

    // q183: the first BPE round's adjacency counts, recounted per word
    // INSTANCE from raw text (Spark counts on the frequency-weighted
    // vocabulary quotient — the identity under test). Top-20 cut in the
    // argmax order; the boundary tie-break (count desc, pair asc, binary
    // collation on the ASCII corpus) is deterministic in both engines.
    "q183_bpe_pair_counts" -> s"""
      WITH tk AS (SELECT unnest(${sqlTokens("lower(text)")}) AS w FROM documents),
      pos AS (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
              FROM tk WHERE length(w) >= 2)
      SELECT substring(w, i, 1) AS sym_a, substring(w, i + 1, 1) AS sym_b,
             count(*) AS pair_count
      FROM pos GROUP BY 1, 2
      ORDER BY pair_count DESC, sym_a, sym_b LIMIT 20""",

    // q185: the conservation frame is empty by the telescoping identity
    // Σ applied_count = initial − final symbol mass — WHERE FALSE oracle
    "q185_bpe_conservation" -> """
      SELECT CAST(doc_id AS BIGINT) AS initial_symbols,
             CAST(doc_id AS BIGINT) AS sum_applied,
             CAST(doc_id AS BIGINT) AS final_symbols
      FROM documents WHERE FALSE""",

    // q186: the SAME integer micro-unit recurrence unrolled as CTE layers
    // (edge set via q61's identical-token-set equivalence at θ=0.98;
    // every arithmetic step is floor(x+0.5) on sub-2^53 magnitudes, so
    // eight iterations are bit-identical across engines)
    "q186_pagerank" -> pageRankOracleSql(8),

    "q188_hll_rollup_check" -> """
      SELECT source, TRUE AS merged_within_tol, TRUE AS direct_within_tol
      FROM documents GROUP BY source""",

    // q190: tumbling 1h windows are epoch-aligned, so win_start is just
    // the hour truncation; only event-bearing windows exist (window()
    // fan-out is event-driven, matching the inner GROUP BY)
    "q190_windowed_distinct_check" -> """
      SELECT date_trunc('hour', ts) AS win_start, TRUE AS within_tol
      FROM events GROUP BY 1""",

    // q191: A-ES weighted reservoir — u is the md5-numeric uniform
    // ((13-hex-digit prefix + 0.5) / 2^52, every factor an exact double),
    // key = ln(u)/w, top 25 per source. Bit-for-bit the member set the
    // Spark two-phase form selects.
    "q191_weighted_reservoir" -> """
      SELECT doc_id, source, weight FROM (
        SELECT doc_id, source, n_chars + 1 AS weight,
          row_number() OVER (PARTITION BY source ORDER BY
            ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                + 0.5) / 4503599627370496.0) / (n_chars + 1) DESC,
            doc_id) AS rk
        FROM documents)
      WHERE rk <= 25""",

    "q193_hll_intersect_check" -> """
      SELECT l.event_type AS set_a, r.event_type AS set_b, TRUE AS within_tol
      FROM (SELECT DISTINCT event_type FROM events) l,
           (SELECT DISTINCT event_type FROM events) r
      WHERE l.event_type < r.event_type""",

    // q194: full CMS recompute — the md5 bucket hash is engine-neutral,
    // so DuckDB rebuilds the identical (row, col) counter table and the
    // identical min-of-counters estimates. est is exact-matched, not
    // banded.
    "q194_cms_heavy_hitters" -> s"""
      WITH tk AS (SELECT unnest(${sqlTokens("lower(text)")}) AS token FROM documents),
      g AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
      b AS (SELECT token, cnt, r,
              ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || token), 1, 13))::BIGINT % 8192 AS c
            FROM g CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r) rs),
      sk AS (SELECT r, c, CAST(SUM(cnt) AS BIGINT) AS bc FROM b GROUP BY r, c),
      est AS (SELECT token, MIN(bc) AS est FROM b JOIN sk USING (r, c) GROUP BY token)
      SELECT token, est FROM est ORDER BY est DESC, token ASC LIMIT 25""",

    "q195_cms_join_size" -> """
      WITH ga AS (SELECT CAST(o_custkey AS VARCHAR) AS k, count(*) AS cnt
                  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
      gb AS (SELECT CAST(c_custkey AS VARCHAR) AS k, count(*) AS cnt
             FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
      rs AS (SELECT unnest(generate_series(0, 3)) AS r),
      ska AS (SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || k), 1, 13))::BIGINT % 16384 AS c,
                CAST(SUM(cnt) AS BIGINT) AS ca
              FROM ga CROSS JOIN rs GROUP BY 1, 2),
      skb AS (SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || k), 1, 13))::BIGINT % 16384 AS c,
                CAST(SUM(cnt) AS BIGINT) AS cb
              FROM gb CROSS JOIN rs GROUP BY 1, 2),
      ip AS (SELECT r, CAST(SUM(ca * cb) AS BIGINT) AS p
             FROM ska JOIN skb USING (r, c) GROUP BY r)
      SELECT CAST(MIN(COALESCE(p, 0)) AS BIGINT) AS est_rows
      FROM (SELECT DISTINCT r FROM ska) rr LEFT JOIN ip USING (r)""",

    "q196_cms_bands" -> """
      SELECT * FROM (VALUES ('hh_no_underestimate', TRUE), ('hh_over_band', TRUE),
        ('join_no_underestimate', TRUE), ('join_over_band', TRUE)) AS t(check_name, ok)""",

    // q197: full two-level recompute — cells at (source, lang) grain,
    // counter-merged to source, cumulative crossing per percentile.
    "q197_hist_rollup" -> """
      WITH cells AS (SELECT source, lang, LEAST(255, n_chars // 64) AS bin, count(*) AS cnt
                     FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0
                     GROUP BY 1, 2, 3),
      m AS (SELECT source, bin, SUM(cnt) AS cnt FROM cells GROUP BY 1, 2),
      c AS (SELECT source, bin, cnt,
              SUM(cnt) OVER (PARTITION BY source ORDER BY bin) AS cum,
              SUM(cnt) OVER (PARTITION BY source) AS tot FROM m)
      SELECT source,
        CAST(MIN(CASE WHEN cum * 100 >= tot * 50 THEN bin END) * 64 AS BIGINT) AS p50_lo,
        CAST(MIN(CASE WHEN cum * 100 >= tot * 90 THEN bin END) * 64 AS BIGINT) AS p90_lo,
        CAST(MIN(CASE WHEN cum * 100 >= tot * 99 THEN bin END) * 64 AS BIGINT) AS p99_lo
      FROM c GROUP BY source""",

    "q198_wordpiece_vocab" -> s"""
      WITH $wordpieceVocabCtes
      SELECT piece, CAST(length(piece) AS INT) AS piece_len, cnt FROM vocab""",

    // greedy longest-match replay: per-(word, position) best piece length
    // from the same vocabulary, then a recursive walk from position 1 —
    // single-char coverage makes every position matchable, so the walk
    // always terminates past the word end with the exact piece count
    "q199_wordpiece_encode" -> s"""
      WITH RECURSIVE $wordpieceVocabCtes,
      cand AS (SELECT w, i AS pos, substr(w, i, l) AS piece FROM pl),
      best AS (SELECT cand.w, cand.pos, MAX(length(vocab.piece)) AS step
               FROM cand JOIN vocab ON vocab.piece = cand.piece
               GROUP BY cand.w, cand.pos),
      walk(w, pos, steps) AS (
        SELECT w, 1, CAST(0 AS BIGINT) FROM wq
        UNION ALL
        SELECT walk.w, walk.pos + best.step, walk.steps + 1
        FROM walk JOIN best ON best.w = walk.w AND best.pos = walk.pos),
      mapping AS (SELECT w, steps AS n_pieces, length(w) AS n_chr
                  FROM walk WHERE pos > length(w)),
      dw AS (SELECT doc_id, unnest(${sqlTokens("lower(text)")}) AS w FROM documents),
      per_doc AS (SELECT dw.doc_id, count(*) AS n_words,
                    SUM(mapping.n_pieces) AS n_pieces,
                    SUM(mapping.n_chr) AS n_word_chars
                  FROM dw JOIN mapping ON mapping.w = dw.w GROUP BY dw.doc_id)
      SELECT d.doc_id,
        COALESCE(per_doc.n_words, 0) AS n_words,
        CAST(COALESCE(per_doc.n_pieces, 0) AS BIGINT) AS n_pieces,
        CAST(COALESCE(per_doc.n_word_chars, 0) AS BIGINT) AS n_word_chars
      FROM documents d LEFT JOIN per_doc ON per_doc.doc_id = d.doc_id""",

    // q201: the persisted-index path is row-identical to the in-memory
    // IVF by construction (same deterministic fit, exact float round-trip
    // through parquet) — the symmetric diff is empty, WHERE FALSE oracle
    "q201_ivf_index_check" -> """
      SELECT CAST(vec_id AS BIGINT) AS query_id,
             CAST(vec_id AS BIGINT) AS neighbor_id,
             CAST(0 AS INT) AS rank
      FROM embeddings WHERE FALSE""",

    // q203: build-then-ingest equals one-shot assignment under the same
    // centroids — empty symmetric diff, WHERE FALSE oracle
    "q203_ivf_ingest_check" -> """
      SELECT CAST(vec_id AS BIGINT) AS query_id,
             CAST(vec_id AS BIGINT) AS neighbor_id,
             CAST(0 AS INT) AS rank
      FROM embeddings WHERE FALSE""",

    // q205: index-path dedup equals the direct cross-frame incremental
    // dedup — empty symmetric diff, WHERE FALSE oracle
    "q205_dedup_index_check" -> """
      SELECT CAST(doc_id AS BIGINT) AS existing_id,
             CAST(doc_id AS BIGINT) AS incoming_id,
             CAST(0.0 AS DOUBLE) AS jaccard
      FROM documents WHERE FALSE""",

    // q206: dedup-index compaction changes no probe result — empty
    // symmetric diff, WHERE FALSE oracle
    "q206_dedup_index_compact" -> """
      SELECT CAST(doc_id AS BIGINT) AS existing_id,
             CAST(doc_id AS BIGINT) AS incoming_id,
             CAST(0.0 AS DOUBLE) AS jaccard
      FROM documents WHERE FALSE""",

    // q207: IVF-index compaction changes no probe result — empty
    // symmetric diff, WHERE FALSE oracle
    "q207_ivf_index_compact" -> """
      SELECT CAST(vec_id AS BIGINT) AS query_id,
             CAST(vec_id AS BIGINT) AS neighbor_id,
             CAST(0 AS INT) AS rank
      FROM embeddings WHERE FALSE""",

    // q209: semantic ingest via the index equals the direct recompute
    // under the same read-back centroids — empty symmetric diff,
    // WHERE FALSE oracle
    "q209_semantic_index_check" -> """
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
             CAST(1 AS BOOLEAN) AS accept,
             CAST(vec_id AS BIGINT) AS blocked_by
      FROM embeddings WHERE FALSE""",

    // q210: the full 64-bit dHash recomputed from the synthesis spec in
    // SQL — pixel v = seed·FNV + sy·w + sx reduced mod 2^24 WITH REDUCED
    // OPERANDS (only the low 24 bits reach RGB, and (a·b) mod 2^24 =
    // ((a mod 2^24)·(b mod 2^24)) mod 2^24 — the naked product would
    // hard-error on DuckDB's checked signed-64 arithmetic once
    // doc_id//2 exceeds ~8.4M, while Spark intentionally wraps via
    // .toInt), nearest-neighbor 9×8 grid, integer luma, horizontal-
    // gradient bits summed as powers of two (bit 63 added as the
    // two's-complement constant; DuckDB refuses 1<<63)
    "q210_image_dhash" -> s"""
      WITH g AS (
        SELECT doc_id, ty, tx,
          (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
            + 114 * (v & 255)) // 1000 AS gray
        FROM (
          SELECT doc_id, t.ty, x.tx,
            ((1099511628211 % 16777216) * ((doc_id // 2) % 16777216)
              + ((t.ty * (16 + ((doc_id // 2) * 7) % 24)) // 8)
                  * (16 + (doc_id // 2) % 32)
              + ((x.tx * (16 + (doc_id // 2) % 32)) // 9)) % 16777216 AS v
          FROM documents, range(8) t(ty), range(9) x(tx))),
      bits AS (
        SELECT a.doc_id, a.ty * 8 + a.tx AS k
        FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.ty = b.ty
          AND b.tx = a.tx + 1
        WHERE a.tx < 8 AND a.gray < b.gray),
      hashes AS (
        SELECT doc_id, CAST(SUM(CASE WHEN k = 63
            THEN -9223372036854775807 - 1
            ELSE (1::BIGINT << CAST(k AS INT)) END) AS BIGINT) AS h
        FROM bits GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(h.h, 0) AS BIGINT) AS dhash,
             TRUE AS decode_ok
      FROM documents d LEFT JOIN hashes h USING (doc_id)""",

    // q211: BRUTE-FORCE all-pairs hamming join over the SQL-recomputed
    // dHashes — the pigeonhole-blocked Spark plan must equal it exactly
    "q211_image_neardup" -> s"""
      WITH g AS (
        SELECT doc_id, ty, tx,
          (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
            + 114 * (v & 255)) // 1000 AS gray
        FROM (
          SELECT doc_id, t.ty, x.tx,
            ((1099511628211 % 16777216) * ((doc_id // 2) % 16777216)
              + ((t.ty * (16 + ((doc_id // 2) * 7) % 24)) // 8)
                  * (16 + (doc_id // 2) % 32)
              + ((x.tx * (16 + (doc_id // 2) % 32)) // 9)) % 16777216 AS v
          FROM documents, range(8) t(ty), range(9) x(tx))),
      bits AS (
        SELECT a.doc_id, a.ty * 8 + a.tx AS k
        FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.ty = b.ty
          AND b.tx = a.tx + 1
        WHERE a.tx < 8 AND a.gray < b.gray),
      hashes AS (
        SELECT d.doc_id, CAST(COALESCE((
            SELECT CAST(SUM(CASE WHEN k = 63
                THEN -9223372036854775807 - 1
                ELSE (1::BIGINT << CAST(k AS INT)) END) AS BIGINT)
            FROM bits b WHERE b.doc_id = d.doc_id), 0) AS BIGINT) AS h
        FROM documents d)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
      FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h, b.h)) <= 3""",

    // q220: the full 64-bit VIDEO majority signature recomputed from the
    // synthesis spec in SQL — per-frame pixel v in the mod-2^24-reduced
    // form (the q210 convention), 9×8 grid, luma, per-frame gradient
    // bits, then PER-BIT MAJORITY across frames (2·count > n_frames;
    // ties clear), summed as powers of two (bit 63 as the
    // two's-complement constant)
    "q220_video_signature" -> s"""
      WITH spec AS (
        SELECT doc_id, doc_id // 2 AS seed,
               16 + (doc_id // 2) % 32 AS w,
               16 + ((doc_id // 2) * 7) % 24 AS h,
               5 + ((doc_id // 2) * 13) % 6 AS nf
        FROM documents),
      g AS (
        SELECT doc_id, nf, f, ty, tx,
          (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
            + 114 * (v & 255)) // 1000 AS gray
        FROM (
          SELECT doc_id, nf, f.f AS f, t.ty AS ty, x.tx AS tx,
            ((1099511628211 % 16777216) * (seed % 16777216)
              + CASE WHEN t.ty = 5 THEN f.f * 7368787 ELSE 0 END
              + ((t.ty * h) // 8) * w
              + ((x.tx * w) // 9)) % 16777216 AS v
          FROM spec, range(10) f(f), range(8) t(ty), range(9) x(tx)
          WHERE f.f < nf)),
      bits AS (
        SELECT a.doc_id, a.f, a.ty * 8 + a.tx AS k
        FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.f = b.f
          AND a.ty = b.ty AND b.tx = a.tx + 1
        WHERE a.tx < 8 AND a.gray < b.gray),
      maj AS (
        SELECT c.doc_id, c.k
        FROM (SELECT doc_id, k, COUNT(*) AS cnt FROM bits GROUP BY doc_id, k) c
          JOIN spec s ON c.doc_id = s.doc_id
        WHERE 2 * c.cnt > s.nf),
      hashes AS (
        SELECT doc_id, CAST(SUM(CASE WHEN k = 63
            THEN -9223372036854775807 - 1
            ELSE (1::BIGINT << CAST(k AS INT)) END) AS BIGINT) AS vs
        FROM maj GROUP BY doc_id)
      SELECT s.doc_id, CAST(COALESCE(h.vs, 0) AS BIGINT) AS vsig,
             CAST(s.nf AS INT) AS n_frames, TRUE AS decode_ok
      FROM spec s LEFT JOIN hashes h USING (doc_id)""",

    // q221: BRUTE-FORCE all-pairs hamming join over the SQL-recomputed
    // video majority signatures — the pigeonhole-blocked Spark plan must
    // equal it exactly (the q211 check, fourth signature family)
    "q221_video_neardup" -> s"""
      WITH spec AS (
        SELECT doc_id, doc_id // 2 AS seed,
               16 + (doc_id // 2) % 32 AS w,
               16 + ((doc_id // 2) * 7) % 24 AS h,
               5 + ((doc_id // 2) * 13) % 6 AS nf
        FROM documents),
      g AS (
        SELECT doc_id, nf, f, ty, tx,
          (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
            + 114 * (v & 255)) // 1000 AS gray
        FROM (
          SELECT doc_id, nf, f.f AS f, t.ty AS ty, x.tx AS tx,
            ((1099511628211 % 16777216) * (seed % 16777216)
              + CASE WHEN t.ty = 5 THEN f.f * 7368787 ELSE 0 END
              + ((t.ty * h) // 8) * w
              + ((x.tx * w) // 9)) % 16777216 AS v
          FROM spec, range(10) f(f), range(8) t(ty), range(9) x(tx)
          WHERE f.f < nf)),
      bits AS (
        SELECT a.doc_id, a.f, a.ty * 8 + a.tx AS k
        FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.f = b.f
          AND a.ty = b.ty AND b.tx = a.tx + 1
        WHERE a.tx < 8 AND a.gray < b.gray),
      maj AS (
        SELECT c.doc_id, c.k
        FROM (SELECT doc_id, k, COUNT(*) AS cnt FROM bits GROUP BY doc_id, k) c
          JOIN spec s ON c.doc_id = s.doc_id
        WHERE 2 * c.cnt > s.nf),
      hashes AS (
        SELECT s.doc_id, CAST(COALESCE((
            SELECT CAST(SUM(CASE WHEN k = 63
                THEN -9223372036854775807 - 1
                ELSE (1::BIGINT << CAST(k AS INT)) END) AS BIGINT)
            FROM maj m WHERE m.doc_id = s.doc_id), 0) AS BIGINT) AS h
        FROM spec s)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
      FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h, b.h)) <= 3""",

    // q222: brute-force CROSS join (even store x odd batch) over the
    // SQL-recomputed video majorities — the q215 shape for the fourth
    // signature family
    "q222_video_neardup_incremental" -> s"""
      WITH spec AS (
        SELECT doc_id, doc_id // 2 AS seed,
               16 + (doc_id // 2) % 32 AS w,
               16 + ((doc_id // 2) * 7) % 24 AS h,
               5 + ((doc_id // 2) * 13) % 6 AS nf
        FROM documents),
      g AS (
        SELECT doc_id, nf, f, ty, tx,
          (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
            + 114 * (v & 255)) // 1000 AS gray
        FROM (
          SELECT doc_id, nf, f.f AS f, t.ty AS ty, x.tx AS tx,
            ((1099511628211 % 16777216) * (seed % 16777216)
              + CASE WHEN t.ty = 5 THEN f.f * 7368787 ELSE 0 END
              + ((t.ty * h) // 8) * w
              + ((x.tx * w) // 9)) % 16777216 AS v
          FROM spec, range(10) f(f), range(8) t(ty), range(9) x(tx)
          WHERE f.f < nf)),
      bits AS (
        SELECT a.doc_id, a.f, a.ty * 8 + a.tx AS k
        FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.f = b.f
          AND a.ty = b.ty AND b.tx = a.tx + 1
        WHERE a.tx < 8 AND a.gray < b.gray),
      maj AS (
        SELECT c.doc_id, c.k
        FROM (SELECT doc_id, k, COUNT(*) AS cnt FROM bits GROUP BY doc_id, k) c
          JOIN spec s ON c.doc_id = s.doc_id
        WHERE 2 * c.cnt > s.nf),
      hashes AS (
        SELECT s.doc_id, CAST(COALESCE((
            SELECT CAST(SUM(CASE WHEN k = 63
                THEN -9223372036854775807 - 1
                ELSE (1::BIGINT << CAST(k AS INT)) END) AS BIGINT)
            FROM maj m WHERE m.doc_id = s.doc_id), 0) AS BIGINT) AS h
        FROM spec s)
      SELECT e.doc_id AS existing_id, i.doc_id AS incoming_id,
             CAST(bit_count(xor(e.h, i.h)) AS INT) AS hamming
      FROM hashes e JOIN hashes i
        ON e.doc_id % 2 = 0 AND i.doc_id % 2 = 1
      WHERE bit_count(xor(e.h, i.h)) <= 3""",

    // q212: all 64 energy-delta bits recomputed from the wavSample
    // formula — per-window sum of |sample| (windowFrames=10), bit w =
    // energy(w+1) > energy(w), summed as powers of two (bit 63 as the
    // two's-complement constant, the q210 convention)
    "q212_audio_fingerprint" -> """
      WITH spec AS (
        SELECT doc_id, doc_id // 2 AS seed,
               650 + ((doc_id // 2) * 13) % 62 AS n_frames
        FROM documents),
      s AS (
        SELECT doc_id, seed,
               unnest(generate_series(0, n_frames - 1)) AS k
        FROM spec),
      e AS (
        SELECT doc_id, k // 10 AS w,
               SUM(abs(CASE WHEN (seed + k // 256) % 4 = 0 THEN 0
                    ELSE ((seed * 7919 + k * 104729) % 65536) - 32768 END)) AS energy
        FROM s GROUP BY 1, 2),
      bits AS (
        SELECT a.doc_id, a.w AS k
        FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.w = a.w + 1
        WHERE a.w < 64 AND b.energy > a.energy),
      hashes AS (
        SELECT doc_id, CAST(SUM(CASE WHEN k = 63
            THEN -9223372036854775807 - 1
            ELSE (1::BIGINT << CAST(k AS INT)) END) AS BIGINT) AS h
        FROM bits GROUP BY doc_id)
      SELECT d.doc_id, CAST(COALESCE(h.h, 0) AS BIGINT) AS afp,
             CAST((650 + ((d.doc_id // 2) * 13) % 62 + 9) // 10 AS INT) AS n_windows,
             TRUE AS decode_ok
      FROM documents d LEFT JOIN hashes h USING (doc_id)""",

    // q213: brute-force all-pairs hamming join over the SQL-recomputed
    // fingerprints — the pigeonhole-blocked plan must equal it exactly
    "q213_audio_neardup" -> """
      WITH spec AS (
        SELECT doc_id, doc_id // 2 AS seed,
               650 + ((doc_id // 2) * 13) % 62 AS n_frames
        FROM documents),
      s AS (
        SELECT doc_id, seed,
               unnest(generate_series(0, n_frames - 1)) AS k
        FROM spec),
      e AS (
        SELECT doc_id, k // 10 AS w,
               SUM(abs(CASE WHEN (seed + k // 256) % 4 = 0 THEN 0
                    ELSE ((seed * 7919 + k * 104729) % 65536) - 32768 END)) AS energy
        FROM s GROUP BY 1, 2),
      bits AS (
        SELECT a.doc_id, a.w AS k
        FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.w = a.w + 1
        WHERE a.w < 64 AND b.energy > a.energy),
      hashes AS (
        SELECT d.doc_id, CAST(COALESCE((
            SELECT CAST(SUM(CASE WHEN k = 63
                THEN -9223372036854775807 - 1
                ELSE (1::BIGINT << CAST(k AS INT)) END) AS BIGINT)
            FROM bits b WHERE b.doc_id = d.doc_id), 0) AS BIGINT) AS h
        FROM documents d)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
      FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h, b.h)) <= 3""",

    // q214: the count-factored quotient recomputed brute-force — distinct
    // fingerprints with multiplicities, cross-signature pair mass n_a*n_b
    // within hamming <= 3, within-signature mass C(n,2)
    "q214_audio_neardup_factored" -> """
      WITH spec AS (
        SELECT doc_id, doc_id // 2 AS seed,
               650 + ((doc_id // 2) * 13) % 62 AS n_frames
        FROM documents),
      s AS (
        SELECT doc_id, seed,
               unnest(generate_series(0, n_frames - 1)) AS k
        FROM spec),
      e AS (
        SELECT doc_id, k // 10 AS w,
               SUM(abs(CASE WHEN (seed + k // 256) % 4 = 0 THEN 0
                    ELSE ((seed * 7919 + k * 104729) % 65536) - 32768 END)) AS energy
        FROM s GROUP BY 1, 2),
      bits AS (
        SELECT a.doc_id, a.w AS k
        FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.w = a.w + 1
        WHERE a.w < 64 AND b.energy > a.energy),
      hashes AS (
        SELECT d.doc_id, CAST(COALESCE((
            SELECT CAST(SUM(CASE WHEN k = 63
                THEN -9223372036854775807 - 1
                ELSE (1::BIGINT << CAST(k AS INT)) END) AS BIGINT)
            FROM bits b WHERE b.doc_id = d.doc_id), 0) AS BIGINT) AS h
        FROM documents d),
      grp AS (SELECT h, COUNT(*) AS n FROM hashes GROUP BY h)
      SELECT a.h AS sig_a, b.h AS sig_b,
             CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming,
             CAST(a.n * b.n AS BIGINT) AS n_pairs
      FROM grp a JOIN grp b ON a.h < b.h
      WHERE bit_count(xor(a.h, b.h)) <= 3
      UNION ALL
      SELECT h, h, 0, CAST(n * (n - 1) // 2 AS BIGINT)
      FROM grp WHERE n > 1""",

    // q215: brute-force CROSS join (stored even ids × incoming odd ids)
    // over the SQL-recomputed dHashes — the cross-frame blocked plan
    // must equal it exactly
    "q215_image_neardup_incremental" -> """
      WITH g AS (
        SELECT doc_id, ty, tx,
          (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
            + 114 * (v & 255)) // 1000 AS gray
        FROM (
          SELECT doc_id, t.ty, x.tx,
            ((1099511628211 % 16777216) * ((doc_id // 2) % 16777216)
              + ((t.ty * (16 + ((doc_id // 2) * 7) % 24)) // 8)
                  * (16 + (doc_id // 2) % 32)
              + ((x.tx * (16 + (doc_id // 2) % 32)) // 9)) % 16777216 AS v
          FROM documents, range(8) t(ty), range(9) x(tx))),
      bits AS (
        SELECT a.doc_id, a.ty * 8 + a.tx AS k
        FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.ty = b.ty
          AND b.tx = a.tx + 1
        WHERE a.tx < 8 AND a.gray < b.gray),
      hashes AS (
        SELECT d.doc_id, CAST(COALESCE((
            SELECT CAST(SUM(CASE WHEN k = 63
                THEN -9223372036854775807 - 1
                ELSE (1::BIGINT << CAST(k AS INT)) END) AS BIGINT)
            FROM bits b WHERE b.doc_id = d.doc_id), 0) AS BIGINT) AS h
        FROM documents d)
      SELECT e.doc_id AS existing_id, i.doc_id AS incoming_id,
             CAST(bit_count(xor(e.h, i.h)) AS INT) AS hamming
      FROM hashes e JOIN hashes i
        ON e.doc_id % 2 = 0 AND i.doc_id % 2 = 1
      WHERE bit_count(xor(e.h, i.h)) <= 3""",

    // q216: the persisted-index probe must reproduce q215's in-memory
    // cross join exactly — same brute-force oracle
    "q216_signature_index" -> """
      WITH g AS (
        SELECT doc_id, ty, tx,
          (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
            + 114 * (v & 255)) // 1000 AS gray
        FROM (
          SELECT doc_id, t.ty, x.tx,
            ((1099511628211 % 16777216) * ((doc_id // 2) % 16777216)
              + ((t.ty * (16 + ((doc_id // 2) * 7) % 24)) // 8)
                  * (16 + (doc_id // 2) % 32)
              + ((x.tx * (16 + (doc_id // 2) % 32)) // 9)) % 16777216 AS v
          FROM documents, range(8) t(ty), range(9) x(tx))),
      bits AS (
        SELECT a.doc_id, a.ty * 8 + a.tx AS k
        FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.ty = b.ty
          AND b.tx = a.tx + 1
        WHERE a.tx < 8 AND a.gray < b.gray),
      hashes AS (
        SELECT d.doc_id, CAST(COALESCE((
            SELECT CAST(SUM(CASE WHEN k = 63
                THEN -9223372036854775807 - 1
                ELSE (1::BIGINT << CAST(k AS INT)) END) AS BIGINT)
            FROM bits b WHERE b.doc_id = d.doc_id), 0) AS BIGINT) AS h
        FROM documents d)
      SELECT e.doc_id AS existing_id, i.doc_id AS incoming_id,
             CAST(bit_count(xor(e.h, i.h)) AS INT) AS hamming
      FROM hashes e JOIN hashes i
        ON e.doc_id % 2 = 0 AND i.doc_id % 2 = 1
      WHERE bit_count(xor(e.h, i.h)) <= 3""",

    // q217: grown index probe equals the direct cross-frame recompute —
    // empty symmetric diff, WHERE FALSE oracle
    "q217_signature_index_check" -> """
      SELECT CAST(doc_id AS BIGINT) AS existing_id,
             CAST(doc_id AS BIGINT) AS incoming_id,
             CAST(0 AS INT) AS hamming
      FROM documents WHERE FALSE""",

    // q218: probe identical before/after compaction of a replayed
    // ingest — empty symmetric diff, WHERE FALSE oracle
    "q218_signature_index_compact" -> """
      SELECT CAST(doc_id AS BIGINT) AS existing_id,
             CAST(doc_id AS BIGINT) AS incoming_id,
             CAST(0 AS INT) AS hamming
      FROM documents WHERE FALSE""",

    // q219: components by RECURSIVE closure over the brute-force
    // hamming graph (hamming-3 chains merge transitively — a
    // fingerprint partition would under-merge), rep = min reachable id
    "q219_image_dedup_materialize" -> """
      WITH RECURSIVE g AS (
        SELECT doc_id, ty, tx,
          (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
            + 114 * (v & 255)) // 1000 AS gray
        FROM (
          SELECT doc_id, t.ty, x.tx,
            ((1099511628211 % 16777216) * ((doc_id // 2) % 16777216)
              + ((t.ty * (16 + ((doc_id // 2) * 7) % 24)) // 8)
                  * (16 + (doc_id // 2) % 32)
              + ((x.tx * (16 + (doc_id // 2) % 32)) // 9)) % 16777216 AS v
          FROM documents, range(8) t(ty), range(9) x(tx))),
      bits AS (
        SELECT a.doc_id, a.ty * 8 + a.tx AS k
        FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.ty = b.ty
          AND b.tx = a.tx + 1
        WHERE a.tx < 8 AND a.gray < b.gray),
      hashes AS (
        SELECT d.doc_id, CAST(COALESCE((
            SELECT CAST(SUM(CASE WHEN k = 63
                THEN -9223372036854775807 - 1
                ELSE (1::BIGINT << CAST(k AS INT)) END) AS BIGINT)
            FROM bits b WHERE b.doc_id = d.doc_id), 0) AS BIGINT) AS h
        FROM documents d),
      edges AS (
        SELECT a.doc_id AS s, b.doc_id AS t FROM hashes a JOIN hashes b
        ON a.doc_id <> b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 3),
      reach(id, anc) AS (
        SELECT doc_id, doc_id FROM hashes
        UNION
        SELECT r.id, e.t FROM reach r JOIN edges e ON e.s = r.anc)
      SELECT id AS media_id, MIN(anc) AS rep,
             (id = MIN(anc)) AS keep
      FROM reach GROUP BY id""",

    // q223: the incrementally-maintained assignment must equal the FULL
    // corpus CC — recursive closure over the brute-force hamming graph,
    // rep = min reachable id (the q219 oracle reshaped to (id, rep))
    "q223_components_index" -> """
      WITH RECURSIVE g AS (
        SELECT doc_id, ty, tx,
          (299 * ((v >> 16) & 255) + 587 * ((v >> 8) & 255)
            + 114 * (v & 255)) // 1000 AS gray
        FROM (
          SELECT doc_id, t.ty, x.tx,
            ((1099511628211 % 16777216) * ((doc_id // 2) % 16777216)
              + ((t.ty * (16 + ((doc_id // 2) * 7) % 24)) // 8)
                  * (16 + (doc_id // 2) % 32)
              + ((x.tx * (16 + (doc_id // 2) % 32)) // 9)) % 16777216 AS v
          FROM documents, range(8) t(ty), range(9) x(tx))),
      bits AS (
        SELECT a.doc_id, a.ty * 8 + a.tx AS k
        FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.ty = b.ty
          AND b.tx = a.tx + 1
        WHERE a.tx < 8 AND a.gray < b.gray),
      hashes AS (
        SELECT d.doc_id, CAST(COALESCE((
            SELECT CAST(SUM(CASE WHEN k = 63
                THEN -9223372036854775807 - 1
                ELSE (1::BIGINT << CAST(k AS INT)) END) AS BIGINT)
            FROM bits b WHERE b.doc_id = d.doc_id), 0) AS BIGINT) AS h
        FROM documents d),
      edges AS (
        SELECT a.doc_id AS s, b.doc_id AS t FROM hashes a JOIN hashes b
        ON a.doc_id <> b.doc_id
        WHERE bit_count(xor(a.h, b.h)) <= 3),
      reach(id, anc) AS (
        SELECT doc_id, doc_id FROM hashes
        UNION
        SELECT r.id, e.t FROM reach r JOIN edges e ON e.s = r.anc)
      SELECT id, MIN(anc) AS rep FROM reach GROUP BY id""",

    // q224: chained-wave maintenance equals one-shot CC — empty
    // symmetric diff, WHERE FALSE oracle
    "q224_components_index_check" -> """
      SELECT CAST(doc_id AS BIGINT) AS id, CAST(doc_id AS BIGINT) AS rep
      FROM documents WHERE FALSE""",

    // q225: assignment identical before/after compaction of a replayed
    // ingest AND merges/ emptied — empty union, WHERE FALSE oracle
    "q225_components_compact" -> """
      SELECT CAST(doc_id AS BIGINT) AS id, CAST(doc_id AS BIGINT) AS rep
      FROM documents WHERE FALSE""",

    // q227: text-family chained-wave maintenance equals the one-shot
    // class-quotient CC — empty symmetric diff, WHERE FALSE oracle
    "q227_text_components_check" -> """
      SELECT CAST(doc_id AS BIGINT) AS id, CAST(doc_id AS BIGINT) AS rep
      FROM documents WHERE FALSE""",

    // q228: text-family assignment identical before/after compaction of
    // a replayed ingest AND merges/ emptied — WHERE FALSE oracle
    "q228_text_components_compact" -> """
      SELECT CAST(doc_id AS BIGINT) AS id, CAST(doc_id AS BIGINT) AS rep
      FROM documents WHERE FALSE""",

    // q230/q232: PQ recall floors hold for all 10 queries (the recall
    // VALUE is deterministic: driver-fit codebooks, seed-free)
    "q230_pq_recall_check" -> """
      SELECT count(*) AS n_queries, TRUE AS above_floor
      FROM embeddings WHERE vec_id < 10""",

    "q232_ivfpq_recall_check" -> """
      SELECT count(*) AS n_queries, TRUE AS above_floor
      FROM embeddings WHERE vec_id < 10""",

    // q233: chunk-level first-occurrence dedup + rewrite, recomputed
    // exactly — 10-token windows, corpus-wide first occurrence by
    // (doc_id, chunk index), documents reassembled from survivors
    "q233_chunk_dedup" -> s"""
      WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
      d AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0),
      s AS (SELECT doc_id, t, n,
              unnest(generate_series(0, n - 1, 10)) AS start FROM d),
      ch AS (SELECT doc_id, CAST(start // 10 AS INT) AS cidx,
               array_to_string(t[start + 1 : start + 10], ' ') AS chunk
             FROM s),
      kept AS (SELECT chunk, min(struct_pack(doc_id := doc_id, cidx := cidx)) AS f
               FROM ch GROUP BY chunk),
      surv AS (SELECT f.doc_id AS doc_id, f.cidx AS cidx, chunk FROM kept),
      agg AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY cidx) AS text_dedup,
                CAST(count(*) AS INT) AS n_kept
              FROM surv GROUP BY doc_id),
      tot AS (SELECT doc_id, CAST(count(*) AS INT) AS n_chunks
              FROM ch GROUP BY doc_id)
      SELECT doc.doc_id,
             coalesce(agg.text_dedup, '') AS text_dedup,
             coalesce(agg.n_kept, 0) AS n_kept,
             coalesce(tot.n_chunks, 0) AS n_chunks
      FROM documents doc
      LEFT JOIN agg ON doc.doc_id = agg.doc_id
      LEFT JOIN tot ON doc.doc_id = tot.doc_id""",

    // q235: held-out classifier accuracy floor holds (the accuracy VALUE
    // is deterministic: hash-spread sample, sequential GD, no RNG)
    "q235_classifier_check" -> """
      SELECT count(*) AS n_holdout, TRUE AS above_floor
      FROM documents WHERE doc_id % 2 = 1""",

    // q237: PQ-index lifecycle (build + frozen-codebook ingest + probe)
    // equals the in-memory comparator given the same books — empty
    // symmetric diff, WHERE FALSE oracle
    "q237_pq_index_check" -> """
      SELECT vec_id AS query_id, vec_id AS neighbor_id, 1 AS rank
      FROM embeddings WHERE FALSE""",

    // q238: post-compaction probe identical and no duplicate code rows
    // survive a replayed ingest — WHERE FALSE oracle
    "q238_pq_index_compact" -> """
      SELECT vec_id AS query_id, vec_id AS neighbor_id, 1 AS rank
      FROM embeddings WHERE FALSE""",

    // q239: the crawl-cadence chunk-index rewrite equals the BATCH form
    // (q233's exact recompute) restricted to the batch's ids — same CTE
    // chain, one extra range filter (arrival order == id order here)
    "q239_chunk_index" -> s"""
      WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
      d AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0),
      s AS (SELECT doc_id, t, n,
              unnest(generate_series(0, n - 1, 10)) AS start FROM d),
      ch AS (SELECT doc_id, CAST(start // 10 AS INT) AS cidx,
               array_to_string(t[start + 1 : start + 10], ' ') AS chunk
             FROM s),
      kept AS (SELECT chunk, min(struct_pack(doc_id := doc_id, cidx := cidx)) AS f
               FROM ch GROUP BY chunk),
      surv AS (SELECT f.doc_id AS doc_id, f.cidx AS cidx, chunk FROM kept),
      agg AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY cidx) AS text_dedup,
                CAST(count(*) AS INT) AS n_kept
              FROM surv GROUP BY doc_id),
      tot AS (SELECT doc_id, CAST(count(*) AS INT) AS n_chunks
              FROM ch GROUP BY doc_id)
      SELECT doc.doc_id,
             coalesce(agg.text_dedup, '') AS text_dedup,
             coalesce(agg.n_kept, 0) AS n_kept,
             coalesce(tot.n_chunks, 0) AS n_chunks
      FROM documents doc
      LEFT JOIN agg ON doc.doc_id = agg.doc_id
      LEFT JOIN tot ON doc.doc_id = tot.doc_id
      WHERE doc.doc_id * 2 >= (SELECT max(doc_id) + 1 FROM documents)""",

    // q240: wave-equality, replay-emptiness, and compaction-distinctness
    // guards all emit rows only on violation — WHERE FALSE oracle
    "q240_chunk_index_check" -> """
      SELECT doc_id, '' AS text_dedup, 0 AS n_kept, 0 AS n_chunks
      FROM documents WHERE FALSE""",

    // q241: content-defined chunking recomputed exactly — md5 boundary
    // tokens END their chunk (cid = boundaries strictly before the
    // token), tail past the last boundary is the final chunk, then the
    // q233 first-occurrence dedup + rewrite
    "q241_cdc_chunk_dedup" -> s"""
      WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
      d AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0),
      tok AS (SELECT doc_id, u.i AS ord, t[u.i] AS tok
              FROM d, unnest(generate_series(1, n)) AS u(i)),
      fl AS (SELECT doc_id, ord, tok,
               CASE WHEN substr(md5(tok), 1, 1) IN ('0', '1')
                 THEN 1 ELSE 0 END AS flag
             FROM tok),
      cidt AS (SELECT doc_id, ord, tok,
                 CAST(coalesce(SUM(flag) OVER (PARTITION BY doc_id ORDER BY ord
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
                   AS cidx
               FROM fl),
      ch AS (SELECT doc_id, cidx,
               string_agg(tok, ' ' ORDER BY ord) AS chunk
             FROM cidt GROUP BY doc_id, cidx),
      kept AS (SELECT chunk, min(struct_pack(doc_id := doc_id, cidx := cidx)) AS f
               FROM ch GROUP BY chunk),
      surv AS (SELECT f.doc_id AS doc_id, f.cidx AS cidx, chunk FROM kept),
      agg AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY cidx) AS text_dedup,
                CAST(count(*) AS INT) AS n_kept
              FROM surv GROUP BY doc_id),
      tot AS (SELECT doc_id, CAST(count(*) AS INT) AS n_chunks
              FROM ch GROUP BY doc_id)
      SELECT doc.doc_id,
             coalesce(agg.text_dedup, '') AS text_dedup,
             coalesce(agg.n_kept, 0) AS n_kept,
             coalesce(tot.n_chunks, 0) AS n_chunks
      FROM documents doc
      LEFT JOIN agg ON doc.doc_id = agg.doc_id
      LEFT JOIN tot ON doc.doc_id = tot.doc_id""",

    // q242: q241's CDC recompute restricted to the batch ids
    "q242_cdc_chunk_index" -> s"""
      WITH tk AS (SELECT doc_id, ${sqlTokens("text")} AS t FROM documents),
      d AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) > 0),
      tok AS (SELECT doc_id, u.i AS ord, t[u.i] AS tok
              FROM d, unnest(generate_series(1, n)) AS u(i)),
      fl AS (SELECT doc_id, ord, tok,
               CASE WHEN substr(md5(tok), 1, 1) IN ('0', '1')
                 THEN 1 ELSE 0 END AS flag
             FROM tok),
      cidt AS (SELECT doc_id, ord, tok,
                 CAST(coalesce(SUM(flag) OVER (PARTITION BY doc_id ORDER BY ord
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT)
                   AS cidx
               FROM fl),
      ch AS (SELECT doc_id, cidx,
               string_agg(tok, ' ' ORDER BY ord) AS chunk
             FROM cidt GROUP BY doc_id, cidx),
      kept AS (SELECT chunk, min(struct_pack(doc_id := doc_id, cidx := cidx)) AS f
               FROM ch GROUP BY chunk),
      surv AS (SELECT f.doc_id AS doc_id, f.cidx AS cidx, chunk FROM kept),
      agg AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY cidx) AS text_dedup,
                CAST(count(*) AS INT) AS n_kept
              FROM surv GROUP BY doc_id),
      tot AS (SELECT doc_id, CAST(count(*) AS INT) AS n_chunks
              FROM ch GROUP BY doc_id)
      SELECT doc.doc_id,
             coalesce(agg.text_dedup, '') AS text_dedup,
             coalesce(agg.n_kept, 0) AS n_kept,
             coalesce(tot.n_chunks, 0) AS n_chunks
      FROM documents doc
      LEFT JOIN agg ON doc.doc_id = agg.doc_id
      LEFT JOIN tot ON doc.doc_id = tot.doc_id
      WHERE doc.doc_id * 2 >= (SELECT max(doc_id) + 1 FROM documents)""",

    // q243: dispatched ingest ≡ one-shot CC, no duplicate raw comps
    // rows, no surviving merge events -> empty
    "q243_components_dispatch_check" -> """
      SELECT CAST(doc_id AS BIGINT) AS id, CAST(doc_id AS BIGINT) AS rep
      FROM documents WHERE FALSE""",

    // q244: holdout-positive count recomputed exactly (the q234 label in
    // SQL); the recall floors are the model contract (q235 convention)
    "q244_distributed_classifier_check" -> s"""
      WITH tk AS (SELECT doc_id, ${sqlTokens("lower(text)")} AS t
                  FROM documents WHERE doc_id % 2 = 1)
      SELECT count(*) AS n_holdout_pos,
             TRUE AS driver_underfits, TRUE AS dist_above_floor
      FROM tk
      WHERE len(list_filter(t, x -> x = 'window')) >
            len(list_filter(t, x -> x = 'scan'))""",

    // q246: conservation is order-independent — empty by the telescoping
    // identity for ANY merge sequence; WHERE FALSE oracle
    "q246_bpe_batched_conservation" -> """
      SELECT CAST(doc_id AS BIGINT) AS initial_symbols,
             CAST(doc_id AS BIGINT) AS sum_applied,
             CAST(doc_id AS BIGINT) AS final_symbols
      FROM documents WHERE FALSE""",

    // q247: query count recomputed exactly; the recall floor is the
    // operator's measured contract (q232 convention)
    "q247_ivfpq_auto_recall_check" -> """
      SELECT count(*) AS n_queries, TRUE AS above_floor
      FROM embeddings WHERE vec_id < 10""",

    // q248: the manifest-pruned scan must equal a plain filtered
    // aggregate over the table — pruning is file-granular and re-applies
    // the predicate, so the band's rows are exactly the filter's
    "q248_manifest_scan" -> s"""
      SELECT o_orderpriority, count(*) AS n_orders,
             ${sqlDsum("o_totalprice")} AS sum_price
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate <= TIMESTAMP '1995-03-31'
      GROUP BY 1""",

    // q249: pruned ≡ full, files skipped, empty band reads nothing ->
    // empty
    "q249_manifest_prune_check" -> """
      SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS VARCHAR) AS detail
      FROM orders WHERE FALSE""",

    // q251: composed-index lifecycle probe ≡ the in-memory composed form
    // with the same models; no duplicate code rows after compaction —
    // empty, WHERE FALSE oracle
    "q251_ivfpq_index_check" -> """
      SELECT CAST(vec_id AS BIGINT) AS query_id,
             CAST(vec_id AS BIGINT) AS neighbor_id,
             CAST(0 AS INT) AS rank
      FROM embeddings WHERE FALSE""",

    // q252: query count recomputed exactly; the recall floor is the
    // operator's measured contract (q247 convention)
    "q252_ivfpq_index_recall_check" -> """
      SELECT count(*) AS n_queries, TRUE AS above_floor
      FROM embeddings WHERE vec_id < 10""",

    // q253: query count recomputed exactly; the under/over-floor
    // contrast is the codebook-lifecycle contract (q244 convention)
    "q253_pq_retrain_check" -> """
      SELECT count(*) AS n_queries,
             TRUE AS bootstrap_underperforms,
             TRUE AS retrain_above_floor,
             TRUE AS retrain_improves
      FROM embeddings WHERE vec_id BETWEEN 50 AND 59""",

    // q254: the bloom-pruned point scan must equal the plain IN-filter —
    // the probe keys (min, midpoint-successor, max of o_orderkey) are
    // recomputed by the same integer arithmetic
    "q254_manifest_point_lookup" -> """
      WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders),
           m AS (SELECT min(o_orderkey) AS md FROM orders, b
                 WHERE o_orderkey >= (b.lo + b.hi) // 2)
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders, b, m
      WHERE o_orderkey IN (b.lo, m.md, b.hi)""",

    // q255: pruned ≡ IN-filter, ≥90% files skipped, absent key bounded
    // by the false-positive allowance -> empty
    "q255_manifest_point_prune_check" -> """
      SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS VARCHAR) AS detail
      FROM orders WHERE FALSE""",

    // q256: wide-blocking lifecycle probe ≡ direct recompute, and
    // identical before/after compaction of a replayed ingest — empty,
    // WHERE FALSE oracle
    "q256_sig_wide_blocking_check" -> """
      SELECT CAST(doc_id AS BIGINT) AS existing_id,
             CAST(doc_id AS BIGINT) AS incoming_id,
             CAST(0 AS INT) AS hamming
      FROM documents WHERE FALSE"""
  )

  /** Shared CTE chain of the q198/q199 oracles: word quotient →
    * position×length substring explosion (maxLen 8) → frequency counts →
    * vocabulary = all single chars + top-200 multi-char by
    * (cnt DESC, piece ASC) — mirrors [[graft.ext.TextAnalysis.substringVocab]]
    * constant for constant.
    */
  private def wordpieceVocabCtes: String = s"""
      tk AS (SELECT unnest(${sqlTokens("lower(text)")}) AS w FROM documents),
      wq AS (SELECT w, count(*) AS freq FROM tk GROUP BY w),
      pos AS (SELECT w, freq, unnest(generate_series(1, length(w))) AS i FROM wq),
      pl AS (SELECT w, freq, i,
               unnest(generate_series(1, LEAST(8, length(w) - i + 1))) AS l
             FROM pos),
      subs AS (SELECT substr(w, i, l) AS piece, CAST(SUM(freq) AS BIGINT) AS cnt
               FROM pl GROUP BY 1),
      vocab AS (
        SELECT piece, cnt FROM subs WHERE length(piece) = 1
        UNION ALL
        SELECT piece, cnt FROM (
          SELECT piece, cnt FROM subs WHERE length(piece) >= 2
          ORDER BY cnt DESC, piece ASC LIMIT 200))"""

  /** Unrolled DuckDB PageRank oracle: iteration CTEs generated to mirror
    * [[graft.ext.Graph.pageRank]]'s exact integer recurrence — literal
    * 0.85/0.15 constants and identical expression shapes, since the
    * whole point is IEEE-step-for-step equality.
    */
  private def pageRankOracleSql(iterations: Int): String = {
    val fp = s"md5(array_to_string(list_sort(list_distinct(${sqlTokens("lower(text)")})), ' '))"
    val iterCtes = (1 to iterations).map { i =>
      s"""tm$i AS (SELECT id, CAST(FLOOR(CAST(rm AS DOUBLE) / outdeg + 0.5) AS BIGINT) AS term FROM r${i - 1}),
      c$i AS (SELECT e.dst AS id, SUM(tm$i.term) AS contrib
              FROM e JOIN tm$i ON e.src = tm$i.id GROUP BY e.dst),
      r$i AS MATERIALIZED (SELECT p.id, p.outdeg,
                CAST(FLOOR(0.15 * 1e6 / nn.n + 0.5) AS BIGINT)
                  + CAST(FLOOR(0.85 * COALESCE(c$i.contrib, 0) + 0.5) AS BIGINT) AS rm
              FROM r${i - 1} p LEFT JOIN c$i ON p.id = c$i.id, nn)"""
    }.mkString(",\n      ")
    s"""
      WITH t AS MATERIALIZED (SELECT doc_id, $fp AS fp FROM documents),
      g AS (SELECT fp FROM t GROUP BY fp HAVING count(*) >= 2),
      nd AS MATERIALIZED (SELECT t.doc_id AS id, t.fp FROM t JOIN g USING (fp)),
      e AS MATERIALIZED (SELECT a.id AS src, b.id AS dst
            FROM nd a JOIN nd b ON a.fp = b.fp AND a.id <> b.id),
      dg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY src),
      nn AS MATERIALIZED (SELECT count(*) AS n FROM dg),
      r0 AS MATERIALIZED (SELECT dg.id, dg.outdeg,
             CAST(FLOOR(1e6 / nn.n + 0.5) AS BIGINT) AS rm FROM dg, nn),
      $iterCtes
      SELECT id AS doc_id, rm AS rank_micro,
             CAST(rm AS DOUBLE) / 1e6 AS rank FROM r$iterations"""
  }

  // ===========================================================================
  // Deterministic partial checks for the no-oracle (approximate) queries
  // ===========================================================================

  /** Row-count + schema pins for the queries with no SQL-expressible DuckDB
    * oracle. Every one of these operators is DETERMINISTIC by construction
    * (hash-derived planes/signatures/shingles, driver k-means on a
    * hash-spread sample, HLL sketch merges — no RNG, no shuffle-order
    * float dependence), so at a fixed scale factor the row count and
    * schema are exact constants: a pinned (rows, schema) pair is a real
    * regression gate on both dimensions, leaving only the value hash to
    * the recall / precision companion queries (q92-q101, q112, q119).
    *
    * Keyed by sf-dir basename — pinned at ALL THREE driver scale factors,
    * so a driver verify at any of them emits checked rows instead of
    * `"unpinned"`; [[Verify]] emits `partial_checks.json` from this next
    * to the driver's dump, and PartialChecksSpec enforces the sf0.001 and
    * sf0.01 pins in `sbt test` (sf0.1 is checked by the driver's own
    * verify — re-measure all three when an operator legitimately changes).
    *
    * The `sf1` key pins the 10x ScaleUp replica (basename `sf1`, built by
    * `ScaleUp /root/testdata/sf0.1 /tmp/sf1 10`) so scaling runs are
    * row-checked too, not just timed. ScaleUp is deterministic
    * (token-salted documents, sign-flipped embeddings, key-shifted
    * lineitem/orders), so these are exact constants like the driver SFs.
    * Replica caveats, scoped per query: q118 and q157 split the corpus on
    * an ABSOLUTE doc_id boundary (400), and the replica's id-shifted
    * copies land entirely on the "incoming" side — the pinned counts are
    * valid determinism gates at this dir, but their sf0.1 -> sf1 ratios
    * measure a different batch/corpus mix than a true 10x of the same
    * split (BASELINE.md records them with that caveat, not as exponents).
    */
  def partialExpectations: Map[String, Map[String, (Long, String)]] = {
    // schemas are scale-invariant; only the row pins vary per sf
    val schemas = Map(
      "q27_minhash_lsh" -> "id_a:bigint,id_b:bigint,jaccard:double",
      "q28_simhash" -> "id_a:bigint,id_b:bigint,hamming:int",
      "q30_lsh_topk" -> "query_id:bigint,neighbor_id:bigint,rank:int",
      "q53_approx_distinct" -> "l_returnflag:string,approx_parts:bigint,exact_parts:bigint",
      "q56_ivf_topk" -> "query_id:bigint,neighbor_id:bigint,rank:int",
      "q70_lsh_recall" -> "query_id:bigint,n_exact:bigint,n_hit:bigint,recall:double",
      "q71_ivf_recall" -> "query_id:bigint,n_exact:bigint,n_hit:bigint,recall:double",
      "q72_minhash_recall" -> "n_exact:bigint,n_found:bigint,recall:double",
      "q73_cosine_pairs_bucketed" -> "id_a:bigint,id_b:bigint",
      "q87_sq8_topk" -> "query_id:bigint,neighbor_id:bigint,rank:int",
      "q88_sq8_recall" -> "query_id:bigint,n_exact:bigint,n_hit:bigint,recall:double",
      "q91_lsh_sq8_topk" -> "query_id:bigint,neighbor_id:bigint,rank:int",
      "q111_semantic_dedup" -> "vec_id:bigint,cluster_rep:bigint,keep:boolean",
      "q118_incremental_dedup" -> "existing_id:bigint,incoming_id:bigint,jaccard:double",
      "q131_semantic_ingest" -> "vec_id:bigint,accept:boolean,blocked_by:bigint",
      "q144_source_overlap_lsh" -> "source_a:string,source_b:string,n_pairs:bigint",
      "q155_cluster_sample" -> "vec_id:bigint,cell:bigint",
      "q157_incremental_overlap" ->
        "source_existing:string,source_incoming:string,n_pairs:bigint",
      "q159_degree_distribution" -> "degree:bigint,n_docs:bigint",
      "q174_pair_budget" ->
        "n_vectors:bigint,planes:int,tables:int,est_candidates:bigint,budget_pairs:bigint,within_budget:boolean",
      "q182_bpe_merges" ->
        "rank:int,sym_a:string,sym_b:string,merged:string,pair_count:bigint,applied_count:bigint",
      "q245_bpe_merges_batched" ->
        "rank:int,sym_a:string,sym_b:string,merged:string,pair_count:bigint,applied_count:bigint",
      "q184_bpe_token_counts" ->
        "doc_id:bigint,n_words:bigint,n_bpe_tokens:bigint,n_word_chars:bigint",
      "q187_hll_rollup" ->
        "source:string,n_cells:bigint,est_merged:bigint,est_direct:bigint",
      "q189_windowed_distinct" -> "win_start:timestamp_ntz,est_users:bigint",
      "q192_hll_intersect" ->
        "set_a:string,set_b:string,est_a:bigint,est_b:bigint,est_union:bigint,est_intersect:bigint",
      "q200_ivf_index_topk" -> "query_id:bigint,neighbor_id:bigint,rank:int",
      "q202_ivf_index_ingest" -> "query_id:bigint,neighbor_id:bigint,rank:int",
      "q204_dedup_index" -> "existing_id:bigint,incoming_id:bigint,jaccard:double",
      "q208_semantic_ingest_index" -> "vec_id:bigint,accept:boolean,blocked_by:bigint",
      "q226_text_components_index" -> "id:bigint,rep:bigint",
      "q229_pq_topk" -> "query_id:bigint,neighbor_id:bigint,rank:int",
      "q234_quality_classifier" -> "doc_id:bigint,score:double,predicted:boolean",
      "q236_pq_index" -> "query_id:bigint,neighbor_id:bigint,rank:int",
      "q250_ivfpq_index" -> "query_id:bigint,neighbor_id:bigint,rank:int",
      "q231_ivfpq_topk" -> "query_id:bigint,neighbor_id:bigint,rank:int")
    val rows = Map(
      "sf0.001" -> Map(
        "q226_text_components_index" -> 500L,
        "q27_minhash_lsh" -> 32191L, "q28_simhash" -> 27L, "q30_lsh_topk" -> 50L,
        "q53_approx_distinct" -> 3L, "q56_ivf_topk" -> 50L, "q229_pq_topk" -> 50L, "q231_ivfpq_topk" -> 50L, "q236_pq_index" -> 50L, "q250_ivfpq_index" -> 50L, "q234_quality_classifier" -> 250L, "q200_ivf_index_topk" -> 50L, "q202_ivf_index_ingest" -> 50L, "q208_semantic_ingest_index" -> 250L, "q204_dedup_index" -> 17274L, "q70_lsh_recall" -> 10L,
        "q71_ivf_recall" -> 10L, "q72_minhash_recall" -> 1L,
        "q73_cosine_pairs_bucketed" -> 62L, "q87_sq8_topk" -> 50L,
        "q88_sq8_recall" -> 10L, "q91_lsh_sq8_topk" -> 50L,
        "q111_semantic_dedup" -> 500L, "q118_incremental_dedup" -> 10118L,
        "q131_semantic_ingest" -> 100L, "q144_source_overlap_lsh" -> 210L,
        "q155_cluster_sample" -> 112L, "q157_incremental_overlap" -> 400L,
        "q159_degree_distribution" -> 104L, "q174_pair_budget" -> 1L,
        "q182_bpe_merges" -> 30L, "q245_bpe_merges_batched" -> 89L,
        "q184_bpe_token_counts" -> 500L,
        "q187_hll_rollup" -> 20L, "q189_windowed_distinct" -> 531L,
        "q192_hll_intersect" -> 10L),
      "sf0.01" -> Map(
        "q226_text_components_index" -> 500L,
        "q27_minhash_lsh" -> 30328L, "q28_simhash" -> 17L, "q30_lsh_topk" -> 50L,
        "q53_approx_distinct" -> 3L, "q56_ivf_topk" -> 50L, "q229_pq_topk" -> 50L, "q231_ivfpq_topk" -> 50L, "q236_pq_index" -> 50L, "q250_ivfpq_index" -> 50L, "q234_quality_classifier" -> 250L, "q200_ivf_index_topk" -> 50L, "q202_ivf_index_ingest" -> 50L, "q208_semantic_ingest_index" -> 250L, "q204_dedup_index" -> 17037L, "q70_lsh_recall" -> 10L,
        "q71_ivf_recall" -> 10L, "q72_minhash_recall" -> 1L,
        "q73_cosine_pairs_bucketed" -> 51L, "q87_sq8_topk" -> 50L,
        "q88_sq8_recall" -> 10L, "q91_lsh_sq8_topk" -> 50L,
        "q111_semantic_dedup" -> 500L, "q118_incremental_dedup" -> 10262L,
        "q131_semantic_ingest" -> 100L, "q144_source_overlap_lsh" -> 210L,
        "q155_cluster_sample" -> 112L, "q157_incremental_overlap" -> 400L,
        "q159_degree_distribution" -> 101L, "q174_pair_budget" -> 1L,
        "q182_bpe_merges" -> 30L, "q245_bpe_merges_batched" -> 89L,
        "q184_bpe_token_counts" -> 500L,
        "q187_hll_rollup" -> 20L, "q189_windowed_distinct" -> 720L,
        "q192_hll_intersect" -> 10L),
      "sf0.1" -> Map(
        "q226_text_components_index" -> 5000L,
        "q27_minhash_lsh" -> 2968391L, "q28_simhash" -> 525L, "q30_lsh_topk" -> 50L,
        "q53_approx_distinct" -> 3L, "q56_ivf_topk" -> 50L, "q229_pq_topk" -> 50L, "q231_ivfpq_topk" -> 50L, "q236_pq_index" -> 50L, "q250_ivfpq_index" -> 50L, "q234_quality_classifier" -> 2500L, "q200_ivf_index_topk" -> 50L, "q202_ivf_index_ingest" -> 50L, "q208_semantic_ingest_index" -> 1000L, "q204_dedup_index" -> 769224L, "q70_lsh_recall" -> 10L,
        "q71_ivf_recall" -> 10L, "q72_minhash_recall" -> 1L,
        "q73_cosine_pairs_bucketed" -> 848L, "q87_sq8_topk" -> 50L,
        "q88_sq8_recall" -> 10L, "q91_lsh_sq8_topk" -> 50L,
        "q111_semantic_dedup" -> 2000L, "q118_incremental_dedup" -> 452469L,
        "q131_semantic_ingest" -> 1600L, "q144_source_overlap_lsh" -> 210L,
        "q155_cluster_sample" -> 400L, "q157_incremental_overlap" -> 400L,
        "q159_degree_distribution" -> 487L, "q174_pair_budget" -> 1L,
        "q182_bpe_merges" -> 30L, "q245_bpe_merges_batched" -> 90L,
        "q184_bpe_token_counts" -> 5000L,
        "q187_hll_rollup" -> 20L, "q189_windowed_distinct" -> 720L,
        "q192_hll_intersect" -> 10L),
      "sf1" -> Map(
        "q226_text_components_index" -> 50000L,
        "q27_minhash_lsh" -> 29682497L, "q28_simhash" -> 6190L, "q30_lsh_topk" -> 50L,
        "q53_approx_distinct" -> 3L, "q56_ivf_topk" -> 50L, "q229_pq_topk" -> 50L, "q231_ivfpq_topk" -> 50L, "q236_pq_index" -> 50L, "q250_ivfpq_index" -> 50L, "q234_quality_classifier" -> 25000L, "q200_ivf_index_topk" -> 50L, "q202_ivf_index_ingest" -> 50L, "q208_semantic_ingest_index" -> 10000L, "q204_dedup_index" -> 769224L, "q70_lsh_recall" -> 10L,
        "q71_ivf_recall" -> 10L, "q72_minhash_recall" -> 1L,
        "q73_cosine_pairs_bucketed" -> 89697L, "q87_sq8_topk" -> 50L,
        "q88_sq8_recall" -> 10L, "q91_lsh_sq8_topk" -> 50L,
        "q111_semantic_dedup" -> 20000L, "q118_incremental_dedup" -> 452469L,
        "q131_semantic_ingest" -> 19600L, "q144_source_overlap_lsh" -> 210L,
        "q155_cluster_sample" -> 4029L, "q157_incremental_overlap" -> 400L,
        "q159_degree_distribution" -> 528L, "q174_pair_budget" -> 1L,
        "q182_bpe_merges" -> 30L, "q245_bpe_merges_batched" -> 256L,
        "q184_bpe_token_counts" -> 50000L,
        "q187_hll_rollup" -> 20L, "q189_windowed_distinct" -> 720L,
        "q192_hll_intersect" -> 10L),
      // 100× replica (basename `sf10`, ScaleUp factor 100): the
      // SCALE-INVARIANT heads only — 10 fixed queries × k=5 top-k (50
      // rows), 10-row recall frames, the 3-group HLL check, and the
      // 1-row budget report (which flips within_budget=false here — the
      // governed regime). Corpus-sized outputs (pair sets, dedup frames)
      // are pinned through sf1; at sf10 they are timed by ScaleBench, and
      // q73's governed path refuses by design.
      "sf10" -> Map(
        "q226_text_components_index" -> 500000L,
        "q30_lsh_topk" -> 50L, "q53_approx_distinct" -> 3L,
        "q56_ivf_topk" -> 50L, "q229_pq_topk" -> 50L, "q231_ivfpq_topk" -> 50L, "q236_pq_index" -> 50L, "q250_ivfpq_index" -> 50L, "q234_quality_classifier" -> 250000L, "q200_ivf_index_topk" -> 50L, "q202_ivf_index_ingest" -> 50L, "q208_semantic_ingest_index" -> 100000L, "q70_lsh_recall" -> 10L,
        "q71_ivf_recall" -> 10L, "q87_sq8_topk" -> 50L,
        "q88_sq8_recall" -> 10L, "q91_lsh_sq8_topk" -> 50L,
        "q174_pair_budget" -> 1L,
        "q182_bpe_merges" -> 30L, "q245_bpe_merges_batched" -> 256L,
        "q184_bpe_token_counts" -> 500000L,
        "q187_hll_rollup" -> 20L, "q189_windowed_distinct" -> 720L,
        "q192_hll_intersect" -> 10L))
    rows.map { case (sf, m) => sf -> m.map { case (q, r) => q -> (r, schemas(q)) } }
  }
}
