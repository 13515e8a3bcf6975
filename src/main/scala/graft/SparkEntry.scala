package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Agg, Match, Text, TopK}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 lands here as a named query over
  * the `/root/testdata/sf*` fixtures, paired (when SQL-expressible)
  * with DuckDB oracle SQL in [[oracleSql]]. Determinism rules: every
  * query ends in a total-order `orderBy`; every computed column is
  * aliased identically on both sides; doubles that accumulate across
  * partitions are rounded to a fixed scale on both sides.
  */
object SparkEntry {

  /** Single source of truth for the LSH/fingerprint bucket-size cap:
    * every oracle SQL `HAVING count(*) <= $MaxBucketCap` below
    * interpolates this so the Scala default ([[graft.ext.Dedup.DefaultMaxBucket]])
    * and the DuckDB mirrors can never drift.
    */
  private val MaxBucketCap: Int = graft.ext.Dedup.DefaultMaxBucket

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Community-discovery-shaped: per-source keyword relevance over
    * `documents` (SURVEY.md §3.2 mapped onto the fixture tables).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val kws = Seq("spark", "query", "stream")
    val docs = Tables.documents(spark, dir)
    docs
      .withColumn("hits", Match.matchedKeywords(col("text"), kws))
      .filter(size(col("hits")) > 0)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(col("hits"))).as("total_hits"),
        flatten(collect_list(col("hits"))).as("found_via"))
      .withColumn("found_via", Text.joinSorted(array_distinct(col("found_via"))))
      .orderBy(desc("total_hits"), asc("source"))
  }

  // ---------------------------------------------------------------------------
  // Query inventory. Names sort lexicographically in rough SURVEY §2 order.
  // ---------------------------------------------------------------------------

  private type Q = (SparkSession, String) => DataFrame

  /** q01 — A4/X13 + TPC-H Q1-style pricing summary: scan with pushed
    * time predicate, hash aggregate with partial/final (SURVEY A4,
    * X13).
    *
    * Money/ratio readouts are EXACT, not rounded doubles: prices and
    * discounts are 2-dec decimals by construction, so sums ride
    * decimal arithmetic (order-independent — a double sum's last ulp
    * depends on partial-aggregation order, and the r15 guard-band
    * sweep caught sum_disc_price sitting 1 ulp from a .5-at-cents
    * boundary, i.e. one unlucky task schedule from a driver red) and
    * averages ride [[graft.ops.Exact.ratio]] integer floor division.
    * The final cast to double is IEEE-nearest of an exact value —
    * bit-stable on every engine.
    */
  private val q01PricingSummary: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val qty = col("l_quantity").cast("long")
    val ext2 = col("l_extendedprice").cast("decimal(18,2)")
    val disc2 = col("l_discount").cast("decimal(18,2)")
    val disc100 = round(col("l_discount") * 100, 0).cast("long")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(qty).cast("double").as("sum_qty"),
        sum(ext2).cast("double").as("sum_base_price"),
        sum(ext2 * (lit(1).cast("decimal(3,2)") - disc2)).cast("double")
          .as("sum_disc_price"),
        graft.ops.Exact.ratio(sum(qty), count(lit(1)), 6).as("avg_qty"),
        graft.ops.Exact.ratio(sum(disc100), count(lit(1)) * 100, 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q02 — J1 broadcast dim join chain customer⋈nation⋈region + rollup
    * per region (SURVEY J1). nation/region are tiny dims → broadcast
    * hash join, no shuffle of the fact side.
    */
  private val q02RegionRollup: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        // exact decimal sum (the q01 money convention)
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("total_acctbal"))
      .orderBy(col("r_name"))
  }

  /** q03 — J2 fact⋈fact equi-join orders⋈lineitem + revenue per
    * priority (SURVEY J2). Both sides shuffle on the join key once;
    * aggregation reuses the join's partitioning where possible.
    */
  private val q03RevenueByPriority: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    o.join(li, o("o_orderkey") === li("l_orderkey"))
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
      .groupBy(col("o_orderpriority"))
      .agg(
        // exact decimal revenue sum (the q01 money convention)
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))
  }

  /** q04 — J3 existence semi-join: orders having ≥1 high-quantity
    * lineitem (the reference's `break`-on-first-hit comment probe,
    * `app.py:56-59`, is exactly left-semi early-out).
    */
  private val q04SemiJoin: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val hi = Tables.lineitem(s, dir).filter(col("l_quantity") >= 49).select(col("l_orderkey"))
    o.join(hi, o("o_orderkey") === hi("l_orderkey"), "left_semi")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"))
  }

  /** q05 — J3-dual anti-join: customers with no orders (the natural
    * anti-join formulation of the tombstone-exclusion checks F3).
    */
  private val q05AntiJoin: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** q06 — W2 per-group top-k: top 3 orders by totalprice per
    * priority (the reference's `subreddit.top(limit=k)`, `app.py:83`).
    */
  private val q06TopKPerGroup: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    TopK.perGroupTopK(o,
        groupCols = Seq(col("o_orderpriority")),
        orderCols = Seq(desc("o_totalprice"), asc("o_orderkey")),
        k = 3)
      .select(col("o_orderpriority"), col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_orderpriority"), desc("o_totalprice"), col("o_orderkey"))
  }

  /** q07 — W1 per-group head limit: first 2 orders per customer in
    * date order with a unique tie-break (the `[:comment_limit]` slice,
    * `app.py:116` — head-k needs a total order, SURVEY §7.4), then
    * rolled up so the output stays small at any SF.
    */
  private val q07PerGroupHead: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    TopK.perGroupTopK(o,
        groupCols = Seq(col("o_custkey")),
        orderCols = Seq(asc("o_orderdate"), asc("o_orderkey")),
        k = 2)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** q08 — O1/W3 multi-key desc sort + global limit
    * (`sort_values(by=[...], ascending=[False,False])` + `limit`,
    * `app.py:71,39`). TakeOrderedAndProject at execution — no full sort.
    */
  private val q08SortLimit: Q = (s, dir) => {
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(100)
  }

  /** q09 — S1/F8 filtered scan + projection + limit with pushdown:
    * predicate and column pruning reach the parquet reader.
    */
  private val q09FilterProject: Q = (s, dir) => {
    Tables.part(s, dir)
      .filter(col("p_size") >= 25 && col("p_retailprice") > 950.0)
      .select(col("p_partkey"), col("p_name"), col("p_brand"), round(col("p_retailprice"), 2).as("p_retailprice"))
      .orderBy(col("p_partkey"))
      .limit(50)
  }

  /** q10 — X13 time-window predicate + A4 count (the
    * `time_filter=month` server-side window, `app.py:47,83`).
    */
  private val q10TimeWindowCount: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** q11 — exact distinct count per group (dedup-cardinality
    * correctness anchor for the ⊕ sketch variants).
    */
  private val q11DistinctCount: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))
      .orderBy(col("l_returnflag"))
  }

  /** q12 — A5 union of per-source results (`all_signals.extend`,
    * `app.py:300`): two filtered subsets unioned by name then reduced.
    */
  private val q12UnionCounts: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val hi = o.filter(col("o_totalprice") > 200000.0)
    val lo = o.filter(col("o_totalprice") < 50000.0)
    hi.unionByName(lo)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_orderstatus"))
  }

  /** q13 — S1/F5 keyword search scan: the engine's core predicate,
    * case-insensitive substring over document text (`app.py:58,98,133`)
    * with projection + limit pushed to the parquet scan.
    */
  private val q13KeywordSearch: Q = (s, dir) => {
    Tables.documents(s, dir)
      .filter(Match.containsKeyword(col("text"), "spark"))
      .select(col("doc_id"), col("source"), col("lang"))
      .orderBy(col("doc_id"))
      .limit(100)
  }

  /** q14 — A3 matched-keyword set + X11 first-match + F7 relevance
    * hits, all row-local array HOFs (`app.py:98,132-142`).
    */
  private val q14MatchedKeywords: Q = (s, dir) => {
    val kws = Seq("spark", "merge", "stream")
    Tables.documents(s, dir)
      .withColumn("matched", Match.matchedKeywords(col("text"), kws))
      .filter(size(col("matched")) > 0)
      .select(
        col("doc_id"),
        Text.joinSorted(col("matched")).as("matched"),
        Match.firstMatch(col("text"), kws).as("first_match"),
        Match.relevanceHits(col("text"), kws).as("hits"))
      .orderBy(col("doc_id"))
  }

  /** q15 — X1/X2/X7 text cleaning projection: whitespace-normalize,
    * lowercase, truncate+ellipsis (`app.py:94-96`,
    * `devcontainer.json:75`).
    */
  private val q15CleanProject: Q = (s, dir) => {
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        Text.truncateEllipsis(lower(Text.cleanText(col("text"))), 80).as("snippet"),
        length(Text.cleanText(col("text"))).as("clean_len"))
      .orderBy(col("doc_id"))
      .limit(200)
  }

  /** q16 — A1/A2/X5 community-style rollup: first-wins attribute via
    * min_by, sorted collect_set joined for display
    * (`app.py:42-43,51-52,68`).
    */
  private val q16FoundViaAgg: Q = (s, dir) => {
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        min_by(col("n_chars"), col("doc_id")).as("first_chars"),
        Text.joinSorted(Agg.collectSetSorted(col("lang"))).as("langs"))
      .orderBy(col("source"))
  }

  /** q17 — X10 additive relevance score + O1 multi-key desc sort
    * (`app.py:22-27,67,71`): channel membership becomes weighted
    * summands, communities ranked by score.
    */
  private val q17RelevanceScore: Q = (s, dir) => {
    val score =
      when(Match.containsKeyword(col("text"), "data"), 1).otherwise(0) +
      when(Match.containsKeyword(col("text"), "table"), 2).otherwise(0) +
      when(Match.containsKeyword(col("text"), "stream"), 3).otherwise(0)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), score.as("relevance_score"))
      .filter(col("relevance_score") > 0)
      .orderBy(desc("relevance_score"), asc("doc_id"))
      .limit(200)
  }

  /** q18 — A2 collect_set over events: the Found-Via accumulation
    * shape at scale (`groupBy(user_id).agg(collect_set(event_type))`,
    * FIXTURES.md). Partial-aggregated map-side; one shuffle on user_id.
    */
  private val q18EventTypeSets: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        Text.joinSorted(Agg.collectSetSorted(col("event_type"))).as("types"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** q19 — X14 ⊕ JSON extraction from `events.props`
    * (`get_json_object`, pushable column-level op; no UDF).
    */
  private val q19JsonExtract: Q = (s, dir) => {
    Tables.events(s, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        round(avg(col("k")), 6).as("avg_k"),
        max(col("k")).as("max_k"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** q20 — ⊕ tumbling-window aggregation over the events stream table
    * (batch form; Structured Streaming variant in graft.streaming).
    * Hour buckets via `window()`; start emitted as a formatted string
    * for cross-engine schema stability.
    */
  private val q20HourlyWindow: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** q21 — ⊕ A7 exact dedup with deterministic min-wins survivor
    * (distributed form of the reference's first-wins upsert,
    * `app.py:42,51`).
    */
  private val q21DedupExact: Q = (s, dir) => {
    ext.Dedup.exactDedup(Tables.documents(s, dir),
        Seq(col("source"), col("lang")), col("doc_id"))
      .orderBy(col("source"), col("lang"))
  }

  /** q22 — ⊕ A7 MinHash+LSH near-duplicate pairs over document text:
    * shingle → 8 md5-minhashes → 4 two-row bands → band-bucket
    * self-join → exact-Jaccard verify (≥0.8). No all-pairs compare.
    */
  private val q22MinhashNearDup: Q = (s, dir) => {
    ext.Dedup.nearDupPairs(Tables.documents(s, dir), col("doc_id"), col("text"))
  }

  /** q23 — ⊕ A7 SimHash near-dup pairs (custom Catalyst expression).
    * Hard-oracled: the FNV-1a-64 per-shingle hash and the bit-vote
    * signature are re-derived in HUGEINT arithmetic in the DuckDB SQL,
    * so signatures, segment banding, and the Hamming verify all
    * hash-compare; also cross-checked against the MinHash pipeline in
    * DedupSpec.
    */
  private val q23SimhashNearDup: Q = (s, dir) => {
    ext.Dedup.simhashNearDup(Tables.documents(s, dir), col("doc_id"), col("text"))
  }

  /** q24 — ⊕ X15 exact brute-force kNN over embeddings: broadcast
    * query vectors, codegen'd double-fold dot product, per-query top-k
    * (W2 pattern). The exact baseline the ANN variants are judged
    * against.
    */
  private val q24KnnBrute: Q = (s, dir) => {
    ext.Similarity.bruteForceKnn(Tables.embeddings(s, dir),
      col("vec_id"), col("embedding"), queryIds = Seq(0L, 1L, 2L), k = 10)
  }

  /** q25 — ⊕ X15/A7 embedding-cosine near-dup pairs: exact O(n²)
    * baseline with per-row normalization (norms never recomputed per
    * pair). The LSH scale path is q26.
    */
  private val q25CosinePairs: Q = (s, dir) => {
    ext.Similarity.cosinePairs(Tables.embeddings(s, dir),
      col("vec_id"), col("embedding"), threshold = 0.42)
  }

  /** q26 — ⊕ X15 ANN via random-hyperplane LSH. Hard-oracled: the ±1
    * Rademacher planes re-derive from md5 parity in the DuckDB SQL, so
    * bucketing + candidate generation + exact verify all hash-compare;
    * recall vs the exact q25 additionally asserted in SimilaritySpec.
    * All 16 bucket keys come from one codegen expression
    * ([[graft.functions.LshBuckets]]); maxBucket=10000 skew backstop
    * (mirrored in the oracle SQL's bucket-count HAVING).
    */
  private val q26AnnLsh: Q = (s, dir) => {
    ext.Similarity.annLshPairs(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), threshold = 0.42)
      .orderBy(col("id_a"), col("id_b"))
  }

  private val topicLexicons: Seq[(String, Seq[String])] = Seq(
    "storage"   -> Seq("table", "row", "column", "key", "part"),
    "exec"      -> Seq("scan", "filter", "join", "sort", "merge", "hash"),
    "streaming" -> Seq("stream", "window", "batch"),
    "general"   -> Seq("query", "data", "value"))

  /** q27 — ⊕ lexicon-argmax classification (train-free language/topic
    * ID): deterministic tie-break by label priority.
    */
  private val q27LangId: Q = (s, dir) => {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        ext.TextAnalysis.classifyByLexicon(col("text"), topicLexicons).as("topic"))
      .orderBy(col("doc_id"))
  }

  /** q28 — ⊕ quality scoring: token count, type-token ratio, mean
    * token length, composite score — row-local arithmetic only.
    */
  private val q28QualityScore: Q = (s, dir) => {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        ext.TextAnalysis.qualityScore(col("text")).as("quality"))
      .filter(ext.TextAnalysis.tokenCount(col("text")) > 0)
      .orderBy(col("doc_id"))
  }

  /** q29 — ⊕ token counting per source: whitespace tokens + BPE-ish
    * subword units, aggregated per source.
    */
  private val q29TokenStats: Q = (s, dir) => {
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(
        sum(ext.TextAnalysis.tokenCount(col("text"))).as("total_tokens"),
        sum(ext.TextAnalysis.unitCount(col("text"))).as("total_units"),
        round(avg(ext.TextAnalysis.tokenCount(col("text"))), 4).as("avg_tokens"))
      .orderBy(col("source"))
  }

  /** q30 — ⊕ document fingerprinting: md5 of normalized content +
    * per-fingerprint multiplicity (exact-dup detector at scale: the
    * fingerprint is the dedup key, so the heavy dedup shuffle carries
    * 32-byte keys instead of full documents).
    */
  private val q30Fingerprint: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    Tables.documents(s, dir)
      .select(col("doc_id"), ext.TextAnalysis.fingerprint(col("text")).as("fp"))
      .withColumn("n_same", count(lit(1)).over(w))  // one shuffle, no join
      .orderBy(col("doc_id"))
      .limit(200)
  }

  /** documents → posts-shaped adapter: the fixture stand-in for the
    * Reddit relations (FIXTURES.md: `source` ≈ subreddit, `text` ≈
    * title, `n_chars` ≈ score), used to drive the composed pipelines
    * through the oracle harness.
    */
  private[graft] def docsAsPosts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id").cast("string").as("post_id"),
      col("source").as("subreddit"),
      col("text").as("title"),
      lit("").as("selftext"),
      concat(lit("author_"), (col("doc_id") % 7).cast("string")).as("author"),
      col("n_chars").as("score"),
      lit("2024-01-01 00:00:00").cast("timestamp").as("created_utc"),
      concat(lit("/r/"), col("source"), lit("/"), col("doc_id").cast("string")).as("permalink"))

  private def emptyComments(s: SparkSession): DataFrame =
    s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      graft.model.Schemas.comments)

  /** documents → comments-shaped adapter: 4 deterministic comments per
    * doc (flat_idx 0..3) with planted tombstones (`[deleted]` bodies
    * and authors), nulls, and empty-after-clean bodies so every
    * comment-branch filter (F3/F4) and the budget-before-filter
    * ordering (`app.py:116-124`) is exercised through the oracle.
    * Bodies are shifted substrings of the doc text so keyword hits
    * vary by comment.
    */
  private[graft] def docsAsComments(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("idx", explode(array((0 until 4).map(lit(_)): _*)))
      .select(
        concat(col("doc_id").cast("string"), lit("_"), col("idx").cast("string")).as("comment_id"),
        col("doc_id").cast("string").as("post_id"),
        col("doc_id").cast("string").as("parent_id"),
        col("idx").cast("int").as("flat_idx"),
        when(col("idx") === 1 && col("doc_id") % 13 === 0, lit("[deleted]"))
          .when(col("idx") === 2 && col("doc_id") % 7 === 0, lit(null).cast("string"))
          .when(col("idx") === 3 && col("doc_id") % 5 === 0, lit(" "))
          .otherwise(col("text").substr(col("idx") * 20 + 1, lit(80))).as("body"),
        when((col("doc_id") + col("idx")) % 11 === 0, lit("[deleted]"))
          .otherwise(concat(lit("c_author_"), ((col("doc_id") + col("idx")) % 7).cast("string"))).as("author"),
        when((col("doc_id") + col("idx")) % 17 === 0, lit(null).cast("string"))
          .otherwise(concat(lit("/r/"), col("source"), lit("/"),
            col("doc_id").cast("string"), lit("/c"), col("idx").cast("string"))).as("permalink"))

  /** q31 — pipeline B (buying-signal scan, `app.py:74-151`) composed
    * end-to-end over the documents adapter: per-subreddit top-k budget,
    * tombstone filters, matched-keyword projection, branch union.
    */
  private val q31SignalScanDocs: Q = (s, dir) => {
    pipelines.SignalScan.run(docsAsPosts(s, dir), emptyComments(s),
      pipelines.SignalScan.Params(
        subreddits = (0 until 20).map(i => s"src$i"),
        keywords = Seq("spark", "merge"),
        postLimit = 5))
  }

  /** q32 — pipeline A (community discovery, `app.py:31-72`) composed
    * over the adapter (post channel; comment scan exercised in golden
    * tests): per-query post budget → community rollup → score → links.
    */
  private val q32CommunityDiscoveryDocs: Q = (s, dir) => {
    val subs = Tables.documents(s, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("subscribers"))
      .select(col("source").as("display_name"), col("subscribers"),
        lit(false).as("over18"), lit("").as("description"))
    pipelines.CommunityDiscovery.run(subs, docsAsPosts(s, dir), emptyComments(s),
      pipelines.CommunityDiscovery.Params(
        queries = Seq("spark", "stream"), postLimit = 10, scanComments = false))
  }

  /** q33 — S4 tree/array flatten: `posexplode` is the engine form of
    * the reference's comment-forest flatten (`comments.list()`,
    * `app.py:115-116`), with the position ordinal standing in for BFS
    * order (flat_idx) and the placeholder-prune filter
    * (`replace_more(limit=0)`) as a post-explode predicate.
    */
  private val q33ExplodeFlatten: Q = (s, dir) => {
    val toks = split(graft.ops.Text.cleanText(lower(col("text"))), " ")
    Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "word")))
      .filter(col("word") =!= "a")                                   // placeholder prune
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pos") === 0, 1L).otherwise(0L)).as("n_first"))
      .orderBy(desc("n"), asc("word"))
      .limit(50)
  }

  /** q34 — ⊕ A6 sketch aggregates: HLL++ approx distinct + exact
    * anchor. Sketch estimates are engine-specific, so the oracle-able
    * output is (exact values) + (booleans asserting the approx columns
    * sit within 3·rsd of exact); DuckDB emits the exact values and
    * literal TRUE — a hash mismatch means the sketch left its error
    * bound. Point estimates additionally bound-checked in
    * CoreQueriesSpec.
    */
  private val q34ApproxDistinct: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_suppkey")).as("exact_supps"),
        approx_count_distinct(col("l_partkey")).as("ap"),          // rsd 0.05
        approx_count_distinct(col("l_suppkey"), 0.01).as("asup"))
      .select(col("l_returnflag"), col("exact_parts"), col("exact_supps"),
        (col("ap") >= col("exact_parts") * 0.85 &&
          col("ap") <= col("exact_parts") * 1.15).as("approx_parts_ok"),
        (col("asup") >= col("exact_supps") * 0.97 &&
          col("asup") <= col("exact_supps") * 1.03).as("approx_supps_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** q35 — TPC-H Q5-shaped multi-join chain: fact⋈fact⋈fact with two
    * broadcast dims and a co-membership predicate; the canonical
    * "would this survive 100×" join-order test (Catalyst + AQE pick
    * broadcast for nation/region, shuffle joins for the facts).
    */
  private val q35MultiJoin: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir)
    val sup = Tables.supplier(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(li, o("o_orderkey") === li("l_orderkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey") &&
                 c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(r("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), asc("n_name"))
  }

  /** q36 — rollup/grouping-sets aggregation (not in the reference;
    * Catalyst's HashAggregate handles multi-level grouping natively —
    * SURVEY §2.4 "strictly more capable"). Null grouping keys are
    * projected to 'ALL' for engine-portable output.
    */
  private val q36Rollup: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("sum_qty"), col("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q37 — ⊕ multimodal frame sampling through the oracle harness:
    * documents' text bytes stand in for payloads (ASCII fixture →
    * byte length == char length); the frame-boundary arithmetic is
    * SQL-expressible even though binary slicing isn't, so the oracle
    * checks the exact partition-into-frames math.
    */
  private val q37FrameSample: Q = (s, dir) => {
    val media = Tables.documents(s, dir).select(
      col("doc_id").as("media_id"), lit("text").as("kind"),
      col("text").cast("binary").as("payload"),
      lit(null).cast(graft.model.Schemas.mediaMeta).as("meta"))
    ext.Multimodal.sampleFrames(media, 4)
      .select(col("media_id"), col("frame_idx"), col("frame_bytes"))
      .orderBy(col("media_id"), col("frame_idx"))
      .limit(400)
  }

  /** q38 — ⊕ X15 ANN via IVF (k-means inverted file). Hard-oracled:
    * centroid quantization (`quantize = Some(9)`) makes the unrolled
    * Lloyd rounds reproducible in ANSI SQL, so train + assign + search
    * all hash-compare; recall vs exact kNN additionally asserted in
    * SimilaritySpec. The normalized+assigned table is cached once in
    * the model and shared by the Lloyd rounds and the single-pass
    * search.
    */
  private val q38AnnIvf: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val model = ext.Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    ext.Similarity.ivfSearch(model, queryIds = Seq(0L, 1L, 2L), nprobe = 4, k = 10)
  }

  /** q39 — ⊕ sessionization (batch form of
    * [[graft.streaming.EventStream.sessionCounts]]): `session_window`
    * merges events within a 10-minute gap; oracled by the classic
    * gaps-and-islands SQL (new session when the gap to the previous
    * event is ≥ the window gap — Spark merges strictly-closer events).
    */
  private val q39Sessionize: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "10 minutes").as("session"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("user_id"),
        date_format(col("session.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q40 — ⊕ A7 winnowing (rolling-hash) fingerprint near-dup pairs.
    * Hard-oracled: the Karp-Rabin rolling hash is re-derived in the
    * DuckDB SQL with a precomputed power table and the winnow-window
    * min as a ROWS window function, so fingerprints and shared counts
    * hash-compare; also cross-checked against MinHash pairs in
    * DedupSpec.
    */
  private val q40WinnowNearDup: Q = (s, dir) => {
    // long grams + high share floor: the fixture vocabulary is tiny, so
    // short substrings recur across unrelated docs
    ext.Dedup.winnowNearDup(Tables.documents(s, dir), col("doc_id"), col("text"),
      k = 24, w = 8, minShared = 10)
  }

  /** q41 — X4/X7/X8/X9 scalar string functions in one projection
    * (URL templating, truncate+ellipsis, prefix strip, startswith —
    * `app.py:69-70`, `devcontainer.json:75`, `app.py:296,41`).
    */
  private val q41StringFuncs: Q = (s, dir) => {
    Tables.documents(s, dir).select(
      col("doc_id"),
      ops.Text.stripPrefix(col("source"), "src").as("src_num"),
      ops.Text.urlOf("https://example.com/", col("source")).as("url"),
      ops.Text.truncateEllipsis(col("text"), 40).as("preview"),
      col("source").startsWith("src1").as("is_src1x"))
      .orderBy(col("doc_id"))
      .limit(200)
  }

  /** q42 — date/time function breadth (X13 family): component
    * extraction + day truncation + grouping by calendar month.
    */
  private val q42DatetimeFuncs: Q = (s, dir) => {
    Tables.orders(s, dir)
      .select(
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        col("o_totalprice"))
      .groupBy(col("y"), col("m"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("y"), col("m"))
  }

  /** q43 — pipeline B end-to-end WITH the comment branch (J2
    * parent-join + W1 head-k budget + F3/F4 tombstone filters + X11
    * first-match + X7 truncate — `app.py:113-142`): the
    * budget-THEN-filter ordering SURVEY §7.4 flags as easy to get
    * subtly wrong, hard-checked against the gaps-free SQL mirror.
    */
  private val q43SignalScanComments: Q = (s, dir) => {
    pipelines.SignalScan.run(docsAsPosts(s, dir), docsAsComments(s, dir),
      pipelines.SignalScan.Params(
        subreddits = (0 until 20).map(i => s"src$i"),
        keywords = Seq("spark", "merge"),
        postLimit = 5, commentLimit = 2, truncateTo = Some(60)))
  }

  /** q45 — pipeline A end-to-end with ALL three discovery channels
    * live (direct-search + post + comment evidence, `app.py:31-72`):
    * exercises F1/F2 exclusions, the J3 budget-then-semi-join comment
    * probe, and the additive X10 score over a multi-channel set.
    */
  private val q45CommunityComments: Q = (s, dir) => {
    val subs = Tables.documents(s, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("subscribers"), min(col("text")).as("description"))
      .select(col("source").as("display_name"), col("subscribers"),
        (col("source") === "src7").as("over18"), col("description"))
    pipelines.CommunityDiscovery.run(subs, docsAsPosts(s, dir), docsAsComments(s, dir),
      pipelines.CommunityDiscovery.Params(queries = Seq("spark", "stream"),
        directLimit = 5, postLimit = 10, commentLimit = 2, scanComments = true))
  }

  /** q44 — ⊕ multimodal decode driver-checked end-to-end: binary
    * payloads built from document text (ASCII fixture → bytes ==
    * chars), run through the real `mapPartitions` decode boundary
    * ([[graft.ext.Multimodal.decodeFeatures]]); byte length, md5
    * checksum, and all 8 stub-codec features are recomputed by the
    * oracle from the text bytes.
    */
  private val q44MediaDecode: Q = (s, dir) => {
    val media = Tables.documents(s, dir).select(
      col("doc_id").as("media_id"), lit("image").as("kind"),
      col("text").cast("binary").as("payload"),
      lit(null).cast(graft.model.Schemas.mediaMeta).as("meta"))
    val featCols = (0 until ext.Multimodal.StubCodec.dim).map(j =>
      (floor(element_at(col("features"), j + 1).cast("double") * 1e6) / 1e6).as(s"f$j"))
    ext.Multimodal.decodeFeatures(media).toDF()
      .select(col("media_id") +: col("n_bytes") +: col("checksum") +: featCols: _*)
      .orderBy(col("media_id"))
  }

  /** q46 — ⊕ the composed training-data curation pipeline
    * ([[graft.ext.Curation]]): quality gate → topic gate → exact dedup
    * (min-id per fingerprint) → MinHash near-dup removal
    * (canonical-min survivor) → per-source accounting. Every stage is
    * individually oracled (q27/q28/q30/q22); this checks the
    * COMPOSITION end-to-end.
    */
  private val q46Curation: Q = (s, dir) => {
    val kept = ext.Curation.curate(Tables.documents(s, dir),
      col("doc_id"), col("source"), col("text"),
      ext.Curation.Params(minTokens = 25, minQuality = 0.35,
        topics = Seq("exec", "storage", "streaming"), lexicons = topicLexicons))
    ext.Curation.stats(kept)
  }

  /** q203 — ⊕ the q46 curation pipeline WITH the blocklist stage
    * ([[graft.ext.Curation.Params.blocklist]], wired round 14): the
    * same gates + exact dedup + near-dup removal + accounting, plus
    * the q201 Aho-Corasick any-hit exclusion between the topic gate
    * and the dedup shuffles (row-local, so blocked documents never
    * pay a shuffle). The oracle byte-shares q46's chain with the
    * blocklist clause landed in the gated CTE — the two queries can
    * never drift, and their DIFFERENCE is exactly the blocklist's
    * effect on the corpus.
    */
  private val q203CurationBlocklist: Q = (s, dir) => {
    val kept = ext.Curation.curate(Tables.documents(s, dir),
      col("doc_id"), col("source"), col("text"),
      ext.Curation.Params(minTokens = 25, minQuality = 0.35,
        topics = Seq("exec", "storage", "streaming"), lexicons = topicLexicons,
        blocklist = blocklistTerms))
    ext.Curation.stats(kept)
  }

  /** q240 — ⊕ the FULL composed MassiveText screen stack
    * ([[graft.ext.Curation.Params.repetitionGate]], wired round 15 —
    * the r14 verdict's missing composition): q203's pipeline (quality
    * + topic + blocklist gates, exact dedup, near-dup removal,
    * accounting) plus the q204 Gopher REPETITION gate between the
    * row-local gates and the dedup shuffles. Input text is q207's
    * construction applied PARTIALLY — the duplicated first line only
    * on every 4th doc, the stop-word tail on every 3rd — so the gate
    * rejects the planted-repetition minority and passes the clean
    * majority (both verdicts occur and the downstream stages still
    * see a corpus; the full decoration left 2 survivors — measured —
    * and a near-total gate proves nothing about composition). The
    * oracle byte-shares BOTH
    * parent chains: q46/q203's curation CTEs with the repetition
    * pass-set clause landed in the gated CTE, and q204's
    * [[repetitionFrCtes]] metric chain over the same decorated lines
    * — so this query's difference against q203 is exactly the
    * repetition gate's effect.
    */
  private val q240CurationRepetition: Q = (s, dir) => {
    // q207's decoration applied PARTIALLY (dup first line only every
    // 4th doc): the full decoration fails the dup-line rule for
    // nearly the whole corpus (measured: 2 survivors at sf0.01) —
    // a degenerate gate proves nothing about composition. Here the
    // planted-repetition quarter gets rejected and the clean
    // majority flows through every downstream stage.
    val decoratedText = synthLines(s, dir).select(col("doc_id"),
      concat(
        when(col("doc_id") % 4 === 0,
          array_join(concat(col("__lines"), slice(col("__lines"), 1, 1)), "\n"))
          .otherwise(array_join(col("__lines"), "\n")),
        when(col("doc_id") % 3 === 0, lit("\nthe and that have with."))
          .otherwise(lit(""))).as("__t"))
    val decorated = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .join(decoratedText, Seq("doc_id"))
    val kept = ext.Curation.curate(decorated,
      col("doc_id"), col("source"), col("__t"),
      ext.Curation.Params(minTokens = 25, minQuality = 0.35,
        topics = Seq("exec", "storage", "streaming"), lexicons = topicLexicons,
        blocklist = blocklistTerms, repetitionGate = true))
    ext.Curation.stats(kept)
  }

  /** q204 — ⊕ Gopher REPETITION filters
    * ([[graft.ext.TextAnalysis.gopherRepetitionGate]], Rae et al.
    * 2021 Appendix A1.1 — the repetition half of the MassiveText
    * screen; q192 covers the quality half): dup-line fraction and
    * char fraction, top-{2,3,4}-gram char fraction, dup-{5,10}-gram
    * position-union coverage, each with the paper's threshold and the
    * conjunction. Input is the synthesized multi-line text with
    * q191's planted duplicate first line, so the dup-line rules have
    * mass and the duplicated L-word line plants repeated 5-grams for
    * L ≥ 5 docs — both verdicts occur for the line rules, the
    * top-gram rules (tiny fixture vocabulary → some docs exceed the
    * top-2-gram cap) and dup5. The oracle replays every metric over
    * the shared synthesized-line CTEs: line counting, the one-pass
    * (n × position) gram table, top-1 ranking with (count DESC, gram
    * ASC) ties, the ≥2-count semi-join + position-union coverage.
    */
  private val q204GopherRepetition: Q = (s, dir) => {
    val withDup = synthLines(s, dir)
      .select(col("doc_id"),
        array_join(concat(col("__lines"), slice(col("__lines"), 1, 1)), "\n")
          .as("__t"))
    ext.TextAnalysis.gopherRepetitionGate(withDup, col("doc_id"), col("__t"))
      .orderBy(col("doc_id"))
  }

  /** q205 — ⊕ epoch allocation under a token budget
    * ([[graft.ops.Sampling.epochAllocation]], Muennighoff et al.
    * 2023): the data-constrained mixing plan — water-fill the budget
    * across sources under temperature-√ weights with a 4-epoch cap,
    * small sources saturating and their unused share redistributing.
    * The budget is derived IN-QUERY as ⌊79·T/20⌋ (= 3.95 T, just
    * under the 4 T all-caps ceiling) from one 1-row total readout —
    * exact integer arithmetic the oracle replays — so the knife
    * lands where both verdicts occur: sources below mean size cap,
    * larger ones draw λ·w. The oracle replays the whole water-fill:
    * the same integer micro-unit weights, the (r, source) sort,
    * prefix sums, candidate levels, the unique valid λ, and the
    * per-source min. Every published column is integer/boolean —
    * the epoch ratio ships as `epochs_ppm` (exact integer floor
    * division on both engines), after the r14 driver red proved the
    * rounded-double form environment-fragile (the q229 class).
    */
  private val q205EpochAllocation: Q = (s, dir) => {
    val pre = Tables.documents(s, dir)
      .select(col("source"),
        ext.TextAnalysis.tokenCount(col("text")).cast("long").as("nt"))
    val total = pre.agg(sum(col("nt"))).head.getLong(0)
    ops.Sampling.epochAllocation(pre, col("source"), col("nt"),
        budget = total * 79 / 20, maxEpochs = 4.0)
      .orderBy(col("source"))
  }

  /** q206 — ⊕ ExactSubstr dedup POLICY
    * ([[graft.ext.Dedup.exactSubstrDedup]], Lee et al. 2022): q189's
    * span structure APPLIED with the paper's actual removal rule —
    * per distinct span content the (doc_id, span_start)-minimal
    * occurrence keeps its text, every other occurrence strips. The
    * corpus-mass-preserving counterpart of q97 (which deletes EVERY
    * copy). The oracle extends q189's shared chain with the winner
    * ROW_NUMBER per span md5 and the q97-style position anti-join
    * rebuild; text_clean is md5'd (the q199 readout convention).
    */
  private val q206ExactSubstrDedup: Q = (s, dir) => {
    ext.Dedup.exactSubstrDedup(Tables.documents(s, dir),
        col("doc_id"), col("text"), minLen = 10, minDf = 2)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("text_clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** q207 — ⊕ per-source dual-gate hygiene datacard: the MassiveText
    * screen COMPLETE — q192's quality rules AND q204's repetition
    * rules scored over the SAME text, rolled up per source (pass
    * counts for each family, their conjunction, and the two headline
    * repetition means). Input is the dup-line synthesized text with
    * the q200 stop-word-tail decoration (as an extra line, every
    * third doc), so both families produce both verdicts. Both oracle
    * chains are byte-shared: the repetition side via
    * [[repetitionFrCtes]], the quality side replaying q192's metric
    * block over the same `d.txt` — the datacard can never drift from
    * the per-document gates it summarizes.
    */
  private val q207HygieneDatacard: Q = (s, dir) => {
    val withDup = dupDecoratedText(s, dir)
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val g = ext.TextAnalysis.gopherQualityGate(col("__t"), minWords = 10)
    val qual = withDup.select(col("doc_id"), g.getField("passes").as("__qp"))
    val rep = ext.TextAnalysis.gopherRepetitionGate(withDup, col("doc_id"), col("__t"))
      .select(col("doc_id"), col("passes").as("__rp"),
        col("dup5_frac"), col("top2_frac"))
    src.join(qual, Seq("doc_id")).join(rep, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__qp"), 1L).otherwise(0L)).as("n_quality_pass"),
        sum(when(col("__rp"), 1L).otherwise(0L)).as("n_repetition_pass"),
        sum(when(col("__qp") && col("__rp"), 1L).otherwise(0L)).as("n_pass_both"),
        round(avg(col("dup5_frac")), 4).as("mean_dup5_frac"),
        round(avg(col("top2_frac")), 4).as("mean_top2_frac"))
      .orderBy(col("source"))
  }

  /** q208 — ⊕ SFT pair mining ([[graft.ext.Posttrain.sftPairs]], the
    * ELI5/Fan et al. 2019 construction over the reference's
    * posts+comments model): prompt = normalized title+selftext,
    * response = the top-ranked clean comment (token count desc,
    * flat_idx asc), acceptance flagged against a response-length
    * floor. Oracle replays the q43 comments derivation + the same
    * window; the threshold is chosen so both acceptance verdicts
    * occur at oracle scale.
    */
  private val q208SftPairs: Q = (s, dir) => {
    ext.Posttrain.sftPairs(docsAsPosts(s, dir), docsAsComments(s, dir),
        minResponseTokens = 13)
      .select(col("post_id"), col("subreddit"), col("prompt"), col("response"),
        col("n_prompt_tokens").cast("long").as("n_prompt_tokens"),
        col("n_resp_tokens").cast("long").as("n_resp_tokens"),
        col("accepted"))
      .orderBy(col("post_id"))
  }

  /** q209 — ⊕ multi-turn dialog assembly
    * ([[graft.ext.Posttrain.assembleDialogs]], the OpenAssistant
    * shape): post as turn 0, surviving comments as alternating-role
    * turns in flat_idx order, with the alternation-validity audit (no
    * two consecutive comment turns by one author). All turn logic is
    * row-local HOFs over one collect_list per post; the oracle
    * rebuilds the dialog with ordered string_agg + a lag() audit.
    */
  private val q209DialogThreads: Q = (s, dir) => {
    // The fixture's (doc_id + idx) % 7 authors never repeat on
    // consecutive comments, so every ninth post gets a deterministic
    // SELF-REPLY chain (one constant author for its clean comments —
    // the q159 derived-noise convention, mirrored in the oracle) so
    // the alternation audit produces both verdicts at oracle scale.
    val selfReply = docsAsComments(s, dir).withColumn("author",
      when(col("post_id").cast("long") % 9 === 0 &&
          col("author").isNotNull && col("author") =!= "[deleted]",
        concat(lit("c_author_"), (col("post_id").cast("long") % 7).cast("string")))
        .otherwise(col("author")))
    ext.Posttrain.assembleDialogs(docsAsPosts(s, dir), selfReply)
      .select(col("post_id"), col("subreddit"),
        col("n_turns").cast("long").as("n_turns"),
        col("alternation_ok"), md5(col("dialog")).as("dialog_md5"))
      .orderBy(col("post_id"))
  }

  /** q210 — ⊕ preference (DPO) pair mining
    * ([[graft.ext.Posttrain.preferencePairs]], the SHP/Ethayarajh et
    * al. 2022 construction with the documented token-count rank):
    * chosen = top candidate, rejected = bottom candidate, pairs kept
    * only at margin ≥ 1 so a tie never fabricates preference signal.
    * Spark runs the window-free max_by/min_by aggregation (map-side
    * combinable); the oracle replays it as two ROW_NUMBER extremes —
    * hash equality proves the aggregation picks exactly the window's
    * deterministic endpoints.
    */
  private val q210PreferencePairs: Q = (s, dir) => {
    ext.Posttrain.preferencePairs(docsAsPosts(s, dir), docsAsComments(s, dir),
        minMarginTokens = 1)
      .select(col("post_id"), col("subreddit"), col("prompt"),
        col("n_cands"), col("chosen"), col("rejected"),
        col("margin_tokens").cast("long").as("margin_tokens"))
      .orderBy(col("post_id"))
  }

  /** q211 — ⊕ eval decontamination of the SFT set: the q91 trigram
    * contamination screen ([[graft.ext.Dedup.contaminationPairs]])
    * run with the q208 pair PROMPTS as the train side and a held-out
    * benchmark (every tenth document) as the protected set — the
    * hygiene step between "pairs mined" and "pairs trained on" (a
    * prompt overlapping the benchmark leaks the answer into SFT).
    * Every pair is emitted with its hit count and verdict; ~10% are
    * contaminated by construction (a %10 post's prompt IS its eval
    * text), so both verdicts occur at oracle scale.
    */
  private val q211SftDecontam: Q = (s, dir) => {
    val pairs = ext.Posttrain.sftPairs(docsAsPosts(s, dir), docsAsComments(s, dir),
      minResponseTokens = 13)
    val evalSet = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"), col("text"))
    val hits = ext.Dedup.contaminationPairs(
        pairs.select(col("post_id").cast("long").as("id"), col("prompt").as("text")),
        evalSet, col("id"), col("text"), k = 3, minOverlap = 3)
      .groupBy(col("train_id"))
      .agg(countDistinct(col("test_id")).as("n_eval_hits"))
    pairs.join(hits, pairs("post_id").cast("long") === hits("train_id"), "left")
      .select(col("post_id"), col("subreddit"), col("accepted"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
        (coalesce(col("n_eval_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("post_id"))
  }

  /** q212 — ⊕ per-subreddit SFT mining datacard (the q200/q207
    * convention applied to the post-training family): posts seen,
    * pairs mined, acceptance count, mean response tokens, preference
    * pairs and their mean margin, mean dialog turns — every statistic
    * mirroring an already-oracled chain (q208's best, q210's
    * extremes, q209's turn count), one aggregation per family member
    * + one rollup join.
    */
  private val q212SftDatacard: Q = (s, dir) => {
    val posts = docsAsPosts(s, dir)
    val comments = docsAsComments(s, dir)
    val pa = ext.Posttrain.sftPairs(posts, comments, minResponseTokens = 13)
      .groupBy(col("subreddit"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("accepted"), 1L).otherwise(0L)).as("n_accepted"),
        round(avg(col("n_resp_tokens")), 4).as("mean_resp_tokens"))
    val pr = ext.Posttrain.preferencePairs(posts, comments, minMarginTokens = 1)
      .groupBy(col("subreddit"))
      .agg(count(lit(1)).as("n_pref_pairs"),
        round(avg(col("margin_tokens")), 4).as("mean_margin_tokens"))
    val di = ext.Posttrain.assembleDialogs(posts, comments)
      .groupBy(col("subreddit"))
      .agg(round(avg(col("n_turns")), 4).as("mean_turns"))
    posts.groupBy(col("subreddit")).agg(count(lit(1)).as("n_posts"))
      .join(pa, Seq("subreddit"), "left")
      .join(pr, Seq("subreddit"), "left")
      .join(di, Seq("subreddit"), "left")
      .select(col("subreddit"), col("n_posts"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_accepted"), lit(0L)).as("n_accepted"),
        col("mean_resp_tokens"),
        coalesce(col("n_pref_pairs"), lit(0L)).as("n_pref_pairs"),
        col("mean_margin_tokens"), col("mean_turns"))
      .orderBy(col("subreddit"))
  }

  /** q213 — ⊕ ROUGE-L-verified near-dup pairs
    * ([[graft.ext.Dedup.rougeVerifiedPairs]]): the Self-Instruct
    * instruction-dedup rule — simhash banding with a VERY loose
    * hamming gate (32 — the exact verify owns precision here, the
    * banding only owns recall) as candidates, then the
    * ORDER-SENSITIVE verify: ROUGE-L F1 =
    * 2·LCS/(|a|+|b|) over word tokens (bounded to the first 40 —
    * prompt-granularity similarity; the DP is quadratic per pair and
    * runs only on banded candidates). The LCS row update is the
    * scan-free running-max form so the oracle can replay the exact DP
    * as a recursive CTE. Verdicts are flagged, not filtered, so the
    * screen's selectivity stays visible at both thresholds.
    */
  private val q213RougeDedup: Q = (s, dir) => {
    ext.Dedup.rougeVerifiedPairs(Tables.documents(s, dir),
        col("doc_id"), col("text"), maxHamming = 32, maxTokens = 40,
        minRouge = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q214 — ⊕ trained hashed-LR quality classifier
    * ([[graft.ext.Classify.logisticFit]]): the fastText-shaped linear
    * screen (Joulin 2017; the CCNet/LLaMA "reference corpus"
    * classifier) with the feature-hashing trick — 64 hashed presence
    * dims + bias, 8 full-batch GD steps at Robbins–Monro 1/t decay,
    * integer nano-unit weights throughout (the q154
    * quantize-at-birth convention; the ONLY transcendental site is
    * the per-(doc, iter) residual floor, guard-band-audited in
    * LrSpec). Labels are the q200/q207 stop-word-tail decoration
    * (every third doc is "reference-like"); trained on the q154
    * split (doc_id % 10 ≠ 0), scored over the FULL corpus — scoring
    * is one row-local integer fold per doc, no join, no shuffle: the
    * deployment shape at 100 TB. The fit separates the fixtures
    * perfectly (500/500 hit) — measured, not assumed.
    */
  private val q214QualityLr: Q = (s, dir) => {
    val dec = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" the and that have with."))
          .otherwise(lit(""))).as("__t"))
    val model = ext.Classify.logisticFit(
      dec.filter(col("doc_id") % 10 =!= 0),
      (col("doc_id") % 3 === 0).cast("int"), col("__t"))
    ext.Classify.logisticScore(model, dec, col("doc_id"), col("__t"))
      .select(col("id").as("doc_id"), (col("id") % 3 === 0).as("is_ref"),
        col("pred"), col("margin_units"),
        (col("pred") === (col("id") % 3 === 0)).as("hit"))
      .orderBy(col("doc_id"))
  }

  /** q215 — ⊕ reward-scored best-of-n mining (rejection sampling —
    * the Constitutional-AI/Llama-2 "sample n, keep the
    * reward-argmax" construction over the reference's candidate
    * model): every q208 candidate response is scored under the q93
    * char-bigram reward LM ([[graft.ext.TextAnalysis.lmScore]] —
    * standing in for a trained reward model, exactly as it stands in
    * for hashed n-gram LMs in q107), and the per-post winner is kept
    * by a window-free `max_by` on the (reward, −flat_idx) struct —
    * the q210 combinable-aggregation shape: each partition ships at
    * most one candidate per post to the exchange. Candidates without
    * bigram evidence are out of reward scope (the q93 stance).
    * Oracle: the shared sftCommentsCtes chain + the shared
    * [[lmScoreCtes]] reward chain + a two-window replay proving the
    * aggregation picks the window's endpoint.
    */
  private val q215BestOfN: Q = (s, dir) => {
    val cands = ext.Posttrain.candidateResponses(docsAsComments(s, dir))
      .withColumn("__sid",
        concat_ws("#", col("post_id"), col("flat_idx")))
    val lm = ext.TextAnalysis.charBigramLm(
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 0), col("text"))
    val scored = ext.TextAnalysis.lmScore(cands, col("__sid"),
      col("response"), lm)
    cands.join(scored, cands("__sid") === scored("doc_id"))
      .groupBy(col("post_id"))
      .agg(count(lit(1)).as("n_cands"),
        max_by(struct(col("response"), col("lm_score")),
            struct(col("lm_score"), (col("flat_idx") * -1).as("nidx")))
          .as("__best"))
      .select(col("post_id"), col("n_cands"),
        col("__best.response").as("chosen"),
        col("__best.lm_score").as("reward"))
      .orderBy(col("post_id"))
  }

  /** q216 — ⊕ k-anonymity release screen
    * ([[graft.ext.Redact.kAnonymize]]): the metadata-privacy step of
    * a corpus release (Sweeney 2002) — each document's
    * (lang, source) quasi-identifier tuple is released at the first
    * generalization level whose group reaches k = 4 members
    * (level 0 = full detail, 1 = source wildcarded, 2 = fully
    * suppressed). ONE rollup pass computes every level's group sizes;
    * the distinct-QI level tables broadcast back — the corpus is
    * touched once, no window, no per-level re-shuffle. Both release
    * levels occur at oracle scale (singleton (lang, source) cells
    * generalize; every lang clears k).
    */
  private val q216KAnonymity: Q = (s, dir) => {
    ext.Redact.kAnonymize(Tables.documents(s, dir), col("doc_id"),
        Seq("lang" -> col("lang"), "source" -> col("source")), k = 4L)
      .select(col("id").as("doc_id"), col("lang_out"), col("source_out"),
        col("anon_level"), col("group_n"))
      .orderBy(col("doc_id"))
  }

  /** q217 — ⊕ post-training capstone: the train-ready SFT export —
    * the family's q197/q177-style end-to-end chain, every stage
    * byte-sharing the oracle of its own query: pairs mined (q208) →
    * decontaminated against the held-out benchmark (q211's trigram
    * screen) → reward-gated above the bottom tercile of the q215
    * reward LM's scores (the q196 CCNet cut applied to responses:
    * drop the tail bucket) → deterministic 80/10/10 split assignment
    * (q81's md5-bucket convention). Only the acceptance flag, the
    * decontam verdict, the reward cut and the split compose — no new
    * operator semantics, which is the point: a capstone hash pins
    * the COMPOSITION. Pairs without bigram evidence are out of
    * reward scope (the q93 stance).
    */
  private val q217SftExport: Q = (s, dir) => {
    // the mined-pairs table is the artifact a real mining run
    // materializes between stages; three consumers below (decontam
    // train side, reward scoring, final assembly) would otherwise
    // re-evaluate the whole posts+comments window chain (the q166
    // staging lesson)
    val pairs = ext.Posttrain.sftPairs(docsAsPosts(s, dir),
      docsAsComments(s, dir), minResponseTokens = 13).localCheckpoint()
    val evalSet = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"), col("text"))
    val contaminated = ext.Dedup.contaminationPairs(
        pairs.select(col("post_id").cast("long").as("id"),
          col("prompt").as("text")),
        evalSet, col("id"), col("text"), k = 3, minOverlap = 3)
      .select(col("train_id")).distinct()
      .persist()
    val lm = ext.TextAnalysis.charBigramLm(
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 0), col("text"))
    // the scored-rewards table (one row per pair) also stages: both
    // the tercile bound and the assembly join consume it, and without
    // staging the reward LM TRAINS TWICE (measured: q217's decade-1
    // slope drops from 2.3x to the family band once staged). Round 20:
    // staged via lazy persist and materialized CONCURRENTLY with the
    // decontamination screen (guide §2.6) — the two chains are
    // independent above the checkpointed pairs table, but the eager
    // rewards checkpoint used to run the reward-LM chain to completion
    // before the contamination chain's first job. The contaminated
    // cache is distinct-train-id-sized.
    val rewards = ext.TextAnalysis.lmScore(pairs, col("post_id"),
        col("response"), lm)
      .select(col("doc_id").as("post_id"), col("lm_score").as("reward"))
      .persist()
    ops.Overlap.materialize(rewards, contaminated)
    val bound = rewards.agg(
      percentile(col("reward"), typedLit(Seq(1.0 / 3))).as("bs"))
    pairs
      .join(contaminated,
        pairs("post_id").cast("long") === contaminated("train_id"),
        "left_anti")
      .join(rewards, Seq("post_id"))
      .crossJoin(broadcast(bound))
      .filter(col("accepted") && col("reward") >= element_at(col("bs"), 1))
      .withColumn("split", graft.ops.Sampling.assignSplit("post_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      .select(col("post_id"), col("subreddit"),
        col("n_prompt_tokens").cast("long").as("n_prompt_tokens"),
        col("n_resp_tokens").cast("long").as("n_resp_tokens"),
        col("reward"), col("split"))
      .orderBy(col("post_id"))
  }

  /** q218 — ⊕ tokenizer-fairness audit: per-language compression of
    * the trained q155 BPE — the "token premium" an under-represented
    * language pays when the tokenizer's merges were learned from a
    * corpus that under-samples it (Petrov et al. 2023's language
    * unfairness measurement, run as a corpus datacard). Every non-en
    * document carries one deterministic lang-marker word (the
    * q159/q190 derived-text convention) that the 8-merge vocabulary
    * never learns, so those languages measurably fragment — the
    * phenomenon the audit exists to catch — while the shared
    * vocabulary's words compress identically everywhere. Readout per
    * lang: word/char/token totals and chars-per-token (higher =
    * better compression). Training + encoding reuse the q155/q170
    * chains verbatim on the decorated corpus; the rollup is one
    * aggregation keyed on 5 langs.
    */
  private val q218TokenFairness: Q = (s, dir) => {
    val dec = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      concat(col("text"),
        when(col("lang") =!= "en",
            concat(lit(" "), repeat(concat(lit("q"), col("lang")), 3)))
          .otherwise(lit(""))).as("__t"))
    val merges = ext.Bpe.learnMerges(
        ext.Bpe.wordFreqs(dec, col("__t")), nMerges = 32)
      .orderBy(col("merge_rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    dec.select(col("lang"),
        explode(ext.TextAnalysis.tokens(col("__t"))).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .select(col("lang"), length(col("word")).cast("long").as("__nc"),
        size(ext.Bpe.symbolsOf(ext.Bpe.applyMerges(col("word"), merges)))
          .cast("long").as("__nt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("__nc")).as("n_chars"),
        sum(col("__nt")).as("n_toks"),
        round(sum(col("__nc")).cast("double") / sum(col("__nt")), 4)
          .as("chars_per_token"))
      .orderBy(col("lang"))
  }

  /** q219 — ⊕ soft dedup: count-based duplicate DOWNWEIGHTING
    * instead of removal (the SoftDeDup construction — a document in
    * an n-member near-dup cluster trains at weight 1/n, so the
    * cluster's total contribution equals one copy without the recall
    * loss hard removal costs). Cluster structure is q48's chain
    * verbatim; singletons (no near-dup pair) weigh 1. Per-doc
    * readout: copies, weight, raw and effective token mass — the
    * numbers a sampler (q92) consumes directly as its weight column.
    * One left join against the cluster table (≪ corpus at 100 TB);
    * everything else row-local.
    */
  private val q219SoftDedup: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val clusters = ext.Dedup.dupClusters(
      ext.Dedup.nearDupPairs(docs, col("doc_id"), col("text")))
    docs.select(col("doc_id"),
        ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
      .join(clusters.select(col("doc_id"), col("cluster_size")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_size"), lit(1L)).as("n_copies"),
        round(lit(1.0) / coalesce(col("cluster_size"), lit(1L)), 4)
          .as("weight"),
        col("n_toks"),
        round(col("n_toks") /
            coalesce(col("cluster_size"), lit(1L)).cast("double"), 4)
          .as("eff_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q220 — ⊕ retrieval ranking metrics
    * ([[graft.ext.Similarity.rankingMetrics]]): MRR and nDCG@10 of
    * the q198 IVF ranking against the exact brute ground truth —
    * recall (q198) says whether the true neighbors are FOUND, this
    * says whether they are found EARLY, graded so displacing the true
    * #1 costs more than the true #10. Index, search, and brute chains
    * are q198's verbatim (same config), so the two measurements can
    * never drift; only the metric fold differs.
    */
  private val q220RankingMetrics: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val queries = em.filter(col("vec_id") % 25 === 0)
    val ivf = ext.Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val approx = ext.Similarity.ivfSearchDf(ivf, queries,
      col("vec_id"), col("embedding"), nprobe = 4, k = 10)
    val exact = ext.Similarity.bruteForceKnnDf(em, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 10)
    ext.Similarity.rankingMetrics(approx, exact, k = 10)
      .orderBy(col("query_id"))
  }

  /** q221 — ⊕ synthetic-text screen
    * ([[graft.ext.TextAnalysis.lmBurstiness]]): the GLTR/DetectGPT
    * family's observable heuristic as a corpus gate — per-doc mean
    * log-prob under the q93 reward LM plus BURSTINESS (stddev of
    * per-50-bigram-chunk means). Model-sampled text sits uniformly
    * high-likelihood; human text alternates predictable and
    * surprising stretches. `suspect` = more corpus-like than the
    * MEDIAN and less bursty than the median, both cut at a single-row
    * broadcast of exact interpolated percentiles (the q196 precedent:
    * Spark `percentile` ≡ DuckDB `quantile_cont` to the bit, so the
    * boundary is engine-stable where a rounded mean is not; the
    * corpus never re-shuffles for the verdict). Model training
    * byte-shares q93's chain (even-id half).
    */
  private val q221SyntheticScreen: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val model = ext.TextAnalysis.charBigramLm(
      docs.filter(col("doc_id") % 2 === 0), col("text"))
    val scored = ext.TextAnalysis.lmBurstiness(
      docs, col("doc_id"), col("text"), model)
    val stats = scored.agg(
      percentile(col("lm_mean"), lit(0.5)).as("__ml"),
      percentile(col("burstiness"), lit(0.5)).as("__mb"))
    scored.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("n_chunks"), col("lm_mean"),
        col("burstiness"),
        (col("lm_mean") > col("__ml") && col("burstiness") < col("__mb"))
          .as("suspect"))
      .orderBy(col("doc_id"))
  }

  /** q222 — ⊕ URL↔content consistency audit (the crawl-hygiene
    * screen between fetch and dedup): per canonical URL (the q159
    * chain), how many distinct content fingerprints (the q30 key) it
    * served — `unstable` marks dynamic/rotating pages whose recrawls
    * disagree — and whether any of its content also appears under
    * OTHER URLs (`mirrored` — the alias/mirror exposure URL-level
    * dedup would miss and content-level dedup silently collapses).
    * Plan shape: one (url, fp) aggregation, one fp-keyed spread
    * count joined back on fp, one per-url rollup — every exchange
    * hashes on a fixed-width key, nothing quadratic.
    *
    * Served-content realism (the q159/q190/q200 derived-text
    * convention — the raw fixture partitions cleanly into its URL
    * classes, leaving every URL unstable and none mirrored): even-id
    * docs serve a deterministic per-site landing page (same content
    * under the http AND https variants → stable + mirrored),
    * id%5==0 odd docs serve one of two boilerplate blobs (the same
    * content scattered across many URLs → unstable + mirrored), the
    * rest serve their own text (unstable, unmirrored).
    */
  private val q222UrlContentAudit: Q = (s, dir) => {
    val d = col("doc_id")
    val served = when(d % 2 === 0,
        concat(lit("landing page for site "), (d % 25).cast("string")))
      .when(d % 5 === 0,
        concat(lit("mirror boilerplate "), (d % 4).cast("string")))
      .otherwise(col("text"))
    val base = Tables.documents(s, dir).select(
      col("doc_id"),
      ext.UrlOps.canonicalize(syntheticNoisyUrl(col("doc_id"))).as("url"),
      ext.TextAnalysis.fingerprint(served).as("fp"))
    val pairs = base.groupBy(col("url"), col("fp"))
      .agg(count(lit(1)).as("n_docs_pair"))
    val spread = pairs.groupBy(col("fp"))
      .agg(count(lit(1)).as("n_urls_for_fp"))
    pairs.join(spread, Seq("fp"))
      .groupBy(col("url"))
      .agg(sum(col("n_docs_pair")).as("n_docs"),
        count(lit(1)).as("n_content_variants"),
        max(col("n_urls_for_fp")).as("max_content_spread"))
      .select(col("url"), col("n_docs"), col("n_content_variants"),
        col("max_content_spread"),
        (col("n_content_variants") > 1).as("unstable"),
        (col("max_content_spread") > 1).as("mirrored"))
      .orderBy(col("url"))
  }

  /** q223 — ⊕ classifier calibration audit (reliability diagram +
    * ECE for the q214 trained quality screen — the measurement
    * between "the classifier separates" and "its scores are usable
    * as sampling weights/thresholds"): docs binned into margin
    * deciles by exact interpolated percentile boundaries (the q196
    * bit-equal precedent — NO global ntile window over the corpus),
    * then per-bin empirical positive rate vs mean predicted
    * probability (sigmoid of the integer nano-unit margin), the gap,
    * and the expected calibration error as the n-weighted gap sum.
    * Model training and scoring byte-share q214's chain. The final
    * unpartitioned window runs over the 10-row bin table — the q205
    * documented model-sized single-task window, never the corpus.
    */
  private val q223Calibration: Q = (s, dir) => {
    val dec = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" the and that have with."))
          .otherwise(lit(""))).as("__t"))
    val model = ext.Classify.logisticFit(
      dec.filter(col("doc_id") % 10 =!= 0),
      (col("doc_id") % 3 === 0).cast("int"), col("__t"))
    // persisted (round 19): the decile-boundary agg and the binning
    // pass both consume the scored table, and each evaluation re-runs
    // the per-token polynomial feature hashing over the corpus
    val sy = ext.Classify.logisticScore(model, dec, col("doc_id"), col("__t"))
      .select(col("id"), col("margin_units").cast("double").as("m"),
        (col("id") % 3 === 0).cast("int").as("y"))
      .persist()
    val qs = sy.agg(percentile(col("m"),
      array((1 to 9).map(i => lit(i / 10.0)): _*)).as("qs"))
    val binned = sy.crossJoin(broadcast(qs))
      .select(col("y"), col("m"),
        (size(filter(col("qs"), q => col("m") > q)) + 1).as("bin"))
    val bins = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        avg(col("y")).as("__acc"),
        avg(lit(1.0) / (lit(1.0) + exp(-col("m") / lit(1e9)))).as("__conf"))
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    bins.select(col("bin"), col("n"),
        round(col("__acc"), 4).as("pos_rate"),
        round(col("__conf"), 4).as("confidence"),
        round(abs(col("__acc") - col("__conf")), 4).as("gap"),
        round(sum(col("n") * abs(col("__acc") - col("__conf"))).over(w) /
          sum(col("n")).over(w), 4).as("ece"))
      .orderBy(col("bin"))
  }

  /** q224 — ⊕ reward length-bias audit (the RLHF pathology
    * measurement — Singhal et al. 2023's "reward models prefer longer
    * responses": if reward correlates with length, best-of-n and DPO
    * silently optimize verbosity): every q215 candidate's reward is
    * set against its token length as (a) the corpus-wide Pearson
    * correlation and (b) mean reward per length QUARTILE — the
    * monotone readout a correlation alone can hide (U-shapes). The
    * quartile cut is the q223 decile construction (exact interpolated
    * `percentile` boundaries at a single-row broadcast — no corpus
    * ntile window); candidate + reward chains are q215's verbatim, so
    * the audit measures exactly the scores q215 selects on.
    */
  private val q224RewardLengthBias: Q = (s, dir) => {
    val cands = ext.Posttrain.candidateResponses(docsAsComments(s, dir))
      .withColumn("__sid",
        concat_ws("#", col("post_id"), col("flat_idx")))
    val lm = ext.TextAnalysis.charBigramLm(
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 0), col("text"))
    val scored = ext.TextAnalysis.lmScore(cands, col("__sid"),
      col("response"), lm)
    val sl = cands.join(scored, cands("__sid") === scored("doc_id"))
      .select(col("n_resp_tokens").cast("double").as("nt"),
        col("lm_score").as("r"))
    val stats = sl.agg(corr(col("nt"), col("r")).as("__c"),
      percentile(col("nt"),
        array(lit(0.25), lit(0.5), lit(0.75))).as("__qs"))
    sl.crossJoin(broadcast(stats))
      .select(col("nt"), col("r"), col("__c"),
        (size(filter(col("__qs"), q => col("nt") > q)) + 1).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("nt")), 4).as("mean_tokens"),
        round(avg(col("r")), 4).as("mean_reward"),
        round(max(col("__c")), 4).as("pearson_r"))
      .orderBy(col("bin"))
  }

  /** q225 — ⊕ preference-criteria concordance (the inter-annotator
    * agreement measurement a preference dataset publishes before
    * anyone trains on it — here between the two ranking criteria this
    * repo actually mines with: q210's token-count rank and q215's
    * reward score): per post, every unordered candidate pair is
    * concordant (both criteria order it the same way), discordant, or
    * tied, and Kendall's tau-a = (C−D)/pairs summarizes. The
    * candidate self-join is POST-LOCAL — candidates per post are
    * bounded by thread size (≤ 4 on the fixture shape), so the pair
    * fan-out is O(posts·b²) with b a constant, the q213 bounded-group
    * stance — and rewards compare at their published 4-decimal
    * rounding on both engines, so the sign of every pair is
    * engine-stable by construction.
    */
  private val q225PrefConcordance: Q = (s, dir) => {
    val cands = ext.Posttrain.candidateResponses(docsAsComments(s, dir))
      .withColumn("__sid",
        concat_ws("#", col("post_id"), col("flat_idx")))
    val lm = ext.TextAnalysis.charBigramLm(
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 0), col("text"))
    val scored = ext.TextAnalysis.lmScore(cands, col("__sid"),
      col("response"), lm)
    val sl = cands.join(scored, cands("__sid") === scored("doc_id"))
      .select(col("post_id"), col("flat_idx"),
        col("n_resp_tokens").cast("long").as("nt"), col("lm_score").as("r"))
    val a = sl.select(col("post_id"), col("flat_idx").as("ia"),
      col("nt").as("ta"), col("r").as("ra"))
    val b = sl.select(col("post_id"), col("flat_idx").as("ib"),
      col("nt").as("tb"), col("r").as("rb"))
    a.join(b, Seq("post_id"))
      .filter(col("ia") < col("ib"))
      .select(col("post_id"),
        ((col("ta") - col("tb")) * signum(col("ra") - col("rb"))).as("__s"))
      .groupBy(col("post_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__s") > 0, 1L).otherwise(0L)).as("n_concordant"),
        sum(when(col("__s") < 0, 1L).otherwise(0L)).as("n_discordant"),
        sum(when(col("__s") === 0, 1L).otherwise(0L)).as("n_tied"),
        round((sum(when(col("__s") > 0, 1L).otherwise(0L)) -
            sum(when(col("__s") < 0, 1L).otherwise(0L))).cast("double") /
          count(lit(1)), 4).as("tau_a"))
      .orderBy(col("post_id"))
  }

  /** q226 — ⊕ embedding sanity screen (the pre-ANN hygiene gate every
    * vector pipeline needs before q38/q143's index fit: a zero vector
    * cannot L2-normalize — [[graft.functions.L2Normalize]] returns
    * null and the row silently exits the index — a constant
    * "placeholder" vector (the failed-encoder fingerprint) collapses
    * whole batches onto one point, and a norm far off the corpus band
    * distorts every unnormalized distance): per vector, the L2 norm,
    * zero flag, EXACT-duplicate family size (md5 over components
    * quantized to 1e-5 by floor(x·1e5 + 0.5) — integer formatting is
    * engine-stable where float formatting is not), and a q124-style
    * MAD outlier verdict on the norm (median + MAD at single-row
    * broadcasts — the corpus never re-shuffles for the cut; the cut
    * carries a 1e-6 absolute guard band so a degenerate corpus —
    * e.g. pre-normalized vectors, MAD exactly 0 — does not flag
    * float-noise deviations as outliers).
    * Degradation realism (the q159 derived convention): every 97th
    * vector is zeroed, every 89th is the constant placeholder — both
    * failure classes occur at oracle scale.
    */
  private val q226EmbeddingSanity: Q = (s, dir) => {
    val emb0 = Tables.embeddings(s, dir).select(col("vec_id"),
      when(col("vec_id") % 97 === 0,
          transform(col("embedding"), _ => lit(0.0f)))
        .when(col("vec_id") % 89 === 0,
          transform(col("embedding"), _ => lit(0.25f)))
        .otherwise(col("embedding")).as("emb"))
    val v = ext.Similarity.vecD(col("emb"))
    val base = emb0.select(col("vec_id"),
      ext.Similarity.norm(v).as("norm"),
      md5(array_join(transform(v,
          x => floor(x * lit(100000.0) + lit(0.5)).cast("long").cast("string")),
        ",")).as("fp"))
    val dups = base.groupBy(col("fp")).agg(count(lit(1)).as("n_same_vec"))
    val med = base.agg(percentile(col("norm"), lit(0.5)).as("__med"))
    val wm = base.crossJoin(broadcast(med))
    val mad = wm.agg(
      percentile(abs(col("norm") - col("__med")), lit(0.5)).as("__mad"))
    wm.join(dups, Seq("fp"))
      .crossJoin(broadcast(mad))
      .select(col("vec_id"), round(col("norm"), 4).as("norm"),
        (col("norm") === 0.0).as("is_zero"), col("n_same_vec"),
        (abs(col("norm") - col("__med")) >
            lit(3.0) * col("__mad") + lit(1e-6)).as("is_outlier"))
      .orderBy(col("vec_id"))
  }

  /** q227 — ⊕ code-switching screen (the multilingual-corpus hygiene
    * measurement between doc-level lang-ID and reality: a document
    * whose PARAGRAPHS classify differently is code-switched or
    * mis-segmented, and a doc-level label silently mistrains on it —
    * the per-paragraph disagreement audit CCNet/ROOTS-style pipelines
    * publish): every q190 synthesized line is classified by the q27
    * lexicon argmax, then per doc — paragraph count, distinct topics,
    * dominant topic (count desc, topic asc — the q27 deterministic
    * tie-break expressed as a `min_by` on the (−count, topic) struct:
    * window-free, map-side combinable, the q210/q215 shape), dominant
    * share, and the `code_switched` verdict. Plan: one explode + one
    * (doc, topic) hash aggregation + one doc rollup — no window over
    * the corpus, nothing quadratic.
    */
  private val q227CodeSwitching: Q = (s, dir) => {
    val byTopic = synthLines(s, dir)
      .select(col("doc_id"), explode(col("__lines")).as("__line"))
      .select(col("doc_id"),
        ext.TextAnalysis.classifyByLexicon(col("__line"), topicLexicons)
          .as("topic"))
      .groupBy(col("doc_id"), col("topic"))
      .agg(count(lit(1)).as("__n"))
    byTopic.groupBy(col("doc_id"))
      .agg(sum(col("__n")).as("n_paras"),
        count(lit(1)).as("n_topics"),
        min_by(col("topic"),
          struct((col("__n") * -1).as("nn"), col("topic")))
          .as("dominant_topic"),
        max(col("__n")).as("__dom_n"))
      .select(col("doc_id"), col("n_paras"), col("n_topics"),
        col("dominant_topic"),
        round(col("__dom_n").cast("double") / col("n_paras"), 4)
          .as("dominant_share"),
        (col("n_topics") > 1).as("code_switched"))
      .orderBy(col("doc_id"))
  }

  /** q228 — ⊕ domain mixture reweighting (the DoReMi-shaped static
    * step, Xie et al. 2023: upweight domains where a small PROXY
    * model lags the REFERENCE model — excess likelihood marks the
    * domains worth more epochs): the full corpus is scored under two
    * q93 char-bigram LMs trained on different deterministic slices
    * (reference = even ids, proxy = %3 ids), per-source mean scores
    * and token shares roll up, and the published mixture weight is
    * share·exp(excess) normalized — exponentiated-gradient form, one
    * step, η=1. The exp/normalize arithmetic runs on the SOURCES-sized
    * table (5 rows) at single-row broadcast normalizers; the corpus
    * work is two linear scoring passes (broadcast models), one join,
    * one per-source aggregation. Excess is computed from the
    * published 4-decimal means so the exp input is engine-stable by
    * construction.
    */
  private val q228DomainReweight: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val ref = ext.TextAnalysis.charBigramLm(
      docs.filter(col("doc_id") % 2 === 0), col("text"))
    val prox = ext.TextAnalysis.charBigramLm(
      docs.filter(col("doc_id") % 3 === 0), col("text"))
    val sr = ext.TextAnalysis.lmScore(docs, col("doc_id"), col("text"), ref)
      .withColumnRenamed("lm_score", "__r")
    val sp = ext.TextAnalysis.lmScore(docs, col("doc_id"), col("text"), prox)
      .withColumnRenamed("lm_score", "__p")
    // persisted (round 19): the source rollup feeds the token-total
    // agg, the weight projection AND the normalizer agg — unstaged,
    // the two full-corpus scoring chains behind it re-evaluated ~3×
    // (eight ~1 s jobs in the warm plan); the cache is one row per
    // source
    val per = docs.select(col("doc_id"), col("source"),
        ext.TextAnalysis.tokenCount(col("text")).cast("long").as("__nt"))
      .join(sr, Seq("doc_id")).join(sp, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_toks"),
        round(avg(col("__r")), 4).as("mean_ref"),
        round(avg(col("__p")), 4).as("mean_proxy"))
      .persist()
    val tot = per.agg(sum(col("n_toks")).as("__tt"))
    val u = per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_toks"),
        col("mean_ref"), col("mean_proxy"),
        round(col("mean_ref") - col("mean_proxy"), 4).as("excess"),
        (col("n_toks").cast("double") / col("__tt") *
          exp(round(col("mean_ref") - col("mean_proxy"), 4))).as("__u"))
    val z = u.agg(sum(col("__u")).as("__z"))
    u.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_toks"), col("mean_ref"),
        col("mean_proxy"), col("excess"),
        round(col("__u") / col("__z"), 4).as("mix_weight"))
      .orderBy(col("source"))
  }

  /** q242 — ⊕ MULTI-ROUND DoReMi (Xie et al. 2023, the iterated
    * form of q228): the paper's output is not one exponentiated-
    * gradient step but the trajectory — per round t, domain weights
    * update multiplicatively w_t ∝ w_{t−1}·exp(excess) and the
    * PUBLISHED mixture is the across-rounds average w̄ (robust to the
    * step count in a way the last iterate is not). Four rounds here
    * (VERDICT floor: ≥ 3).
    *
    * Scale/stability shape: corpus work is exactly q228's — two
    * linear LM scoring passes + one per-source rollup; the iteration
    * state is the SOURCES-sized table, collected under an explicit
    * 4096-row assert and iterated in memory (the q236 bounded-collect
    * convention — per-round Spark jobs on a 20-row table would be
    * pure scheduler overhead). Every round is INTEGER-NANO exact:
    * w_0 = (n_toks·10⁹)//total (floor division of exact longs),
    * u_t = round(w_{t−1}·exp(excess)·10⁹) via BigDecimal HALF_UP on
    * the mirrored double product (the ONE quantization per round —
    * both engines see bit-identical inputs), z_t = Σu_t an exact
    * integer sum (order-free), w_t = (u_t·10⁹)//z_t tie-free floor
    * division, and w̄ = (Σ_t w_t)//T. No cross-row double sum and no
    * publish-rounding of a corpus-derived ratio survives anywhere —
    * the q205/q229-class lesson applied from the start. The oracle
    * replays each round as chained CTEs, every multi-referenced
    * round CTE AS MATERIALIZED (the 2^rounds inlining lesson).
    */
  private val q242DoremiRounds: Q = (s, dir) => {
    val rounds = 4
    val docs = Tables.documents(s, dir)
    val ref = ext.TextAnalysis.charBigramLm(
      docs.filter(col("doc_id") % 2 === 0), col("text"))
    val prox = ext.TextAnalysis.charBigramLm(
      docs.filter(col("doc_id") % 3 === 0), col("text"))
    val sr = ext.TextAnalysis.lmScore(docs, col("doc_id"), col("text"), ref)
      .withColumnRenamed("lm_score", "__r")
    val sp = ext.TextAnalysis.lmScore(docs, col("doc_id"), col("text"), prox)
      .withColumnRenamed("lm_score", "__p")
    val per = docs.select(col("doc_id"), col("source"),
        ext.TextAnalysis.tokenCount(col("text")).cast("long").as("__nt"))
      .join(sr, Seq("doc_id")).join(sp, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_toks"),
        round(avg(col("__r")), 4).as("mean_ref"),
        round(avg(col("__p")), 4).as("mean_proxy"))
      .collect()
    require(per.length <= 4096,
      s"doremi domain table must stay model-sized, got ${per.length} sources")
    val srcs = per.map { r =>
      val mr = r.getDouble(3); val mp = r.getDouble(4)
      val excess = BigDecimal(mr - mp)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r.getString(0), r.getLong(1), r.getLong(2), mr, mp, excess)
    }.sortBy(_._1)
    val total = srcs.map(_._3).sum
    // BigInt THROUGHOUT the integer steps: n_toks·10⁹ overflows a
    // long at corpus scale, and the per-round u(i)·10⁹ does too the
    // moment exp(excess) > ~9.2 on a dominant source (u ≤
    // exp(excess)·10⁹; nothing bounds excess) — a silent Scala wrap
    // where the oracle's HUGEINT multiply stays exact, i.e. a
    // data-dependent engine divergence. The table is ≤4096 rows, so
    // BigInt cost is nil. Values are identical to the long path in
    // the non-overflow regime (same floor division).
    var w: Array[BigInt] =
      srcs.map(t => BigInt(t._3) * 1000000000 / BigInt(total))
    val trajSum = Array.fill(srcs.length)(BigInt(0))
    for (_ <- 1 to rounds) {
      val u = srcs.indices.map { i =>
        // mirrored double product, ONE HALF_UP quantization per round
        BigDecimal(w(i).toDouble / 1e9 * math.exp(srcs(i)._6) * 1e9)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
      }
      val z = u.sum
      w = srcs.indices.map(i => u(i) * 1000000000L / z).toArray
      srcs.indices.foreach(i => trajSum(i) += w(i))
    }
    val rows = srcs.indices.map { i =>
      val (src, nd, nt, mr, mp, ex) = srcs(i)
      (src, nd, nt, mr, mp, ex,
        w(i).toDouble / 1e9, (trajSum(i) / rounds).toDouble / 1e9)
    }
    val spark = s
    import spark.implicits._
    rows.toDF("source", "n_docs", "n_toks", "mean_ref", "mean_proxy",
        "excess", "mix_weight_last", "mix_weight_avg")
      .orderBy(col("source"))
  }

  /** q229 — ⊕ label-noise screen (confident learning, Northcutt et
    * al. 2021 — the audit run on any labeled set before it trains a
    * production classifier): every 17th doc's label is FLIPPED
    * against its text signal (the derived-noise convention — text
    * still carries the q214 %3 stop-word decoration, so the flip is
    * detectable), the q214 LR trains on the noisy labels, and a doc
    * is a suspected label error when its predicted probability for
    * the OPPOSITE class clears that class's self-confidence threshold
    * (mean predicted probability among docs labeled that class — the
    * CL per-class cut). Thresholds compare at 6-decimal rounding on
    * both engines so every verdict is engine-stable (p1 publishes at
    * the same 6-dp precision — re-rounding to 4 hit a .5 boundary); `planted_flip`
    * publishes the ground truth so the screen's precision/recall is
    * visible at oracle scale. Corpus work: the q214 train+score
    * chain + one aggregation; the threshold is a single-row
    * broadcast.
    */
  private val q229LabelNoise: Q = (s, dir) => {
    val dec = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" the and that have with."))
          .otherwise(lit(""))).as("__t"),
      ((col("doc_id") % 3 === 0) =!= (col("doc_id") % 17 === 0))
        .cast("int").as("__y"))
    val model = ext.Classify.logisticFit(
      dec.filter(col("doc_id") % 10 =!= 0), col("__y"), col("__t"))
    val py = ext.Classify.logisticScore(model, dec, col("doc_id"), col("__t"))
      .select(col("id"),
        ((col("id") % 3 === 0) =!= (col("id") % 17 === 0))
          .cast("int").as("y"),
        round(lit(1.0) / (lit(1.0) +
          exp(-col("margin_units").cast("double") / lit(1e9))), 6).as("p1"))
    val th = py.agg(
      round(avg(when(col("y") === 1, col("p1"))), 6).as("__t1"),
      round(avg(when(col("y") === 0, lit(1.0) - col("p1"))), 6).as("__t0"))
    py.crossJoin(broadcast(th))
      .select(col("id").as("doc_id"), (col("y") === 1).as("y_given"),
        col("p1"),
        when(col("y") === 0, col("p1") >= col("__t1"))
          .otherwise(lit(1.0) - col("p1") >= col("__t0")).as("suspect"),
        (col("id") % 17 === 0).as("planted_flip"))
      .orderBy(col("doc_id"))
  }

  /** q230 — ⊕ near-dup cluster quality audit (the check on the
    * clustering operator itself: connected components chain A~B~C
    * into one cluster even when A and C are NOT similar — the known
    * MinHash-CC pathology; a removal policy that keeps one doc per
    * chained cluster silently deletes non-duplicates): within every
    * q48 cluster up to an audit cap, all member pairs re-verify by
    * exact shingle Jaccard, and the cluster publishes its pair count,
    * min/mean similarity, and the `chained` verdict (some member pair
    * below the 0.8 pairing threshold — reachable only transitively).
    * Scale shape: the pair join is CLUSTER-LOCAL and the cap bounds
    * it at O(cap²) per cluster; clusters above the cap are published
    * `audited = false` (a production run samples them) — the same
    * honest-refusal stance as the semdedup bucket cap. Cluster chain
    * is q48's verbatim (shared oracle CTEs), so the audit inspects
    * exactly the clusters q48 ships.
    */
  private val q230ClusterAudit: Q = (s, dir) => {
    val auditCap = 8
    // Planted structure (the q159/q190 derived-text convention; the
    // raw fixture's clusters are all small near-cliques, so neither
    // interesting branch fires on it): docs 0-11 share one constant
    // text — a 12-member exact-dup family above the audit cap
    // (audited = false at every scale, constant cost); every
    // (100k+97, 100k+98, 100k+99) triple gets sliding 21-token
    // windows over a group-unique vocabulary stepped by 2 — adjacent
    // Jaccard 17/21 ≈ 0.8095 (pairs), end-to-end 15/23 ≈ 0.652
    // (< 0.8): a genuine transitive chain, so `chained` fires.
    val m2 = (col("doc_id") % 100 - 97) * 2
    val g = expr("doc_id div 100")
    val chainText = array_join(transform(sequence(m2 + 1, m2 + 21),
      j => concat(lit("qch"), g.cast("string"), lit("w"),
        j.cast("string"))), " ")
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") < 12,
          lit("qbig qdup qfamily qtext qconstant qblock qcopy"))
        .when(col("doc_id") % 100 >= 97, chainText)
        .otherwise(col("text")).as("text"))
    val clusters = ext.Dedup.dupClusters(
      ext.Dedup.nearDupPairs(docs, col("doc_id"), col("text")))
    val sh = docs.select(col("doc_id"),
        ext.Dedup.shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val cz = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
    val mem = clusters.join(sh, Seq("doc_id"))
      .join(cz.filter(col("n_docs") <= auditCap).select(col("cluster_id")),
        Seq("cluster_id"))
    val a = mem.select(col("cluster_id"), col("doc_id").as("ia"),
      col("sh").as("sha"))
    val b = mem.select(col("cluster_id"), col("doc_id").as("ib"),
      col("sh").as("shb"))
    val ad = a.join(b, Seq("cluster_id")).filter(col("ia") < col("ib"))
      .select(col("cluster_id"),
        round(ext.Dedup.jaccard(col("sha"), col("shb")), 4).as("sim"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_pairs"), round(min(col("sim")), 4).as("min_sim"),
        round(avg(col("sim")), 4).as("mean_sim"))
    cz.join(ad, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_docs"),
        (col("n_docs") <= auditCap).as("audited"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("min_sim"), col("mean_sim"),
        when(col("n_docs") <= auditCap, col("min_sim") < lit(0.8))
          .as("chained"))
      .orderBy(col("cluster_id"))
  }

  /** q231 — ⊕ packing-efficiency datacard (the number a trainer reads
    * before choosing a context length: the q167 contiguous packing is
    * pad-free by construction, so its cost is FRAGMENTATION — docs
    * straddling sequence boundaries lose cross-boundary attention):
    * per candidate context capacity (512 and 2048), the doc/token
    * totals, sequence count, straddling-doc count and fraction, and
    * capacity utilization (< 1 only from the final partial sequence).
    * Each capacity is one q167 packing (two-pass prefix sum — no
    * single-task window) + one aggregation; the readout is two rows.
    */
  private val q231PackingDatacard: Q = (s, dir) => {
    val t = Tables.documents(s, dir).select(col("doc_id"),
      ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
    def card(cap: Long): DataFrame =
      ops.Packing.packSequences(t, Seq(col("doc_id")), "n_toks", cap)
        .groupBy(lit(cap).as("capacity"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_toks"),
          (max(col("seq_last")) + 1).as("n_seqs"),
          sum(when(col("n_seqs") > 1, 1L).otherwise(0L)).as("n_straddling"),
          round(avg(when(col("n_seqs") > 1, 1.0).otherwise(0.0)), 4)
            .as("straddle_frac"),
          round(sum(col("n_toks")).cast("double") /
            ((max(col("seq_last")) + 1) * cap), 4).as("utilization"))
    card(512L).unionByName(card(2048L)).orderBy(col("capacity"))
  }

  /** q232 — ⊕ structured-payload validity screen (the datacard a
    * tool-trace / synthetic-data pipeline publishes before training
    * on machine-generated JSON: malformed payloads, missing fields,
    * and type drift each poison a different consumer): per event
    * type, the counts and rates of (a) JSON-valid payloads, (b) the
    * contract field `k` present, (c) `k` numeric. Three corruption
    * classes are planted by the q159 derived convention — every 13th
    * event's payload truncates (malformed), every 17th renames the
    * field (schema drift), every 11th stringifies the value (type
    * drift) — so all four verdict combinations occur at oracle scale.
    * Row-local parsing + one hash aggregation; nothing shuffles but
    * the rollup.
    */
  private val q232PayloadValidity: Q = (s, dir) => {
    val e = Tables.events(s, dir).select(col("event_type"),
      when(col("event_id") % 13 === 0, substring(col("props"), 1, 6))
        .when(col("event_id") % 17 === 0,
          regexp_replace(col("props"), lit("\"k\""), lit("\"v\"")))
        .when(col("event_id") % 11 === 0,
          concat(lit("{\"k\": \"x"), (col("event_id") % 100).cast("string"),
            lit("\"}")))
        .otherwise(col("props")).as("p"))
    e.select(col("event_type"),
        get_json_object(col("p"), "$").isNotNull.as("ok"),
        get_json_object(col("p"), "$.k").isNotNull.as("hask"),
        expr("try_cast(get_json_object(p, '$.k') AS BIGINT)").isNotNull
          .as("numk"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("hask"), 1L).otherwise(0L)).as("n_field"),
        sum(when(col("numk"), 1L).otherwise(0L)).as("n_typed"),
        round(avg(when(col("ok"), 1.0).otherwise(0.0)), 4).as("valid_rate"),
        round(avg(when(col("numk"), 1.0).otherwise(0.0)), 4).as("typed_rate"))
      .orderBy(col("event_type"))
  }

  /** q233 — ⊕ inter-source duplication matrix (the provenance
    * measurement a multi-source corpus release publishes — FineWeb/
    * Dolma-style: how much content two ingest sources share tells you
    * whether they re-crawl each other before any dedup decision is
    * made): distinct (fingerprint, source) pairs self-join on the
    * fingerprint and roll up to a source×source shared-content count.
    * The fan-out per fingerprint is bounded by the SOURCE count (a
    * constant), never the corpus — the q213 bounded-group stance
    * applied to provenance. Cross-source duplicates are planted by
    * the derived convention (every 7th doc serves one of three
    * boilerplate blobs, and 7 ⊥ 20 spreads them across all sources).
    */
  private val q233SourceOverlap: Q = (s, dir) => {
    val fps = Tables.documents(s, dir).select(col("source"),
        ext.TextAnalysis.fingerprint(
          when(col("doc_id") % 7 === 0,
            concat(lit("qboiler blob "), (col("doc_id") % 3).cast("string")))
          .otherwise(col("text"))).as("fp"))
      .distinct()
    val a = fps.select(col("fp"), col("source").as("src_a"))
    val b = fps.select(col("fp"), col("source").as("src_b"))
    a.join(b, Seq("fp")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** q234 — ⊕ lexical diversity datacard (the mode-collapse detector
    * a synthetic-data pipeline tracks per generation round: falling
    * distinct-n-gram ratio and a rising top-n-gram share are the
    * observable signature of a collapsing generator — the Self-BLEU
    * phenomenon read through counts, which distribute where pairwise
    * BLEU does not): per source, total and distinct word-trigram
    * counts, their ratio, the single most frequent trigram's share,
    * and the collapse verdict. Trigrams keep DUPLICATE occurrences
    * (corpus diversity is an occurrence measure; the dedup families
    * use per-doc distinct sets) — the token array materializes as a
    * column first so the lambda walks a row-local array, not the
    * regex chain (the shinglesComposed O(len²) lesson). Collapse is
    * planted in sources 0-6 only (every 9th doc there degenerates to
    * a two-token loop), so both verdicts occur at oracle scale.
    */
  private val q234DiversityDatacard: Q = (s, dir) => {
    val degenerate = col("doc_id") % 9 === 0 && col("doc_id") % 20 < 7
    val tw = Tables.documents(s, dir).select(col("source"),
        ext.TextAnalysis.tokens(
          when(degenerate, array_join(transform(sequence(lit(1), lit(15)),
            _ => lit("qrep loop")), " ")).otherwise(col("text"))).as("w"))
      .filter(size(col("w")) >= 3)
    val tri = tw.select(col("source"),
        explode(transform(sequence(lit(1), size(col("w")) - 2), i =>
          concat_ws(" ", element_at(col("w"), i),
            element_at(col("w"), i + 1), element_at(col("w"), i + 2))))
          .as("tri"))
      .groupBy(col("source"), col("tri"))
      .agg(count(lit(1)).as("__n"))
    tri.groupBy(col("source"))
      .agg(sum(col("__n")).as("n_trigrams"),
        count(lit(1)).as("n_distinct"),
        round(count(lit(1)).cast("double") / sum(col("__n")), 4)
          .as("distinct_ratio"),
        round(max(col("__n")).cast("double") / sum(col("__n")), 4)
          .as("top_share"))
      .select(col("source"), col("n_trigrams"), col("n_distinct"),
        col("distinct_ratio"), col("top_share"),
        (col("top_share") > 0.01).as("collapse_suspect"))
      .orderBy(col("source"))
  }

  /** q235 — ⊕ crawl saturation curve (the novelty-decay measurement
    * that tells an ingest team when a source stops paying for its
    * crawl budget: per ingest batch, how much of the arriving
    * paragraph content was never seen in any earlier batch): every
    * paragraph hash's FIRST occurrence (min doc_id — a combinable
    * aggregation, the q195 shape) is assigned to its batch, and each
    * batch publishes instance/distinct/new counts and the novelty
    * rate. Saturation is planted by the q192 decorate convention —
    * every second line draws from a fixed 200-line pool (7 ⊥ 200
    * cycles it), so early batches discover the pool and later ones
    * re-see it: the curve decays, visibly, from batch 0. Plan: one
    * explode + two hash aggregations + one batch-keyed join — the
    * only corpus-wide exchange hashes on paragraph content.
    */
  private val q235NoveltyCurve: Q = (s, dir) => {
    val lines = synthLines(s, dir, decorate = (l, i) =>
      when((col("doc_id") + i) % 2 === 0,
        concat(lit("qpool "),
          pmod(col("doc_id") * 7 + i, lit(200)).cast("string")))
        .otherwise(l))
    val ex = lines.select(col("doc_id"), explode(col("__lines")).as("__l"))
      .select(expr("doc_id div 50").as("batch"), col("doc_id"),
        md5(col("__l")).as("h"))
    val inst = ex.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_instances"),
        countDistinct(col("h")).as("n_distinct"))
    val news = ex.groupBy(col("h")).agg(min(col("doc_id")).as("__fd"))
      .groupBy(expr("__fd div 50").as("batch"))
      .agg(count(lit(1)).as("n_new"))
    inst.join(news, Seq("batch"), "left")
      .select(col("batch"), col("n_instances"), col("n_distinct"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(coalesce(col("n_new"), lit(0L)).cast("double") /
          col("n_distinct"), 4).as("novelty_rate"))
      .orderBy(col("batch"))
  }

  /** q236 — ⊕ Bradley–Terry system rating (the Arena-style readout
    * over mined pairwise preferences — Zermelo 1929 / Hunter 2004's
    * minorization iteration, the fit behind every LLM leaderboard):
    * candidate slots (flat_idx) are the competing "systems", every
    * decisive same-post reward comparison is a game (ties at the
    * published 4-dp reward rounding are excluded, so the game set is
    * engine-stable), and eight MM rounds fit the strengths:
    * p_i ← W_i / Σ_j n_ij/(p_i+p_j), renormalized. All corpus work is
    * ONE pair aggregation (post-local self-join, the q225 bounded
    * stance); the game table is (#slots choose 2) rows at ANY corpus
    * size, so it collects under an explicit bound (the BPE
    * bounded-state convention) and the rounds run in memory — the
    * first cut ran them as 8×(join+broadcast) Spark rounds and paid
    * 14 s of pure per-round job overhead on 6 rows. Every per-round
    * quantity quantizes to integer micro/nano units before any
    * cross-row sum (the q187 exact-integer convention — double sums
    * are order-sensitive; integer sums are not), with BigDecimal
    * HALF_UP mirroring engine `round` semantics exactly.
    */
  private val q236BtRating: Q = (s, dir) => {
    val cands = ext.Posttrain.candidateResponses(docsAsComments(s, dir))
      .withColumn("__sid",
        concat_ws("#", col("post_id"), col("flat_idx")))
    val lm = ext.TextAnalysis.charBigramLm(
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 0), col("text"))
    val scored = ext.TextAnalysis.lmScore(cands, col("__sid"),
      col("response"), lm)
    // Staged once (the q177 materialization-boundary lesson): the
    // scored table feeds BOTH sides of the pair self-join and two
    // separate actions (the bounded game collect and the wins
    // aggregate) — unstaged, the LM train+score chain evaluates 4x.
    val sys = cands.join(scored, cands("__sid") === scored("doc_id"))
      .select(col("post_id"), col("flat_idx").as("sysid"),
        col("lm_score").as("r"))
      .localCheckpoint()
    val a = sys.select(col("post_id"), col("sysid").as("sa"),
      col("r").as("ra"))
    val b = sys.select(col("post_id"), col("sysid").as("sb"),
      col("r").as("rb"))
    val games = a.join(b, Seq("post_id"))
      .filter(col("sa") < col("sb") && col("ra") =!= col("rb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ra") > col("rb"), 1L).otherwise(0L)).as("wa"))
    val wins = games.select(col("sa").as("sysid"), col("n"),
        col("wa").as("w"))
      .unionByName(games.select(col("sb").as("sysid"), col("n"),
        (col("n") - col("wa")).as("w")))
      .groupBy(col("sysid"))
      .agg(sum(col("n")).as("n_games"), sum(col("w")).as("n_wins"))
      .localCheckpoint()
    // The MM iteration state is (#systems choose 2) rows — systems
    // are candidate SLOTS (4 on this data model), a constant at any
    // corpus size, so the game table collects under an explicit bound
    // (the BPE bounded-state convention) and the eight rounds run in
    // memory instead of as 8x(join+broadcast) Spark rounds (measured
    // 14 s of pure per-round job overhead on 6 rows). Quantization
    // mirrors the engine convention exactly: BigDecimal HALF_UP (what
    // Spark `round` does) on the identical double expressions, and
    // integer sums so no cross-row double addition exists.
    val gameRows = games.limit(4097).collect()
    require(gameRows.length <= 4096,
      "q236: game table exceeded the 4096-pair bound — systems are " +
        "expected to be a bounded candidate-slot set")
    def q(x: Double): Long =
      BigDecimal(x).setScale(0, scala.math.BigDecimal.RoundingMode.HALF_UP).toLong
    val nMap = gameRows.map(r =>
      ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3)))).toMap
    val sysIds = nMap.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct.sorted
    val winsMap = sysIds.map(i => i -> nMap.collect {
      case ((a, b), (n, wa)) if a == i => wa
      case ((a, b), (n, wa)) if b == i => n - wa
    }.sum).toMap
    var pn = sysIds.map(_ -> 250000000L).toMap
    for (_ <- 1 to 8) {
      val t = nMap.map { case ((a, b), (n, _)) =>
        ((a, b), q(1e6 * n / ((pn(a) + pn(b)).toDouble / 1e9))) }
      val den = sysIds.map(i => i -> t.collect {
        case ((a, b), tv) if a == i || b == i => tv }.sum).toMap
      val pq = sysIds.map(i =>
        i -> q(winsMap(i).toDouble / (den(i).toDouble / 1e6) * 1e9)).toMap
      val z = pq.values.sum
      pn = sysIds.map(i => i -> q(pq(i).toDouble / z.toDouble * 1e9)).toMap
    }
    val ratings = s.createDataFrame(
      sysIds.map(i => (i, pn(i)))).toDF("sysid", "pn")
    wins.join(broadcast(ratings), Seq("sysid"))
      .select(col("sysid").cast("long").as("sysid"), col("n_games"),
        col("n_wins"),
        round(col("pn").cast("double") / lit(1e9), 6).as("bt_score"))
      .orderBy(col("sysid"))
  }

  /** q237 — ⊕ screen-redundancy audit (the measurement that tells a
    * curation pipeline which of its gates actually pull their weight:
    * two screens that reject nearly the same documents are one screen
    * plus maintenance cost): the three production screens — the q192
    * Gopher gate, the q201 dictionary blocklist, the q196 LM bottom
    * tercile — each mark their reject set over the SAME corpus (the
    * q200 stop-word-decorated convention so the Gopher gate has a
    * pass branch), and every screen pair publishes reject counts,
    * overlap, reject-set Jaccard, and P(b rejects | a rejects). All
    * three flags are row-local (the tercile boundary is the q196
    * single-row broadcast); the pair table comes from ONE explode —
    * three rows per doc, one aggregation, no self-join.
    */
  private val q237ScreenOverlap: Q = (s, dir) => {
    val dec = Tables.documents(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" the and that have with."))
          .otherwise(lit(""))).as("__t"))
    val model = ext.TextAnalysis.charBigramLm(
      dec.filter(col("doc_id") % 2 === 0), col("__t"))
    // staged once: the scored table feeds the boundary aggregation AND
    // the flag join — unstaged, the LM train+score chain runs twice
    // (measured 4.4 s -> see BENCH_NOTES; q196's counter-measurement
    // went the other way on its lighter shape). Round 19: staged via
    // lazy persist instead of the eager checkpoint — the (doc_id,
    // score) table materializes inside the first consuming action with
    // full parallelism instead of on the sequential driver path.
    val scored = ext.TextAnalysis.lmScore(dec, col("doc_id"), col("__t"), model)
      .persist()
    val bound = scored.agg(percentile(col("lm_score"), lit(1.0 / 3)).as("__b"))
    val dict = graft.functions.DictMatch.automaton(blocklistTerms)
    // r15: the composed pipeline (q240) now gates on the q204
    // repetition screen too, so the redundancy audit covers the
    // pipeline's ACTUAL gate set — four screens, six pairs
    val rep = ext.TextAnalysis.gopherRepetitionGate(
        dec, col("doc_id"), col("__t"))
      .select(col("doc_id"), not(col("passes")).as("rp"))
      .persist()
    // Round 20 (guide §2.6): the one downstream action used to run
    // these two chains SERIALLY — broadcast(bound)'s subtree
    // materializes the whole LM train+score chain on the driver's
    // broadcast await before the job carrying the repetition-gate
    // chain is even submitted (measured: 1.9 s counts job → 2.4 s
    // scored job → 1.0 s gate+assembly job, back to back). Both
    // stages are persisted, so count them concurrently and let the
    // final action read only caches: wall = max(lm, gate) + assembly.
    // The rp cache is one (long, boolean) row per doc — the same
    // per-doc-verdict size class as the scored cache next to it.
    ops.Overlap.materialize(scored, rep)
    val flags = dec.join(scored, Seq("doc_id")).join(rep, Seq("doc_id"))
      .crossJoin(broadcast(bound))
      .select(
        not(ext.TextAnalysis.gopherQualityGate(col("__t"), minWords = 10)
          .getField("passes")).as("ga"),
        graft.functions.DictMatch.dict_contains_any(col("__t"), dict).as("bl"),
        (col("lm_score") < col("__b")).as("lt"),
        col("rp"))
    flags.select(explode(array(
        struct(lit("gopher").as("sa"), lit("blocklist").as("sb"),
          col("ga").as("ra"), col("bl").as("rb")),
        struct(lit("gopher").as("sa"), lit("lm_tail").as("sb"),
          col("ga").as("ra"), col("lt").as("rb")),
        struct(lit("gopher").as("sa"), lit("repetition").as("sb"),
          col("ga").as("ra"), col("rp").as("rb")),
        struct(lit("blocklist").as("sa"), lit("lm_tail").as("sb"),
          col("bl").as("ra"), col("lt").as("rb")),
        struct(lit("blocklist").as("sa"), lit("repetition").as("sb"),
          col("bl").as("ra"), col("rp").as("rb")),
        struct(lit("lm_tail").as("sa"), lit("repetition").as("sb"),
          col("lt").as("ra"), col("rp").as("rb")))).as("p"))
      .select(col("p.sa").as("screen_a"), col("p.sb").as("screen_b"),
        col("p.ra"), col("p.rb"))
      .groupBy(col("screen_a"), col("screen_b"))
      .agg(sum(when(col("ra"), 1L).otherwise(0L)).as("n_rej_a"),
        sum(when(col("rb"), 1L).otherwise(0L)).as("n_rej_b"),
        sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("n_both"))
      .select(col("screen_a"), col("screen_b"), col("n_rej_a"),
        col("n_rej_b"), col("n_both"),
        when(col("n_rej_a") + col("n_rej_b") - col("n_both") > 0,
          round(col("n_both").cast("double") /
            (col("n_rej_a") + col("n_rej_b") - col("n_both")), 4))
          .as("reject_jaccard"),
        when(col("n_rej_a") > 0,
          round(col("n_both").cast("double") / col("n_rej_a"), 4))
          .as("p_b_given_a"))
      .orderBy(col("screen_a"), col("screen_b"))
  }

  /** q238 — ⊕ MinHash banding recall (the dedup family's q198: the
    * banded near-dup join trades recall for the one-shuffle plan, and
    * the band/row configuration is tuned against a MEASURED recall,
    * not the textbook S-curve): q22's banded+verified pairs are
    * compared against the exact set-similarity join (q184's
    * prefix-filter chain — same shingles, same rounded-Jaccard
    * contract, so banded ⊆ exact by construction and the only
    * discrepancy is band misses) at TWO operating points, 0.5 and
    * 0.8: with 4 bands of 2 rows the per-pair miss probability is
    * (1−J²)⁴ ≈ 1.7% at J = 0.8 but 32% at J = 0.5 — the recall curve
    * IS the tuning decision. Per threshold: exact pairs, banded
    * pairs, missed pairs, recall. The oracle's exact side is the
    * labeled O(n²) brute join — affordable there; the Spark side
    * runs the scale paths.
    */
  /** q238/q239 shared fixture: planted threshold-band pairs (the q230
    * sliding construction at a wider step): every (50k+47, 50k+48,
    * 50k+49) triple gets 20-token windows over group-unique
    * vocabulary stepped by 3 — adjacent Jaccard 15/21 = 0.7143,
    * end-to-end 12/24 = 0.5. The raw fixture's organic dups all sit
    * at J >= 0.9 where banding essentially never misses (measured
    * recall 1.0); the miss phenomenon lives at low J, so without
    * these pairs the measurement has no signal at the 0.5 operating
    * point.
    */
  private def bandingRecallDocs(s: SparkSession, dir: String): DataFrame = {
    val m3 = (col("doc_id") % 50 - 47) * 3
    val g = expr("doc_id div 50")
    val chainText = array_join(transform(sequence(m3 + 1, m3 + 20),
      j => concat(lit("qbr"), g.cast("string"), lit("w"),
        j.cast("string"))), " ")
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 50 >= 47, chainText)
        .otherwise(col("text")).as("text"))
  }

  /** q238/q239 shared measurement: exact set-sim pairs at `t` LEFT
    * JOIN the banded+verified pairs at geometry (numHashes,
    * rowsPerBand); recall publishes via [[graft.ops.Exact.ratio]]
    * (tie-free — it is a ratio of two exact counts).
    */
  private def bandingRecallAt(docs: DataFrame, t: Double,
                              numHashes: Int, rowsPerBand: Int): DataFrame = {
    val exact = ext.Dedup.setSimJoinExact(docs, col("doc_id"), col("text"),
        threshold = t)
      .select(col("id_a"), col("id_b"))
    val banded = ext.Dedup.nearDupPairs(docs, col("doc_id"), col("text"),
        numHashes = numHashes, rowsPerBand = rowsPerBand, threshold = t)
      .select(col("id_a"), col("id_b"), lit(1).as("__f"))
    bandingRecallReadout(exact, banded, t)
  }

  /** The q238/q239 readout over already-derived exact and banded pair
    * sets at threshold `t`.
    */
  private def bandingRecallReadout(exact: DataFrame, banded: DataFrame,
                                   t: Double): DataFrame = {
    val hit = sum(when(col("__f").isNotNull, 1L).otherwise(0L))
    exact.join(banded, Seq("id_a", "id_b"), "left")
      .groupBy(lit(t).as("exact_threshold"))
      .agg(count(lit(1)).as("n_exact"),
        hit.as("n_banded"),
        sum(when(col("__f").isNull, 1L).otherwise(0L)).as("n_missed"),
        graft.ops.Exact.ratio(hit, count(lit(1)), 4).as("band_recall"))
  }

  private val q238BandingRecall: Q = (s, dir) => {
    // ONE candidate generation per side for both operating points
    // (round 19; guide §1.2 "don't compute things you throw away"):
    // the exact prefix-filter join runs once at the LOWER threshold
    // (its candidates are a superset — completeness makes
    // raw(0.5).filter(__j >= t) ≡ a fresh run at t, see
    // [[graft.ext.Dedup.setSimJoinExactRaw]]), and the banded side's
    // candidates depend only on the (8, 2) geometry, with the
    // threshold a post-verify filter on the SAME rounded jaccard.
    // Shared via LAZY persist, not eager checkpoints: the per-
    // threshold filters push below the distinct/sort exchanges, so
    // bare re-reference computes both chains twice (measured: zero
    // ReusedExchange in the executed plan), while an eager checkpoint
    // SERIALIZES chains the one union action otherwise runs
    // concurrently (measured 8.3 s warm vs ~3.0 s). The lazy cache
    // keeps the single-action DAG parallelism and each side's heavy
    // join runs once; both caches are pair-set-sized, not corpus-
    // sized.
    val docs = bandingRecallDocs(s, dir)
    val exactRaw = ext.Dedup.setSimJoinExactRaw(docs, col("doc_id"),
      col("text"), threshold = 0.5).persist()
    val bandedRaw = ext.Dedup.nearDupPairs(docs, col("doc_id"), col("text"),
      numHashes = 8, rowsPerBand = 2, threshold = 0.5).persist()
    def at(t: Double): DataFrame = bandingRecallReadout(
      exactRaw.filter(col("__j") >= t).select(col("id_a"), col("id_b")),
      bandedRaw.filter(col("jaccard") >= t)
        .select(col("id_a"), col("id_b"), lit(1).as("__f")), t)
    at(0.5).unionByName(at(0.8)).orderBy(col("exact_threshold"))
  }

  /** q239 — ⊕ AUTO-SIZED banding validated against q238's measured
    * curve ([[graft.ext.Dedup.bandingForRecall]]): q238 measured the
    * cost of the fixed 4×2 geometry — recall 0.887 at threshold 0.5 —
    * so the S-curve inversion derives (bands, rows) from
    * (threshold = 0.5, targetRecall = 0.95): b_min(r) =
    * ⌈ln(1−ρ)/ln(1−tʳ)⌉, precision-optimal feasible pick → 11 bands ×
    * 2 rows (22 hashes, theoretical recall-at-threshold 0.958, and
    * strictly higher for every J > t). The SAME planted fixture and
    * exact set-sim ground truth as q238 re-measure the curve at the
    * derived point — the fixed form stays as the oracle-replayable
    * anchor, this query anchors the auto form (the q26→q149/q174→q176
    * convention applied to the last fixed-knob family). Published:
    * the derivation inputs, the derived geometry, and the measured
    * recall, which must sit at or above q238's 0.887.
    */
  private val q239BandingAuto: Q = (s, dir) => {
    val t = 0.5
    val target = 0.95
    val (numHashes, rowsPerBand) = ext.Dedup.bandingForRecall(t, target)
    bandingRecallAt(bandingRecallDocs(s, dir), t, numHashes, rowsPerBand)
      .select(col("exact_threshold"), lit(target).as("target_recall"),
        lit(numHashes).as("num_hashes"), lit(rowsPerBand).as("rows_per_band"),
        col("n_exact"), col("n_banded"), col("n_missed"), col("band_recall"))
      .orderBy(col("exact_threshold"))
  }

  /** q47 — ⊕ custom typed `Aggregator` (SURVEY §2.7's sanctioned
    * custom-aggregate surface, [[graft.functions.TopKByWeight]]):
    * bounded-state per-group top-k as a hash aggregate — every
    * partition folds to ≤ k entries before the shuffle. Oracled
    * against the equivalent `row_number()` SQL.
    */
  private val q47TopkAggregator: Q = (s, dir) => {
    val topk = functions.TopKByWeight.topK(3)
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        (col("l_orderkey") * 100 + col("l_linenumber")).as("id"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 2).as("w"))
      .groupBy(col("l_returnflag"))
      .agg(topk(col("id"), col("w")).as("top"))
      .select(col("l_returnflag"), posexplode(col("top")).as(Seq("rnk", "e")))
      .select(col("l_returnflag"), (col("rnk") + 1).as("rnk"),
        col("e.id").as("id"), col("e.w").as("w"))
      .orderBy(col("l_returnflag"), col("rnk"))
  }

  /** q48 — ⊕ A7 duplicate-cluster formation: connected components of
    * the q22 near-dup graph via iterative min-label propagation
    * ([[graft.ext.Dedup.dupClusters]]), oracled against a recursive
    * transitive-closure CTE. The transitive case matters: pair lists
    * alone under-count duplicates when a~b and b~c but a≁c.
    */
  private val q48DupClusters: Q = (s, dir) => {
    val pairs = ext.Dedup.nearDupPairs(Tables.documents(s, dir),
      col("doc_id"), col("text"))
    ext.Dedup.dupClusters(pairs)
  }

  /** q49 — ⊕ A6 quantile sketch (Greenwald-Khanna via
    * `percentile_approx`): like q34, the engine-specific estimates are
    * asserted within the sketch's accuracy contract in-query (rank
    * error ≤ 1/accuracy) and emitted as booleans; DuckDB computes the
    * exact rank bounds and literal TRUE. Exact median anchors the
    * comparison.
    */
  private val q49QuantileSketch: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    // accuracy 100 → rank error ε·n with ε = 1/100; bound via exact
    // quantiles at p ± ε computed per group
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(percentile_approx(col("l_extendedprice"), lit(0.5), lit(100)), 2).as("ap50"),
        round(percentile_approx(col("l_extendedprice"), lit(0.9), lit(100)), 2).as("ap90"),
        // bounds at p ± 2ε (ε = 1/accuracy): GK guarantees rank error
        // ≤ εn; the extra ε absorbs exact-percentile interpolation
        round(expr("percentile(l_extendedprice, 0.48)"), 2).as("lo50"),
        round(expr("percentile(l_extendedprice, 0.52)"), 2).as("hi50"),
        round(expr("percentile(l_extendedprice, 0.88)"), 2).as("lo90"),
        round(expr("percentile(l_extendedprice, 0.92)"), 2).as("hi90"))
      .select(col("l_returnflag"), col("n"),
        (col("ap50") >= col("lo50") && col("ap50") <= col("hi50")).as("p50_ok"),
        (col("ap90") >= col("lo90") && col("ap90") <= col("hi90")).as("p90_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** q181 — ⊕ KLL mergeable quantile sketch
    * (Spark 4.1's built-in DataSketches KLL bindings — used, not
    * re-implemented, the functions-not-UDFs rule; A6 family): per-flag price
    * sketches, plus the MERGE path — per-(flag, status) part sketches
    * unioned back per flag with no re-scan. The q34/q49 convention:
    * exact anchors hard-compared (row counts, and the sketch's exact
    * n through BOTH paths — KLL tracks n exactly, so conservation
    * through merge is deterministic); randomized estimates appear
    * only inside in-query bound booleans at ±3× the published
    * normalized rank error.
    */
  private val q181KllQuantiles: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    val eps = org.apache.datasketches.kll.KllSketch.getNormalizedRankError(200, false)
    def exactAt(p: Double) = expr(s"percentile(l_extendedprice, $p)")
    val price = col("l_extendedprice").cast("double")
    val direct = li.groupBy(col("l_returnflag"))
      .agg(kll_sketch_agg_double(price, lit(200)).as("sk"),
        count(lit(1)).as("n_rows"),
        exactAt(0.5 - 3 * eps).as("lo50"), exactAt(0.5 + 3 * eps).as("hi50"),
        exactAt(0.9 - 3 * eps).as("lo90"),
        exactAt(math.min(1.0, 0.9 + 3 * eps)).as("hi90"))
    val merged = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(kll_sketch_agg_double(price, lit(200)).as("psk"))
      .groupBy(col("l_returnflag"))
      .agg(kll_merge_agg_double(col("psk")).as("msk"))
    def q(sk: String, p: Double) = kll_sketch_get_quantile_double(col(sk), lit(p))
    direct.join(merged, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_rows"),
        (kll_sketch_get_n_double(col("sk")) === col("n_rows")).as("n_ok"),
        (kll_sketch_get_n_double(col("msk")) === col("n_rows")).as("merged_n_ok"),
        q("sk", 0.5).between(col("lo50"), col("hi50")).as("p50_ok"),
        q("sk", 0.9).between(col("lo90"), col("hi90")).as("p90_ok"),
        q("msk", 0.5).between(col("lo50"), col("hi50")).as("merged_p50_ok"))
      .orderBy(col("l_returnflag"))
  }


  /** q182 — ⊕ theta-sketch audience set algebra
    * (Spark 4.1's built-in DataSketches theta bindings; A6 family): per-type user
    * sketches, then INTERSECTION and A-NOT-B — the set operations HLL
    * cannot express (q141's inclusion-exclusion compounds error on
    * small intersections) — read per type pair. Exact-mode oracle
    * (q135/q141 convention): below saturation every estimate is an
    * exact integer, hash-compared against the true distinct-set
    * algebra.
    */
  private val q182ThetaAudiences: Q = (s, dir) => {
    val sks = Tables.events(s, dir).groupBy(col("event_type"))
      .agg(theta_sketch_agg(col("user_id")).as("sk"))
    val a = sks.select(col("event_type").as("type_a"), col("sk").as("ska"))
    val b = sks.select(col("event_type").as("type_b"), col("sk").as("skb"))
    def est(c: Column) = theta_sketch_estimate(c).cast("long")
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        est(col("ska")).as("n_a"),
        est(col("skb")).as("n_b"),
        est(theta_intersection(col("ska"), col("skb"))).as("n_inter"),
        est(theta_difference(col("ska"), col("skb"))).as("n_a_only"),
        est(theta_union(col("ska"), col("skb"))).as("n_union"))
      .orderBy(col("type_a"), col("type_b"))
  }


  /** q183 — ⊕ deletion propagation ("right to be forgotten"
    * maintenance): purge a deletion list from the corpus AND the
    * maintained ANN index (the q143 IVF assignment table) with
    * anti-joins — J3's anti dual doing compliance duty — and emit the
    * accounting a deletion job must produce: per-table before /
    * deleted / after counts plus an ABSENCE PROOF (count of surviving
    * rows matching the list, necessarily 0, pinned by the oracle
    * hash — the q172 in-result invariant style). Deriving the index
    * from a fit then purging it is the point: derived tables must be
    * purged too, not just the source.
    */
  private val q183ForgetFlow: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val em = Tables.embeddings(s, dir)
    val del = em.filter(col("vec_id") % 83 === 0)
      .select(col("vec_id").as("k")).localCheckpoint()
    val model = ext.Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    def accounting(name: String, df: DataFrame, key: Column): DataFrame = {
      val after = df.join(del, key === col("k"), "left_anti")
      val matched = df.join(del, key === col("k"), "left_semi")
      val residue = after.join(del, key === col("k"), "left_semi")
      after.agg(count(lit(1)).as("n_after"))
        .crossJoin(broadcast(df.agg(count(lit(1)).as("n_before"))))
        .crossJoin(broadcast(matched.agg(count(lit(1)).as("n_deleted"))))
        .crossJoin(broadcast(residue.agg((count(lit(1)) === 0).as("absent_ok"))))
        .select(lit(name).as("table_name"), col("n_before"), col("n_deleted"),
          col("n_after"), col("absent_ok"))
    }
    accounting("documents", docs, col("doc_id"))
      .unionByName(accounting("embeddings", em, col("vec_id")))
      .unionByName(accounting("ivf_index", model.assigned, col("id")))
      .orderBy(col("table_name"))
  }

  /** q184 — ⊕ exact set-similarity join
    * ([[graft.ext.Dedup.setSimJoinExact]]): prefix filtering over
    * frequency-ordered shingle sets — the completeness-GUARANTEED
    * dual of the q22 MinHash pipeline (LSH can miss a true pair;
    * prefix filtering provably cannot). The oracle is the NAIVE exact
    * all-pairs Jaccard join the plan replaces (the q152/q153
    * convention), so the hash match IS the completeness proof on the
    * fixture.
    */
  private val q184SetSimExact: Q = (s, dir) => {
    ext.Dedup.setSimJoinExact(Tables.documents(s, dir),
        col("doc_id"), col("text"), threshold = 0.8)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q185 — ⊕ metadata-consistency audit: train the q154 Naive Bayes
    * on the corpus' DECLARED `lang` labels and read the
    * declared-vs-predicted confusion matrix — the screen that catches
    * systematically mislabeled metadata (a crawler writing the wrong
    * language tag poisons every per-language decision downstream). A
    * declared class whose rows scatter across predictions is either
    * mislabeled or textually indistinct from its neighbors — both
    * findings a curation run must surface. Oracle: the shared
    * parameterized NB chain (label = lang, train = score = full
    * corpus) + the matrix readout.
    */
  private val q185LangAudit: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val model = ext.Classify.naiveBayesFit(docs, col("lang"), col("text"))
    ext.Classify.naiveBayesScore(model, docs, col("doc_id"), col("text"))
      .join(docs.select(col("doc_id").as("id"), col("lang").as("declared")), Seq("id"))
      .groupBy(col("declared"), col("pred"))
      .agg(count(lit(1)).as("n_docs"), sum(col("id")).as("sum_ids"))
      .orderBy(col("declared"), col("pred"))
  }

  /** q50 — ⊕ deterministic hash-bucket sampling
    * ([[graft.ops.Sampling.byHash]]): a 10% keyed sample of events
    * aggregated per type. The sample membership itself is the thing
    * under test — partitioning-independent and re-derivable in SQL, so
    * the oracle recomputes the exact same subset.
    */
  private val q50HashSample: Q = (s, dir) => {
    ops.Sampling.byHash(Tables.events(s, dir), "event_id", rate = 0.1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** q51 — ⊕ one-pass column profile ([[graft.ops.Profile]]) over
    * documents: null/distinct/min/max for four columns in a single
    * scan+aggregate (exact-distinct form; the HLL form is the scale
    * default). Columns chosen to avoid doubles so min/max stringify
    * identically across engines.
    */
  private val q51ColumnProfile: Q = (s, dir) => {
    ops.Profile.summarize(Tables.documents(s, dir),
      Seq("doc_id", "source", "lang", "n_chars"), exact = true)
  }

  /** q52 — ⊕ token-budget shard packing
    * ([[graft.ext.Curation.packShards]]): documents packed into
    * ~2000-token shards per source by running-total assignment,
    * rolled up to per-shard accounting.
    */
  private val q52ShardPacking: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    ext.Curation.packShards(docs, col("source"), col("doc_id"), col("n_tokens"), 2000)
      .groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens"))
      .orderBy(col("source"), col("shard_id"))
  }

  /** q53 — ⊕ A7 asymmetric containment pairs
    * ([[graft.ext.Dedup.containmentPairs]]): the smaller shingle set
    * ≥90% inside the larger — the quote-inclusion case Jaccard
    * misses. 1-row bands for high candidate recall.
    */
  private val q53Containment: Q = (s, dir) => {
    ext.Dedup.containmentPairs(Tables.documents(s, dir), col("doc_id"), col("text"))
  }

  /** q54 — full-outer reconciliation join: daily order counts vs
    * daily event counts, keeping days present on either side (the
    * audit/diff join shape; completes the join-type matrix beyond
    * inner/semi/anti/left).
    */
  private val q54FullOuter: Q = (s, dir) => {
    val od = Tables.orders(s, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
      .agg(count(lit(1)).as("n_orders"))
    val ed = Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d"))
      .agg(count(lit(1)).as("n_events"))
    od.join(ed, Seq("d"), "full_outer")
      .select(col("d"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("d"))
      .limit(100)
  }

  /** q55 — set operations INTERSECT / EXCEPT (distinct forms): sources
    * that have high-quality docs vs sources that have short docs.
    */
  private val q55SetOps: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val withLong = docs.filter(col("n_chars") >= 300).select(col("source"))
    val withShort = docs.filter(col("n_chars") < 120).select(col("source"))
    val both = withLong.intersect(withShort).withColumn("set_op", lit("both"))
    val onlyLong = withLong.except(withShort).withColumn("set_op", lit("only_long"))
    both.unionByName(onlyLong)
      .select(col("set_op"), col("source"))
      .orderBy(col("set_op"), col("source"))
  }

  /** q56 — pivot (explicit value list → deterministic schema): per
    * user-bucket event counts pivoted by event type.
    */
  private val q56Pivot: Q = (s, dir) => {
    Tables.events(s, dir)
      .withColumn("bucket", (col("user_id") % 10).cast("int"))
      .groupBy(col("bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("bucket"))
  }

  /** q57 — S6 CSV sink hard-checked end-to-end: write documents to
    * CSV ([[graft.sinks.Csv]]), read the CSV back, aggregate — the
    * oracle aggregates the original table directly, so any quoting /
    * escaping / header / type round-trip loss hash-mismatches.
    */
  /** Fixed per-query scratch dir, reused across invocations via the
    * sinks' overwrite mode — `createTempDirectory` per call would
    * leak one full table copy per bench iteration per round. Keyed by
    * PID so concurrent JVMs (a Verify overlapping a test suite — the
    * overwrite-then-read race that failed four suite rows this round)
    * cannot delete each other's scratch mid-read; within one process
    * every iteration still reuses the same dir. Across processes a
    * PID-keyed name would accumulate one set of table copies per JVM
    * run (r17 ADVICE), so the first call registers a shutdown hook
    * that deletes THIS process's dirs, and sweeps any stale
    * `graft_scratch_<pid>_*` whose owning PID is no longer alive
    * (a kill -9'd run never reaches its own hook).
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    def deleteTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(f =>
            try java.nio.file.Files.deleteIfExists(f)
            catch { case _: java.io.IOException => () })
      }
    }
    val mine = s"graft_scratch_${ProcessHandle.current().pid()}_"
    try {
      val re = """graft_scratch_(\d+)_.*""".r
      Option(tmp.toFile.listFiles()).toSeq.flatten.foreach { f =>
        f.getName match {
          case re(pid) if !f.getName.startsWith(mine) &&
            !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false) =>
            deleteTree(f.toPath)
          case _ => ()
        }
      }
    } catch { case _: Throwable => () }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        Option(tmp.toFile.listFiles()).toSeq.flatten
          .filter(_.getName.startsWith(mine)).foreach(f => deleteTree(f.toPath))
      } catch { case _: Throwable => () }))
    tmp
  }

  private def scratchDir(name: String): String =
    scratchRoot.resolve(
      s"graft_scratch_${ProcessHandle.current().pid()}_$name").toString

  private val q57CsvRoundtrip: Q = (s, dir) => {
    val out = scratchDir("q57_csv")
    sinks.Csv.write(Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"), col("text")), out)
    // reader mirrors the writer's defaults (quote '"', escape '\');
    // multiLine covers quoted newlines inside text fields
    s.read.option("header", "true").option("inferSchema", "false")
      .option("multiLine", "true")
      .csv(out)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"),
        sum(length(col("text"))).as("sum_text_len"))
      .orderBy(col("source"))
  }

  /** q58 — S5 error-tolerant multi-source union hard-checked: one
    * readable path + one missing path must yield exactly the readable
    * table's contents (the reference's skip-bad-source loop,
    * `app.py:294-301`).
    */
  private val q58TolerantUnion: Q = (s, dir) => {
    val df = Tables.unionTolerant(s, Seq(
      s"$dir/documents.parquet",
      s"$dir/__no_such_source__.parquet")).get
    df.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
  }

  /** q59 — X12 preset map driving the full pipeline: the "Fast"
    * preset's (10, 20) budgets flow through
    * [[graft.pipelines.SignalScan.paramsForPreset]] into the composed
    * scan; the oracle hardcodes the same budgets, so a preset-table
    * regression hash-mismatches.
    */
  private val q59PresetScan: Q = (s, dir) => {
    pipelines.SignalScan.run(docsAsPosts(s, dir), docsAsComments(s, dir),
      pipelines.SignalScan.paramsForPreset("Fast",
        subreddits = (0 until 20).map(i => s"src$i"),
        keywords = Seq("spark", "merge")))
  }

  /** q60 — S7 export-enrichment sink hard-checked: enrich (the v1
    * CRM-workflow constant columns) → CSV → read back; the oracle
    * emits the constants as literals over the original table, so a
    * changed constant, lost column, or round-trip corruption
    * hash-mismatches.
    */
  private val q60EnrichedExport: Q = (s, dir) => {
    val out = scratchDir("q60_csv_enr")
    sinks.Csv.writeEnriched(Tables.documents(s, dir)
      .select(col("doc_id"), col("source")), out)
    s.read.option("header", "true").option("inferSchema", "false").csv(out)
      .groupBy(col("source"), col("Status"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("Priority") === "" || col("Priority").isNull, 1L).otherwise(0L)).as("n_blank_priority"))
      .orderBy(col("source"))
  }

  /** q61 — X14 full form: struct-TYPED JSON parse
    * ([[graft.streaming.EventStream.withParsedProps]], `from_json` with
    * an explicit schema) projected at row level — the scalar
    * `get_json_object` form is q19; this oracles the typed path the
    * streaming pipeline uses.
    */
  private val q61TypedJson: Q = (s, dir) => {
    graft.streaming.EventStream.withParsedProps(Tables.events(s, dir))
      .filter(col("props_parsed").isNotNull && col("props_parsed.k") % 7 === 0)
      .select(col("event_id"), col("event_type"),
        col("props_parsed.k").as("k"), (col("props_parsed.k") * 2).as("k2"))
      .orderBy(col("event_id"))
      .limit(300)
  }

  /** q62 — ⊕ REAL media decode for one kind: valid 24-bpp BMPs are
    * synthesized per document from a pixel formula
    * ([[graft.ext.BmpCodec.encode]]), decoded by the real pure-JVM
    * parser ([[graft.ext.BmpCodec.decode]] behind
    * [[graft.ext.Multimodal.decodeImages]]'s `mapPartitions`
    * boundary), and the oracle recomputes every feature from the
    * formula alone — header layout, bottom-up row order (top-half
    * mean), padding exclusion (channel means) and size math (n_bytes)
    * are all hash-checked. Other kinds keep the documented StubCodec.
    */
  private val q62BmpDecode: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (3 + id % 5).toInt
        val h = (2 + id % 3).toInt
        id -> ext.BmpCodec.encode(w, h, (x, y) => (
          ((id * 13 + 3 * x + 5 * y) % 256).toInt,
          ((id * 11 + 3 * x + 5 * y) % 256).toInt,
          ((id * 7 + 3 * x + 5 * y) % 256).toInt))
      }).toDF("media_id", "payload")
      .select(col("media_id"), lit("image").as("kind"), col("payload"),
        lit(null).cast(graft.model.Schemas.mediaMeta).as("meta"))
    val featCols = (0 until 8).map(j =>
      (floor(element_at(col("features"), j + 1).cast("double") * 1e6) / 1e6).as(s"f$j"))
    ext.Multimodal.decodeImages(media).toDF()
      .select(col("media_id") +: col("width") +: col("height") +:
        col("n_bytes") +: featCols: _*)
      .orderBy(col("media_id"))
  }

  /** q63 — ⊕ REAL audio decode: valid 16-bit PCM WAVs are synthesized
    * per document from a sample formula ([[graft.ext.WavCodec.encode]];
    * mono and stereo alternate by id), decoded by the real pure-JVM
    * parser behind [[graft.ext.Multimodal.decodeWaves]], and the
    * oracle recomputes every feature from the formula alone — chunk
    * walk, channel de-interleaving (per-channel means), signed LE16
    * sample decode and size math are all hash-checked.
    */
  private val q63WavDecode: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val ch = (1 + id % 2).toInt
        val n = (40 + id % 50).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        id -> ext.WavCodec.encode(ch, rate, n,
          (i, c) => (((id * 13 + 17L * i + 23L * c) % 4001) - 2000).toInt)
      }).toDF("media_id", "payload")
      .select(col("media_id"), lit("audio").as("kind"), col("payload"),
        lit(null).cast(graft.model.Schemas.mediaMeta).as("meta"))
    val featCols = (0 until 8).map(j =>
      (floor(element_at(col("features"), j + 1).cast("double") * 1e6) / 1e6).as(s"f$j"))
    ext.Multimodal.decodeWaves(media).toDF()
      .select(col("media_id") +: col("channels") +: col("sample_rate") +:
        col("n_frames") +: col("n_bytes") +: featCols: _*)
      .orderBy(col("media_id"))
  }

  /** q64 — ⊕ backward as-of join ([[graft.ops.AsOf.asofJoinBackward]]):
    * each purchase event aligned to the latest same-user click at or
    * before it (ties → greatest click id), unmatched purchases kept
    * with nulls. One shuffle + sort on user_id, zero join fan-out —
    * the merge-as-of plan. Oracle: left join + range predicate +
    * row_number() pick, which is the same greatest-at-or-before rule
    * spelled out in portable SQL.
    */
  private val q64AsofJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"), col("event_type"))
    val p = ev.filter(col("event_type") === "purchase").drop("event_type")
    val c = ev.filter(col("event_type") === "click").drop("event_type")
    graft.ops.AsOf.asofJoinBackward(p, c,
        key = "user_id", leftTs = "ts", rightTs = "ts", tie = "event_id")
      .select(
        col("l.event_id").as("purchase_id"),
        col("l.user_id").as("user_id"),
        date_format(col("l.ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        round(col("l.value"), 4).as("purchase_value"),
        col("r.event_id").as("click_id"),
        date_format(col("r.ts"), "yyyy-MM-dd HH:mm:ss").as("click_ts"),
        round(col("r.value"), 4).as("click_value"))
      .orderBy(col("purchase_id"))
  }

  /** q65 — ⊕ banded range join ([[graft.ops.AsOf.rangePairsBackward]]):
    * same-user clicks in the 24 h before each error event, aggregated
    * per error, zeros kept via a join back onto the error side. The
    * range condition never becomes a per-user cross product: right
    * rows explode to ≤2 epoch buckets and the join is equi on
    * (user, bucket).
    */
  private val q65RangeJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"), col("event_type"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click").drop("event_type")
    val agg = graft.ops.AsOf.rangePairsBackward(e, c,
        key = "user_id", leftTs = "ts", rightTs = "ts", windowSec = 86400L)
      .groupBy(col("l.event_id").as("error_id"))
      .agg(count(lit(1)).as("n_prior_clicks"), sum(col("r.value")).as("sum_v"))
    e.join(agg, e("event_id") === agg("error_id"), "left")
      .select(e("event_id").as("error_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("error_ts"),
        coalesce(col("n_prior_clicks"), lit(0L)).as("n_prior_clicks"),
        round(coalesce(col("sum_v"), lit(0.0)), 4).as("click_value_sum"))
      .orderBy(col("error_id"))
  }

  /** q66 — ⊕ end-to-end embedding near-dup dedup: LSH-bucketed cosine
    * candidate pairs ([[graft.ext.Similarity.annLshPairs]], q26's exact
    * configuration) fed into connected-component cluster formation
    * ([[graft.ext.Dedup.dupClusters]]) — the full "dedup by embedding
    * similarity" path a training-data pipeline runs, as one composed
    * query. Oracle: q26's pair derivation + q48's recursive-CTE
    * closure.
    */
  private val q66EmbeddingDedup: Q = (s, dir) => {
    val pairs = ext.Similarity.annLshPairs(Tables.embeddings(s, dir),
      col("vec_id"), col("embedding"), threshold = 0.42)
    ext.Dedup.dupClusters(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  /** q67 — ⊕ forward as-of join with tolerance
    * ([[graft.ops.AsOf.asofJoinForward]]): each signup aligned to the
    * user's FIRST purchase at-or-after it (ties → smallest id), nulled
    * when it lands more than 72 h later. Tolerance applies post-match,
    * which is equivalent to bounding the join window: any other
    * at-or-after candidate is even further away. Same single-exchange
    * merge plan as q64.
    */
  private val q67AsofForward: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"), col("event_type"))
    val su = ev.filter(col("event_type") === "signup").drop("event_type")
    val p = ev.filter(col("event_type") === "purchase").drop("event_type")
    graft.ops.AsOf.asofJoinForward(su, p,
        key = "user_id", leftTs = "ts", rightTs = "ts", tie = "event_id",
        toleranceSec = Some(72L * 3600L))
      .select(
        col("l.event_id").as("signup_id"),
        col("l.user_id").as("user_id"),
        date_format(col("l.ts"), "yyyy-MM-dd HH:mm:ss").as("signup_ts"),
        col("r.event_id").as("purchase_id"),
        date_format(col("r.ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        round(col("r.value"), 4).as("first_purchase_value"))
      .orderBy(col("signup_id"))
  }

  /** q68 — grouping-sets completion alongside q36's ROLLUP: CUBE over
    * (source, lang) computes all four grouping combinations in one
    * pass — Spark expands to grouping sets and partial-aggregates
    * map-side, same single shuffle as a plain aggregate.
    */
  private val q68Cube: Q = (s, dir) => {
    Tables.documents(s, dir)
      .cube(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .select(
        coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("n_docs"), col("sum_chars"))
      .orderBy(col("source"), col("lang"))
  }

  /** q69 — Spark 4 VARIANT path for semi-structured JSON (X14 modern
    * form): `parse_json` once into the binary VARIANT encoding, then
    * typed `variant_get` extraction — the parse cost is paid once per
    * row and every path extraction is a cheap binary traversal,
    * unlike per-path `get_json_object` re-parses (q19's scalar form)
    * or a rigid `from_json` schema (q61's typed form).
    */
  private val q69Variant: Q = (s, dir) => {
    Tables.events(s, dir)
      .select(col("event_type"), expr("parse_json(props)").as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'long')").as("k"))
      .withColumn("k_parity",
        when(pmod(col("k"), lit(2)) === 0, lit("even")).otherwise(lit("odd")))
      .groupBy(col("event_type"), col("k_parity"))
      .agg(round(avg(col("k")), 6).as("avg_k"), max(col("k")).as("max_k"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("k_parity"))
  }

  /** q70 — ⊕ explicit runtime-filter join pruning
    * ([[graft.ops.RuntimeFilter.bloomPrune]]): a bloom filter built
    * from the selective part-dim keys is evaluated inside the
    * lineitem scan's filter, so non-matching fact rows die BEFORE the
    * join's exchange — the ship-small-filter-to-big-scan move that
    * keeps selective fact⋈dim joins viable at 100 TB. Bloom admits
    * false positives only, and the exact join removes them, so the
    * composed result is byte-identical to the unpruned join — which
    * is exactly what the oracle states.
    */
  private val q70BloomPrune: Q = (s, dir) => {
    val dim = Tables.part(s, dir).filter(col("p_size") >= 45)
      .select(col("p_partkey"), col("p_brand"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val pruned = graft.ops.RuntimeFilter.bloomPrune(
      li, col("l_partkey"), dim, col("p_partkey"),
      expectedItems = 100000L, numBits = 800000L)
    pruned.join(broadcast(dim), pruned("l_partkey") === dim("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("p_brand"))
  }

  /** q71 — ⊕ PII redaction ([[graft.ext.Redact]]): emails, URLs, IPv4
    * addresses, phone numbers counted and masked. The fixture text
    * carries no PII, so PII-bearing text is DERIVED deterministically
    * from fixture columns (the q44 synthetic-payload trick) — both
    * engines build the identical string, then count/redact it with the
    * identical regex automata (patterns restricted to Java∩RE2
    * constructs). Row-local, codegen'd, shuffle-free.
    */
  private val q71PiiRedact: Q = (s, dir) => {
    val d = col("doc_id")
    val str = (c: Column) => c.cast("string")
    val pii = concat_ws(" ", col("text"),
      when(d % 3 === 0, concat(lit("contact user"), str(d),
        lit("@mail"), str(d % 7), lit(".example.com"))),
      when(d % 4 === 0, concat(lit("see https://docs.example/"), str(d % 13),
        lit("/p?id="), str(d))),
      when(d % 5 === 0, concat(lit("call +1 555-"), str(d % 9000 + 1000))),
      when(d % 7 === 0, concat(lit("host 10."), str(d % 256), lit(".0."), str(d % 100))))
    Tables.documents(s, dir)
      .select(col("doc_id"), pii.as("pii"))
      .select(col("doc_id"),
        ext.Redact.countEmails(col("pii")).as("n_emails"),
        ext.Redact.countUrls(col("pii")).as("n_urls"),
        ext.Redact.countIpv4(col("pii")).as("n_ips"),
        ext.Redact.countPhones(col("pii")).as("n_phones"),
        md5(ext.Redact.redactAll(col("pii"))).as("red_md5"))
      .orderBy(col("doc_id"))
  }

  /** q72 — ⊕ token-window chunking ([[graft.ext.Chunker.chunkTokens]]):
    * each document split into 16-token windows overlapping by 4 — the
    * pre-embedding segmentation step. sequence→explode→slice, all
    * codegen'd built-ins; fan-out is row-local (no shuffle), so
    * chunking scales with the scan.
    */
  private val q72Chunking: Q = (s, dir) => {
    val toked = Tables.documents(s, dir)
      .select(col("doc_id"), ext.TextAnalysis.tokens(col("text")).as("toks"))
    ext.Chunker.chunkTokens(toked, col("toks"), chunkSize = 16, overlap = 4)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_len"),
        md5(array_join(col("chunk_tokens"), " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** q73 — ⊕ BM25 relevance ranking ([[graft.ext.TextRank.bm25]]):
    * corpus statistics (N, avgdl, per-term df) in ONE single-row
    * aggregate broadcast back over the corpus; per-document tf is a
    * row-local array `filter` — the only shuffle is the final top-k
    * sort. Upgrades the reference's substring relevance ordering
    * (SURVEY F7) to the probabilistic ranking function.
    */
  private val q73Bm25Rank: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    ext.TextRank.bm25(docs, ext.TextAnalysis.tokens(col("text")),
        terms = Seq("spark", "merge", "vector"))
      .select(col("doc_id"), col("dl"),
        col("tf_0").as("tf_spark"), col("tf_1").as("tf_merge"),
        col("tf_2").as("tf_vector"), col("bm25"))
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(50)
  }

  /** q74 — ⊕ CDC merge/upsert ([[graft.ops.Merge.applyChanges]]): an
    * order-derived changeset (I/U/D ops, last-writer-wins on the order
    * date) applied to the customer snapshot — Delta/Iceberg MERGE
    * semantics as one window + one full-outer join. The changeset
    * derivation is mirrored in the oracle so both engines apply the
    * identical delta.
    */
  private val q74MergeUpsert: Q = (s, dir) => {
    // c_acctbal / o_totalprice pass through UNROUNDED: both engines
    // read the identical parquet doubles, and any arithmetic (e.g.
    // /10 then round) lands on .xx5 decimal boundaries where Spark's
    // shortest-repr HALF_UP and DuckDB's rounding disagree.
    val snap = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val o = Tables.orders(s, dir)
    val changes = o.select(
      col("o_custkey").as("c_custkey"),
      concat(lit("cust_"), col("o_orderkey").cast("string")).as("c_name"),
      col("o_totalprice").as("c_acctbal"),
      // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC, so the cast
      // reads it as the same instant DuckDB's epoch() computes.
      unix_seconds(col("o_orderdate").cast("timestamp")).as("seq"),
      when(col("o_orderkey") % 10 < 2, "D")
        .when(col("o_custkey") % 3 === 0, "I")
        .otherwise("U").as("op"),
      col("o_orderkey").as("chg_id"))
    graft.ops.Merge.applyChanges(snap, changes, "c_custkey", "seq", "op", "chg_id")
      .orderBy(col("c_custkey"))
  }

  /** q75 — ⊕ SCD-type-2 history ([[graft.ops.Merge.scd2History]]):
    * the q74 changeset rendered as versioned validity intervals —
    * `valid_from`/`valid_to`/`version`/`is_current` per change, one
    * window shuffle (row_number and lead share the sort).
    */
  private val q75Scd2History: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val changes = o.select(
      col("o_custkey").as("c_custkey"),
      concat(lit("cust_"), col("o_orderkey").cast("string")).as("c_name"),
      col("o_totalprice").as("c_acctbal"),
      unix_seconds(col("o_orderdate").cast("timestamp")).as("seq"),
      col("o_orderkey").as("chg_id"))
    graft.ops.Merge.scd2History(changes, "c_custkey", "seq", "chg_id")
      .select(col("c_custkey"), col("version"), col("c_name"), col("c_acctbal"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("c_custkey"), col("version"))
  }

  /** q76 — ⊕ rolling time-window features
    * ([[graft.ops.Time.trailingWindow]]): per-user trailing-1-hour
    * event count and value sum — the feature-engineering aggregate —
    * as a RANGE frame over integral epoch seconds (engine-portable
    * peer semantics; both engines floor the fractional seconds). One
    * shuffle on user_id; the frame is one ordered scan per partition.
    */
  private val q76RollingWindow: Q = (s, dir) => {
    val w = graft.ops.Time.trailingWindow(
      col("user_id"), unix_seconds(col("ts")), spanSec = 3600L)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("v_1h", round(sum(col("value")).over(w), 4))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("n_1h"), col("v_1h"))
      .orderBy(col("event_id"))
  }

  /** q77 — ⊕ Misra-Gries frequent items
    * ([[graft.functions.FreqItems]]): heavy hitters over event_type
    * with capacity 8. The distinct-key count (5) never exceeds the
    * capacity, so no decrement fires anywhere in the merge tree and
    * the sketch is EXACT regardless of partitioning — the oracle is
    * the plain groupBy count. The approximation bounds under overflow
    * are property-tested in FreqItemsSpec.
    */
  private val q77FreqItems: Q = (s, dir) => {
    Tables.events(s, dir)
      .agg(graft.functions.FreqItems.freqItems(8)(col("event_type")).as("fi"))
      .select(explode(col("fi")).as("x"))
      .select(col("x.item").as("event_type"), col("x.est").as("est"))
      .orderBy(desc("est"), col("event_type"))
  }

  /** q78 — ⊕ repeated n-gram ratio
    * ([[graft.ext.TextAnalysis.dupNgramRatio]]): the Gopher-style
    * internal-repetition/boilerplate gate — 1 − distinct/total word
    * trigrams per document. Distinct grams via the single-pass
    * ShingleSet codegen expression; row-local, rides the scan.
    */
  private val q78DupNgrams: Q = (s, dir) => {
    Tables.documents(s, dir)
      .select(col("doc_id"),
        ext.TextAnalysis.dupNgramRatio(col("text"), 3).as("dup3"))
      .withColumn("is_boiler", col("dup3") > 0.3)
      .orderBy(col("doc_id"))
  }

  /** q79 — ⊕ embedding centroid outlier screen
    * ([[graft.ext.Similarity.centroidScores]]): per-label centroids
    * (one n·d-value shuffle, 9-dp quantized — the q38 trick), then a
    * broadcast join + one-pass codegen cosine per vector. The oracle
    * re-derives the centroids and the normalize/dot chain with the
    * established sequential-fold vector SQL.
    */
  private val q79CentroidOutliers: Q = (s, dir) => {
    ext.Similarity.centroidScores(
        Tables.embeddings(s, dir), "vec_id", "label", "embedding")
      .select(col("vec_id"), col("label"), col("cos_centroid"),
        (col("cos_centroid") < 0.1).as("is_outlier"))
      .orderBy(col("vec_id"))
  }

  /** q80 — ⊕ vocabulary construction
    * ([[graft.ext.TextAnalysis.vocabulary]]): per-token corpus tf/df
    * with a min-df gate, top 100 by frequency — the canonical
    * map-side-combine word count (explode → partial agg → one token
    * shuffle).
    */
  private val q80Vocabulary: Q = (s, dir) => {
    ext.TextAnalysis.vocabulary(
        Tables.documents(s, dir), col("doc_id"), col("text"), minDocFreq = 3L)
      .orderBy(desc("tf"), col("token"))
      .limit(100)
  }

  /** q81 — ⊕ deterministic train/val/test split
    * ([[graft.ops.Sampling.assignSplit]]): each event lands in a split
    * by its event_id's md5 bucket against cumulative 0.8/0.1/0.1
    * weights — reproducible on any partitioning; the oracle re-derives
    * the bucket digit-by-digit (q50's arithmetic) and applies the same
    * thresholds. Aggregated to per-(split, type) counts.
    */
  private val q81SplitAssign: Q = (s, dir) => {
    Tables.events(s, dir)
      .withColumn("split", graft.ops.Sampling.assignSplit("event_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      .groupBy(col("split"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("split"), col("event_type"))
  }

  /** q82 — ⊕ per-group percentile normalization: quality scores
    * percent-ranked WITHIN each source (the per-domain quality
    * threshold trick — a fixed global cutoff over-prunes clean
    * domains and under-prunes noisy ones). Total order (quality,
    * doc_id) makes ranks engine-identical; one window shuffle on
    * source.
    */
  private val q82QualityPercentile: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val q = ext.TextAnalysis.qualityScore(col("text"))
    val w = Window.partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), q.as("quality"))
      .withColumn("pctl", round(percent_rank().over(w), 6))
      .withColumn("keep", col("pctl") >= 0.2)
      .orderBy(col("doc_id"))
  }

  /** q83 — ⊕ composed training-prep pipeline: PII redaction → quality
    * gate → token-window chunking → exact chunk dedup (min-key
    * survivor) → deterministic split assignment → per-split stats.
    * One query touching five round-6 operators in their natural
    * order, the q46-style composition check. Inputs reuse q71's
    * synthetic-PII derivation so the redaction stage has real work.
    *
    * Stage order is the scale-correct one: the CHEAP quality gate
    * runs on the raw text first so the expensive 4-pass regex chain
    * only touches survivors — and, equally important on Spark, a
    * filter on a derived column would inline its whole defining
    * expression into both the scan filter and the projection
    * (alias substitution has no cost model), re-running the regex
    * chain per reference.
    *
    * Plan: stages 1-3 are row-local (regex, arithmetic, explode);
    * the dedup groupBy is the first shuffle (on a 32-byte md5, not
    * the chunk text); the final stats agg is the second. Nothing
    * else moves data.
    */
  private val q83PrepPipeline: Q = (s, dir) => {
    val d = col("doc_id")
    val str = (c: Column) => c.cast("string")
    val pii = concat_ws(" ", col("text"),
      when(d % 3 === 0, concat(lit("contact user"), str(d),
        lit("@mail"), str(d % 7), lit(".example.com"))),
      when(d % 4 === 0, concat(lit("see https://docs.example/"), str(d % 13),
        lit("/p?id="), str(d))))
    val red = Tables.documents(s, dir)
      .filter(ext.TextAnalysis.qualityScore(col("text")) >= 0.3)
      .select(col("doc_id"), ext.Redact.redactAll(pii).as("red"))
    val chunks = ext.Chunker.chunkTokens(
        red.select(col("doc_id"), ext.TextAnalysis.tokens(col("red")).as("toks")),
        col("toks"), chunkSize = 16, overlap = 4)
      .select(col("doc_id"), col("chunk_idx"),
        md5(array_join(col("chunk_tokens"), " ")).as("chunk_md5"))
    // exact chunk dedup: the (doc_id, chunk_idx)-smallest copy survives
    val kept = chunks.groupBy(col("chunk_md5"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.chunk_idx").as("chunk_idx"),
        col("chunk_md5"))
    kept
      .withColumn("split", graft.ops.Sampling.assignSplit("doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("split"))
  }

  /** q84 — ⊕ REAL PNG decode ([[graft.ext.PngCodec]]): RGB8
    * non-interlaced PNGs are synthesized per document from the q62
    * pixel formula with CYCLING scanline filters (None/Sub/Up/
    * Average/Paeth all exercised), decoded by the pure-JVM parser
    * behind [[graft.ext.Multimodal.decodeImages]] (content-dispatched
    * next to BMP), and the oracle recomputes every feature from the
    * formula alone. Stored-block zlib makes `n_bytes` a pure function
    * of the dimensions (`h·(1+3w) + 68` at these sizes), so size math
    * is hash-checked too.
    */
  private val q84PngDecode: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (4 + id % 6).toInt
        val h = (3 + id % 4).toInt
        id -> ext.PngCodec.encode(w, h, (x, y) => (
          ((id * 13 + 3 * x + 5 * y) % 256).toInt,
          ((id * 11 + 3 * x + 5 * y) % 256).toInt,
          ((id * 7 + 3 * x + 5 * y) % 256).toInt))
      }).toDF("media_id", "payload")
      .select(col("media_id"), lit("image").as("kind"), col("payload"),
        lit(null).cast(graft.model.Schemas.mediaMeta).as("meta"))
    val featCols = (0 until 8).map(j =>
      (floor(element_at(col("features"), j + 1).cast("double") * 1e6) / 1e6).as(s"f$j"))
    ext.Multimodal.decodeImages(media).toDF()
      .select(col("media_id") +: col("width") +: col("height") +:
        col("n_bytes") +: featCols: _*)
      .orderBy(col("media_id"))
  }

  /** q85 — ⊕ exponential time-decay score
    * ([[graft.ops.Time.decayedScore]]): recency-weighted engagement
    * per user via the running-sum reformulation
    * `exp(−λt)·Σ vᵢ·exp(λtᵢ)` — O(n) with ONE window instead of the
    * naive per-row frame recomputation. Timestamps rebased to days
    * since 2024-01-01 so the inner exponentials stay in range.
    */
  private val q85DecayScore: Q = (s, dir) => {
    val t = (unix_seconds(col("ts")) - lit(1704067200L)) / lit(86400.0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("decay_score", round(graft.ops.Time.decayedScore(
        col("user_id"), t, col("event_id"), col("value"), lambda = 0.1), 4))
      .select(col("event_id"), col("user_id"), col("decay_score"))
      .orderBy(col("event_id"))
  }

  /** q86 — ⊕ approximate kNN-graph construction: LSH candidate pairs
    * (q26's exact configuration, threshold 0.3) symmetrized and
    * rank-limited to each vector's top-3 neighbors — the neighbor
    * graph a diversity/dedup pass walks. Candidate generation stays
    * banded (never all-pairs); the per-vector top-k is one window
    * over the pair list (WindowGroupLimit pushes the rank filter
    * map-side).
    *
    * Symmetrization is one row-local `explode(array(struct(a,b),
    * struct(b,a)))` over the UNSORTED pair form — not a `unionByName`
    * of the subtree, which planned pair expansion + cosine verify
    * twice (ReuseExchange only saved the shuffles).
    */
  private val q86KnnGraph: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val pairs = ext.Similarity.annLshPairs(Tables.embeddings(s, dir),
      col("vec_id"), col("embedding"), threshold = 0.3)
    val sym = pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("nbr"), col("cos_sim")),
        struct(col("id_b").as("src"), col("id_a").as("nbr"), col("cos_sim")))).as("e"))
      .select(col("e.src").as("src"), col("e.nbr").as("nbr"), col("e.cos_sim").as("cos_sim"))
    sym
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(desc("cos_sim"), col("nbr"))))
      .filter(col("rn") <= 3)
      .select(col("src"), col("nbr"), col("cos_sim"))
      .orderBy(col("src"), desc("cos_sim"), col("nbr"))
  }

  /** q87 — ⊕ REAL entropy-coded decode ([[graft.ext.GifCodec]]):
    * palette GIFs are synthesized per document with a REAL LZW
    * compressor (variable-width codes, clear/EOI), decoded by the
    * from-scratch LZW decompressor behind
    * [[graft.ext.Multimodal.decodeImages]] (content-dispatched next
    * to BMP/PNG), and the oracle recomputes every feature from the
    * palette + index formulas alone — so a wrong bit anywhere in the
    * entropy decode shifts a channel mean and fails the hash. Unlike
    * q84's stored-block PNG, `n_bytes` is NOT emitted: the size of an
    * entropy-coded payload is data-dependent, which is the point.
    */
  private val q87GifDecode: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (4 + id % 6).toInt
        val h = (3 + id % 4).toInt
        val pal = Array.tabulate(64)(i => (
          ((id * 13 + 5 * i) % 256).toInt,
          ((id * 11 + 7 * i) % 256).toInt,
          ((id * 7 + 3 * i) % 256).toInt))
        id -> ext.GifCodec.encode(w, h, pal,
          (x, y) => ((id + 3 * x + 5 * y) % 64).toInt)
      }).toDF("media_id", "payload")
      .select(col("media_id"), lit("image").as("kind"), col("payload"),
        lit(null).cast(graft.model.Schemas.mediaMeta).as("meta"))
    val featCols = (0 until 8).map(j =>
      (floor(element_at(col("features"), j + 1).cast("double") * 1e6) / 1e6).as(s"f$j"))
    ext.Multimodal.decodeImages(media).toDF()
      .select(col("media_id") +: col("width") +: col("height") +: featCols: _*)
      .orderBy(col("media_id"))
  }

  /** q88 — ⊕ hot-key-safe chunked decay score
    * ([[graft.ops.Time.withDecayedScoreChunked]]): q85's recency
    * weighting computed by the skew-immune two-pass form — within-
    * chunk running sums keyed by (user, week-chunk) so a hot user
    * spreads across tasks, chunk totals reassembled through a
    * running offset + equi-join. The oracle mirrors the SAME
    * two-pass expression tree (within-window sum, row_number-picked
    * chunk total, offset window, identical operand order), so the
    * mitigation's exact arithmetic is hash-checked — and its result
    * set equals q85's by construction.
    */
  private val q88DecayChunked: Q = (s, dir) => {
    val t = (unix_seconds(col("ts")) - lit(1704067200L)) / lit(86400.0)
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("td", t)
    graft.ops.Time.withDecayedScoreChunked(base,
        "user_id", "td", "event_id", "value",
        lambda = 0.1, chunkSpan = 7.0, out = "ds")
      .select(col("event_id"), col("user_id"), round(col("ds"), 4).as("decay_score"))
      .orderBy(col("event_id"))
  }

  /** q89 — ⊕ hot-key-safe rolling features
    * ([[graft.ops.Time.trailingSumsByTime]]): q76's trailing 1-hour
    * count+sum computed via per-second pre-aggregation — the
    * mitigation for the sliding-RANGE-frame skew breaking point. The
    * oracle is the PLAIN single-window form (q76's SQL shape), so the
    * hash check proves the preagg form's exact equivalence, which
    * rests on integral epoch seconds making same-second rows frame
    * peers.
    */
  private val q89RollingPreagg: Q = (s, dir) => {
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("es", unix_seconds(col("ts")))
    graft.ops.Time.trailingSumsByTime(base, "user_id", "es", "value",
        spanSec = 3600L, outN = "n_1h", outSum = "v_raw")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("n_1h"), round(col("v_raw"), 4).as("v_1h"))
      .orderBy(col("event_id"))
  }

  /** q90 — ⊕ REAL baseline-DCT JPEG decode ([[graft.ext.JpegCodec]]):
    * block-constant grayscale JPEGs are synthesized per document with
    * the real entropy encoder (FDCT, quantization, canonical Huffman
    * with byte stuffing) and decoded by the from-scratch baseline
    * decoder behind [[graft.ext.Multimodal.decodeImages]] — Huffman
    * tables rebuilt from DHT, DC difference coding, AC EOB, IDCT.
    * Block-constant content with the all-8s quant table round-trips
    * BIT-EXACTLY (DC = 8·(v−128) divides evenly), so the oracle
    * recomputes every feature from the block formula; a wrong bit
    * anywhere in the Huffman/DCT path shifts a mean and fails the
    * hash. The lossy color path is tolerance-tested in
    * MultimodalSpec.
    */
  private val q90JpegDecode: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (8 * (1 + id % 3)).toInt
        val h = (8 * (1 + id % 2)).toInt
        id -> ext.JpegCodec.encodeGray(w, h,
          (x, y) => ((id * 31 + (x / 8) * 7 + (y / 8) * 11) % 256).toInt)
      }).toDF("media_id", "payload")
      .select(col("media_id"), lit("image").as("kind"), col("payload"),
        lit(null).cast(graft.model.Schemas.mediaMeta).as("meta"))
    val featCols = (0 until 8).map(j =>
      (floor(element_at(col("features"), j + 1).cast("double") * 1e6) / 1e6).as(s"f$j"))
    ext.Multimodal.decodeImages(media).toDF()
      .select(col("media_id") +: col("width") +: col("height") +: featCols: _*)
      .orderBy(col("media_id"))
  }

  /** q91 — ⊕ train/test contamination check
    * ([[graft.ext.Dedup.contaminationPairs]]): split the corpus by
    * doc-id parity into "train" and "test", report every (test,
    * train) pair sharing ≥3 distinct trigram shingles with the
    * contained-in-train fraction — the benchmark-leakage screen run
    * before evaluation. Exact (shingle equi-join, no banding);
    * stopword-like shingles capped by train doc-frequency.
    */
  private val q91Contamination: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    ext.Dedup.contaminationPairs(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"), k = 3, minOverlap = 3)
      .orderBy(col("test_id"), col("train_id"))
  }

  /** q92 — ⊕ deterministic weighted sample
    * ([[graft.ops.Sampling.weightedSample]]): per language, the 5
    * documents drawn with probability proportional to length
    * (`n_chars`) via A-Res priorities `ln(h)/w` over the md5 hash
    * bucket — the reproducible quality/length-weighted curation draw.
    * The oracle re-derives the md5 bucket with q50's digit arithmetic
    * and the identical priority expression; the priority itself is
    * NOT an output column (cross-libm ulps), only the selection.
    */
  private val q92WeightedSample: Q = (s, dir) => {
    graft.ops.Sampling.weightedSample(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        Seq(col("lang")), "doc_id", col("n_chars").cast("double"), k = 5)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** q93 — ⊕ character-bigram LM quality proxy
    * ([[graft.ext.TextAnalysis.charBigramLm]]/[[graft.ext.TextAnalysis.lmScore]]):
    * train the bigram model on the even-id half of the corpus, score
    * EVERY document by mean log-probability (so the out-of-vocabulary
    * floor path is exercised by odd-id docs) — the CCNet-style
    * perplexity screen that flags alien scripts/base64/mojibake.
    * Oracle mirrors the count → ln(c/total) → join → avg tree; the
    * cross-partition double mean is rounded on both sides (the q01
    * convention).
    */
  private val q93LmQuality: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val model = ext.TextAnalysis.charBigramLm(
      docs.filter(col("doc_id") % 2 === 0), col("text"))
    ext.TextAnalysis.lmScore(docs, col("doc_id"), col("text"), model)
      .orderBy(col("doc_id"))
  }

  /** q94 — ⊕ REAL compressed-audio decode ([[graft.ext.AdpcmCodec]]):
    * IMA ADPCM WAVs are synthesized per document from a unit-step
    * triangle formula and decoded behind
    * [[graft.ext.Multimodal.decodeWaves]]. At step index 0 (step = 7)
    * nibble deltas 0/±1 reconstruct EXACTLY and the index stays
    * pinned, so the triangle signal round-trips bit-exactly through
    * the real step-table recurrence — every sample after a block
    * header flows through nibble → delta → predictor, yet the oracle
    * can recompute all features from the formula alone (same
    * formula-oracle trick as q90's block-constant JPEG). Frames fill
    * whole 9-sample blocks so the size math is closed-form.
    */
  private val q94AdpcmDecode: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val ch = (1 + id % 2).toInt
        val n = (9 * (5 + id % 7)).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        id -> ext.AdpcmCodec.encode(ch, rate, n,
          (i, c) => (((id * 13 + 23L * c) % 4001) - 2000).toInt +
            math.abs((i % 20) - 10))
      }).toDF("media_id", "payload")
      .select(col("media_id"), lit("audio").as("kind"), col("payload"),
        lit(null).cast(graft.model.Schemas.mediaMeta).as("meta"))
    val featCols = (0 until 8).map(j =>
      (floor(element_at(col("features"), j + 1).cast("double") * 1e6) / 1e6).as(s"f$j"))
    ext.Multimodal.decodeWaves(media).toDF()
      .select(col("media_id") +: col("channels") +: col("sample_rate") +:
        col("n_frames") +: col("n_bytes") +: featCols: _*)
      .orderBy(col("media_id"))
  }

  /** q96 — ⊕ auto-selected rolling features
    * ([[graft.ops.Time.trailingSumsAuto]]): q76's trailing 1-hour
    * count+sum through the histogram-probing wrapper. The events
    * fixture is HOT at sf0.001 (one user owns ~9% > the 1/32
    * threshold) and uniform at sf0.01/sf0.1, so the driver's own
    * scale ladder exercises BOTH arms — and the oracle is the PLAIN
    * single-window SQL at every sf, so the hash match proves arm
    * selection is invisible to semantics (the q89 equivalence, now
    * chosen by the engine instead of a human).
    */
  private val q96RollingAuto: Q = (s, dir) => {
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("es", unix_seconds(col("ts")))
    graft.ops.Time.trailingSumsAuto(base, "user_id", "es", "value",
        spanSec = 3600L, outN = "n_1h", outSum = "v_raw")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("n_1h"), round(col("v_raw"), 4).as("v_1h"))
      .orderBy(col("event_id"))
  }

  /** q97 — ⊕ cross-corpus repeated-span removal
    * ([[graft.ext.Dedup.removeRepeatedSpans]]): the span-level exact
    * dedup LLM training pipelines run after doc-level dedup — every
    * 10-token window occurring ≥2 times across the corpus is removed
    * from every document (the fixture's planted near-dups share such
    * runs, so ~1000 windows flag at sf0.01). All-integer/string
    * arithmetic — no doubles anywhere — so the oracle compare is
    * exact, including the rebuilt `text_clean`.
    */
  private val q97SpanRemoval: Q = (s, dir) => {
    ext.Dedup.removeRepeatedSpans(Tables.documents(s, dir),
        col("doc_id"), col("text"), k = 10, minDf = 2)
      .orderBy(col("doc_id"))
  }

  /** q98 — ⊕ auto-selected decayed score
    * ([[graft.ops.Time.decayedScoreAuto]]): q85's exponential decay
    * through the same histogram probe as q96 — chunked two-pass
    * ([[graft.ops.Time.withDecayedScoreChunked]], q88's form) under a
    * hot key, plain single-window under uniform keys. Oracle is
    * q85's PLAIN running-sum SQL at every sf; the events fixture is
    * hot at sf0.001 and uniform at sf0.01/0.1, so both arms are
    * driver-gated against one semantics (q96's proof, decay family).
    */
  private val q98DecayAuto: Q = (s, dir) => {
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("t",
        (unix_seconds(col("ts")) - lit(1704067200L)) / lit(86400.0))
    graft.ops.Time.decayedScoreAuto(base, "user_id", "t", "event_id",
        "value", lambda = 0.1, chunkSpan = 1.0, out = "decay_raw")
      .select(col("event_id"), col("user_id"),
        round(col("decay_raw"), 4).as("decay_score"))
      .orderBy(col("event_id"))
  }

  /** q99 — ⊕ REAL video-frame decode + sampling
    * ([[graft.ext.GifCodec.decodeAnimated]] via
    * [[graft.ext.Multimodal.decodeVideoFrames]]): animated GIFs are
    * synthesized per document (full-screen base frame + up to three
    * 3×2 delta frames with a TRANSPARENT index, all through the real
    * LZW compressor), decoded with full player-side compositing, and
    * every 2nd composited frame is kept. The oracle recomputes each
    * emitted frame's channel means from the paint-order formulas
    * alone (latest covering opaque delta wins, else the base image),
    * so a wrong bit in LZW, transparency, rect placement or
    * compositing order shifts a mean and fails the hash. This is the
    * frame-sample path made real: sampling happens AFTER decode
    * because delta frames need their predecessors.
    */
  private val q99VideoFrames: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (6 + id % 4).toInt
        val h = (4 + id % 3).toInt
        val nf = (2 + id % 3).toInt
        val pal = Array.tabulate(64)(i => (
          ((id * 13 + 5 * i) % 256).toInt,
          ((id * 11 + 7 * i) % 256).toInt,
          ((id * 7 + 3 * i) % 256).toInt))
        val frames = (0 until nf).map { g =>
          if (g == 0)
            ext.GifCodec.AnimFrame(0, 0, w, h, delayCs = 10, disposal = 1,
              index = (x, y) => ((id + 3 * x + 5 * y) % 64).toInt)
          else {
            val lg = ((id + 2 * g) % (w - 2)).toInt
            val tg = ((id + 3 * g) % (h - 1)).toInt
            ext.GifCodec.AnimFrame(lg, tg, 3, 2, delayCs = 10 + g,
              disposal = 1, transparentIdx = 0,
              index = (fx, fy) =>
                ((id + 7 * g + 3 * (lg + fx) + 5 * (tg + fy)) % 64).toInt)
          }
        }
        id -> ext.GifCodec.encodeAnimated(w, h, pal, frames)
      }).toDF("media_id", "payload")
    val featCols = (0 until 8).map(j =>
      (floor(element_at(col("features"), j + 1).cast("double") * 1e6) / 1e6).as(s"f$j"))
    ext.Multimodal.decodeVideoFrames(media, every = 2).toDF()
      .select(Seq(col("media_id"), col("frame_idx"), col("delay_cs"),
        col("n_frames"), col("width"), col("height")) ++ featCols: _*)
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** q100 — ⊕ REAL pixel resize
    * ([[graft.ext.Multimodal.resizeImages]]): BMP fixtures are
    * box-downsampled by 2 over DECODED pixels (channel-wise integer
    * mean per 2×2 block, truncating division; partial edge blocks
    * averaged over their actual count) and re-encoded as BMP, then
    * fed through [[graft.ext.Multimodal.decodeImages]] — so the
    * oracle checks BOTH that every resized pixel is the exact block
    * mean AND that the resized payload is a real decodable image
    * (n_bytes is the closed-form BMP size of the NEW dims). Closes
    * the last metadata-only multimodal stage: resize now transforms
    * pixels, not just the meta struct.
    */
  private val q100Resize: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (7 + id % 5).toInt
        val h = (5 + id % 4).toInt
        id -> ext.BmpCodec.encode(w, h, (x, y) => (
          ((id * 13 + 3 * x + 5 * y) % 256).toInt,
          ((id * 11 + 3 * x + 5 * y) % 256).toInt,
          ((id * 7 + 3 * x + 5 * y) % 256).toInt))
      }).toDF("media_id", "payload")
    val rs = ext.Multimodal.resizeImages(media, factor = 2).toDF()
    val feats = ext.Multimodal.decodeImages(
      rs.select(col("media_id"), col("payload"))).toDF()
    val featCols = (0 until 8).map(j =>
      (floor(element_at(col("features"), j + 1).cast("double") * 1e6) / 1e6).as(s"f$j"))
    rs.select(col("media_id"), col("orig_width"), col("orig_height"))
      .join(feats, "media_id")
      .select(Seq(col("media_id"), col("orig_width"), col("orig_height"),
        col("width"), col("height"), col("n_bytes")) ++ featCols: _*)
      .orderBy(col("media_id"))
  }

  /** q101 — ⊕ image near-dup dedup via average hash
    * ([[graft.ext.ImageHash]]): the dedup family extended to the
    * image modality. Fixture BMPs are built in groups of four — a
    * group-determined 64-block light/dark pattern, with member m
    * flipping its first m blocks — so within-group aHash distances
    * are exactly 1..3 bits and cross-group patterns are far. The
    * banded hamming join (4×16-bit bands, COMPLETE for ≤3 by
    * pigeonhole — the q23 machinery, signature-agnostic after the
    * [[graft.ext.Dedup.hammingPairs64]] refactor) must recover
    * exactly the oracle's brute-force pair set; the oracle recomputes
    * every hash bit from the block/global-mean integer arithmetic,
    * not from the pattern shortcut.
    */
  private val q101ImageDedup: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        // md5-nibble pattern bits (q92's cross-platform-exact trick):
        // a linear-congruential parity has no avalanche — measured 46
        // distinct patterns over 125 groups, which made the fixture a
        // mass-duplicate corpus and the pair count quadratic at sf1.
        val mdig = java.security.MessageDigest.getInstance("MD5")
        def pbit(g: Long, j: Int): Boolean = {
          mdig.reset()
          ((mdig.digest(s"$g|$j".getBytes("UTF-8"))(0) >> 4) & 0xf) % 2 == 1
        }
        it.map { id =>
          val g = id / 4
          val m = (id % 4).toInt
          id -> ext.BmpCodec.encode(16, 16, (x, y) => {
            val j = (y / 2) * 8 + x / 2
            val v = if (pbit(g, j) ^ (j < m)) 200 else 40
            (v, v, v)
          })
        }
      }.toDF("media_id", "payload")
    ext.ImageHash.nearDupImages(media, maxHamming = 3)
  }

  /** q102 — ⊕ audio near-dup dedup via energy-delta fingerprint
    * ([[graft.ext.AudioHash]]): completes the text/image/audio dedup
    * trio. Mono PCM fixtures carry a group-determined 65-segment
    * energy profile (member m flips its first m segments), the
    * fingerprint hashes the sign of each segment-to-segment energy
    * change, and the same banded hamming join as q101 must recover
    * exactly the oracle's brute-force pair set. The oracle recomputes
    * every energy from the per-frame squared samples — not from a
    * profile shortcut — so a wrong sample anywhere in the PCM decode
    * path shifts an energy and flips a bit.
    */
  private val q102AudioDedup: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val mdig = java.security.MessageDigest.getInstance("MD5")
        def pbit(g: Long, k: Int): Boolean = {
          mdig.reset()
          ((mdig.digest(s"$g|$k".getBytes("UTF-8"))(0) >> 4) & 0xf) % 2 == 1
        }
        it.map { id =>
          val g = id / 4
          val m = (id % 4).toInt
          id -> ext.WavCodec.encode(1, 8000, 130, (f, _) => {
            val k = f / 2
            if (pbit(g, k) ^ (k < m)) 1500 else 300
          })
        }
      }.toDF("media_id", "payload")
    ext.AudioHash.nearDupAudio(media, maxHamming = 3)
  }

  /** q103 — ⊕ mass-duplicate-safe image dedup clusters
    * ([[graft.ext.Dedup.hammingClusters]]): the 100 TB form of the
    * q101 pair list. Member 3 of every group carries an EXACT
    * duplicate of member 0's image (identical signature), so the
    * fixture plants the mass-duplicate case the pair form is
    * quadratic in: identical sigs collapse to one representative
    * before the banded join, clusters come from components over
    * unique signatures, output is O(n). The oracle brute-forces
    * all-pairs hamming ≤ 3 and takes the recursive-CTE transitive
    * closure — the representative shortcut must produce EXACTLY the
    * closure's clusters, duplicate members included.
    */
  /** q103/q104's shared image fixture: 16×16 grayscale BMPs over an
    * md5-nibble block pattern, member 3 an EXACT duplicate of
    * member 0 (the planted mass-duplicate case).
    */
  private def dupImageMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val mdig = java.security.MessageDigest.getInstance("MD5")
        def pbit(g: Long, j: Int): Boolean = {
          mdig.reset()
          ((mdig.digest(s"$g|$j".getBytes("UTF-8"))(0) >> 4) & 0xf) % 2 == 1
        }
        it.map { id =>
          val g = id / 4
          val m0 = (id % 4).toInt
          val m = if (m0 == 3) 0 else m0 // member 3 == member 0, exactly
          id -> ext.BmpCodec.encode(16, 16, (x, y) => {
            val j = (y / 2) * 8 + x / 2
            val v = if (pbit(g, j) ^ (j < m)) 200 else 40
            (v, v, v)
          })
        }
      }.toDF("media_id", "payload")
  }

  private val q103ImageClusters: Q = (s, dir) => {
    ext.Dedup.hammingClusters(
        ext.ImageHash.imageHashes(dupImageMedia(s, dir)), maxHamming = 3)
      .orderBy(col("id"))
  }

  /** q104 — ⊕ composed multimodal training-prep manifest: the media
    * stages chained the way a real pipeline runs them — perceptual
    * dedup clusters ([[graft.ext.Dedup.hammingClusters]]) → keep only
    * each cluster's representative (id == cluster_id) → REAL pixel
    * resize of the survivors ([[graft.ext.Multimodal.resizeImages]],
    * 16×16 → 8×8) → re-decode the resized payloads
    * ([[graft.ext.Multimodal.decodeImages]] — they must be real
    * images) → join the text-side token-count gate. One oracle
    * hash-checks the whole chain: cluster survivorship, the exact
    * resized block values, the closed-form thumbnail size, and the
    * gate. Stage ORDER is the scale lesson: dedup before resize so
    * pixels are touched once per surviving cluster, not once per
    * duplicate.
    */
  private val q104MediaPrep: Q = (s, dir) => {
    val media = dupImageMedia(s, dir)
    val clusters = ext.Dedup.hammingClusters(
      ext.ImageHash.imageHashes(media), maxHamming = 3)
    val keep = clusters.filter(col("id") === col("cluster_id"))
      .select(col("id").as("media_id"), col("cluster_size"))
    val kept = media.join(keep, "media_id")
    val resized = ext.Multimodal.resizeImages(
      kept.select(col("media_id"), col("payload")), factor = 2).toDF()
    val feats = ext.Multimodal.decodeImages(
      resized.select(col("media_id"), col("payload"))).toDF()
    val toks = Tables.documents(s, dir).select(col("doc_id").as("media_id"),
      ext.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    feats.join(keep, "media_id")
      .join(toks, "media_id")
      .filter(col("n_tokens") >= 40)
      .select(col("media_id"), col("cluster_size"),
        col("width"), col("height"), col("n_bytes"),
        (floor(element_at(col("features"), 4).cast("double") * 1e6) / 1e6).as("f3"),
        col("n_tokens"))
      .orderBy(col("media_id"))
  }

  /** q105 — ⊕ URL / domain curation ([[graft.ext.UrlOps]]): parse a
    * synthetic per-document URL (scheme, userinfo, host, port, path,
    * query, fragment — derived deterministically from doc_id like
    * q71's PII), collapse hosts to the registered domain with the
    * public-suffix heuristic, aggregate per-domain corpus stats, and
    * drop blocklisted domains — the C4/RefinedWeb-style provenance
    * gate. Parsing/domain extraction are row-local codegen'd regex +
    * array ops riding the scan; the only shuffle is the domain
    * aggregation; the blocklist is a shuffle-free `isin` filter.
    */
  private val q105UrlDomains: Q = (s, dir) => {
    val d = col("doc_id")
    val str = (c: Column) => c.cast("string")
    val suffix = when(d % 4 === 0, "co.uk").when(d % 4 === 1, "com")
      .when(d % 4 === 2, "org").otherwise("io")
    val url = concat(
      when(d % 2 === 0, "https://").otherwise("http://"),
      when(d % 7 === 0, concat(lit("u"), str(d % 5), lit(":pw@"))).otherwise(lit("")),
      when(d % 3 === 0, "a.b.").otherwise(""),
      lit("site"), str(d % 40), lit("."), suffix,
      when(d % 5 === 0, ":8080").otherwise(""),
      lit("/p/"), str(d % 13),
      when(d % 2 === 0, concat(lit("?id="), str(d), lit("&ref=x"))).otherwise(lit("")),
      when(d % 11 === 0, "#frag").otherwise(""))
    val docs = Tables.documents(s, dir)
      .select(d, col("lang"), col("n_chars"), url.as("url"))
    val stats = ext.UrlOps.domainStats(docs, col("url"), col("lang"), col("n_chars"))
    ext.UrlOps.filterBlocklist(stats, col("domain"), Seq("site0.co.uk", "site13.com"))
      .orderBy(col("domain"))
  }

  /** q106 — ⊕ SemDeDup-style semantic dedup
    * ([[graft.ext.Similarity.semDedup]]): q38's deterministic
    * quantized k-means clusters the embeddings, then each cluster
    * drops every vector with a lower-id cosine-ε neighbor (ε-ball
    * keep-one, min-id representative). Same tau as the q25/q26
    * near-dup family so the three rank the same neighborhoods; the
    * oracle replays train+assign via the shared q38 CTE chain and
    * mirrors the drop rule as NOT EXISTS.
    */
  private val q106SemDedup: Q = (s, dir) => {
    ext.Similarity.semDedup(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), k = 16, iters = 2,
        tau = 0.42, quantize = Some(9))
      .select(col("id"), col("cluster"))
      .orderBy(col("id"))
  }

  /** q107 — ⊕ DSIR-style importance resampling
    * ([[graft.ext.TextAnalysis.importanceWeights]] →
    * [[graft.ops.Sampling.weightedSample]]): the target-domain model
    * trains on the English docs, the raw model on the whole corpus;
    * each doc's likelihood ratio `exp(lm_target − lm_raw)` becomes
    * the A-Res weight and the per-language top-8 is the reproducible
    * resampled subset — DSIR's "make the raw corpus look like the
    * target" draw, end to end. The oracle replays q93's LM chain for
    * BOTH models over one bigram stream and q92's md5 priority tree
    * (priority internal; ratio rounded before use on both sides).
    */
  private val q107DsirSample: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val w = ext.TextAnalysis.importanceWeights(docs, col("doc_id"), col("text"),
      col("lang") === "en")
    val joined = docs.select(col("doc_id"), col("lang")).join(w, "doc_id")
    graft.ops.Sampling.weightedSample(joined, Seq(col("lang")), "doc_id",
        col("weight"), k = 8)
      .select(col("lang"), col("doc_id"), col("lm_target"), col("lm_raw"),
        col("weight"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** q108 — ⊕ REAL video decode from a mainstream container
    * ([[graft.ext.AviCodec]]): per-document MJPEG AVIs (RIFF walk,
    * avih/strh/strf validation, word-aligned `00dc` chunks) whose
    * frames are block-constant gray JPEGs decoded by the REAL
    * entropy decoder ([[graft.ext.JpegCodec]] — canonical Huffman,
    * DC prediction, IDCT), sampled every 2nd frame behind
    * [[graft.ext.Multimodal.decodeVideoFrames]]. Block-constant
    * content round-trips bit-exactly under the all-8s quant table
    * (q90's trick), so the oracle recomputes every frame feature
    * from the fixture formula — a wrong bit anywhere in the
    * container walk or the JPEG entropy decode shifts a mean.
    */
  private val q108AviDecode: Q = (s, dir) => {
    import s.implicits._
    val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val w = (8 * (1 + id % 2)).toInt
        val nf = (1 + id % 4).toInt
        val frames = (0 until nf).map { f =>
          val v = ((id * 37 + f * 17) % 256).toInt
          ext.JpegCodec.encodeGray(w, 8, (_, _) => v)
        }
        id -> ext.AviCodec.encode(w, 8, (10000 * (1 + id % 3)).toInt, frames)
      }).toDF("media_id", "payload")
    val featCols = (0 until 8).map(j =>
      (floor(element_at(col("features"), j + 1).cast("double") * 1e6) / 1e6).as(s"f$j"))
    ext.Multimodal.decodeVideoFrames(media, every = 2).toDF()
      .select(col("media_id") +: col("frame_idx") +: col("delay_cs") +:
        col("n_frames") +: col("width") +: col("height") +: featCols: _*)
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** q109 — ⊕ domain-graph PageRank ([[graft.ops.Graph.pageRank]]):
    * a deterministic synthetic link graph over the q105 domain space
    * (edges derived from doc_id arithmetic, deduplicated), ranked
    * with 3 damped rounds — the Common-Crawl-style link-authority
    * signal a per-domain quality gate would weight by. Ranks are
    * quantized per round (the q38 k-means trick) so the oracle can
    * unroll the identical iteration in SQL; dangling mass is not
    * redistributed (documented convention, mirrored).
    */
  private val q109PageRank: Q = (s, dir) => {
    val e = Tables.documents(s, dir)
      .select((col("doc_id") % 37).as("src"),
        ((col("doc_id") * 7 + 3) % 40).as("dst"))
      .distinct()
    graft.ops.Graph.pageRank(e, col("src"), col("dst"), iters = 3)
      .select(concat(lit("site"), col("n")).as("domain"),
        round(col("r"), 6).as("rank"))
      .orderBy(col("domain"))
  }

  /** q110 — ⊕ int8 embedding quantization
    * ([[graft.ext.Similarity.quantizeInt8]]): per-vector scale,
    * integer self-norm (exact cross-engine — integer arithmetic),
    * and max reconstruction error. The error column is the
    * operational claim: every component lands within scale/2 of the
    * original, which is what licenses scoring ANN candidates on the
    * int8 form. Row-local over the scan; no shuffle but the final
    * presentation sort.
    */
  private val q110QuantizeInt8: Q = (s, dir) => {
    val qz = ext.Similarity.quantizeInt8(col("embedding"))
    Tables.embeddings(s, dir)
      .select(col("vec_id"), qz.getField("scale").as("sc"),
        qz.getField("q").as("q"),
        ext.Similarity.vecD(col("embedding")).as("v"))
      .select(col("vec_id"),
        round(col("sc"), 6).as("scale6"),
        aggregate(col("q"), lit(0L),
          (acc, x) => acc + x.cast("long") * x.cast("long")).as("qnorm"),
        round(array_max(zip_with(col("q"), col("v"),
          (qi, xi) => abs(qi * col("sc") - xi))), 6).as("err6"))
      .orderBy(col("vec_id"))
  }

  /** q111 — ⊕ ORC roundtrip ([[graft.sinks.Orc]]): documents written
    * to ORC, read back with a pushed-down filter, re-aggregated —
    * q57's format-boundary proof for the second columnar lake format
    * (text bytes, counts and sums must survive ORC's zlib striping
    * exactly; the oracle computes the same aggregate from parquet).
    *
    * The write runs ONCE per (session, sfDir) — plan-shape sweeps and
    * bench warmup/iterations reuse the cached path instead of
    * re-executing a write job and leaking a temp dir per invocation;
    * the dirs are removed on JVM exit.
    */
  private val orcOutCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      orcOutCache.values.forEach(p => rm(new java.io.File(p)))
    }))
  }
  private val q111OrcRoundtrip: Q = (s, dir) => {
    val out = orcOutCache.computeIfAbsent(
      System.identityHashCode(s) + "|" + dir,
      _ => writeOrcOnce(s, dir))
    sinks.Orc.read(s, out)
      .filter(col("n_chars") >= 100)  // stripe-prunable predicate
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text"))).as("sum_text_len"),
        min(md5(col("text").cast("binary"))).as("min_md5"),
        countDistinct(md5(col("text").cast("binary"))).as("n_distinct_md5"))
      .orderBy(col("lang"))
  }
  private def writeOrcOnce(s: SparkSession, dir: String): String = {
    val out = scratchDir("q111_orc")
    sinks.Orc.write(Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"), col("text")), out)
    out
  }

  /** q113 — ⊕ training-sequence assembly
    * ([[graft.ext.Curation.assembleSequences]]): q52's shard packing
    * carried through to the actual artifact — each shard's documents
    * concatenated in order with a separator into the string a
    * tokenizer consumes (order determinized via sorted structs, the
    * q31 trick). The oracle rebuilds every sequence with
    * `string_agg(… ORDER BY …)` and compares md5s, so a single
    * misplaced or reordered document anywhere flips a hash.
    */
  private val q113SeqAssembly: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      col("text"), ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    ext.Curation.assembleSequences(docs, col("source"), col("doc_id"),
        col("text"), col("n_tokens"), budget = 2000)
      .select(col("group"), col("shard_id"), col("n_docs"), col("seq_tokens"),
        md5(col("sequence").cast("binary")).as("seq_md5"))
      .orderBy(col("group"), col("shard_id"))
  }

  /** q114 — ⊕ deterministic data-mixture sampling
    * ([[graft.ops.Sampling.mixtureSample]]): four sources drawn at
    * rates targeting a 30/30/20/20 mixture of ~40 docs, membership
    * by the q50 md5-bucket predicate — reproducible source weighting
    * (unlisted sources excluded). Oracle re-derives the per-source
    * rates and the identical bucket arithmetic.
    */
  private val q114MixtureSample: Q = (s, dir) => {
    graft.ops.Sampling.mixtureSample(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        col("source"), "doc_id",
        Seq("src0" -> 0.3, "src1" -> 0.3, "src5" -> 0.2, "src7" -> 0.2),
        totalN = 40L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("source"))
  }

  /** q115 — ⊕ edit-distance-verified near-dup
    * ([[graft.ext.Dedup.editVerifiedPairs]]): q23's simhash banding
    * loosened to hamming ≤ 8 as candidates, then the EXACT
    * Levenshtein verify (both engines compute the same classic DP
    * natively) keeps pairs within 40 character edits — the
    * blocking+verify shape of fuzzy dedup, with the quadratic DP
    * confined to banded candidates.
    */
  private val q115EditDedup: Q = (s, dir) => {
    ext.Dedup.editVerifiedPairs(Tables.documents(s, dir),
        col("doc_id"), col("text"), maxHamming = 8, maxDist = 40)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q116 — ⊕ link extraction → link-graph PageRank: synthetic HTML
    * anchors appended to each document (q71's derivation trick),
    * `regexp_extract_all` pulls every href, [[graft.ext.UrlOps]]
    * collapses each to its registered domain, and the deduplicated
    * (own domain → linked domain) edges feed
    * [[graft.ops.Graph.pageRank]] — the crawl-side provenance chain
    * (extract → normalize → rank) end to end. Extraction and domain
    * collapse are row-local; the graph is tiny next to the corpus
    * (distinct domains), which is exactly the shape at 100 TB.
    */
  private val q116LinkGraph: Q = (s, dir) => {
    val d = col("doc_id")
    val str = (c: Column) => c.cast("string")
    def sfx(m: Column) = when(m === 0, "com").when(m === 1, "org").otherwise("io")
    val html = concat(col("text"),
      lit(" <a href=\"https://site"), str((d * 5 + 1) % 23), lit("."),
      sfx((d + 1) % 3), lit("/x\">l1</a>"),
      when(d % 2 === 0,
        concat(lit(" <a href=\"http://a.site"), str((d * 7 + 2) % 23), lit("."),
          sfx((d + 2) % 3), lit("/y?z=1\">l2</a>"))).otherwise(lit("")))
    val own = concat(lit("site"), str(d % 23), lit("."), sfx(d % 3))
    val links = Tables.documents(s, dir)
      .select(own.as("src"),
        explode(regexp_extract_all(html,
          lit("href=\"(https?://[^\"]+)\""), lit(1))).as("url"))
    val edges = links
      .select(col("src"),
        ext.UrlOps.registeredDomain(ext.UrlOps.host(col("url"))).as("dst"))
      .distinct()
    graft.ops.Graph.pageRank(edges, col("src"), col("dst"), iters = 3)
      .select(col("n").as("domain"), round(col("r"), 6).as("rank"))
      .orderBy(col("domain"))
  }

  /** q117 — ⊕ time-series resample + forward fill
    * ([[graft.ops.Time.resampleFill]]): per-user hourly grid over the
    * events stream, last observation per hour, gaps carried forward —
    * the standard densification before windowed feature aggregation.
    * The oracle regenerates the grid with `range()` and replays the
    * fill with the same ignore-nulls window; the carried value is an
    * OBSERVED value (lexicographic-max tiebreak), so no accumulation
    * rounding exists to diverge.
    */
  private val q117Resample: Q = (s, dir) => {
    graft.ops.Time.resampleFill(Tables.events(s, dir),
        col("user_id"), col("ts"), col("value"), stepSec = 3600L)
      .select(col("key").as("user_id"), col("bin"),
        round(col("value"), 6).as("value"), col("was_observed"))
      .orderBy(col("user_id"), col("bin"))
  }

  /** q118 — ⊕ equi-width histogram profiling
    * ([[graft.ops.Profile.histogram]]): 16
    * buckets over `l_extendedprice` — min/max in one single-row
    * broadcast (whitelisted stats cross), bucket assignment row-local,
    * one hash aggregation. The distribution summary q51's profiler
    * reports next to its min/max/distinct columns.
    */
  private val q118Histogram: Q = (s, dir) => {
    graft.ops.Profile.histogram(Tables.lineitem(s, dir),
        col("l_extendedprice"), buckets = 16)
      .orderBy(col("bucket"))
  }

  /** q119 — ⊕ composed provenance→selection→assembly pipeline: the
    * capstone for the second round-8 session's layer, stage order
    * chosen for scale — (1) domain gate FIRST (cheap row-local URL
    * parse + `isin`, shrinks everything downstream), (2) DSIR
    * importance weights over the survivors (two corpus passes),
    * (3) keep target-like docs (weight ≥ 1 — row-local, no
    * resampling machinery in the oracle), (4) training-sequence
    * assembly per source over what remains. One oracle hash checks
    * the whole chain: a wrong domain collapse, LM count, ratio
    * rounding, shard boundary or sequence order flips it.
    */
  private val q119ProvenancePrep: Q = (s, dir) => {
    val d = col("doc_id")
    val str = (c: Column) => c.cast("string")
    val suffix = when(d % 4 === 0, "co.uk").when(d % 4 === 1, "com")
      .when(d % 4 === 2, "org").otherwise("io")
    val url = concat(
      when(d % 2 === 0, "https://").otherwise("http://"),
      when(d % 3 === 0, "a.b.").otherwise(""),
      lit("site"), str(d % 40), lit("."), suffix, lit("/p/"), str(d % 13))
    val gated = Tables.documents(s, dir)
      .withColumn("__dom", ext.UrlOps.registeredDomain(ext.UrlOps.host(url)))
      .filter(!col("__dom").isin("site0.co.uk", "site13.com"))
    val w = ext.TextAnalysis.importanceWeights(gated, col("doc_id"), col("text"),
      col("lang") === "en")
    val kept = gated.join(w.filter(col("weight") >= 1.0).select("doc_id"), "doc_id")
      .select(col("doc_id"), col("source"), col("text"),
        ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    ext.Curation.assembleSequences(kept, col("source"), col("doc_id"),
        col("text"), col("n_tokens"), budget = 2000)
      .select(col("group"), col("shard_id"), col("n_docs"), col("seq_tokens"),
        md5(col("sequence").cast("binary")).as("seq_md5"))
      .orderBy(col("group"), col("shard_id"))
  }

  /** q120 — ⊕ relational phrase search
    * ([[graft.ext.TextRank.phraseMatches]]): documents containing
    * the exact token phrase "table value", counted per doc via
    * the positional (doc, pos−i, i) coverage trick — the positional-
    * index query upgrading F5's substring predicate to token-exact
    * phrase semantics. Oracle replays the identical construction
    * with a VALUES offset table.
    */
  private val q120PhraseSearch: Q = (s, dir) => {
    ext.TextRank.phraseMatches(Tables.documents(s, dir),
        col("doc_id"), col("text"), Seq("table", "value"))
      .orderBy(col("doc_id"))
  }

  /** q121 — ⊕ co-occurrence + PMI
    * ([[graft.ext.TextAnalysis.cooccurrencePmi]]): ordered token
    * pairs within a 2-token forward window, pruned at 30
    * occurrences, scored by pointwise mutual information — the
    * GloVe/word2vec-prep corpus statistic. Pair formation is an
    * equi-join on (doc, position) (offset explode, no positional
    * self-join fan-out); the oracle replays it with a BETWEEN join
    * and the identical division/ln order.
    */
  private val q121CooccurPmi: Q = (s, dir) => {
    ext.TextAnalysis.cooccurrencePmi(Tables.documents(s, dir),
        col("doc_id"), col("text"), window = 2, minCount = 30L)
      .orderBy(col("w1"), col("w2"))
  }

  /** q122 — ⊕ per-dimension embedding standardization
    * ([[graft.ext.Similarity.standardizeDims]]): z-score whitening
    * with quantized population stats (the k-means reproducibility
    * trick), transform row-local against literal stat arrays. Output
    * digests each whitened vector (first components + its norm) so
    * the hash check covers every dimension's μ/σ and the division.
    */
  private val q122Standardize: Q = (s, dir) => {
    ext.Similarity.standardizeDims(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"))
      .select(col("id"),
        round(element_at(col("z"), 1), 6).as("z0"),
        round(element_at(col("z"), 2), 6).as("z1"),
        round(sqrt(aggregate(col("z"), lit(0.0), (a, x) => a + x * x)), 6).as("znorm"))
      .orderBy(col("id"))
  }

  /** q123 — ⊕ incremental near-dup screen
    * ([[graft.ext.Dedup.incrementalNearDup]]): even-id docs are the
    * standing history, odd-id docs the incoming crawl; each incoming
    * doc is flagged if it near-dups history OR an earlier incoming
    * doc. The asymmetric probe/build banding never generates
    * history×history pairs; the oracle derives the identical dup set
    * from q23's shared complete candidate CTEs plus the parity/min-id
    * partner rules.
    */
  private val q123IncrementalDedup: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    ext.Dedup.incrementalNearDup(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"))
      .orderBy(col("id"))
  }

  /** q124 — ⊕ robust outlier accounting
    * ([[graft.ops.Profile.madOutliers]]): per-returnflag median/MAD
    * gate over `l_extendedprice` at k = 3 — the heavy-tail-safe
    * data-quality screen. Exact interpolated percentiles on both
    * engines (Spark `percentile` ≡ DuckDB `quantile_cont`), rounded
    * at 4; the comparison itself runs on the UNROUNDED med/mad
    * identically on both sides.
    */
  private val q124MadOutliers: Q = (s, dir) => {
    graft.ops.Profile.madOutliers(Tables.lineitem(s, dir),
        col("l_returnflag"), col("l_extendedprice"), k = 3.0)
      .orderBy(col("g"))
  }

  /** q125 — ⊕ duplicate-family size distribution: exact-dedup
    * fingerprints grouped into families, then the HISTOGRAM of
    * family sizes (how many families of 1, of 2, …) — the one-row-
    * per-size corpus-health metric ("how duplicated is my corpus")
    * a curation run reports before choosing dedup depth. Two hash
    * aggregations, output bounded by the largest family size.
    */
  private val q125DupFamilies: Q = (s, dir) => {
    // plant exact duplicates (the fixture has only NEAR-dups): every
    // 10th doc twice, every 20th three times -> family sizes {1,2,3}
    val docs = Tables.documents(s, dir)
    val corpus = docs.select(col("text"))
      .union(docs.filter(col("doc_id") % 10 === 0).select(col("text")))
      .union(docs.filter(col("doc_id") % 20 === 0).select(col("text")))
    corpus
      .select(ext.TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("family_size"))
      .groupBy(col("family_size")).agg(count(lit(1)).as("n_families"))
      .orderBy(col("family_size"))
  }

  /** q126 — ⊕ cross-source near-dup flow matrix: q23's simhash pairs
    * joined back to each side's source label and counted per
    * (source_a, source_b) — "which sources copy from each other",
    * the provenance diagnostic that decides whether dedup must run
    * cross-source or per-source. Two broadcast-able dimension joins
    * on the (tiny) pair list.
    */
  private val q126SourceFlow: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val src = docs.select(col("doc_id"), col("source"))
    ext.Dedup.simhashNearDup(docs, col("doc_id"), col("text"))
      .join(src.select(col("doc_id").as("id_a"), col("source").as("source_a")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("source_b")), "id_b")
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q127 — ⊕ ordered conversion funnel
    * ([[graft.ops.Funnel.funnelSteps]]): view → click → purchase,
    * strictly increasing timestamps, every step within 7 days of the
    * user's entry. The oracle rebuilds the per-step reached sets as
    * chained min-timestamp CTEs — counts are exact integers, so the
    * conversion curve hash-compares with no rounding.
    */
  private val q127Funnel: Q = (s, dir) => {
    ops.Funnel.funnelSteps(Tables.events(s, dir), col("user_id"), col("ts"),
      col("event_type"), Seq("view", "click", "purchase"), horizon = "7 days")
  }

  /** q128 — ⊕ weekly cohort retention
    * ([[graft.ops.Funnel.retentionCohorts]]): users cohorted by ISO
    * week of first activity, counted per (cohort, week offset).
    * `date_trunc('week')` is Monday-anchored in BOTH engines and the
    * offset is pure date arithmetic — all-integer output.
    */
  private val q128Retention: Q = (s, dir) => {
    ops.Funnel.retentionCohorts(Tables.events(s, dir), col("user_id"), col("ts"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** q129 — ⊕ last-touch attribution
    * ([[graft.ops.Funnel.lastTouchAttribution]]): each purchase
    * credited to the most recent view/click/signup within 3 days,
    * else `direct`. The (ts, event_id) total order makes the running
    * `last(..., ignoreNulls)` deterministic; the oracle is the same
    * IGNORE NULLS running window in DuckDB. Sum rounded at 2 (the
    * q39 convention).
    */
  private val q129Attribution: Q = (s, dir) => {
    ops.Funnel.lastTouchAttribution(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_type"), col("event_id"),
        touchTypes = Seq("view", "click", "signup"), convType = "purchase",
        valueCol = col("value"), lookback = "3 days")
      .orderBy(col("channel"))
  }

  /** q130 — ⊕ per-node triangle counts
    * ([[graft.ops.Graph.triangleCounts]]) over the q109 arithmetic
    * graph. The Scala side runs the degree-ordered orientation (wedge
    * work bounded m^{3/2} under skew); the oracle counts the same
    * triangles with the naive canonical three-way join — different
    * algorithm, identical integer result, which is exactly the proof
    * the orientation trick preserves semantics.
    */
  private val q130Triangles: Q = (s, dir) => {
    val e = Tables.documents(s, dir)
      .select((col("doc_id") % 37).as("src"),
        ((col("doc_id") * 7 + 3) % 40).as("dst"))
    ops.Graph.triangleCounts(e, col("src"), col("dst"))
      .orderBy(col("node"))
  }

  /** q131 — ⊕ entity resolution, exhaustive-block BASELINE
    * ([[graft.ext.EntityRes.resolveEntities]]): customers blocked by
    * nation, paired by the codegen [[graft.functions.JaroWinkler]]
    * comparator at ≥ 0.98 (rounded at 6 BEFORE the threshold on both
    * sides, so the gate itself is cross-engine exact), components via
    * the q48 label-propagation, singletons kept. The oracle scores
    * with DuckDB's own `jaro_winkler_similarity` — two independent
    * implementations of the comparator must agree bit-for-bit on
    * every one of the ~44k block pairs for the hash to match.
    *
    * Labeled quadratic baseline (the q25 convention): the block key's
    * cardinality is FIXED (25 nations), so block size grows with the
    * corpus and pair work quadratically — measured 18.4× for 10× data
    * (BASELINE.md). The scale path is q133's symmetric-delete
    * blocking; this form is exact within blocks and is what q133's
    * recall trade is measured against.
    */
  private val q131EntityRes: Q = (s, dir) => {
    ext.EntityRes.resolveEntities(Tables.customer(s, dir), col("c_custkey"),
        col("c_name"), col("c_nationkey"), threshold = 0.98)
      .orderBy(col("id"))
  }

  /** q133 — ⊕ entity resolution, symmetric-delete SCALE path
    * ([[graft.ext.EntityRes.matchPairsEditBlocked]]): the same
    * comparator/threshold/closure as q131 but candidates come from
    * SymSpell deletion-variant keys (nation co-blocked) — complete
    * for Damerau-Levenshtein ≤ 1 variants, linear-at-fixed-density
    * where q131's fixed-cardinality block is quadratic. The oracle
    * mirrors the deletion-key generation, bucket cap and scoring, so
    * the recall trade vs q131 (Jaro-high digit PERMUTATIONS beyond
    * DL 1 are dropped) is part of the hashed contract, not drift.
    */
  private val q133EntityBlocked: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    ext.EntityRes.resolveFromPairs(cust, col("c_custkey"),
        ext.EntityRes.matchPairsEditBlocked(cust, col("c_custkey"),
          col("c_name"), col("c_nationkey"), threshold = 0.98))
      .orderBy(col("id"))
  }

  /** q132 — ⊕ session path transitions
    * ([[graft.ops.Funnel.pathTransitions]]): the first-order Markov
    * matrix of event types over ≤10-minute consecutive gaps. The
    * probability is a ratio of exact counts — both engines divide
    * the same integers, rounded at 6.
    */
  private val q132PathTransitions: Q = (s, dir) => {
    ops.Funnel.pathTransitions(Tables.events(s, dir), col("user_id"),
        col("ts"), col("event_type"), col("event_id"), maxGap = "10 minutes")
      .orderBy(col("from_type"), col("to_type"))
  }

  /** q134 — ⊕ A/B experiment readout ([[graft.ops.Experiment.abTest]]):
    * view-exposed users split control/treatment by the q81 md5-bucket
    * hash, conversion = any purchase strictly after first exposure,
    * pooled two-proportion z. The oracle re-derives the hash split
    * with the q81 digit-arithmetic mirror and the identical double
    * expression tree for rates/lift/z (rounded at 9) — one hash
    * aggregation on the user key, then a single-row readout.
    */
  private val q134AbTest: Q = (s, dir) => {
    ops.Experiment.abTest(Tables.events(s, dir), "user_id", col("ts"),
      col("event_type"), exposureType = "view", conversionType = "purchase")
  }

  /** q135 — ⊕ count-min sketch point frequencies
    * ([[graft.ops.Sketch.countMin]] + `cmEstimate`): event-type
    * frequencies read back through the d×w counter matrix. The
    * fixture's key set is small enough that no key fully collides
    * (deterministic — same xxhash64 cells at every sf), so the
    * min-over-rows readout is EXACT and the oracle is the plain
    * exact count — the same exact-mode convention as q77's
    * Misra-Gries; the ≥ bound under forced collisions is
    * CountMinSpec's job.
    */
  private val q135CountMin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    ops.Sketch.cmEstimate(
        ops.Sketch.countMin(ev, col("event_type")),
        ev, col("event_type"))
      .withColumnRenamed("key", "event_type")
      .orderBy(col("event_type"))
  }

  /** q136 — ⊕ k-arm chi-square experiment readout
    * ([[graft.ops.Experiment.chiSquare]]): three hash-assigned arms
    * (40/30/30), Pearson chi-square over the arms × outcome table.
    * The oracle re-derives the 3-way bucket split and the identical
    * double tree for expected counts / contributions / statistic
    * (round 9); totals are window sums over the k-row readout.
    */
  private val q136ChiSquare: Q = (s, dir) => {
    ops.Experiment.chiSquare(Tables.events(s, dir), "user_id", col("ts"),
        col("event_type"), exposureType = "view", conversionType = "purchase",
        variants = Seq("control" -> 0.4, "variant_a" -> 0.3, "variant_b" -> 0.3))
      .orderBy(col("variant"))
  }

  /** q137 — ⊕ CUPED variance-reduced experiment readout
    * ([[graft.ops.Experiment.cuped]]): purchase cents adjusted by
    * each user's pre-cutover purchases, θ = cov/var over integer
    * moment sums. Quantizing to cents PER EVENT makes every
    * aggregation an exact integer sum, so θ and the adjusted means
    * are bit-identical cross-engine before the presentation rounding
    * — the oracle mirrors the moment algebra verbatim.
    */
  private val q137Cuped: Q = (s, dir) => {
    ops.Experiment.cuped(Tables.events(s, dir), "user_id", col("ts"),
        col("event_type"), col("value"), exposureType = "view",
        metricType = "purchase", cutover = "2024-01-16 00:00:00",
        variants = Seq("control" -> 0.5, "treatment" -> 0.5))
      .orderBy(col("variant"))
  }

  /** q138 — ⊕ Morton (Z-order) key ([[graft.functions.ZOrder]]):
    * the interleaved layout key as row-local codegen'd bit
    * arithmetic, oracled against the same shift-and-mask cascade in
    * SQL (two independent spellings of the interleave must agree on
    * every key). The layout machinery this key drives — quantile
    * bucketing, range-partitioned write, measured either-column file
    * pruning vs a single-column sort — is LayoutSpec's territory
    * (file-level claims aren't SQL-expressible).
    */
  private val q138Zorder: Q = (s, dir) => {
    Tables.customer(s, dir).select(col("c_custkey"),
      functions.ZOrder.zorder2(col("c_nationkey"), pmod(col("c_custkey"), lit(256)))
        .as("zkey"))
      .orderBy(col("c_custkey"))
  }

  /** q139 — ⊕ audience overlap matrix
    * ([[graft.ops.Audience.overlapMatrix]]): pairwise event-type
    * audiences with intersection and Jaccard — the cross-community
    * comparison the reference's discovery flow implies. The oracle
    * re-derives the matrix from per-user distinct-label self-joins;
    * Jaccard is a ratio of exact integers, round 9.
    */
  private val q139AudienceOverlap: Q = (s, dir) => {
    ops.Audience.overlapMatrix(Tables.events(s, dir), col("user_id"),
        col("event_type"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q140 — ⊕ funnel time-to-convert
    * ([[graft.ops.Funnel.funnelTimes]]): per-step median/p90 seconds
    * from entry, over the same reached sets as q127 (shared stage
    * construction — the two can't drift). Spark's exact `percentile`
    * and DuckDB's `quantile_cont` interpolate identically, so the
    * percentiles hash-match; dt uses floor(epoch) on both sides
    * (Spark's long cast truncates fractional seconds).
    */
  private val q140FunnelTimes: Q = (s, dir) => {
    ops.Funnel.funnelTimes(Tables.events(s, dir), col("user_id"),
      col("ts"), col("event_type"), Seq("view", "click", "purchase"))
  }

  /** q141 — ⊕ sketch-based audience overlap
    * ([[graft.ops.Audience.overlapSketch]]): the HLL
    * inclusion-exclusion estimates checked against q139's exact
    * matrix, the q34 exact-mode convention — the Spark side emits the
    * exact counts plus in-bounds booleans (exact while the sketches
    * hold list/set mode, else within 3 σ), the oracle emits the same
    * exact counts and literal TRUE, so a drifting estimate
    * hash-mismatches.
    */
  private val q141OverlapSketch: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val exact = ops.Audience.overlapMatrix(ev, col("user_id"), col("event_type"))
    val est = ops.Audience.overlapSketch(ev, col("user_id"), col("event_type"))
    // 3·rsd(lgK=14) ≈ 2.5% relative, floored at 3 absolute for tiny sets
    def ok(e: Column, x: Column) =
      abs(e.cast("double") - x.cast("double")) <=
        greatest(lit(3.0), lit(0.025) * x.cast("double"))
    exact.join(est, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"),
        col("n_a"), col("n_b"), col("n_both"),
        ok(col("est_a"), col("n_a")).as("est_a_ok"),
        ok(col("est_b"), col("n_b")).as("est_b_ok"),
        ok(col("est_both"), col("n_both")).as("est_both_ok"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q142 — ⊕ corpus snapshot diff ([[graft.ops.Diff.snapshotDiff]]):
    * two deterministically-derived versions of `customer` (v_old drops
    * `%10` keys; v_new drops `%13` keys, bumps acctbal on `%7` keys
    * and rotates nationkey on `%11` keys), diffed into added / removed
    * / changed keys with alphabetical column-level change attribution
    * — the incremental-reprocessing primitive (re-derive downstream
    * state for `added ∪ changed` only). The oracle replays the same
    * derivations and the same null-safe per-column comparison over a
    * full-outer join; `changed_cols` is comma-joined on both sides so
    * a wrong or mis-ordered attribution flips the hash.
    */
  private val q142SnapshotDiff: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    val oldSnap = cust.filter(col("c_custkey") % 10 =!= 0)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val newSnap = cust.filter(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey"), col("c_name"),
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("c_custkey") % 11 === 0, ((col("c_nationkey") + 1) % 25).cast("int"))
          .otherwise(col("c_nationkey")).as("c_nationkey"))
    ops.Diff.snapshotDiff(oldSnap, newSnap, "c_custkey")
      .select(col("c_custkey"), col("change_type"),
        concat_ws(",", col("changed_cols")).as("changed_cols"))
      .orderBy(col("c_custkey"))
  }

  /** q143 — ⊕ IVF-PQ search ([[graft.ext.Similarity.pqFit]] +
    * [[graft.ext.Similarity.ivfPqSearch]]): the FAISS-style composed
    * index — q38's coarse quantizer prunes to 4 probed clusters, and
    * asymmetric-distance computation scores the survivors from their
    * 4-code product-quantization encoding alone (per-query m×k lookup
    * table; candidates' embeddings never read). The oracle replays
    * BOTH k-means chains (the shared q38 coarse CTEs plus a
    * subspace-keyed PQ chain), the code assignment, the 9-dp LUT and
    * the fixed-order ADC fold — a drift anywhere in codebooks, codes,
    * probe set or fold order flips the hash.
    */
  private val q143IvfPq: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val ivf = ext.Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val pq = ext.Similarity.pqFit(em, col("vec_id"), col("embedding"),
      m = 4, k = 16, iters = 1, quantize = Some(9))
    ext.Similarity.ivfPqSearch(ivf, pq, queryIds = Seq(0L, 1L, 2L),
      nprobe = 4, k = 10)
  }

  /** q144 — ⊕ HTML boilerplate extraction ([[graft.ext.Html]]): each
    * document wrapped in a deterministic page template (title, style
    * and script blocks, link-dense nav/footer chrome, entity-laden
    * body text covering named, decimal, hex, `&`-producing and
    * invalid-surrogate references), then extracted back —
    * script/style dropped, tags stripped, entities decoded by the
    * single-pass no-cascade scanner, whitespace collapsed —
    * with the anchor-text-fraction boilerplate gate. The oracle builds
    * the IDENTICAL page with the IDENTICAL RE2-safe regexes, so the
    * extracted-text md5, link counts, fractions and keep/drop
    * decisions all hash-match; short docs fail the ≥5-word /
    * link-fraction gate, so both branches of `kept` are exercised.
    */
  private val q144HtmlExtract: Q = (s, dir) => {
    val html = concat(
      lit("<html><head><title>"), col("source"),
      lit("</title><style>p{margin:0}</style>" +
        "<script>var x = 1 < 2;</script></head><body>" +
        "<nav><a href=\"/home\">Home</a> <a href=\"/about\">About us</a></nav><h1>"),
      col("source"),
      lit("</h1><p>"), col("text"),
      lit(" Q &amp; A &lt;tag&gt; Caf&#233; &#x2014; &#38;stay; &mdash; &#xD800;ok done.</p>" +
        "<footer><a href=\"/contact\">Contact &quot;page&quot;</a></footer></body></html>"))
    val ex = ext.Html.extractText(html, minWords = 12, maxLinkFrac = 0.12)
    Tables.documents(s, dir)
      .select(col("doc_id"), ex.as("ex"))
      .select(col("doc_id"),
        md5(col("ex.text").cast("binary")).as("text_md5"),
        col("ex.n_links").as("n_links"),
        col("ex.link_frac").as("link_frac"),
        col("ex.kept").as("kept"))
      .orderBy(col("doc_id"))
  }

  /** q145 — ⊕ PQ-accelerated SemDeDup
    * ([[graft.ext.Similarity.semDedupPq]]): q106's drop rule with the
    * within-cluster pair scan scored by symmetric distance over PQ
    * codes — the m·k² codeword-dot table is a literal, so pairs read
    * 2·m codes and never a vector. Same coarse quantizer and PQ
    * codebooks as q38/q143; the oracle recomputes the SDC table from
    * its own replayed codebooks, scores the identical capped pairs and
    * applies the identical ≥ tau drop, so the survivor set
    * hash-matches exactly (both engines share the approximation).
    */
  private val q145SemdedupPq: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val ivf = ext.Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val pq = ext.Similarity.pqFit(em, col("vec_id"), col("embedding"),
      m = 4, k = 16, iters = 1, quantize = Some(9))
    // tau below q106's exact-cosine 0.42: PQ reconstruction SHRINKS
    // high similarities toward the codeword means, so the same corpus
    // peaks near 0.37 under SDC — 0.25 keeps both keep/drop branches
    // exercised at every fixture scale (10/9/21 qualifying pairs)
    ext.Similarity.semDedupPq(ivf, pq, tau = 0.25)
      .orderBy(col("id"))
  }

  /** q147 — S6 JSONL sink round-trip ([[graft.sources.Jsonl]]): write
    * documents as JSON-lines (the interchange format training
    * pipelines actually move text in), read them back through the
    * DECLARED-schema tolerant reader (no inference pass — at 100 TB
    * schema inference is a full extra scan), and aggregate; the
    * oracle computes the same aggregate over the original table, so
    * any field lost, re-typed or mangled in serialization flips the
    * hash. Completes the sink family's oracle anchors (CSV q57,
    * ORC q111, JSONL here).
    */
  private val q147JsonlRoundtrip: Q = (s, dir) => {
    import org.apache.spark.sql.types._
    val out = scratchDir("q147_jsonl")
    sources.Jsonl.write(Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"), col("text")), out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("lang", StringType), StructField("n_chars", LongType),
      StructField("text", StringType)))
    sources.Jsonl.read(s, schema, out)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text"))).cast("long").as("sum_text_len"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("source"))
  }

  /** q148 — ⊕ IVF-PQ search with a query TABLE
    * ([[graft.ext.Similarity.ivfPqSearchDf]]): q143's composed index,
    * but the query side is a derived DataFrame (every 97th embedding
    * — "score today's increment against the corpus"), not a
    * driver-side id list. Per-row probe selection and ADC lookup
    * tables, one broadcast join on the probed cluster — constant plan
    * size in the number of queries, which is the property that makes
    * this the batch shape. The oracle is q143's byte-shared chain
    * with only the query predicate swapped.
    */
  private val q148IvfPqBatch: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val ivf = ext.Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val pq = ext.Similarity.pqFit(em, col("vec_id"), col("embedding"),
      m = 4, k = 16, iters = 1, quantize = Some(9))
    val queries = em.filter(col("vec_id") % 97 === 0)
    ext.Similarity.ivfPqSearchDf(ivf, pq, queries,
      col("vec_id"), col("embedding"), nprobe = 4, k = 10)
  }

  /** q149 (also served as q95) — ⊕ auto-sized LSH pair generation
    * ([[graft.ext.Similarity.annLshPairsAuto]]), THE documented
    * corpus-scale entry point and the 100 TB form of q26: one count()
    * derives the bucket width (bitsForCorpus — candidate-pair work
    * stays linear in corpus size, where the fixed 6-bit form is
    * measured quadratic past sf1, BASELINE.md §second-decade) and the
    * dominant exchange's partition count (partitionsForCorpus). Both
    * floor to the pinned configuration (6 bits / 32 partitions) at
    * fixture scale, so this shares q26's oracle bit-for-bit: the hash
    * match proves the sizing path changes nothing at fixture scale,
    * the decade-2 ScaleBench slope that it changes everything at
    * corpus scale.
    */
  private val q149AnnLshAuto: Q = (s, dir) => {
    ext.Similarity.annLshPairsAuto(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), threshold = 0.42)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q150 (also served as q112) — ⊕ auto-sized semantic dedup
    * ([[graft.ext.Similarity.semDedupAuto]]): q106 with k from
    * clustersForCorpus — the scale path that keeps per-cluster
    * occupancy (and the ε-ball pair work per row) constant as the
    * corpus grows, where fixed k=16 was measured degenerating at the
    * second decade (every cluster above the `maxCluster` backstop →
    * dedup finds nothing) — and pair-join partitions from
    * partitionsForCorpus. Both floor at fixture scale → byte-shares
    * q106's oracle.
    */
  private val q150SemDedupAuto: Q = (s, dir) => {
    ext.Similarity.semDedupAuto(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), iters = 2,
        tau = 0.42, quantize = Some(9))
      .select(col("id"), col("cluster"))
      .orderBy(col("id"))
  }

  /** q151 (also served as q146) — ⊕ auto-sized PQ semantic dedup
    * ([[graft.ext.Similarity.semDedupPqAuto]]): coarse k and the
    * pair-join partition count from one count(), floored at fixture
    * scale → byte-shares q145's oracle.
    */
  private val q151SemDedupPqAuto: Q = (s, dir) => {
    ext.Similarity.semDedupPqAuto(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), tau = 0.25)
      .orderBy(col("id"))
  }

  /** q152 — ⊕ scalable stable row numbering
    * ([[graft.ops.Ids.stableRowNumber]]): contiguous 1..N example ids
    * in (source, doc_id) order with NO single-task global sort — the
    * range-partition + per-partition-window + tiny-offset-join plan
    * (O3's 100 TB form; the naive `Window.orderBy` the oracle runs is
    * exactly the plan this operator exists to avoid). IdsSpec proves
    * value-equality with the naive form and invariance across
    * partition counts; the oracle proves the numbering here.
    */
  private val q152StableRowNumber: Q = (s, dir) => {
    ops.Ids.stableRowNumber(Tables.documents(s, dir),
        Seq(col("source"), col("doc_id")))
      .select(col("doc_id"), col("source"), col("row_num"))
      .orderBy(col("row_num"))
  }

  /** q153 — ⊕ interval × interval overlap join
    * ([[graft.ops.Interval.overlapPairs]]): view-sessions × click
    * -sessions per user (validity window = event_id-modular seconds —
    * pure integer arithmetic, engine-portable), chunk-decomposed to a
    * plain (user, hour-chunk) equi-join with the first-overlapping-
    * chunk dedup rule. The oracle is the NAIVE inequality join — the
    * per-key cross product this operator's plan exists to avoid — so
    * the hash match proves the decomposition emits exactly the
    * overlap set, once each.
    */
  private val q153IntervalOverlap: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    def iv(tpe: String, mod: Int) = ev.filter(col("event_type") === tpe)
      .select(col("event_id"), col("user_id"), col("ts").as("start_ts"),
        expr(s"timestampadd(SECOND, CAST(event_id % $mod AS INT), ts)").as("end_ts"))
    ops.Interval.overlapPairs(iv("view", 5000), iv("click", 8000),
        "user_id", "start_ts", "end_ts", "start_ts", "end_ts", chunkSec = 3600)
      .select(
        col("l.event_id").as("id_a"), col("r.event_id").as("id_b"),
        (least(unix_seconds(col("l.end_ts")), unix_seconds(col("r.end_ts"))) -
         greatest(unix_seconds(col("l.start_ts")), unix_seconds(col("r.start_ts"))))
          .as("overlap_sec"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q154 — ⊕ trained Naive Bayes text classifier
    * ([[graft.ext.Classify]]): fit per-source token statistics on the
    * 90% training slice (doc_id % 10 ≠ 0), score the held-out 10% —
    * the model-based stage of a corpus quality/domain screen (CCNet's
    * fastText filter in its linear bag-of-words form). Every
    * log-probability is quantized to integer nano-units at the moment
    * it's computed, so all per-document accumulation is exact integer
    * summation — order-free under any partitioning — and argmax ties
    * break deterministically on the label. The oracle replays the
    * identical count → ln → quantize → integer-sum tree.
    *
    * Output contract (the q92 convention): the raw nano-unit score
    * stays INTERNAL — `ln` quantization makes the sum order-free but
    * does NOT make `ln` itself engine-portable (a last-ulp JVM-vs-libm
    * difference at any vocab×class grid cell shifts a nano-unit bin),
    * so only the SELECTION (`pred`, `hit`) is output. ClassifySpec's
    * guard-band test proves the selection is robust: every grid cell's
    * `ln·1e9` sits ≥ 1e-4 units from its bin edge and every scored
    * doc's top-1/top-2 margin dwarfs the worst-case per-cell drift.
    */
  private val q154NaiveBayes: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val test = docs.filter(col("doc_id") % 10 === 0)
    val model = ext.Classify.naiveBayesFit(train, col("source"), col("text"))
    ext.Classify.naiveBayesScore(model, test, col("doc_id"), col("text"))
      .join(test.select(col("doc_id").as("id"), col("source").as("actual")), Seq("id"))
      .select(col("id").as("doc_id"), col("actual"), col("pred"),
        (col("pred") === col("actual")).as("hit"))
      .orderBy(col("doc_id"))
  }

  /** q156 — ⊕ incremental index maintenance
    * ([[graft.ext.Similarity.ivfExtend]]/[[graft.ext.Similarity.pqExtend]]):
    * fit the coarse quantizer AND the product quantizer on yesterday's
    * corpus only (vec_id % 97 ≠ 0), then append today's increment with
    * NO refit — coarse assignment and PQ codes are pure projections
    * against the existing model — and serve the increment's neighbor
    * queries over the extended index. This is the daily life of a
    * 100 TB ANN deployment: the expensive fits amortize across days;
    * each increment costs one row-local encode. The oracle is q143's
    * chain with the FIT restricted to the training predicate while
    * assignment/encoding cover the full corpus — extend ≡ assign-all
    * because assignment is a pure function of (vector, centroids).
    */
  private val q156PqIncremental: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val existing = em.filter(col("vec_id") % 97 =!= 0)
    val increment = em.filter(col("vec_id") % 97 === 0)
    val ivf0 = ext.Similarity.ivfFit(existing, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val pq0 = ext.Similarity.pqFit(existing, col("vec_id"), col("embedding"),
      m = 4, k = 16, iters = 1, quantize = Some(9))
    val ivf = ext.Similarity.ivfExtend(ivf0, increment, col("vec_id"), col("embedding"))
    val pq = ext.Similarity.pqExtend(pq0, increment, col("vec_id"), col("embedding"))
    ext.Similarity.ivfPqSearchDf(ivf, pq, increment,
      col("vec_id"), col("embedding"), nprobe = 4, k = 10)
  }

  /** q157 — ⊕ content-defined chunking
    * ([[graft.ext.Chunker.contentChunks]]): rolling-hash cut points
    * over every document, then corpus-level chunk dedup — the
    * storage/diff dedup primitive where an edit shifts only the
    * chunks it touches. The hash is an exact integer polynomial mod a
    * prime (no floats anywhere), the 256^k power table is
    * interpolated into BOTH engines from one Scala source, and the
    * top-50 readout is totally ordered, so the whole cut→chunk→md5→
    * count chain must hash-match.
    */
  private val q157CdcChunks: Q = (s, dir) => {
    ext.Chunker.contentChunks(Tables.documents(s, dir), col("text"))
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        max(col("chunk_len")).as("chunk_len"))
      .orderBy(desc("n_occ"), col("chunk_hash"))
      .limit(50)
  }

  /** q158 — ⊕ bloom-pruned contamination screen
    * ([[graft.ext.Dedup.contaminationPairs]] with
    * `bloomPruneTrain = true`): the q91 screen with a bloom over TEST
    * shingles evaluated inside the train scan, so train shingles that
    * can match no benchmark n-gram die before any exchange — the
    * dominant cost at a real train:test ratio. Superset prune + exact
    * join ≡ the unpruned screen (the q70 composed-equality
    * convention), so this shares q91's oracle verbatim.
    */
  private val q158ContaminationBloom: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    ext.Dedup.contaminationPairs(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        col("doc_id"), col("text"), k = 3, minOverlap = 3,
        bloomPruneTrain = true)
      .orderBy(col("test_id"), col("train_id"))
  }

  /** q159 — ⊕ URL canonicalization dedup
    * ([[graft.ext.UrlOps.canonicalize]]): the crawl-frontier key.
    * Synthetic per-doc URLs carry the real-world noise axes — case
    * (HTTP/Site.Com), userinfo, scheme-default ports, trailing
    * slashes, utm/fbclid tracking params, fragments — derived
    * deterministically from doc_id; canonicalization collapses them
    * and the group-by counts how many raw variants and docs share
    * each logical resource. Row-local string/array ops riding the
    * scan; the only shuffle is the final dedup aggregation.
    */
  /** The q159/q166 noisy-URL derivation (deterministic from doc_id;
    * every real-world noise axis — case, userinfo, default ports,
    * trailing slash, tracking params, fragments).
    */
  private def syntheticNoisyUrl(d: Column): Column = {
    val str = (c: Column) => c.cast("string")
    val r = str(d % 25)
    concat(
      when(d % 3 === 0, "HTTP://").when(d % 3 === 1, "http://").otherwise("https://"),
      when(d % 7 === 0, "User:pw@").otherwise(""),
      when(d % 2 === 0, concat(lit("Site"), r, lit(".Com")))
        .otherwise(concat(lit("site"), r, lit(".com"))),
      when(d % 5 === 0, when(d % 3 === 2, ":443").otherwise(":80")).otherwise(""),
      lit("/Page/"), r,
      when(d % 4 === 0, "/").otherwise(""),
      when(d % 2 === 0, concat(lit("?utm_source=feed&id="), r, lit("&utm_medium=x")))
        .otherwise(when(d % 11 === 0, concat(lit("?id="), r, lit("&fbclid=abc")))
          .otherwise(lit(""))),
      when(d % 6 === 0, "#top").otherwise(""))
  }

  private val q159UrlCanonical: Q = (s, dir) => {
    val d = col("doc_id")
    Tables.documents(s, dir)
      .select(d.as("doc_id"), syntheticNoisyUrl(d).as("raw_url"))
      .withColumn("canonical_url", ext.UrlOps.canonicalize(col("raw_url")))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_url")).as("n_raw_variants"))
      .orderBy(col("canonical_url"))
  }

  /** q160 — ⊕ mixed-content detection (composition:
    * [[graft.ext.Chunker.contentChunks]] ×
    * [[graft.ext.TextAnalysis.classifyByLexicon]]): classify every
    * content-defined chunk, then flag documents whose majority label
    * covers < 4/5 of their chunks — the code-switching / boilerplate-
    * contamination screen a web corpus needs at sub-document
    * granularity (a page that is 60% English prose and 40% navigation
    * chrome passes every DOCUMENT-level gate). All label math is
    * integer counts with cross-multiplied comparisons — no floats —
    * and the majority tie-breaks on the label, so the whole
    * chunk→classify→majority chain is oracle-exact.
    */
  private val q160MixedContent: Q = (s, dir) => {
    val labeled = ext.Chunker.contentChunks(Tables.documents(s, dir), col("text"))
      .select(col("doc_id"),
        ext.TextAnalysis.classifyByLexicon(col("chunk"), topicLexicons).as("topic"))
    // persisted (round 19): perTopic feeds BOTH the top-topic pick and
    // the n_chunks rollup — unpersisted, the chunk+classify chain
    // behind it re-evaluated once per consumer; the cache is
    // (doc, topic)-sized
    val perTopic = labeled.groupBy(col("doc_id"), col("topic"))
      .agg(count(lit(1)).as("top_cnt"))
      .persist()
    val top = ops.TopK.perGroupTopK(perTopic, Seq(col("doc_id")),
      Seq(desc("top_cnt"), asc("topic")), 1)
    // n_chunks = Σ top_cnt over the doc's topics — derived from the
    // TINY per-topic table, not a second pass of the chunk chain
    val nch = perTopic.groupBy(col("doc_id"))
      .agg(sum(col("top_cnt")).as("n_chunks"))
    top.join(nch, Seq("doc_id"))
      .select(col("doc_id"), col("n_chunks"),
        col("topic").as("top_topic"), col("top_cnt"),
        (col("top_cnt") * 5 < col("n_chunks") * 4).as("mixed"))
      .orderBy(col("doc_id"))
  }

  /** q161 — ⊕ chunk-level incremental transfer (the end-to-end payoff
    * of content-defined chunking): chunk yesterday's corpus and
    * today's (every 10th document gets a PREFIX edit — the worst case
    * for fixed-offset chunking, which would shift every block), then
    * compute per-document transfer bytes as the chunk-multiset delta
    * `Σ max(n_new − n_old, 0)·len`. Because cuts are content-defined,
    * the edit disturbs only the first chunk(s) until the cut sequence
    * re-aligns, so transfer ≪ document size — rsync/LBFS semantics as
    * one Spark job. All integers; edited docs only in the readout.
    */
  private val q161ChunkTransfer: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val oldT = docs.select(col("doc_id"), col("text"))
    val newT = docs.select(col("doc_id"),
      when(col("doc_id") % 10 === 0, concat(lit("EDITED PREFIX v2 "), col("text")))
        .otherwise(col("text")).as("text"))
    def counts(df: DataFrame) =
      ext.Chunker.contentChunks(df, col("text"))
        .groupBy(col("doc_id"), col("chunk_hash"))
        .agg(count(lit(1)).as("cnt"), max(col("chunk_len")).as("len"))
    val o = counts(oldT).select(col("doc_id"), col("chunk_hash"), col("cnt").as("o_cnt"))
    val n = counts(newT)
    val transfer = n.join(o, Seq("doc_id", "chunk_hash"), "left")
      .select(col("doc_id"),
        (greatest(col("cnt") - coalesce(col("o_cnt"), lit(0L)), lit(0L)) * col("len"))
          .as("xfer"))
      .groupBy(col("doc_id")).agg(sum(col("xfer")).as("transfer_bytes"))
    newT.select(col("doc_id"), length(col("text")).cast("bigint").as("new_bytes"))
      .join(transfer, Seq("doc_id"))
      .filter(col("transfer_bytes") > 0)
      .orderBy(col("doc_id"))
  }

  /** q162 — ⊕ declarative data-quality validation
    * ([[graft.ops.Check.validate]]): six expectation rules over the
    * events feed — not-null, numeric range, regex shape, closed set,
    * key uniqueness, referential integrity against a customer
    * whitelist — compiled so every row-local rule rides ONE scan +
    * ONE single-row conditional aggregate; Unique adds one
    * count-per-key pass, RefIntegrity one broadcast anti-join.
    * Violation samples are MIN KEYS (integer-deterministic), and the
    * report mixes clean rules (0 rows) with violated ones, so the
    * oracle pins both outcomes.
    */
  private val q162QualityChecks: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val whitelist = Tables.customer(s, dir).filter(col("c_custkey") < 100)
    ops.Check.validate(ev, col("event_id"), Seq(
      ops.Check.NotNull("props"),
      ops.Check.InRange("value", 0.0, 50.0),
      ops.Check.Matches("event_type", "^[a-z]+$"),
      ops.Check.InSet("event_type", Seq("click", "view", "purchase", "signup")),
      ops.Check.Unique("user_id"),
      ops.Check.RefIntegrity("user_id", whitelist, "c_custkey")))
  }

  /** q163 — ⊕ temperature-weighted mixture sampling
    * ([[graft.ops.Sampling.temperatureMixture]]): α = 0.5 shares
    * derived from per-source counts (√count, integer micro-unit
    * quantization → exact integer total → correctly-rounded rate
    * division), then the shuffle-free md5-bucket membership filter.
    * Readout = per-source kept counts + id checksums, so the hash
    * pins both the derived rates and the exact kept set.
    */
  private val q163TemperatureMix: Q = (s, dir) => {
    ops.Sampling.temperatureMixture(Tables.documents(s, dir),
        col("source"), "doc_id", totalN = 200)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("source"))
  }

  /** q164 — ⊕ kNN label propagation (semi-supervised labeling,
    * composition over [[graft.ext.Similarity.ivfSearchDf]]): index the
    * LABELED 80% (vec_id % 5 ≠ 0), query every unlabeled vector for
    * its 10 nearest neighbors through the IVF probe path, majority-
    * vote the neighbors' labels (integer counts, ties → smallest
    * label) and read out prediction vs actual — the classic
    * propagate-labels-to-the-tail step of dataset labeling at corpus
    * scale, with the ANN index doing the heavy lifting instead of an
    * all-pairs scan. Oracle: the shared k-means chain fit AND assigned
    * on the train rows only (`afSrc = "nvt"`), the q38 probe/score
    * CTEs with the query predicate swapped, then the integer vote.
    */
  private val q164KnnLabels: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val train = em.filter(col("vec_id") % 5 =!= 0)
    // sized fit (√-schedule): this queries 20% of the corpus, exactly
    // the batch shape whose fixed-k probe cost was measured compounding
    // (BENCH_NOTES r12 decade-2); floors to k=16 at fixture scale so
    // the oracle's 16-centroid chain holds
    val ivf = ext.Similarity.ivfFitSized(train, col("vec_id"), col("embedding"),
      iters = 2, quantize = Some(9))
    val queries = em.filter(col("vec_id") % 5 === 0)
    val nn = ext.Similarity.ivfSearchDf(ivf, queries,
      col("vec_id"), col("embedding"), nprobe = 4, k = 10)
    val votes = nn
      .join(train.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
    val pred = ops.TopK.perGroupTopK(votes, Seq(col("query_id")),
      Seq(desc("n_votes"), asc("label")), 1)
    pred.join(queries.select(col("vec_id"), col("label").as("actual_label")),
        pred("query_id") === col("vec_id"))
      .select(col("vec_id"), col("label").as("pred_label"), col("n_votes"),
        col("actual_label"), (col("label") === col("actual_label")).as("hit"))
      .orderBy(col("vec_id"))
  }

  /** q165 — ⊕ q156's corpus-sized form
    * ([[graft.ext.Similarity.ivfFitSized]]): the incremental-index
    * composition with the coarse k derived from one `count()`.
    * Fixed k = 16 was MEASURED hitting the second-decade wall
    * (17.8× at sf1→sf10: cluster occupancy grows linearly, so the
    * query batch scans O(q·n/k) candidates); sized k holds occupancy
    * constant. Derived k floors to 16 at every driver fixture size,
    * so this shares q156's oracle bit-for-bit — the q112/q146
    * convention. ScaleBench decade-2 carries the slope evidence.
    */
  private val q165PqIncrementalSized: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val existing = em.filter(col("vec_id") % 97 =!= 0)
    val increment = em.filter(col("vec_id") % 97 === 0)
    val ivf0 = ext.Similarity.ivfFitSized(existing, col("vec_id"), col("embedding"),
      iters = 2, quantize = Some(9))
    val pq0 = ext.Similarity.pqFit(existing, col("vec_id"), col("embedding"),
      m = 4, k = 16, iters = 1, quantize = Some(9))
    val ivf = ext.Similarity.ivfExtend(ivf0, increment, col("vec_id"), col("embedding"))
    val pq = ext.Similarity.pqExtend(pq0, increment, col("vec_id"), col("embedding"))
    ext.Similarity.ivfPqSearchDf(ivf, pq, increment,
      col("vec_id"), col("embedding"), nprobe = 4, k = 10)
  }

  /** q166 — ⊕ round-12 web-corpus pipeline capstone, composed from
    * this round's operators end-to-end: (1) crawl-level dedup — one
    * survivor per CANONICAL URL ([[graft.ext.UrlOps.canonicalize]]
    * over the q159 noisy derivation, min-id keeper); (2) sub-document
    * mixed-content gate — content-defined chunks × lexicon argmax,
    * majority label must cover ≥ 4/5 of chunks (the q160 screen as a
    * FILTER); (3) temperature mixture draw (α = 0.5, the q163
    * sampler) over the survivors; readout = per-source kept counts,
    * id checksums and token budget. Every stage reuses the exact
    * shared oracle chains (urlCanonicalCtes, mixedContentCtes, the
    * q163 rate chain), so the capstone hash pins the whole pipeline,
    * not a re-approximation of it.
    */
  private val q166PipelineR12: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val canon = docs.withColumn("canonical_url",
      ext.UrlOps.canonicalize(syntheticNoisyUrl(col("doc_id"))))
    val s1 = ops.TopK.perGroupHead(canon, col("canonical_url"), col("doc_id"), 1)
      .drop("canonical_url")
    val labeled = ext.Chunker.contentChunks(
        s1.select(col("doc_id"), col("text")), col("text"))
      .select(col("doc_id"),
        ext.TextAnalysis.classifyByLexicon(col("chunk"), topicLexicons).as("topic"))
    // persisted (round 19): perTopic feeds BOTH the top-topic pick and
    // the n_chunks rollup — unpersisted, the chunk+classify chain
    // behind it re-evaluated once per consumer; the cache is
    // (doc, topic)-sized
    val perTopic = labeled.groupBy(col("doc_id"), col("topic"))
      .agg(count(lit(1)).as("top_cnt"))
      .persist()
    val top = ops.TopK.perGroupTopK(perTopic, Seq(col("doc_id")),
      Seq(desc("top_cnt"), asc("topic")), 1)
    // n_chunks = Σ top_cnt over the doc's topics — derived from the
    // TINY per-topic table, not a second pass of the chunk chain
    val nch = perTopic.groupBy(col("doc_id"))
      .agg(sum(col("top_cnt")).as("n_chunks"))
    val pass = top.join(nch, Seq("doc_id"))
      .filter(col("top_cnt") * 5 >= col("n_chunks") * 4)
      .select(col("doc_id"))
    // the gate SURVIVORS are the curated subset any real deployment
    // materializes between stages; temperatureMixture walks its input
    // twice (rates pass + membership join), so without this the whole
    // canon→head→chunk→gate chain re-evaluates — measured 2.5 s of
    // q166's 6.3 s at sf0.1 (Q166Probe)
    val s2 = s1.join(pass, Seq("doc_id")).localCheckpoint()
    ops.Sampling.temperatureMixture(s2, col("source"), "doc_id", totalN = 150)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("sum_ids"),
        sum(ext.TextAnalysis.tokenCount(col("text"))).cast("long").as("sum_tokens"))
      .orderBy(col("source"))
  }

  /** q167 — ⊕ sequence packing ([[graft.ops.Packing.packSequences]]):
    * the concat-and-chunk step between "clean documents" and
    * "training batches" — lay the documents end-to-end in doc_id
    * order (token counts via the q80 split convention) and cut the
    * stream into 512-token training sequences; per-doc readout =
    * global token offset plus the sequence span (which sequences the
    * document occupies, and whether a boundary splits it). The oracle
    * is the naive single-task global-window prefix sum the two-pass
    * zipWithIndex-shaped plan replaces — identical numbers, different
    * physical strategy (the q152 convention).
    */
  private val q167SeqPacking: Q = (s, dir) => {
    val t = Tables.documents(s, dir).select(col("doc_id"),
      ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
    ops.Packing.packSequences(t, Seq(col("doc_id")), "n_toks", 512L)
      .select(col("doc_id"), col("n_toks"), col("tok_start"),
        col("seq_first"), col("seq_last"), col("n_seqs"))
      .orderBy(col("doc_id"))
  }

  /** q168 — ⊕ deterministic corpus shuffle + training-shard manifest
    * ([[graft.ops.Packing.shuffleShards]]): the md5-keyed reproducible
    * permutation (q81's hash-assignment contract — no RNG state) with
    * contiguous ranks from the q152 two-pass numbering, cut into
    * 64-example shards; readout = the shard manifest (doc/token
    * counts, rank range, id checksum per shard) a trainer's data
    * loader would consume. The oracle replays the permutation as the
    * naive global window (the q152 convention).
    */
  private val q168ShardManifest: Q = (s, dir) => {
    val t = Tables.documents(s, dir).select(col("doc_id"),
      ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
    ops.Packing.shuffleShards(t, col("doc_id"), 64L)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("sum_toks"),
        min(col("shuffle_rank")).as("first_rank"),
        max(col("shuffle_rank")).as("last_rank"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("shard_id"))
  }

  /** q169 — ⊕ connected components by large-star/small-star
    * contraction ([[graft.ext.Dedup.dupClustersContracted]]): q48's
    * pair graph through the O(log² n)-round contraction instead of
    * O(diameter) min-label propagation — the duplicate-cluster
    * formation that survives adversarially long near-dup chains
    * (versioned/char-shifted spam). Identical components by
    * construction, so the oracle is q48's, byte-shared.
    */
  private val q169CcContracted: Q = (s, dir) => {
    val pairs = ext.Dedup.nearDupPairs(Tables.documents(s, dir),
      col("doc_id"), col("text"))
    ext.Dedup.dupClustersContracted(pairs)
  }

  /** q170 — ⊕ tokenizer-aware packing capstone: train the q155 BPE
    * merges, ENCODE the corpus with them ([[graft.ext.Bpe.applyMerges]]
    * — a pure projection, the fit-once/encode-everything shape), and
    * pack the real BPE token counts into 512-token training sequences
    * with [[graft.ops.Packing.packSequences]]. This is the actual
    * unit a trainer bills by — whitespace counts (q167) misprice docs
    * whose words fragment into many subwords. Oracle: the shared
    * training chain + the per-doc encode replayed through the same
    * b1..b8 replace rule + the q167 packing window.
    */
  /** Shared by q170/q177: train the 8 BPE merges on `trainOn`, encode
    * `encodeOn` with them, return per-doc BPE token counts
    * `(doc_id, n_toks)`.
    */
  private def bpeTokenCounts(trainOn: DataFrame, encodeOn: DataFrame): DataFrame =
    bpeEncodeCounts(encodeOn, bpeMerges(trainOn))

  /** The LEARN half of [[bpeTokenCounts]] — eager (one corpus pass +
    * the in-memory merge loop's collect); split out so q177 can
    * overlap it with its independent cluster chain (guide §2.6).
    */
  private def bpeMerges(trainOn: DataFrame): Seq[(String, String)] =
    ext.Bpe.learnMerges(
        ext.Bpe.wordFreqs(trainOn, col("text")), nMerges = 8)
      .orderBy(col("merge_rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq

  /** The ENCODE half of [[bpeTokenCounts]] — a pure projection +
    * per-doc aggregation over already-learned merges.
    */
  private def bpeEncodeCounts(encodeOn: DataFrame,
                              merges: Seq[(String, String)]): DataFrame =
    encodeOn.select(col("doc_id"),
        explode(ext.TextAnalysis.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .select(col("doc_id"),
        size(ext.Bpe.symbolsOf(ext.Bpe.applyMerges(col("word"), merges)))
          .cast("long").as("nt"))
      .groupBy(col("doc_id")).agg(sum(col("nt")).as("n_toks"))

  private val q170BpePacking: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val toks = bpeTokenCounts(docs, docs)
    ops.Packing.packSequences(toks, Seq(col("doc_id")), "n_toks", 512L)
      .select(col("doc_id"), col("n_toks"), col("tok_start"),
        col("seq_first"), col("seq_last"), col("n_seqs"))
      .orderBy(col("doc_id"))
  }

  /** q252 — ⊕ spectral datacard: the one-row corpus-geometry summary
    * a data report publishes next to q200/q234 — top-2 explained
    * fractions (q247's spectrum, the "is this corpus collapsed /
    * template-dominated" verdict) and the residual-screen quantile
    * profile (q246's readout: where the off-manifold tail starts).
    * Quantiles ride Spark `percentile` ≡ DuckDB `quantile_cont` (the
    * q196 stance) over the ALREADY-4dp-rounded residuals, so the
    * interpolation inputs are bit-identical on both engines; the
    * top-2 sum adds the ROUNDED fractions and re-rounds, mirrored
    * exactly. The two single-row sides meet in one broadcast cross
    * (the q93 stance).
    */
  private val q252SpectralDatacard: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val ex = ext.Spectral.pcaComponents(em, col("vec_id"), col("embedding"),
        nComponents = 2, iterations = 4)
      .groupBy()
      .agg(max(when(col("component") === 1, col("explained_frac")))
          .as("explained_1"),
        max(when(col("component") === 2, col("explained_frac")))
          .as("explained_2"))
    val rq = ext.Spectral.pcaProject(em, col("vec_id"), col("embedding"),
        iterations = 4)
      .agg(count(lit(1)).as("n_vectors"),
        percentile(col("resid_sq"), lit(0.5)).as("__p50"),
        percentile(col("resid_sq"), lit(0.9)).as("__p90"),
        percentile(col("resid_sq"), lit(0.99)).as("__p99"))
    rq.crossJoin(broadcast(ex))
      .select(col("n_vectors"), col("explained_1"), col("explained_2"),
        round(col("explained_1") + col("explained_2"), 6).as("top2_explained"),
        round(col("__p50"), 6).as("resid_p50"),
        round(col("__p90"), 6).as("resid_p90"),
        round(col("__p99"), 6).as("resid_p99"))
  }

  /** q253 — ⊕ SemDeDup over WHITENED coordinates — the composition
    * the [[graft.ext.Spectral]] scaladoc promises: q246's projection
    * readout (each vector's on-manifold coordinate `proj` and
    * off-manifold distance √resid_sq — its spectral footprint,
    * published rounded at 4 so both engines agree bit-exactly on the
    * downstream INPUT) becomes the 2-d feature q106's ε-ball dedup
    * runs on. [[graft.ext.Spectral.fitState]] fits once (single
    * broadcastable row), [[graft.ext.Spectral.projectWith]] scores
    * every row, [[graft.ext.Similarity.semDedup]] clusters the
    * footprints (k-means, quantized 9) and keeps the min-id
    * representative of every ≥-tau ε-ball. This is a COARSE collapse
    * by construction and documented as such: normalized 2-d
    * footprints live on the unit half-circle, so even the tightest
    * 4-dp ball (tau 0.9999 here) merges whole footprint CLASSES —
    * measured 32/496 survivors at sf0.01 (52 at tau = 1.0), vs
    * q106's 489/496 in full embedding space. What it IS: an
    * aggressive spectral DECIMATION — keep one representative per
    * corpus-geometry class (diversity subsetting, coreset-style).
    * What it is NOT — measured, not assumed (q256): a
    * recall-preserving prefilter for embedding-space SemDeDup.
    * Footprint proximity does not bound embedding cosine, so
    * composing this before q106 keeps 6.5% of what direct q106
    * keeps — q256 publishes that verdict as a datacard. Pair work is
    * the q106 Σc² shape over 2-d vectors (32× smaller per pair); at
    * 100 TB the fit is sample-sized ([[graft.ext.Spectral
    * .fitStateSized]] — q249 pins that path) and scoring is one
    * row-local pass.
    */
  private val q253WhitenedSemDedup: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val state = ext.Spectral.fitState(em, col("vec_id"), col("embedding"),
      iterations = 4)
    val wc = ext.Spectral.projectWith(em, col("vec_id"), col("embedding"),
        state, roundTo = 4)
      .select(col("id"), array(col("proj"), sqrt(col("resid_sq"))).as("w"))
    ext.Similarity.semDedup(wc, col("id"), col("w"), k = 16, iters = 2,
        tau = 0.9999, quantize = Some(9))
      .select(col("id").as("vec_id"), col("cluster"))
      .orderBy(col("vec_id"))
  }

  /** q255 — ⊕ SemDeDup over the FULL whitening readout
    * ([[graft.ext.Spectral.whitenedCoords]]): q253's composition at
    * the 3-d footprint [p1, p2, √resid_sq] — coordinates in the top-2
    * principal directions plus the off-plane distance. One more
    * coordinate changes the operating point qualitatively (the reason
    * both anchors exist): the 2-d footprint collapses classes
    * (32/496 at sf0.01), the 3-d one is a genuine near-dup DEDUP —
    * measured keep rates published in COVERAGE.md. Same k-means +
    * ε-ball derivation; pair work still over model-sized 3-d vectors,
    * fit still sample-sizable via the q249 path.
    */
  private val q255Whitened3SemDedup: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val wc = ext.Spectral.whitenedCoords(em, col("vec_id"), col("embedding"),
        iterations = 4)
      .select(col("id"),
        array(col("p1"), col("p2"), sqrt(col("resid_sq"))).as("w"))
    ext.Similarity.semDedup(wc, col("id"), col("w"), k = 16, iters = 2,
        tau = 0.9999, quantize = Some(9))
      .select(col("id").as("vec_id"), col("cluster"))
      .orderBy(col("vec_id"))
  }

  /** q257 — ⊕ the SIZED whitened SemDeDup — q253's composition on
    * the 100 TB fit path, completing the family's fixed → sized
    * convention (q95→q149, q106→q112, q38→ivfFitSized; q253's own
    * scaladoc promises this form). [[graft.ext.Spectral.fitStateSized]]
    * fits the principal direction on the q50 md5-hash sample capped at
    * 256 rows (at sf0.01 the cap BINDS: 500 vectors → a ~51%-rate fit
    * subset, so this anchor genuinely exercises the sampled-fit/
    * full-scoring split — the q249 discipline), [[graft.ext.Spectral
    * .projectWith]] scores EVERY row against the sample-fitted state,
    * and the same k-means + ε-ball decimation picks survivors. The
    * sample-fitted direction differs from q253's full fit, so the
    * footprints — and the keep set — legitimately differ; the oracle
    * re-derives the md5 buckets, the truncating rate threshold, the
    * sampled fit chain, the full-corpus scoring pass, and the ε-ball
    * tail. At 100 TB: the fit reads a ~10⁵-row sample (`iterations`
    * scans of it), scoring is one row-local broadcast pass, pair work
    * is the q106 Σc² shape over 2-d vectors.
    */
  private val q257WhitenedSemDedupSized: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val state = ext.Spectral.fitStateSized(em, col("vec_id"), col("embedding"),
      iterations = 4, maxFitRows = 256)
    val wc = ext.Spectral.projectWith(em, col("vec_id"), col("embedding"),
        state, roundTo = 4)
      .select(col("id"), array(col("proj"), sqrt(col("resid_sq"))).as("w"))
    ext.Similarity.semDedup(wc, col("id"), col("w"), k = 16, iters = 2,
        tau = 0.9999, quantize = Some(9))
      .select(col("id").as("vec_id"), col("cluster"))
      .orderBy(col("vec_id"))
  }

  /** q258 — ⊕ the FULLY-sized whitened SemDeDup — BOTH scale knobs
    * derived, not pinned: the fit rides [[graft.ext.Spectral
    * .fitStateSized]]'s 256-row hash sample (q257's axis) AND the
    * dedup rides [[graft.ext.Similarity.semDedupAuto]], which derives
    * the cluster count ([[graft.ext.Similarity.clustersForCorpus]])
    * and the pair-join partition count from ONE corpus count. This is
    * the deployment composition the r18 decade-2 measurement points
    * at: the fixture anchors q253/q257 keep k=16 pinned, which at
    * sf10 pushes every cluster past the pair-work cap and degenerates
    * the ε-ball stage toward keep-all (the measured q106→q112 story);
    * the sized k holds cluster occupancy — and per-row pair work —
    * constant as the corpus grows. At every driver fixture size both
    * derivations floor to the pinned values (k = 16, 32 partitions),
    * so q258 shares q257's oracle bit-for-bit (the q150/q112
    * convention), and SpectralSpec proves composition-level identity
    * with q257 below the floors.
    */
  private val q258WhitenedSemDedupAuto: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val state = ext.Spectral.fitStateSized(em, col("vec_id"), col("embedding"),
      iterations = 4, maxFitRows = 256)
    val wc = ext.Spectral.projectWith(em, col("vec_id"), col("embedding"),
        state, roundTo = 4)
      .select(col("id"), array(col("proj"), sqrt(col("resid_sq"))).as("w"))
    ext.Similarity.semDedupAuto(wc, col("id"), col("w"), iters = 2,
        tau = 0.9999, quantize = Some(9))
      .select(col("id").as("vec_id"), col("cluster"))
      .orderBy(col("vec_id"))
  }

  /** q259 — ⊕ trained EMBEDDING classifier
    * ([[graft.ext.Classify.denseLogisticFit]]): q214's trained linear
    * screen moved from hashed text dims to dense embedding features —
    * the FineWeb-Edu shape (train a tiny classifier on an annotated
    * sample's embeddings, score the whole corpus). Features quantize
    * at birth to integer MILLI-units, weights are integer nano-units,
    * margins are exact integers in 10⁻¹² units, the weight step is
    * the pmod floor-division identity, and the published row never
    * computes a transcendental (pred = margin ≥ 0 by σ's
    * monotonicity); the one transcendental TRAINING site is the
    * per-(row, iter) residual floor, guard-band-audited in LrSpec
    * like q214's. Labels are the q214 planted-signal convention in
    * embedding space: a KNOWN linear teacher (y = [v₁ + v₂ > 0]), so
    * the fit must recover a recoverable direction — hit is published
    * per row and MEASURED: 91/90/96%% at sf0.001/0.01/0.1 under the
    * 8-step lr=16/t budget (the residual is the slow logistic tail
    * at the class boundary, not quantization — milli-unit feature
    * noise flips labels only inside |v₁+v₂| < 10⁻³, measure-zero on
    * the fixtures). Trained on the q154 split
    * (vec_id % 10 ≠ 0), scored over the FULL corpus: `iters`
    * sample-sized aggregations with one (d+1)-row collect each, then
    * one row-local literal-weight fold per row — no join, no shuffle:
    * the 100 TB deployment shape.
    */
  /** q259/q260/q261 shared corpus prep: the labeled embeddings table
    * with the planted linear teacher.
    */
  private def denseLrCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .withColumn("__v", col("embedding").cast("array<double>"))
      // try_element_at + coalesce: a short or NULL-element vector must
      // label 0 exactly as the oracle's CASE does (NULL > 0 is NULL →
      // ELSE 0 in DuckDB; a bare element_at would THROW under ANSI on
      // a 1-element vector, and a bare NULL label would train Spark on
      // one fewer row than the oracle)
      .withColumn("y", coalesce(
        (try_element_at(col("__v"), lit(1)) + try_element_at(col("__v"), lit(2)) > 0)
          .cast("int"), lit(0)))

  /** The shared q259 train+score chain: fit on the q154 split, score
    * the full corpus — `(labeled corpus, per-row scores)`.
    */
  private def denseLrScored(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val em = denseLrCorpus(s, dir)
    val model = ext.Classify.denseLogisticFit(
      em.filter(col("vec_id") % 10 =!= 0), col("y"), col("embedding"),
      lrNum = 16L)
    (em, ext.Classify.denseLogisticScore(model, em, col("vec_id"), col("embedding")))
  }

  private val q259EmbeddingLr: Q = (s, dir) => {
    val (em, scored) = denseLrScored(s, dir)
    scored
      .join(em.select(col("vec_id").as("id"), col("y")), Seq("id"))
      .select(col("id").as("vec_id"), (col("y") === 1).as("is_pos"),
        col("pred"), col("margin_units"),
        (col("pred") === (col("y") === 1)).as("hit"))
      .orderBy(col("vec_id"))
  }

  /** q260 — ⊕ classifier-gated corpus cut — the capstone composition
    * the q259 screen exists for (FineWeb-Edu's deployment: train →
    * score → threshold → corpus cut): q259's trained dense LR scores
    * the FULL corpus ([[denseLrScored]], byte-shared), the cut
    * boundary is the bottom-TERCILE margin (the q196 CCNet
    * convention: drop the tail bucket; Spark `percentile` ≡ DuckDB
    * `quantile_cont` to the bit over the exact integer margins), and
    * the surviving corpus is emitted. The scored table stages once
    * (eager localCheckpoint — the boundary aggregate and the cut both
    * consume it; the q217 rewards lesson: without staging the model
    * would re-score the corpus per consumer), the boundary rides a
    * single-row broadcast cross (the q196 stance), the cut is a
    * row-local filter. At 100 TB: one scoring pass + one percentile
    * aggregation + one filter — no join, no corpus shuffle.
    */
  private val q260ClassifierCut: Q = (s, dir) => {
    val scored = denseLrScored(s, dir)._2.localCheckpoint()
    val bound = scored.agg(
      percentile(col("margin_units"), lit(1.0 / 3)).as("b"))
    scored.crossJoin(broadcast(bound))
      .filter(col("margin_units") >= col("b"))
      .select(col("id").as("vec_id"), col("margin_units"), col("pred"))
      .orderBy(col("vec_id"))
  }

  /** q261 — ⊕ the classifier-cut DATACARD — q260's release panel (the
    * q200 "datasheets" stance applied to the trained gate): one row
    * carrying corpus size in, survivors at the tercile boundary, the
    * EFFECTIVE integer threshold, and the screen's measured hit rate
    * on the LABELED split (integer ppm — the q256 readout convention,
    * with the same nullif guard on the division). `threshold_units`
    * is the smallest SURVIVING margin, not the interpolated
    * percentile: margins are exact integers, so the minimal kept
    * margin is the threshold a consumer can actually re-apply — and
    * it publishes integer-exact where a round(interpolated, 4) at
    * 10¹¹-unit magnitudes sits inside fp rounding noise (caught by
    * GuardBandSweepSpec in-round; the interpolated boundary stays
    * INTERNAL, the q92/q196 "ln stays internal" stance). One pass
    * with conditional sums — the q200 single-rollup shape.
    */
  private val q261ClassifierCard: Q = (s, dir) => {
    val (em, scoredRaw) = denseLrScored(s, dir)
    val scored = scoredRaw.localCheckpoint()
    val bound = scored.agg(
      percentile(col("margin_units"), lit(1.0 / 3)).as("b"))
    scored
      .join(em.select(col("vec_id").as("id"), col("y")), Seq("id"))
      .crossJoin(broadcast(bound))
      .agg(
        count(lit(1)).cast("long").as("n_in"),
        coalesce(sum(when(col("margin_units") >= col("b"), 1L)), lit(0L))
          .cast("long").as("n_kept"),
        min(when(col("margin_units") >= col("b"), col("margin_units")))
          .cast("long").as("threshold_units"),
        coalesce(sum(when(col("id") % 10 =!= 0, 1L)), lit(0L))
          .cast("long").as("n_labeled"),
        coalesce(sum(when(col("id") % 10 =!= 0 &&
            (col("pred") === (col("y") === 1)), 1L)), lit(0L))
          .cast("long").as("n_hit"))
      .select(col("n_in"), col("n_kept"), col("threshold_units"),
        col("n_labeled"),
        expr("(n_hit * 1000000) div nullif(n_labeled, 0)").cast("long")
          .as("hit_ppm"))
  }

  /** q262 — ⊕ the SIZED 3-d whitened SemDeDup — the q257 treatment
    * applied to q255 (the family's fixed → sized convention, closing
    * its last unsized member): [[graft.ext.Spectral.fitState2Sized]]
    * fits BOTH principal directions on the q50 md5 sample capped at
    * 256 rows (at sf0.01 the cap binds — the q257 sampled-fit/
    * full-scoring split genuinely exercises), [[graft.ext.Spectral
    * .whitenedWith]] scores EVERY row to its 3-d footprint
    * [p1, p2, √resid], and the q106 ε-ball picks survivors. This is
    * the USEFUL operating point (q255 measures genuine near-dup keep
    * rates vs q253's aggressive decimation) and it previously had no
    * 100 TB fit path. Sample-fitted directions differ from q255's
    * full fit, so the keep set legitimately differs; the oracle
    * re-derives the sampled two-component fit chain and the
    * full-corpus scoring pass. The pinned k = 16 remains a FIXTURE
    * anchor: measured at sf10 it degenerates toward keep-all (85%
    * kept — BENCH_NOTES r19) exactly like q253/q257; the deployment
    * form is q263's fully-sized composition.
    */
  private val q262Whitened3SemDedupSized: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val state = ext.Spectral.fitState2Sized(em, col("vec_id"), col("embedding"),
      iterations = 4, maxFitRows = 256)
    val wc = ext.Spectral.whitenedWith(em, col("vec_id"), col("embedding"),
        state, roundTo = 4)
      .select(col("id"),
        array(col("p1"), col("p2"), sqrt(col("resid_sq"))).as("w"))
    ext.Similarity.semDedup(wc, col("id"), col("w"), k = 16, iters = 2,
        tau = 0.9999, quantize = Some(9))
      .select(col("id").as("vec_id"), col("cluster"))
      .orderBy(col("vec_id"))
  }

  /** q263 — ⊕ the FULLY-sized 3-d whitened SemDeDup — the q258
    * treatment for the 3-d family, and the measured reason it must
    * exist: the r19 decade-2 cut shows q262's pinned k = 16 keeping
    * 85% at sf10 (170103/200000 — clusters past the pair-work cap
    * skip pair generation, the q253/q257 degeneration) while the
    * 2-d fully-sized form (q258) holds its survivor fraction
    * ~constant (0.57% → 0.50%) across the same decade at 1.9×
    * time. Both scale knobs derive from the corpus:
    * [[graft.ext.Spectral.fitState2Sized]]'s 256-row hash sample for
    * the two directions, [[graft.ext.Similarity.semDedupAuto]] for
    * cluster count + pair-join partitions. At every driver fixture
    * size both derivations floor to the pinned values (k = 16, 32
    * partitions), so q263 shares q262's oracle bit-for-bit (the
    * q258/q257 convention) and SpectralSpec proves composition-level
    * identity below the floors.
    */
  private val q263Whitened3SemDedupAuto: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val state = ext.Spectral.fitState2Sized(em, col("vec_id"), col("embedding"),
      iterations = 4, maxFitRows = 256)
    val wc = ext.Spectral.whitenedWith(em, col("vec_id"), col("embedding"),
        state, roundTo = 4)
      .select(col("id"),
        array(col("p1"), col("p2"), sqrt(col("resid_sq"))).as("w"))
    ext.Similarity.semDedupAuto(wc, col("id"), col("w"), iters = 2,
        tau = 0.9999, quantize = Some(9))
      .select(col("id").as("vec_id"), col("cluster"))
      .orderBy(col("vec_id"))
  }

  /** q256 — ⊕ the dedup FUNNEL datacard — a MEASURED NEGATIVE
    * RESULT, kept on purpose (the q198/q238 stance: publish the
    * operating point, don't cite it). The tempting composition —
    * collapse spectral footprints first (q253), then run q106's
    * full-vector SemDeDup on the survivors — looks like a cheap
    * funnel, and this anchor measures it and REJECTS it: footprint
    * proximity does not bound embedding cosine, so the coarse stage
    * merges rows the direct dedup would keep. At sf0.01 the verdict
    * row reads recall_vs_direct_ppm = 65439 (the funnel keeps 6.5%
    * of what direct q106 keeps) with pairs_funnel ≥ pairs_direct —
    * worse on BOTH axes; the right deployment is q253 as a
    * standalone decimation or q106/q112 direct, never the stack.
    * Three derivations over one corpus: (A) q253's 2-d footprint
    * collapse, (B) q106's parameters DIRECT on the whole corpus,
    * (C) the funnel — B's parameters on A's survivors only. One row
    * publishes the stage populations, the funnel's agreement with
    * direct (exact integer ppm), and the ε-ball pair-work integers
    * (Σ c·(c−1)/2 over under-cap clusters) for both routes. Every
    * published column explicitly cast BIGINT (the q205
    * publish-dtype convention).
    */
  private val q256DedupFunnel: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    // Round 20 (guide §2.6): the DIRECT fit is independent of the
    // spectral-footprint → coarse → funnel ladder (the funnel join is
    // the first place they meet), yet all three k-means fits used to
    // run strictly sequentially on the driver (measured: 120 jobs at
    // round-19 start, 111 at round-20 start, wall 6.5 s warm with no
    // job over 0.35 s — pure ladder latency). Run the direct fit on
    // its own thread while the dependent chain runs on this one.
    val (directParts, funnelParts) = ops.Overlap.inParallel(
      ext.Similarity.semDedupParts(em,
        col("vec_id"), col("embedding"), k = 16, iters = 2, tau = 0.42,
        quantize = Some(9)),
      {
        val state = ext.Spectral.fitState(em, col("vec_id"), col("embedding"),
          iterations = 4)
        // the footprint table feeds the coarse dedup AND the n_input
        // readout; without staging, each consumer replays the whole
        // power-iteration fit (measured: 17.9 s -> the staged form) —
        // localCheckpoint, the in-tree staging idiom (eager, like every
        // checkpoint in-tree)
        val wc = ext.Spectral.projectWith(em, col("vec_id"), col("embedding"),
            state, roundTo = 4)
          .select(col("id"), array(col("proj"), sqrt(col("resid_sq"))).as("w"))
          .localCheckpoint()
        // each kept set is consumed 2-3×; semDedupParts returns both
        // tables already materialized, so every consumer reads blocks
        val (coarseAsg, coarseKept) = ext.Similarity.semDedupParts(wc,
          col("id"), col("w"), k = 16, iters = 2, tau = 0.9999,
          quantize = Some(9))
        val surv = em.join(coarseKept.select(col("id").as("vec_id")),
          Seq("vec_id"))
        val (funAsg, funKept) = ext.Similarity.semDedupParts(surv,
          col("vec_id"), col("embedding"), k = 16, iters = 2, tau = 0.42,
          quantize = Some(9))
        (wc, coarseAsg, coarseKept, funAsg, funKept)
      })
    val (directAsg, directKept) = directParts
    val (wc, coarseAsg, coarseKept, funAsg, funKept) = funnelParts
    def pairWork(asg: org.apache.spark.sql.DataFrame, as_ : String) = asg
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      .filter(col("n") <= lit(graft.ext.Dedup.DefaultMaxBucket.toLong))
      .agg(coalesce(sum(expr("(n * (n - 1)) div 2")), lit(0L))
        .cast("long").as(as_))
    def one(df: org.apache.spark.sql.DataFrame, as_ : String) =
      df.agg(count(lit(1)).cast("long").as(as_))
    one(wc, "n_input")
      .crossJoin(broadcast(one(coarseKept, "n_coarse_kept")))
      .crossJoin(broadcast(one(directKept, "n_direct_kept")))
      .crossJoin(broadcast(one(funKept, "n_funnel_kept")))
      .crossJoin(broadcast(one(
        funKept.select(col("id"))
          .join(directKept.select(col("id")), Seq("id")), "n_agree")))
      .crossJoin(broadcast(pairWork(coarseAsg, "pairs_coarse")))
      .crossJoin(broadcast(pairWork(directAsg, "pairs_direct")))
      .crossJoin(broadcast(pairWork(funAsg, "pairs_survivor")))
      .select(col("n_input"), col("n_coarse_kept"), col("n_direct_kept"),
        col("n_funnel_kept"), col("n_agree"),
        // nullif guard (r17 ADVICE): on a degenerate corpus with zero
        // direct keeps, Spark's bare `div` returns NULL while DuckDB's
        // `//` raises — nullif on BOTH sides makes the engines agree
        // (NULL ratio) instead of diverging.
        expr("(n_agree * 1000000) div nullif(n_direct_kept, 0)").cast("long")
          .as("recall_vs_direct_ppm"),
        col("pairs_direct"),
        (col("pairs_coarse") + col("pairs_survivor")).cast("long")
          .as("pairs_funnel"))
  }

  /** q251 — ⊕ JL projection distortion
    * ([[graft.ext.Similarity.jlProject]]'s measurement anchor): for
    * every adjacent pair (2t, 2t+1) of embedding ids, the TRUE
    * squared Euclidean distance vs its estimate through the 64→16
    * md5-parity ±1 projection — published per pair so the operating
    * point is measured, not cited from the lemma (the q198/q238
    * stance applied to dimensionality reduction). The projection of a
    * DIFFERENCE equals the difference of projections (linearity), so
    * the whole measurement is one equi-join + row-local folds: dv,
    * dot(dv,dv), and Σ_t (dv·p_t)²/16 in fixed t-ascending fold order
    * (the oracle's `list(dp ORDER BY t)` + list_sum mirrors the fold
    * exactly — a bare SQL sum() would re-order the 16 addends).
    */
  private val q251JlDistortion: Q = jlDistortionQ(outDim = 16)

  /** q254 — ⊕ the SECOND JL operating point (t = 8): q251's
    * measurement re-run at half the output dimension, so the anchors
    * pin the distortion–dimension SCHEDULE (variance of the estimate
    * doubles when t halves — visible in the spread of `distortion`),
    * not one constant — the q241/q243 two-floor convention applied to
    * dimensionality reduction. Byte-shares q251's generator up to the
    * t literal on both engines.
    */
  private val q254JlDistortionT8: Q = jlDistortionQ(outDim = 8)

  /** One generator for both JL anchors (q251 t=16, q254 t=8) — the
    * projection planes, the fixed t-ascending fold, and the readout
    * are identical; only the output dimension differs.
    */
  private def jlDistortionQ(outDim: Int): Q = (s, dir) => {
    val dim = 64
    val em = Tables.embeddings(s, dir)
      .select(col("vec_id"), ext.Similarity.vecD(col("embedding")).as("v"))
    val a = em.select(col("vec_id").as("vec_id_a"), col("v").as("va"))
      .filter(col("vec_id_a") % 2 === 0)
    val b = em.select(col("vec_id").as("vec_id_b"), col("v").as("vb"))
    val pairs = a.join(b, col("vec_id_b") === col("vec_id_a") + 1)
      .select(col("vec_id_a"), col("vec_id_b"),
        zip_with(col("va"), col("vb"), (x, y) => x - y).as("dv"))
    val dproj2 = (0 until outDim).map { t =>
      val p = ext.Similarity.dot(col("dv"),
        typedLit((0 until dim).map(d => ext.Similarity.jlPlaneComp(t, d))))
      p * p
    }.reduce(_ + _) / lit(outDim.toDouble)
    pairs
      .select(col("vec_id_a"), col("vec_id_b"),
        ext.Similarity.dot(col("dv"), col("dv")).as("dtrue2"),
        dproj2.as("dproj2"))
      .filter(col("dtrue2") > 0)
      .select(col("vec_id_a"), col("vec_id_b"),
        round(col("dtrue2"), 6).as("dist_sq_true"),
        round(col("dproj2"), 6).as("dist_sq_proj"),
        round(col("dproj2") / col("dtrue2"), 4).as("distortion"))
      .orderBy(col("vec_id_a"))
  }

  /** q250 — ⊕ hybrid fusion on the ANN path: q244 with the dense side
    * served by the q38 IVF index (fit + 4-probe search) instead of
    * the brute scan — the DEPLOYMENT pairing (lexical top-k from the
    * inverted-text side, dense top-k from the vector index, RRF on
    * ranks). The fused list legitimately differs from q244 where the
    * index's probe set misses a true neighbor — that trade is the
    * whole point of indexing, and both forms being oracled lets a
    * user MEASURE it (diff the two results) instead of trusting a
    * recall claim. Same tie-free integer fusion.
    */
  private val q250HybridRrfIvf: Q = (s, dir) => {
    val W = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val lex = ext.TextRank.bm25(docs, ext.TextAnalysis.tokens(col("text")),
        terms = Seq("spark", "merge", "vector"))
      .select(col("doc_id"), col("bm25"))
      .orderBy(desc("bm25"), col("doc_id")).limit(100)
      .withColumn("rank",
        row_number().over(W.orderBy(desc("bm25"), col("doc_id"))))
      .select(col("doc_id").as("id"), col("rank"))
    val model = ext.Similarity.ivfFit(Tables.embeddings(s, dir),
      col("vec_id"), col("embedding"), k = 16, iters = 2, quantize = Some(9))
    val dense = ext.Similarity.ivfSearch(model, queryIds = Seq(0L),
        nprobe = 4, k = 100)
      .withColumn("rank",
        row_number().over(W.orderBy(desc("cos_sim"), col("neighbor_id"))))
      .select(col("neighbor_id").as("id"), col("rank"))
    ext.TextRank.rrfFuse(Seq("lex" -> lex, "dense" -> dense), k0 = 60)
      .select(col("id").as("doc_id"), col("rank_lex"), col("rank_dense"),
        col("rrf_units"))
      .orderBy(desc("rrf_units"), col("doc_id"))
      .limit(50)
  }

  /** q249 — ⊕ the SIZED spectral anchor
    * ([[graft.ext.Spectral.pcaProjectSized]]): q246's screen with the
    * fit capped at 256 rows via the q50 md5 sample rule — the shape
    * the 100 TB deployment runs (a principal direction is a
    * corpus-level statistic; ~10⁵–10⁶ rows pin it, so the fit rides a
    * reproducible hash sample and only the ONE scoring pass touches
    * everything). At sf0.01 the cap BINDS (500 vectors → a
    * ~51%-rate fit subset) and every vector still scores against the
    * sample-fitted (mean, component) — the oracle re-derives the md5
    * buckets, the truncating rate threshold, the sampled fit chain,
    * and the full-corpus scoring pass.
    */
  private val q249PcaProjectSized: Q = (s, dir) => {
    ext.Spectral.pcaProjectSized(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), iterations = 4, maxFitRows = 256)
      .select(col("id").as("vec_id"), col("proj"), col("resid_sq"))
      .orderBy(col("vec_id"))
  }

  /** q248 — ⊕ tokenizer-fertility datacard: per-language subword
    * fertility (BPE tokens per word) and compression (chars per BPE
    * token) under the q155 corpus-trained merges — the number a
    * multilingual data report publishes next to raw token counts
    * (a language whose fertility sits far above the corpus mean is
    * FRAGMENTED by this tokenizer: its token budget buys fewer words,
    * its sequences pack worse — the q170/q194 accounting is silently
    * skewed against it). Train once (the q155 8-merge chain), ENCODE
    * everywhere (pure projection — the fit-once/encode-everything
    * shape), one groupBy(lang). Token counts use q170's billed
    * convention (the end-of-word marker is part of the symbol stream
    * unless merged away); char counts are pre-merge word lengths.
    * Every readout is an exact integer or an [[graft.ops.Exact.ratio]]
    * — tie-free.
    */
  private val q248BpeFertility: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val merges = ext.Bpe.learnMerges(
        ext.Bpe.wordFreqs(docs, col("text")), nMerges = 8)
      .orderBy(col("merge_rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    docs.select(col("lang"),
        explode(ext.TextAnalysis.tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .select(col("lang"), length(col("word")).cast("long").as("n_chars"),
        size(ext.Bpe.symbolsOf(ext.Bpe.applyMerges(col("word"), merges)))
          .cast("long").as("n_sub"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_subtokens"),
        sum(col("n_chars")).as("n_chars"),
        graft.ops.Exact.ratio(sum(col("n_sub")), count(lit(1)), 6)
          .as("fertility"),
        graft.ops.Exact.ratio(sum(col("n_chars")), sum(col("n_sub")), 6)
          .as("chars_per_token"))
      .orderBy(col("lang"))
  }

  /** q171 — ⊕ snapshot drift screen ([[graft.ops.Drift]]): PSI
    * between the first and second half-month of events over
    * (event_type × value-bucket) categories — the gate that catches a
    * collapsed source or format change before it trains in. All
    * readout arithmetic is exact integer units (micro-rates,
    * nano-logs, 1e-15-unit contributions), so the hash compare is
    * bit-strict.
    */
  private val q171DriftPsi: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val catg = concat(col("event_type"), lit("|"),
      coalesce(floor(col("value") / 100.0).cast("string"), lit("null")))
    val split = lit("2024-01-16").cast("timestamp")
    ops.Drift.categoricalDrift(
        ev.filter(col("ts") < split), ev.filter(col("ts") >= split), catg)
      .orderBy(col("category"))
  }

  /** q172 — ⊕ leakage-safe train/val/test split: assign whole
    * NEAR-DUP CLUSTERS to splits, not documents — the q81 hash split
    * keyed on the q48 cluster id (singletons key on their own doc_id)
    * so a near-duplicate pair can never straddle train and test (the
    * contamination mode a row-keyed split CREATES by construction:
    * with 80/10/10 weights, a duplicated doc leaks into a different
    * split with probability ≈ 0.34). Readout = per-split doc/cluster
    * counts + id checksums, with the leakage invariant — clusters
    * touching more than one split — computed IN the result (must be
    * 0, and the oracle hash pins it).
    */
  private val q172LeakSafeSplit: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val clusters = ext.Dedup.dupClusters(
      ext.Dedup.nearDupPairs(docs, col("doc_id"), col("text")))
    val assigned = docs
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("split", ops.Sampling.assignSplit("cluster_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    val per = assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("doc_id")).as("sum_ids"))
    val straddle = assigned.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("__ns"))
      .filter(col("__ns") > 1)
      .agg(count(lit(1)).as("straddling_clusters"))
    per.crossJoin(broadcast(straddle)).orderBy(col("split"))
  }

  /** q173 — ⊕ numeric drift ([[graft.ops.Drift.numericDrift]]):
    * events.value between the two half-months, binned on the FIRST
    * half's exact deciles (percentile ≡ quantile_cont to the bit) —
    * every bin holds ≈ 10% of baseline mass, nulls are bin −1 (a
    * null-rate shift IS drift). Same integer-units PSI readout as
    * q171.
    */
  private val q173NumericDrift: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val split = lit("2024-01-16").cast("timestamp")
    ops.Drift.numericDrift(
        ev.filter(col("ts") < split), ev.filter(col("ts") >= split),
        col("value"), nBins = 10)
      .orderBy(col("category"))
  }

  /** q174 — ⊕ margin-based mutual-kNN mining
    * ([[graft.ext.Similarity.marginMutualKnn]]): the CCMatrix/LASER
    * alignment rule over the q86 kNN graph — edges scored relative to
    * their endpoint's neighborhood mean (hubs dilute their own
    * margins), pairs mined only when both directions are in each
    * other's top-k. Margins are exact integer 1e-4 units (HALF_UP via
    * the boundary-free 2a+b trick), so the hash compare is strict.
    */
  private val q174MarginMining: Q = (s, dir) => {
    ext.Similarity.marginMutualKnn(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), threshold = 0.3, k = 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q175 — ⊕ per-document character entropy
    * ([[graft.ext.TextAnalysis.charEntropy]]): the self-entropy
    * gibberish screen — repetition collapses toward 0, random blobs
    * toward log(alphabet), language sits in the middle band; exact
    * integer nano-nats per the q154/q171 quantize-at-birth
    * convention, so the hash compare is strict.
    */
  private val q175CharEntropy: Q = (s, dir) => {
    ext.TextAnalysis.charEntropy(Tables.documents(s, dir),
        col("doc_id"), col("text"))
      .orderBy(col("id"))
  }

  /** q176 — ⊕ the AUTO form of q174
    * ([[graft.ext.Similarity.marginMutualKnnAuto]]): derived bits +
    * sized exchange floor to the pinned configuration at fixture
    * scale, so the oracle is q174's, byte-shared (the q149
    * convention); the decade-2 ScaleBench slope is the scale
    * evidence.
    */
  private val q176MarginMiningAuto: Q = (s, dir) => {
    ext.Similarity.marginMutualKnnAuto(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), threshold = 0.3, k = 3)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q177 — ⊕ round-12 session-3 capstone: corpus → train-ready
    * packed stream, end to end. (1) character-entropy gate
    * ([[graft.ext.TextAnalysis.charEntropy]], keep the 2.8-3.2-nat
    * language band — drops repetition and blobs); (2) LEAKAGE-SAFE
    * train split on the survivors (near-dup clusters assigned whole,
    * q172's rule); (3) BPE tokenize with corpus-trained merges and
    * pack real token counts into 512-token sequences (q170's chain,
    * applied to the train split). Every stage reuses the exact shared
    * oracle chains, so the capstone hash pins the whole pipeline.
    */
  private val q177TrainReady: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // Round 20 (guide §2.6): BPE merge learning reads only the RAW
    // corpus — independent of the entropy-gate → near-dup → cluster →
    // split chain, which is a serial ladder of small eager jobs
    // (measured: 51 jobs, 7.1 s warm, no single job over 0.9 s). Run
    // the two driver-side chains on two threads so one chain's stage
    // tails back-fill the other's idle cores; the encode pass below
    // needs both results.
    val (merges, train) = ops.Overlap.inParallel(
      bpeMerges(docs),
      {
        val ent = ext.TextAnalysis.charEntropy(docs, col("doc_id"), col("text"))
        // the gate id set feeds near-dup pair generation AND the split
        // join — persisted (doc_id-only rows) so the entropy
        // aggregation runs once, not once per consumer; released after
        // the train checkpoint lands (nothing reads it later)
        val keptIds = ent
          .filter(col("entropy_nano").between(2800000000L, 3200000000L))
          .select(col("id").as("doc_id"))
          .persist()
        val kept = docs.join(keptIds, Seq("doc_id"))
        val clusters = ext.Dedup.dupClusters(
          ext.Dedup.nearDupPairs(kept, col("doc_id"), col("text")))
        val t = kept
          .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
          .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("split", ops.Sampling.assignSplit("cluster_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
          .filter(col("split") === "train")
          // the train split is the between-stages materialization point of
          // any real pipeline; without it the entropy-gate + dup-cluster
          // chain re-evaluates under the encode pass (the q166 lesson)
          .localCheckpoint()
        keptIds.unpersist()
        t
      })
    val toks = bpeEncodeCounts(train, merges)
    ops.Packing.packSequences(toks, Seq(col("doc_id")), "n_toks", 512L)
      .select(col("doc_id"), col("n_toks"), col("tok_start"),
        col("seq_first"), col("seq_last"), col("n_seqs"))
      .orderBy(col("doc_id"))
  }

  /** q178 — ⊕ template-prefix detection
    * ([[graft.ext.TextAnalysis.templatePrefix]]): per-source longest
    * common prefix via the LCP(min, max) reduction — ONE
    * map-side-combinable aggregation, LCP computed on #sources rows.
    * Pages carry a synthetic per-source rendered header (the q159
    * derived-noise convention) so the screen has a real template to
    * find; the oracle replays min/max + the same contiguous prefix
    * rule.
    */
  private val q178TemplatePrefix: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("source"),
      concat(lit("["), col("source"), lit("-hdr] "), col("text")).as("text2"))
    ext.TextAnalysis.templatePrefix(docs, col("source"), col("text2"))
      .select(col("group").as("source"), col("n_docs"), col("prefix_len"),
        substring(col("prefix"), 1, 40).as("prefix40"))
      .orderBy(col("source"))
  }

  /** q179 — ⊕ embedding isolation screen
    * ([[graft.ext.Similarity.isolationScreen]]): kNN-distance outlier
    * check over the q86 graph — vectors with no candidate neighbor or
    * a low best cosine are mislabeled/noise/out-of-domain candidates;
    * the id universe is every non-null vector so zero-candidate rows
    * surface instead of being join-dropped.
    */
  private val q179IsolationScreen: Q = (s, dir) => {
    ext.Similarity.isolationScreen(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), threshold = 0.3, k = 3, tau = 0.5)
      .orderBy(col("vec_id"))
  }

  /** q180 — ⊕ embedding-space drift: the q171 PSI over CLUSTER
    * histograms under a SHARED coarse quantizer — fit the q38 k-means
    * on the baseline snapshot (even ids), assign BOTH snapshots to
    * the same centroids ([[graft.ext.Similarity.assignToCentroids]] —
    * a pure projection, the extend-don't-refit contract), and compare
    * the cluster occupancy distributions. This is the monitoring op
    * for "did the embedding model / corpus composition shift" — raw
    * vector stats can't see a rotation of meaning, but the occupancy
    * histogram under FIXED centroids can. Oracle: the shared IVF
    * chain with `trainWhere`, per-snapshot counts from `af`, the q171
    * PSI tail.
    */
  private val q180EmbeddingDrift: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val a = em.filter(col("vec_id") % 2 === 0)
    val b = em.filter(col("vec_id") % 2 === 1)
    val model = ext.Similarity.ivfFit(a, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val ca = model.assigned
      .groupBy(col("cluster").as("category")).agg(count(lit(1)).as("count_a"))
    val cb = ext.Similarity.assignToCentroids(model, b, col("vec_id"), col("embedding"))
      .groupBy(col("cluster").as("category")).agg(count(lit(1)).as("count_b"))
    ops.Drift.driftFromCounts(ca, cb).orderBy(col("category"))
  }

  /** q186 — ⊕ INCREMENTAL packing, oracled: pack the first half of
    * the corpus, then pack the second half with
    * `startOffset = history end` ([[graft.ops.Packing.packSequences]]'
    * resume parameter — a daily increment never re-reads the
    * historical token stream) and union. Under append-only order the
    * combined layout is byte-identical to a from-scratch repack, so
    * the oracle is q167's, shared verbatim — the q112/q146 convention
    * applied to the maintenance path.
    */
  private val q186IncrementalPacking: Q = (s, dir) => {
    val t = Tables.documents(s, dir).select(col("doc_id"),
      ext.TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
    val history = t.filter(col("doc_id") < 250)
    val increment = t.filter(col("doc_id") >= 250)
    val packedHist = ops.Packing.packSequences(history, Seq(col("doc_id")), "n_toks", 512L)
    val end = packedHist.agg(coalesce(max(col("tok_start") + col("n_toks")), lit(0L)))
      .head().getLong(0)
    val packedInc = ops.Packing.packSequences(increment, Seq(col("doc_id")), "n_toks", 512L,
      startOffset = end)
    packedHist.unionByName(packedInc)
      .select(col("doc_id"), col("n_toks"), col("tok_start"),
        col("seq_first"), col("seq_last"), col("n_seqs"))
      .orderBy(col("doc_id"))
  }

  /** q187 — ⊕ PageRank with dangling-mass redistribution
    * ([[graft.ops.Graph.pageRank]] `redistributeDangling = true`):
    * q109's arithmetic link graph — which PLANTS sinks by
    * construction (dst ranges over 0..39 but src only 0..36, so
    * nodes 37-39 have no out-edges) — ranked with the standard
    * per-round dangling term `d·D/N`. This is the web-scale constant
    * q109's leaky convention gets wrong (~20% of crawled pages are
    * sinks); with redistribution the ranks sum to 1 up to
    * quantization. The dangling sum crosses rounds as exact integer
    * nano-units (order-free), and the oracle unrolls the identical
    * three rounds with per-round `d1/d2/d3` scalar CTEs.
    */
  private val q187PageRankDangling: Q = (s, dir) => {
    val e = Tables.documents(s, dir)
      .select((col("doc_id") % 37).as("src"),
        ((col("doc_id") * 7 + 3) % 40).as("dst"))
      .distinct()
    graft.ops.Graph.pageRank(e, col("src"), col("dst"), iters = 3,
        redistributeDangling = true)
      .select(concat(lit("site"), col("n")).as("domain"),
        round(col("r"), 6).as("rank"))
      .orderBy(col("domain"))
  }

  /** q188 — ⊕ indexed coarse assignment at k past the flat plan
    * ceiling ([[graft.functions.CentroidArgmax]]): seed 100 centroids
    * (first-by-id, quantized — the ivfFit convention, zero Lloyd
    * rounds) and assign every vector, plus the top-3 probe order the
    * search path would use. k = 100 > FlatAssignMaxK = 64, so BOTH
    * columns run through the O(1)-plan-size indexed expressions —
    * exact branch-and-bound, bit-identical to the flat argmax by
    * construction — while the ORACLE replays the flat literal
    * ranking in SQL. This is the hierarchical-assignment scale path
    * for the √n coarse-k search schedule: at 200M vectors k ≈ 5000
    * literal centroids stops compiling; the indexed form's plan cost
    * is constant in k.
    *
    * Output contract (round-14 lesson, the X5/X6 precedent extended):
    * every registry query's hashed projection must be SCALAR — the
    * probe list is emitted as a comma-joined string, never a raw
    * array (a raw array column is unsortable in the driver's pandas
    * compare and reds the row no matter how correct the operator is).
    * PlansSpec asserts this contract registry-wide.
    */
  private val q188CoarseAssignIndexed: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val ivf = ext.Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 100, iters = 0, quantize = Some(9))
    val out = ivf.assigned
      .select(col("id").as("vec_id"), col("cluster"),
        array_join(
          graft.functions.CentroidArgmax.centroid_topk(col("nv"), ivf.centroids, 3)
            .cast("array<string>"), ",").as("probes"))
      .orderBy(col("vec_id"))
    ivf.unpersist()
    out
  }

  /** q241 — ⊕ the √n-SIZED coarse schedule on the hierarchical
    * (two-level-indexed) assignment at k = 4·FlatAssignMaxK — the
    * q188 anchor moved from a hand-pinned k to the
    * [[graft.ext.Similarity.searchClustersForCorpus]] schedule
    * itself, stress-floored (`balance = 1, minK = 256`) so the
    * derived k lands at 256 at every driver fixture size and the
    * oracle can replay it as a literal (the q149/q176 sized-knob
    * convention). k = 256 ≫ FlatAssignMaxK = 64 forces both the
    * assignment and the probe ranking through
    * [[graft.functions.CentroidArgmax]]'s two-level index (~16
    * supergroups of ~16 centroids — real hierarchy depth, not
    * q188's 10×10); hash equality against the flat SQL replay at
    * k = 256 IS the exactness proof that the √n schedule can ride
    * the O(1)-plan-size path at any derived k (CentroidPlanProbe
    * pins the plan-cost wall the flat form hits by k = 1024, and
    * the k = 5000 row — the 200M-vector schedule point — this
    * round).
    */
  private def sizedAssignHier(minK: Int): Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val k = ext.Similarity.searchClustersForCorpus(em.count(),
      balance = 1, minK = minK)
    val ivf = ext.Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = k, iters = 0, quantize = Some(9))
    val out = ivf.assigned
      .select(col("id").as("vec_id"), col("cluster"),
        array_join(
          graft.functions.CentroidArgmax.centroid_topk(col("nv"), ivf.centroids, 3)
            .cast("array<string>"), ",").as("probes"))
      .orderBy(col("vec_id"))
    ivf.unpersist()
    out
  }

  private val q241SizedAssignHier: Q = sizedAssignHier(256)

  /** q243 — ⊕ the q241 anchor at a SECOND schedule floor (minK = 512
    * → ~23 supergroups of ~23 at the fixture, a different hierarchy
    * GEOMETRY, not just a bigger constant): hash equality against the
    * flat replay at BOTH derived k's closes the last caveat on the
    * ANN coarse-assignment family — that the k in q241's oracle was a
    * literal that might as well have been a constant. With two floors
    * oracled through the SAME [[graft.ext.Similarity.searchClustersForCorpus]]
    * schedule and the SAME two-level index expressions, the SCHEDULE
    * demonstrably drives the plan and the indexed path is exact at
    * whatever depth it derives.
    *
    * Fixture honesty: at the sf0.01 gate fixture (500 vectors) the
    * 512 floor saturates at n — the seed LIMIT yields all 500 rows
    * on BOTH engines (the oracle's LIMIT caps identically), so the
    * second geometry exercised is 500 centroids (~22×22 supergroups)
    * vs q241's 256 (~16×16). Different depth either way, which is
    * the point; at sf0.1+ the floor binds and the anchor runs at a
    * true 512.
    */
  private val q243SizedAssignHier2: Q = sizedAssignHier(512)

  /** q244 — ⊕ hybrid retrieval fusion
    * ([[graft.ext.TextRank.rrfFuse]]): the q73 lexical BM25 ranking
    * and a q24-style dense cosine ranking (query = vec 0) fused by
    * reciprocal rank — the production hybrid-search combiner (RAG
    * retrieval stacks run exactly this pair). Each side reduces to
    * its top-100 IN ITS OWN PLAN (TakeOrderedAndProject — the
    * distributed top-k, never a global sort), rank assignment is a
    * window over the already-reduced ≤100-row table (constant-size
    * single partition by construction), and the fusion is a
    * union+groupBy over ≤200 rows. `rrf_units` is the exact integer
    * Σ floor(10⁶/(60+rank)) — the fused ordering is tie-free, so the
    * published top-50 cannot depend on a double anywhere.
    */
  private val q244HybridRrf: Q = (s, dir) => {
    val W = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val lex = ext.TextRank.bm25(docs, ext.TextAnalysis.tokens(col("text")),
        terms = Seq("spark", "merge", "vector"))
      .select(col("doc_id"), col("bm25"))
      .orderBy(desc("bm25"), col("doc_id")).limit(100)
      .withColumn("rank",
        row_number().over(W.orderBy(desc("bm25"), col("doc_id"))))
      .select(col("doc_id").as("id"), col("rank"))
    val dense = ext.Similarity.bruteForceKnn(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), queryIds = Seq(0L), k = 100)
      .withColumn("rank",
        row_number().over(W.orderBy(desc("cos_sim"), col("neighbor_id"))))
      .select(col("neighbor_id").as("id"), col("rank"))
    ext.TextRank.rrfFuse(Seq("lex" -> lex, "dense" -> dense), k0 = 60)
      .select(col("id").as("doc_id"), col("rank_lex"), col("rank_dense"),
        col("rrf_units"))
      .orderBy(desc("rrf_units"), col("doc_id"))
      .limit(50)
  }

  /** q245 — ⊕ top principal component of the embedding corpus
    * ([[graft.ext.Spectral.pcaTopComponent]]): 4 matrix-free power
    * iteration steps from the deterministic all-ones start, published
    * per dimension with the Rayleigh eigenvalue and explained-variance
    * fraction — the corpus-collapse diagnostic a datacard reports
    * next to q180/q226. The oracle unrolls the identical 4 steps as
    * CTEs (the q242 unrolled-iteration convention), so centering,
    * every C·v fold, both normalizations and the final Rayleigh
    * quotient are all replayed in SQL.
    */
  private val q245PcaComponent: Q = (s, dir) => {
    ext.Spectral.pcaTopComponent(Tables.embeddings(s, dir),
      col("vec_id"), col("embedding"), iterations = 4)
  }

  /** q246 — ⊕ PCA projection + residual screen
    * ([[graft.ext.Spectral.pcaProject]]): every vector's coordinate
    * along q245's component and its squared off-component residual —
    * the deployment readout (high residual = off-manifold outlier:
    * corrupt encode, wrong modality; the projection is the 1-d
    * whitening coordinate SemDeDup-style pipelines cluster on). The
    * screen verdict itself is left to the consumer: publishing the
    * measured values ordered by id keeps every row's fate free of
    * double comparisons (the q205 lesson applied by construction).
    */
  private val q246PcaProject: Q = (s, dir) => {
    ext.Spectral.pcaProject(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), iterations = 4)
      .select(col("id").as("vec_id"), col("proj"), col("resid_sq"))
      .orderBy(col("vec_id"))
  }

  /** q247 — ⊕ two-component spectrum by deflation
    * ([[graft.ext.Spectral.pcaComponents]]): q245's component, then
    * the corpus deflated by its own projection (c ← c − (c·v)v,
    * row-local) and the SAME 4-step iteration re-run for PC2 — the
    * spectrum readout whose top-k explained fractions are the
    * whitening decision. The oracle replays BOTH iterations from the
    * shared step template (the deflation is one list_transform CTE
    * between them), so orthogonality isn't asserted — it EMERGES from
    * hash equality of the replayed arithmetic on both engines.
    */
  private val q247PcaSpectrum: Q = (s, dir) => {
    ext.Spectral.pcaComponents(Tables.embeddings(s, dir),
      col("vec_id"), col("embedding"), nComponents = 2, iterations = 4)
  }

  /** q189 — ⊕ ExactSubstr maximal repeated spans
    * ([[graft.ext.Dedup.maximalRepeatedSpans]], Lee et al. 2022):
    * q97's covered-position set promoted to SPAN STRUCTURE — every
    * maximal run of positions covered by a ≥ 2×-repeated 10-gram,
    * with boundaries, length, and content md5. Covered-set
    * equivalence to repeated substrings ≥ L makes this the
    * suffix-array result without a suffix array; the oracle replays
    * the shared q97 cover CTEs plus the gaps-and-islands run
    * grouping. Integer/string arithmetic only — exact hash compare.
    */
  private val q189ExactSubstrSpans: Q = (s, dir) => {
    ext.Dedup.maximalRepeatedSpans(Tables.documents(s, dir),
        col("doc_id"), col("text"), minLen = 10, minDf = 2)
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** Deterministic multi-line synthesis shared by q190/q191 (the
    * q159 derived-noise convention — the fixture text is single-line,
    * so line structure is derived from it reproducibly): tokens are
    * cut into lines of `4 + doc_id % 5` words, and a line gets NO
    * terminal period when `(doc_id + line_idx) % 3 == 0` — planting
    * violations for every C4 rule. Returns (doc_id, __lines).
    */
  /** q207/q240 shared input: the synthesized lines with a duplicated
    * first line and a stop-word tail every third doc — the
    * construction that makes BOTH repetition verdicts occur at
    * fixture scale (oracle mirror: [[dupDecoratedDCte]]).
    */
  private def dupDecoratedText(s: SparkSession, dir: String): DataFrame =
    synthLines(s, dir)
      .select(col("doc_id"),
        concat(
          array_join(concat(col("__lines"), slice(col("__lines"), 1, 1)), "\n"),
          when(col("doc_id") % 3 === 0, lit("\nthe and that have with."))
            .otherwise(lit(""))).as("__t"))

  private def synthLines(s: SparkSession, dir: String,
                         decorate: (Column, Column) => Column =
                           (l, _) => l): DataFrame = {
    val w = ext.TextAnalysis.tokens(col("text"))
    val L = (lit(4) + col("doc_id") % 5).cast("int")
    val nl = ceil(size(w).cast("double") / L).cast("int")
    Tables.documents(s, dir)
      .filter(col("text").isNotNull && size(w) > 0)
      .select(col("doc_id"),
        transform(sequence(lit(0), nl - 1), i =>
          decorate(concat(array_join(slice(w, i * L + 1, L), " "),
            when((col("doc_id") + i) % 3 === 0, lit("")).otherwise(lit("."))), i))
          .as("__lines"))
  }

  /** q190 — ⊕ C4 line-level cleaning
    * ([[graft.ext.TextAnalysis.c4LineClean]], Raffel et al. 2020
    * §2.2): per-line terminal-punctuation / ≥3-words / banned-phrase
    * rules over deterministically synthesized multi-line docs (every
    * rule fires on the fixture: short tail lines, period-free lines,
    * and `banned = ["slow"]` — a real fixture token). Row-local — one
    * split + one HOF filter; the doc-level readout keeps C4's
    * three-line floor as `kept_doc`.
    */
  private val q190C4LineClean: Q = (s, dir) => {
    val c = ext.TextAnalysis.c4LineClean(col("__t"), minWords = 3,
      banned = Seq("slow"))
    synthLines(s, dir)
      .select(col("doc_id"), array_join(col("__lines"), "\n").as("__t"))
      .select(col("doc_id"), c.as("__c"))
      .select(col("doc_id"),
        col("__c.n_lines").as("n_lines"),
        col("__c.n_kept").as("n_kept"),
        (col("__c.n_kept") >= 3).as("kept_doc"),
        md5(col("__c.text_clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** q191 — ⊕ within-document repeated-line dedup
    * ([[graft.ext.TextAnalysis.dedupLines]], the MassiveText /
    * FineWeb dup_line rule): q190's synthesized lines with the first
    * line APPENDED again (a planted duplicate per doc — the repeated
    * footer shape), deduplicated to first occurrences with order
    * preserved. The aggregation keys on (doc, line content) — no
    * per-doc window, no quadratic scan.
    */
  private val q191LineDedup: Q = (s, dir) => {
    val withDup = synthLines(s, dir)
      .select(col("doc_id"),
        array_join(concat(col("__lines"), slice(col("__lines"), 1, 1)), "\n")
          .as("__t"))
    ext.TextAnalysis.dedupLines(withDup, col("doc_id"), col("__t"))
      .select(col("doc_id"), col("n_lines"), col("n_unique"),
        md5(col("text_clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** q192 — ⊕ Gopher quality gate
    * ([[graft.ext.TextAnalysis.gopherQualityGate]], Rae et al. 2021
    * Appendix A1.1): the MassiveText heuristic screen over the
    * synthesized multi-line docs with PLANTED violations — every 4th
    * line gets a bullet prefix, every 7th an ellipsis suffix
    * (deterministic doc_id arithmetic, the q159/q190 convention) — so
    * the bullet-fraction, ellipsis-line, symbol-ratio, and stop-word
    * rules all fire with both verdicts present. Row-local; ratios at
    * the 4-dp convention; readout = all metrics + per-rule verdicts +
    * the conjunction.
    */
  private val q192GopherGate: Q = (s, dir) => {
    val g = ext.TextAnalysis.gopherQualityGate(col("__t"), minWords = 10)
    synthLines(s, dir, decorate = (l, i) =>
        when((col("doc_id") + i) % 4 === 0, concat(lit("- "), l))
          .when((col("doc_id") + i) % 7 === 0, concat(l, lit("...")))
          .otherwise(l))
      .select(col("doc_id"), array_join(col("__lines"), "\n").as("__t"))
      .select(col("doc_id"), g.as("__g"))
      .select(col("doc_id"), col("__g.n_words"), col("__g.mean_word_len"),
        col("__g.hash_ratio"), col("__g.ellipsis_ratio"),
        col("__g.bullet_frac"), col("__g.ellipsis_line_frac"),
        col("__g.n_stop"), col("__g.ok_words"), col("__g.ok_word_len"),
        col("__g.ok_symbols"), col("__g.ok_bullets"),
        col("__g.ok_ellipsis_lines"), col("__g.ok_stops"), col("__g.passes"))
      .orderBy(col("doc_id"))
  }

  /** q193 — ⊕ Unicode normalization
    * ([[graft.functions.UnicodeNorm]]): accents planted
    * deterministically in BOTH encodings — a decomposed prefix
    * (`e` + U+0301) and composed bodies (every `a` → U+00E1) — then
    * NFC-composed (length shrinks by exactly the combining mark) and
    * accent-stripped (which must round-trip to the original ASCII
    * text, pinned as an in-result invariant). The canonicalization a
    * multilingual corpus needs before hash-keyed dedup: composed and
    * decomposed spellings of the same text otherwise get different
    * fingerprints. Both engines run standard NFC (JDK Normalizer vs
    * utf8proc), so the md5s hash-compare exactly.
    */
  private val q193UnicodeNormalize: Q = (s, dir) => {
    import graft.functions.UnicodeNorm.{nfc_normalize, strip_accents}
    val t2 = concat(lit("é "), replace(col("text"), lit("a"), lit("á")))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), t2.as("__t"))
      .select(col("doc_id"),
        length(col("__t")).as("len_raw"),
        length(nfc_normalize(col("__t"))).as("len_nfc"),
        md5(nfc_normalize(col("__t"))).as("nfc_md5"),
        md5(strip_accents(col("__t"))).as("strip_md5"),
        (strip_accents(col("__t")) === concat(lit("e "), col("text")))
          .as("strip_roundtrip"))
      .orderBy(col("doc_id"))
  }

  /** q194 — ⊕ exact token-budget selection
    * ([[graft.ops.Sampling.tokenBudgetSample]]): fill a fixed
    * per-source token budget (800 here — binding at sf0.01+) greedily in deterministic id
    * order — the "assemble exactly N tokens from each source" cut a
    * training run actually needs, vs the rate-based approximation.
    * Built on the q152/q167 two-pass prefix-sum core over the global
    * (source, id) order, so no per-source single-task window exists
    * anywhere in the plan; the oracle replays the naive per-source
    * window (the q167 convention). The kept doc that CROSSES the
    * budget boundary stays (tokens-before < budget — the streaming
    * quota rule, batch ≡ stream proved in QuotaSpec).
    */
  private val q194TokenBudget: Q = (s, dir) => {
    val t = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      ext.TextAnalysis.tokenCount(col("text")).cast("long").as("__nt"))
    val sources = t.select(col("source")).distinct().orderBy(col("source"))
      .collect().map(_.getString(0)).toSeq // source-count driver rows
    ops.Sampling.tokenBudgetSample(t, col("source"), col("doc_id"), col("__nt"),
        sources.map(_ -> 800L))
      .orderBy(col("source"), col("doc_id"))
  }

  /** q195 — ⊕ corpus-wide paragraph dedup
    * ([[graft.ext.TextAnalysis.dedupParagraphsGlobal]], the
    * RefinedWeb rule): every synthesized line keeps only its FIRST
    * corpus occurrence under (doc_id, position) — the fixture's
    * planted near-dup documents share identical token runs, so
    * cross-document paragraph collisions occur naturally and later
    * copies drop corpus-wide (q191 removes only WITHIN-doc repeats).
    * Fully-claimed docs surface with n_kept = 0, not silently
    * dropped.
    */
  private val q195ParagraphDedup: Q = (s, dir) => {
    val docs = synthLines(s, dir)
      .select(col("doc_id"), array_join(col("__lines"), "\n").as("__t"))
    ext.TextAnalysis.dedupParagraphsGlobal(docs, col("doc_id"), col("__t"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        md5(col("text_clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** q196 — ⊕ CCNet head/middle/tail perplexity bucketing (Wenzek et
    * al. 2020: the corpus is cut at LM-score terciles and downstream
    * mixing consumes the buckets — "head" is the in-domain third):
    * q93's char-bigram scores → exact interpolated tercile boundaries
    * (Spark `percentile` ≡ DuckDB `quantile_cont` to the bit, the
    * q124/q140 evidence) → `>=`-bucketed with per-bucket stats. The
    * boundary row is the usual single-row broadcast normalizer; the
    * corpus never re-shuffles for the bucketing itself.
    */
  private val q196CcnetBuckets: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val model = ext.TextAnalysis.charBigramLm(
      docs.filter(col("doc_id") % 2 === 0), col("text"))
    // the score table feeds BOTH the boundary aggregation and the
    // bucket projection; the final hash aggregation's exchange is
    // reused across the two subtrees (measured: a localCheckpoint
    // here costs MORE than the reuse saves — 2.40 s vs 2.25 s)
    val scored = ext.TextAnalysis.lmScore(docs, col("doc_id"), col("text"), model)
    val bounds = scored.agg(
      percentile(col("lm_score"), typedLit(Seq(1.0 / 3, 2.0 / 3))).as("bs"))
    scored.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("lm_score"),
        when(col("lm_score") >= element_at(col("bs"), 2), lit("head"))
          .when(col("lm_score") >= element_at(col("bs"), 1), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(min(col("lm_score")), 4).as("min_score"),
        round(max(col("lm_score")), 4).as("max_score"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("bucket"))
  }

  /** q197 — ⊕ FineWeb-shaped pipeline capstone: C4 line cleaning
    * (q190's config) → CORPUS-WIDE paragraph dedup over the cleaned
    * text (q195's rule) → token counting → 256-token sequence packing
    * (q167's two-pass prefix sum). The line-granularity third of a
    * web-corpus pipeline end to end, with every stage reusing the
    * exact shared oracle chain of its own query — the capstone hash
    * pins the whole composition (the q166/q177 convention). Docs that
    * lose every line or every paragraph exit at their stage; the
    * packed stream covers survivors only.
    */
  private val q197FinewebPipeline: Q = (s, dir) => {
    val c = ext.TextAnalysis.c4LineClean(col("__t"), minWords = 3,
      banned = Seq("slow"))
    // persisted (round 19): the paragraph-dedup stage consumes this
    // table twice (the exploded first-occurrence side and the per-doc
    // n_paras side), and each evaluation re-runs the synthesize +
    // C4-clean regex chain — measured ~2.1 s per evaluation at sf0.1
    val cleaned = synthLines(s, dir)
      .select(col("doc_id"), array_join(col("__lines"), "\n").as("__t"))
      .select(col("doc_id"), c.as("__c"))
      .select(col("doc_id"), col("__c.n_kept").as("c4_kept"),
        col("__c.text_clean").as("__tc"))
      .filter(col("c4_kept") >= 1)
      .persist()
    // n_paras of the dedup output IS the c4 kept-line count (the
    // cleaned text's paragraphs are exactly the kept lines), so the
    // clean chain is computed ONCE — no second branch for the join
    val para = ext.TextAnalysis.dedupParagraphsGlobal(cleaned, col("doc_id"),
        col("__tc"))
      .filter(col("n_kept") >= 1)
      .select(col("doc_id"), col("n_paras").as("c4_kept"),
        col("n_kept").as("n_paras_kept"), col("text_clean"))
    val sized = para.select(col("doc_id"), col("c4_kept"), col("n_paras_kept"),
      ext.TextAnalysis.tokenCount(col("text_clean")).cast("long").as("n_toks2"))
    ops.Packing.packSequences(sized, Seq(col("doc_id")), "n_toks2", 256L)
      .select(col("doc_id"), col("c4_kept"), col("n_paras_kept"),
        col("n_toks2").as("n_toks"), col("tok_start"),
        col("seq_first"), col("seq_last"), col("n_seqs"))
      .orderBy(col("doc_id"))
  }

  /** q198 — ⊕ ANN recall@10 measurement
    * ([[graft.ext.Similarity.recallAtK]]): the q38 IVF search (pinned
    * k=16/nprobe=4) scored against the exact brute-force ground truth
    * over every 25th vector as a query — THE number a deployment
    * tunes nprobe against, computed exactly (deterministic tie-breaks
    * on both rankings) rather than sampled. The query universe is the
    * exact side's, so a query the index loses entirely surfaces with
    * recall 0. The brute side is the labeled O(n·q) baseline (the q24
    * stance).
    */
  private val q198AnnRecall: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val queries = em.filter(col("vec_id") % 25 === 0)
    val ivf = ext.Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val approx = ext.Similarity.ivfSearchDf(ivf, queries,
      col("vec_id"), col("embedding"), nprobe = 4, k = 10)
    val exact = ext.Similarity.bruteForceKnnDf(em, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 10)
    ext.Similarity.recallAtK(approx, exact, k = 10)
      .orderBy(col("query_id"))
  }

  /** q199 — ⊕ incremental corpus-wide paragraph dedup
    * ([[graft.ext.TextAnalysis.dedupParagraphsIncremental]]): q195's
    * rule as a daily increment — history (doc_id < 250) contributes
    * only its distinct paragraph-hash seen-set; the increment pays
    * one anti-join and its own first-occurrence pass. Under
    * append-only ids the result equals the full q195 recompute
    * restricted to the increment, so the oracle byte-shares q195's
    * chain with an output filter (the q186 convention applied to
    * paragraph dedup).
    */
  private val q199ParagraphDedupIncr: Q = (s, dir) => {
    val lines = synthLines(s, dir)
      .select(col("doc_id"), array_join(col("__lines"), "\n").as("__t"))
    ext.TextAnalysis.dedupParagraphsIncremental(
        lines.filter(col("doc_id") < 250), lines.filter(col("doc_id") >= 250),
        col("doc_id"), col("__t"))
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        md5(col("text_clean")).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** q200 — ⊕ per-source corpus datacard (the "datasheets for
    * datasets" summary panel a curation run publishes): docs, token
    * budget, language spread, exact-duplicate exposure (docs whose
    * corpus-wide fingerprint count exceeds 1 — the q30/q21 key),
    * mean q28 quality, stop-word mass and Gopher-gate pass count per
    * source. One fingerprint aggregation + one per-source
    * aggregation; every statistic reuses an already-oracled chain.
    *
    * Stop-word realism (round-14, the q159/q190 derived-noise
    * convention): the synthetic vocabulary carries only "the" from
    * the canonical stop set, which left the r13 datacard's
    * n_gopher_pass branch honestly-but-vacuously 0. The datacard now
    * scores a DERIVED text — every-third-id documents get a deterministic
    * stop-word tail (" the and that have with", all ≥ 3 chars so the
    * mean-word-length rule is not distorted) — so BOTH gate verdicts
    * are exercised at oracle scale; fingerprints/dup exposure stay on
    * the derived text uniformly, and the oracle mirrors the same
    * decoration.
    */
  private val q200CorpusDatacard: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .withColumn("__dt", concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" the and that have with"))
          .otherwise(lit(""))))
    val fp = ext.TextAnalysis.fingerprint(col("__dt"))
    val fpCounts = docs.select(fp.as("__fp"))
      .groupBy(col("__fp")).agg(count(lit(1)).as("__fc"))
    val g = ext.TextAnalysis.gopherQualityGate(col("__dt"), minWords = 10)
    docs
      .select(col("source"), col("lang"), col("doc_id"), fp.as("__fp"),
        ext.TextAnalysis.tokenCount(col("__dt")).cast("long").as("__nt"),
        ext.TextAnalysis.qualityScore(col("__dt")).as("__q"),
        g.getField("n_stop").as("__ns"),
        g.getField("passes").as("__gp"))
      // empty docs have no quality/stop semantics — excluded on BOTH
      // sides (the oracle's len(w) > 0 guard)
      .filter(col("__nt") > 0)
      .join(fpCounts, Seq("__fp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("sum_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("__fc") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        round(avg(col("__q")), 4).as("mean_quality"),
        sum(col("__ns")).cast("long").as("sum_stops"),
        sum(when(col("__gp"), 1L).otherwise(0L)).as("n_gopher_pass"))
      .orderBy(col("source"))
  }

  /** q155 — ⊕ BPE tokenizer training ([[graft.ext.Bpe]]): learn 8
    * merges over the documents word-frequency table. The corpus is
    * touched ONCE (the word count); every merge iteration runs on
    * word TYPES with one collected row of driver state (the argmax
    * pair). The sentinel-bracketed symbol encoding makes merge
    * application a literal left-to-right `replace` with identical
    * semantics in both engines, so the oracle replays the entire
    * training loop as 8 chained CTE stages — counts, argmax with the
    * same (count DESC, pair ASC) tie-break, merge — and the final
    * merge table must match bit-for-bit.
    */
  private val q155BpeTrain: Q = (s, dir) => {
    ext.Bpe.learnMerges(
        ext.Bpe.wordFreqs(Tables.documents(s, dir), col("text")), nMerges = 8)
      .orderBy(col("merge_rank"))
  }

  /** Blocklist for q201 — substring/phrase terms over the fixture
    * vocabulary: multi-word phrases exercise cross-token matching
    * (the thing a token-set lexicon can NOT express), "conflictfree"
    * and "merge conflict" are planted never-hits, and single frequent
    * words guarantee dense hits. Dictionary ORDER is part of the
    * contract (dict_matches reports matches in dictionary order).
    */
  private val blocklistTerms: Seq[String] = Seq(
    "slow scan", "big table", "merge conflict", "drop part",
    "small batch", "stale key", "stream", "vector", "conflictfree",
    "fast merge", "slow join", "bad data")

  /** q201 — ⊕ dictionary blocklist screen
    * ([[graft.functions.DictMatch]]): the C4-badwords / RefinedWeb
    * blocklist stage — per document, the any-hit flag and the matched
    * terms (dictionary order, comma-joined per the scalar output
    * contract). Both columns share ONE Aho-Corasick automaton
    * reference object, so the plan is O(1) in dictionary size and
    * each row's text is scanned once per column regardless of term
    * count — at a 10k-1M-phrase production blocklist the composable
    * `filter(array(lits), t -> contains(...))` chain would put O(k)
    * nodes in the projection and scan the text k times. Semantics are
    * defined to mirror exactly that composable form, which is what
    * the oracle replays (DictMatchSpec additionally proves the
    * automaton ≡ HOF-chain equivalence at a generated 10k-term
    * dictionary, where the HOF plan no longer even compiles usefully).
    */
  private val q201BlocklistScreen: Q = (s, dir) => {
    val dict = graft.functions.DictMatch.automaton(blocklistTerms)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        graft.functions.DictMatch.dict_contains_any(col("text"), dict).as("flagged"),
        array_join(graft.functions.DictMatch.dict_matches(col("text"), dict), ",")
          .as("matched"))
      .orderBy(col("doc_id"))
  }

  /** q202 — ⊕ recall@10 of the DEPLOYED index, per nprobe
    * ([[graft.ext.Similarity.recallAtK]] over the auto-sized IVF-PQ
    * search path — the q151/q165 family): q198 measured the pinned
    * q38 flat-IVF config, but a 100 TB deployment runs `ivfFitSized`
    * (√-schedule coarse k) + PQ ADC scoring and tunes NPROBE against
    * THAT index — recall vs probe cost at two operating points is the
    * tuning curve. One sized fit + one PQ fit + one brute-force
    * ground truth (the labeled q24 baseline), then the SAME search
    * chain at nprobe = 2 and 4; recall is exact (deterministic
    * tie-breaks both sides), reported per (nprobe, query). The oracle
    * replays the shared PQ train/ADC chain once, derives both probe
    * depths from one ranked probe list, and mirrors the hit counting.
    * NOTE the measured non-monotonicity: the CANDIDATE SET grows with
    * nprobe, but ADC-ranked top-k recall need not — a deeper probe
    * can surface a candidate whose quantized score beats a true
    * neighbor's and displaces it from the top-k (observed on the
    * fixture: 7/20 queries dip at nprobe 2→4). This is exactly why
    * the measurement exists — the nprobe/recall curve of a PQ index
    * is an empirical object, not a monotone law.
    */
  private val q202PqRecallByNprobe: Q = (s, dir) => {
    val em = Tables.embeddings(s, dir)
    val queries = em.filter(col("vec_id") % 25 === 0)
    val ivf = ext.Similarity.ivfFitSized(em, col("vec_id"), col("embedding"),
      iters = 2, quantize = Some(9))
    val pq = ext.Similarity.pqFit(em, col("vec_id"), col("embedding"),
      m = 4, k = 16, iters = 1, quantize = Some(9))
    // ground truth feeds FOUR consumers (hits + query-universe per
    // recallAtK, × two nprobe branches); persisted so the labeled
    // O(n·q) brute baseline runs once — it is q·k rows, the smallest
    // table in the query, and the artifact a deployment would write
    // anyway (the q46 survivor-set stance)
    val exact = ext.Similarity.bruteForceKnnDf(em, col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 10).persist()
    Seq(2, 4).map { np =>
      val approx = ext.Similarity.ivfPqSearchDf(ivf, pq, queries,
        col("vec_id"), col("embedding"), nprobe = np, k = 10)
      ext.Similarity.recallAtK(approx, exact, k = 10)
        .withColumn("nprobe", lit(np))
    }.reduce(_ unionByName _)
      .select(col("nprobe"), col("query_id"), col("n_hits"), col("recall"))
      .orderBy(col("nprobe"), col("query_id"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"   -> q01PricingSummary,
    "q02_region_rollup"     -> q02RegionRollup,
    "q03_revenue_priority"  -> q03RevenueByPriority,
    "q04_semi_join"         -> q04SemiJoin,
    "q05_anti_join"         -> q05AntiJoin,
    "q06_topk_per_group"    -> q06TopKPerGroup,
    "q07_per_group_head"    -> q07PerGroupHead,
    "q08_sort_limit"        -> q08SortLimit,
    "q09_filter_project"    -> q09FilterProject,
    "q10_time_window_count" -> q10TimeWindowCount,
    "q11_distinct_count"    -> q11DistinctCount,
    "q12_union_counts"      -> q12UnionCounts,
    "q13_keyword_search"    -> q13KeywordSearch,
    "q14_matched_keywords"  -> q14MatchedKeywords,
    "q15_clean_project"     -> q15CleanProject,
    "q16_found_via_agg"     -> q16FoundViaAgg,
    "q17_relevance_score"   -> q17RelevanceScore,
    "q18_event_type_sets"   -> q18EventTypeSets,
    "q19_json_extract"      -> q19JsonExtract,
    "q20_hourly_window"     -> q20HourlyWindow,
    "q21_dedup_exact"       -> q21DedupExact,
    "q22_minhash_neardup"   -> q22MinhashNearDup,
    "q23_simhash_neardup"   -> q23SimhashNearDup,
    "q24_knn_brute"         -> q24KnnBrute,
    "q25_cosine_pairs"      -> q25CosinePairs,
    "q26_ann_lsh"           -> q26AnnLsh,
    "q27_lang_id"           -> q27LangId,
    "q28_quality_score"     -> q28QualityScore,
    "q29_token_stats"       -> q29TokenStats,
    "q30_fingerprint"       -> q30Fingerprint,
    "q31_signal_scan"       -> q31SignalScanDocs,
    "q32_community_discovery" -> q32CommunityDiscoveryDocs,
    "q33_explode_flatten"   -> q33ExplodeFlatten,
    "q34_approx_distinct"   -> q34ApproxDistinct,
    "q35_multi_join"        -> q35MultiJoin,
    "q36_rollup"            -> q36Rollup,
    "q37_frame_sample"      -> q37FrameSample,
    "q38_ann_ivf"           -> q38AnnIvf,
    "q39_sessionize"        -> q39Sessionize,
    "q40_winnow_neardup"    -> q40WinnowNearDup,
    "q41_string_funcs"      -> q41StringFuncs,
    "q42_datetime_funcs"    -> q42DatetimeFuncs,
    "q43_signal_scan_comments" -> q43SignalScanComments,
    "q44_media_decode"      -> q44MediaDecode,
    "q45_community_comments" -> q45CommunityComments,
    "q46_curation"          -> q46Curation,
    "q47_topk_aggregator"   -> q47TopkAggregator,
    "q48_dup_clusters"      -> q48DupClusters,
    "q49_quantile_sketch"   -> q49QuantileSketch,
    "q50_hash_sample"       -> q50HashSample,
    "q51_column_profile"    -> q51ColumnProfile,
    "q52_shard_packing"     -> q52ShardPacking,
    "q53_containment"       -> q53Containment,
    "q54_full_outer"        -> q54FullOuter,
    "q55_set_ops"           -> q55SetOps,
    "q56_pivot"             -> q56Pivot,
    "q57_csv_roundtrip"     -> q57CsvRoundtrip,
    "q58_tolerant_union"    -> q58TolerantUnion,
    "q59_preset_scan"       -> q59PresetScan,
    "q60_enriched_export"   -> q60EnrichedExport,
    "q61_typed_json"        -> q61TypedJson,
    "q62_bmp_decode"        -> q62BmpDecode,
    "q63_wav_decode"        -> q63WavDecode,
    "q64_asof_join"         -> q64AsofJoin,
    "q65_range_join"        -> q65RangeJoin,
    "q66_embedding_dedup"   -> q66EmbeddingDedup,
    "q67_asof_forward"      -> q67AsofForward,
    "q68_cube"              -> q68Cube,
    "q69_variant_json"      -> q69Variant,
    "q70_bloom_prune"       -> q70BloomPrune,
    "q71_pii_redact"        -> q71PiiRedact,
    "q72_chunking"          -> q72Chunking,
    "q73_bm25_rank"         -> q73Bm25Rank,
    "q74_merge_upsert"      -> q74MergeUpsert,
    "q75_scd2_history"      -> q75Scd2History,
    "q76_rolling_window"    -> q76RollingWindow,
    "q77_freq_items"        -> q77FreqItems,
    "q78_dup_ngrams"        -> q78DupNgrams,
    "q79_centroid_outliers" -> q79CentroidOutliers,
    "q80_vocabulary"        -> q80Vocabulary,
    "q81_split_assign"      -> q81SplitAssign,
    "q82_quality_pctl"      -> q82QualityPercentile,
    "q83_prep_pipeline"     -> q83PrepPipeline,
    "q84_png_decode"        -> q84PngDecode,
    "q85_decay_score"       -> q85DecayScore,
    "q86_knn_graph"         -> q86KnnGraph,
    "q87_gif_decode"        -> q87GifDecode,
    "q88_decay_chunked"     -> q88DecayChunked,
    "q89_rolling_preagg"    -> q89RollingPreagg,
    "q90_jpeg_decode"       -> q90JpegDecode,
    "q91_contamination"     -> q91Contamination,
    "q92_weighted_sample"   -> q92WeightedSample,
    "q93_lm_quality"        -> q93LmQuality,
    "q94_adpcm_decode"      -> q94AdpcmDecode,
    "q95_ann_lsh_sized"     -> q149AnnLshAuto,
    "q96_rolling_auto"      -> q96RollingAuto,
    "q97_span_removal"      -> q97SpanRemoval,
    "q98_decay_auto"        -> q98DecayAuto,
    "q99_video_frames"      -> q99VideoFrames,
    "q100_resize"           -> q100Resize,
    "q101_image_dedup"      -> q101ImageDedup,
    "q102_audio_dedup"      -> q102AudioDedup,
    "q103_image_clusters"   -> q103ImageClusters,
    "q104_media_prep"       -> q104MediaPrep,
    "q105_url_domains"      -> q105UrlDomains,
    "q106_semdedup"         -> q106SemDedup,
    "q107_dsir_sample"      -> q107DsirSample,
    "q108_avi_decode"       -> q108AviDecode,
    "q109_pagerank"         -> q109PageRank,
    "q110_quantize_int8"    -> q110QuantizeInt8,
    "q111_orc_roundtrip"    -> q111OrcRoundtrip,
    "q112_semdedup_sized"   -> q150SemDedupAuto,
    "q113_seq_assembly"     -> q113SeqAssembly,
    "q114_mixture_sample"   -> q114MixtureSample,
    "q115_edit_dedup"       -> q115EditDedup,
    "q116_link_graph"       -> q116LinkGraph,
    "q117_resample"         -> q117Resample,
    "q118_histogram"        -> q118Histogram,
    "q119_provenance_prep"  -> q119ProvenancePrep,
    "q120_phrase_search"    -> q120PhraseSearch,
    "q121_cooccur_pmi"      -> q121CooccurPmi,
    "q122_standardize"      -> q122Standardize,
    "q123_incremental_dedup" -> q123IncrementalDedup,
    "q124_mad_outliers"     -> q124MadOutliers,
    "q125_dup_families"     -> q125DupFamilies,
    "q126_source_flow"      -> q126SourceFlow,
    "q127_funnel"           -> q127Funnel,
    "q128_retention"        -> q128Retention,
    "q129_attribution"      -> q129Attribution,
    "q130_triangles"        -> q130Triangles,
    "q131_entity_res"       -> q131EntityRes,
    "q132_path_transitions" -> q132PathTransitions,
    "q133_entity_blocked"   -> q133EntityBlocked,
    "q134_ab_test"          -> q134AbTest,
    "q135_count_min"        -> q135CountMin,
    "q136_chi_square"       -> q136ChiSquare,
    "q137_cuped"            -> q137Cuped,
    "q138_zorder"           -> q138Zorder,
    "q139_audience_overlap" -> q139AudienceOverlap,
    "q140_funnel_times"     -> q140FunnelTimes,
    "q141_overlap_sketch"   -> q141OverlapSketch,
    "q142_snapshot_diff"    -> q142SnapshotDiff,
    "q143_ivfpq"            -> q143IvfPq,
    "q144_html_extract"     -> q144HtmlExtract,
    "q145_semdedup_pq"      -> q145SemdedupPq,
    "q146_semdedup_pq_sized" -> q151SemDedupPqAuto,
    "q147_jsonl_roundtrip"  -> q147JsonlRoundtrip,
    "q148_ivfpq_batch"      -> q148IvfPqBatch,
    "q149_ann_lsh_auto"     -> q149AnnLshAuto,
    "q150_semdedup_auto"    -> q150SemDedupAuto,
    "q151_semdedup_pq_auto" -> q151SemDedupPqAuto,
    "q152_stable_row_number" -> q152StableRowNumber,
    "q153_interval_overlap" -> q153IntervalOverlap,
    "q154_naive_bayes"      -> q154NaiveBayes,
    "q155_bpe_train"        -> q155BpeTrain,
    "q156_pq_incremental"   -> q156PqIncremental,
    "q157_cdc_chunks"       -> q157CdcChunks,
    "q158_contamination_bloom" -> q158ContaminationBloom,
    "q159_url_canonical"    -> q159UrlCanonical,
    "q160_mixed_content"    -> q160MixedContent,
    "q161_chunk_transfer"   -> q161ChunkTransfer,
    "q162_quality_checks"   -> q162QualityChecks,
    "q163_temperature_mix"  -> q163TemperatureMix,
    "q164_knn_labels"       -> q164KnnLabels,
    "q165_pq_incr_sized"    -> q165PqIncrementalSized,
    "q166_pipeline_r12"     -> q166PipelineR12,
    "q167_seq_packing"      -> q167SeqPacking,
    "q168_shard_manifest"   -> q168ShardManifest,
    "q169_cc_contracted"    -> q169CcContracted,
    "q170_bpe_packing"      -> q170BpePacking,
    "q171_drift_psi"        -> q171DriftPsi,
    "q172_leak_safe_split"  -> q172LeakSafeSplit,
    "q173_numeric_drift"    -> q173NumericDrift,
    "q174_margin_mining"    -> q174MarginMining,
    "q175_char_entropy"     -> q175CharEntropy,
    "q176_margin_mining_auto" -> q176MarginMiningAuto,
    "q177_train_ready"      -> q177TrainReady,
    "q178_template_prefix"  -> q178TemplatePrefix,
    "q179_isolation_screen" -> q179IsolationScreen,
    "q180_embedding_drift"  -> q180EmbeddingDrift,
    "q181_kll_quantiles"    -> q181KllQuantiles,
    "q182_theta_audiences"  -> q182ThetaAudiences,
    "q183_forget_flow"      -> q183ForgetFlow,
    "q184_setsim_exact"     -> q184SetSimExact,
    "q185_lang_audit"       -> q185LangAudit,
    "q186_incremental_pack" -> q186IncrementalPacking,
    "q187_pagerank_dangling" -> q187PageRankDangling,
    "q188_coarse_assign_indexed" -> q188CoarseAssignIndexed,
    "q189_exact_substr_spans" -> q189ExactSubstrSpans,
    "q190_c4_line_clean"    -> q190C4LineClean,
    "q191_line_dedup"       -> q191LineDedup,
    "q192_gopher_gate"      -> q192GopherGate,
    "q193_unicode_normalize" -> q193UnicodeNormalize,
    "q194_token_budget"     -> q194TokenBudget,
    "q195_paragraph_dedup"  -> q195ParagraphDedup,
    "q196_ccnet_buckets"    -> q196CcnetBuckets,
    "q197_fineweb_pipeline" -> q197FinewebPipeline,
    "q198_ann_recall"       -> q198AnnRecall,
    "q199_paragraph_dedup_incr" -> q199ParagraphDedupIncr,
    "q200_corpus_datacard"  -> q200CorpusDatacard,
    "q201_blocklist_screen" -> q201BlocklistScreen,
    "q202_pq_recall_nprobe" -> q202PqRecallByNprobe,
    "q203_curation_blocklist" -> q203CurationBlocklist,
    "q204_gopher_repetition" -> q204GopherRepetition,
    "q205_epoch_allocation" -> q205EpochAllocation,
    "q206_exact_substr_dedup" -> q206ExactSubstrDedup,
    "q207_hygiene_datacard" -> q207HygieneDatacard,
    "q208_sft_pairs"        -> q208SftPairs,
    "q209_dialog_threads"   -> q209DialogThreads,
    "q210_preference_pairs" -> q210PreferencePairs,
    "q211_sft_decontam"     -> q211SftDecontam,
    "q212_sft_datacard"     -> q212SftDatacard,
    "q213_rouge_dedup"      -> q213RougeDedup,
    "q214_quality_lr"       -> q214QualityLr,
    "q215_best_of_n"        -> q215BestOfN,
    "q216_k_anonymity"      -> q216KAnonymity,
    "q217_sft_export"       -> q217SftExport,
    "q218_token_fairness"   -> q218TokenFairness,
    "q219_soft_dedup"       -> q219SoftDedup,
    "q220_ranking_metrics"  -> q220RankingMetrics,
    "q221_synthetic_screen" -> q221SyntheticScreen,
    "q222_url_content_audit" -> q222UrlContentAudit,
    "q223_calibration"      -> q223Calibration,
    "q224_reward_length_bias" -> q224RewardLengthBias,
    "q225_pref_concordance" -> q225PrefConcordance,
    "q226_embedding_sanity" -> q226EmbeddingSanity,
    "q227_code_switching"   -> q227CodeSwitching,
    "q228_domain_reweight"  -> q228DomainReweight,
    "q229_label_noise"      -> q229LabelNoise,
    "q230_cluster_audit"    -> q230ClusterAudit,
    "q231_packing_datacard" -> q231PackingDatacard,
    "q232_payload_validity" -> q232PayloadValidity,
    "q233_source_overlap"   -> q233SourceOverlap,
    "q234_diversity_datacard" -> q234DiversityDatacard,
    "q235_novelty_curve"    -> q235NoveltyCurve,
    "q236_bt_rating"        -> q236BtRating,
    "q237_screen_overlap"   -> q237ScreenOverlap,
    "q238_banding_recall"   -> q238BandingRecall,
    "q239_banding_auto"     -> q239BandingAuto,
    "q240_curation_repetition" -> q240CurationRepetition,
    "q241_sized_assign_hier" -> q241SizedAssignHier,
    "q243_sized_assign_hier2" -> q243SizedAssignHier2,
    "q242_doremi_rounds"    -> q242DoremiRounds,
    "q244_hybrid_rrf"       -> q244HybridRrf,
    "q245_pca_component"    -> q245PcaComponent,
    "q246_pca_project"      -> q246PcaProject,
    "q247_pca_spectrum"     -> q247PcaSpectrum,
    "q248_bpe_fertility"    -> q248BpeFertility,
    "q249_pca_project_sized" -> q249PcaProjectSized,
    "q250_hybrid_rrf_ivf"   -> q250HybridRrfIvf,
    "q251_jl_distortion"    -> q251JlDistortion,
    "q252_spectral_datacard" -> q252SpectralDatacard,
    "q253_whitened_semdedup" -> q253WhitenedSemDedup,
    "q254_jl_distortion_t8" -> q254JlDistortionT8,
    "q255_whitened3_semdedup" -> q255Whitened3SemDedup,
    "q256_dedup_funnel"     -> q256DedupFunnel,
    "q257_whitened_semdedup_sized" -> q257WhitenedSemDedupSized,
    "q258_whitened_semdedup_auto" -> q258WhitenedSemDedupAuto,
    "q259_embedding_lr"     -> q259EmbeddingLr,
    "q260_classifier_cut"   -> q260ClassifierCut,
    "q261_classifier_card"  -> q261ClassifierCard,
    "q262_whitened3_semdedup_sized" -> q262Whitened3SemDedupSized,
    "q263_whitened3_semdedup_auto" -> q263Whitened3SemDedupAuto,
  )

  /** Shared CTE chain: q26's full SRP-LSH derivation up to the
    * verified candidate `pairs(id_a, id_b, cos_sim)` — reused by the
    * q86 kNN-graph oracle so the two can never drift.
    */
  private def annLshPairsCte: String =
    raw"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (
        |  SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM e),
        |nv AS (
        |  SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv
        |  FROM n WHERE sq > 0),
        |comp AS (
        |  SELECT t.t, b.b, d.d,
        |    CASE WHEN strpos('13579bdf',
        |           substr(md5(CAST(t.t AS VARCHAR) || '|' || CAST(b.b AS VARCHAR)
        |                      || '|' || CAST(d.d AS VARCHAR)), 2, 1)) > 0
        |         THEN -1.0 ELSE 1.0 END AS c
        |  FROM (SELECT unnest(range(0, 16)) AS t) t
        |  CROSS JOIN (SELECT unnest(range(0, 6)) AS b) b
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS d) d),
        |pl AS (SELECT t, b, list(c ORDER BY d) AS pv FROM comp GROUP BY t, b),
        |proj AS (
        |  SELECT nv.vec_id, pl.t, pl.b,
        |    list_sum(list_transform(range(1, 65), i -> nv.nv[i] * pl.pv[i])) AS dp
        |  FROM nv CROSS JOIN pl),
        |bk AS (
        |  SELECT vec_id, t AS table_idx,
        |    CAST(sum(CASE WHEN dp >= 0 THEN power(2, b) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY vec_id, t),
        |bsz AS (
        |  SELECT table_idx, bucket FROM bk
        |  GROUP BY table_idx, bucket HAVING count(*) <= $MaxBucketCap),
        |cand AS (
        |  SELECT a.vec_id AS id_a, c.vec_id AS id_b
        |  FROM bk a JOIN bsz USING (table_idx, bucket)
        |            JOIN bk c USING (table_idx, bucket)
        |  WHERE a.vec_id < c.vec_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b,
        |    round(list_sum(list_transform(range(1, 65),
        |                                  i -> x.nv[i] * y.nv[i])), 4) AS cos_sim
        |  FROM cand JOIN nv x ON x.vec_id = id_a JOIN nv y ON y.vec_id = id_b)""".stripMargin

  /** `B^j mod M` power table for the q40 winnowing oracle — the
    * Karp-Rabin gram hash re-derives per position as
    * `Σ c_j · B^(k-1-j) mod M` (same value as the rolling form in
    * [[graft.functions.Winnow]], recomputed without rolling state so
    * it is plain SQL). Emitted as a literal list, highest power first.
    */
  private def winnowPowerList(k: Int): String = {
    val M = BigInt((1L << 61) - 1)
    val B = BigInt(1000003L)
    (0 until k).map(j => B.modPow(BigInt(k - 1 - j), M)).mkString("[", ",", "]")
  }

  /** `2^b` literals (b = 0..63) for the q23 SimHash oracle — bit
    * extraction and segment reassembly stay integral (DuckDB `power()`
    * returns double; 2^63 exceeds signed BIGINT, so the list carries
    * HUGEINT-parsed decimals).
    */
  private def pow2List: String =
    (0 until 64).map(b => BigInt(1) << b).mkString("[", ",", "]")

  /** q38's oracle: the whole IVF pipeline — seeds, two unrolled Lloyd
    * rounds, final assignment, probe selection, in-cluster scoring —
    * as chained CTEs. Works because [[graft.ext.Similarity.ivfFit]]
    * quantizes centroids to 9 decimals at every step: summation order
    * is engine-specific at the last ulp, but both engines land on the
    * same quantized centroids, and every downstream dot/argmax is then
    * bit-equal (same fold order).
    */
  /** Shared CTE chain: q38's full deterministic k-means derivation —
    * seeds, two Lloyd rounds, final assignment `af(vec_id, nv,
    * cluster)` — reused verbatim by the q106 SemDeDup oracle so the
    * two can never drift.
    */
  private def ivfTrainCtes: String = ivfTrainCtesT("")

  /** `trainWhere` restricts the k-means FIT (seeds + Lloyd stats) to a
    * subset of the corpus — the q156 incremental-index shape: train on
    * yesterday's rows, assign everything. Empty = the classic full-
    * corpus chain, byte-identical to what q38/q143/q145 always used
    * (final `af` assignment is ALWAYS over the full `nv` — assignment
    * is a pure function of (vector, centroids), which is exactly why
    * extend-don't-refit is sound).
    */
  private def ivfTrainCtesT(trainWhere: String): String =
    ivfTrainCtesT(trainWhere, "nv")

  /** @param afSrc source of the FINAL `af` assignment: `"nv"` (full
    *   corpus — the q156 extended-index shape) or `"nvt"` (train rows
    *   only — the q164 index-the-labeled-set shape).
    */
  private def ivfTrainCtesT(trainWhere: String, afSrc: String): String = {
    val t = if (trainWhere.isEmpty) "nv" else "nvt"
    val nvtCte = if (trainWhere.isEmpty) ""
      else s"\nnvt AS (SELECT * FROM nv WHERE $trainWhere),"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n0 AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM e),
       |nv AS (SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv FROM n0 WHERE sq > 0),$nvtCte
       |${ivfChainCtes(64, 16, t, afSrc)}""".stripMargin
  }

  /** The k-means derivation itself — seeds (first k by vec_id,
    * round(,9)), two Lloyd rounds (round(,9) means, re-normalized,
    * empty cluster keeps its centroid), final assignment `af(vec_id,
    * nv, cluster)` — over an ALREADY-DEFINED `nv(vec_id, nv)` CTE,
    * parameterized by vector dimension and k so the q253
    * whitened-coordinate chain (dim 2) byte-shares the exact
    * derivation the embedding chains (dim 64) have always used
    * ([[graft.ext.Similarity.ivfFit]] at iters = 2, quantize 9).
    * `pfx` renames every chain CTE (c0 → ${pfx}c0 … af → ${pfx}af)
    * so one query can carry several independent chains (q256 runs
    * three); empty prefix is byte-identical to the historical names.
    */
  private def ivfChainCtes(dim: Int, k: Int, t: String, afSrc: String,
                           pfx: String = ""): String = {
    val dot = s"list_sum(list_transform(range(1, ${dim + 1}), i -> c[i] * nv[i]))"
    def assign(nvSrc: String, cents: String): String =
      s"""  SELECT vec_id, nv, CAST(list_position(sims, list_max(sims)) - 1 AS INTEGER) AS cluster
         |  FROM (SELECT vec_id, nv,
         |          list_transform($cents.cs, c -> $dot) AS sims
         |        FROM $nvSrc CROSS JOIN $cents)""".stripMargin
    def lloyd(assigned: String, prev: String, out: String): String =
      s"""m_$out AS (
         |  SELECT cluster, u.pos AS pos, round(avg(u.val), 9) AS m
         |  FROM (SELECT cluster,
         |          unnest(list_transform(range(1, ${dim + 1}), i -> {'pos': i, 'val': nv[i]})) AS u
         |        FROM $assigned)
         |  GROUP BY cluster, u.pos),
         |g_$out AS (
         |  SELECT cluster, list(m ORDER BY pos) AS mean FROM m_$out GROUP BY cluster),
         |n_$out AS (
         |  SELECT cluster,
         |    CASE WHEN sq > 0 THEN list_transform(mean, x -> round(x / sqrt(sq), 9))
         |         ELSE mean END AS cent
         |  FROM (SELECT cluster, mean, list_sum(list_transform(mean, x -> x * x)) AS sq
         |        FROM g_$out)),
         |$out AS (
         |  SELECT list(COALESCE(n_$out.cent, $prev.cs[cid.i + 1]) ORDER BY cid.i) AS cs
         |  FROM (SELECT unnest(range(0, $k)) AS i) cid
         |  LEFT JOIN n_$out ON n_$out.cluster = cid.i
         |  CROSS JOIN $prev)""".stripMargin
    s"""${pfx}c0 AS (
       |  SELECT list_transform(list(nv ORDER BY vec_id),
       |                        v -> list_transform(v, x -> round(x, 9))) AS cs
       |  FROM (SELECT vec_id, nv FROM $t ORDER BY vec_id LIMIT $k)),
       |${pfx}a0 AS (
       |${assign(t, s"${pfx}c0")}),
       |${lloyd(s"${pfx}a0", s"${pfx}c0", s"${pfx}c1")},
       |${pfx}a1 AS (
       |${assign(t, s"${pfx}c1")}),
       |${lloyd(s"${pfx}a1", s"${pfx}c1", s"${pfx}c2")},
       |${pfx}af AS (
       |${assign(afSrc, s"${pfx}c2")})""".stripMargin
  }

  /** q143's oracle: the q38 coarse chain plus the PQ side — subvector
    * explosion, subspace-keyed seeds, one Lloyd round (round(,9), no
    * re-normalization: subvectors aren't unit), final codes as a
    * j-ordered list — then the per-query 9-dp LUT and the ascending-j
    * ADC fold, scored over the probed clusters only.
    */
  /** Shared CTE chain: the PQ training derivation — subvector
    * explosion, subspace-keyed seeds, one Lloyd round, final codes
    * `paf(vec_id, codes)` — appended to [[ivfTrainCtes]]; reused by
    * the q143 (ADC search) and q145 (SDC dedup) oracles so the two
    * can never drift.
    */
  private def pqTrainCtes: String = pqTrainCtesT("")

  /** [[ivfTrainCtesT]]'s PQ continuation: `trainWhere` restricts the
    * subspace k-means fit (seeds + Lloyd stats) while the final code
    * assignment `paf` ALWAYS covers the full corpus (the pqEncode
    * pure-projection contract). Empty = the classic chain.
    */
  private def pqTrainCtesT(trainWhere: String): String = {
    val t = if (trainWhere.isEmpty) "nv" else "nvt"
    val svt = if (trainWhere.isEmpty) "sv" else "svt"
    val svtCte = if (trainWhere.isEmpty) ""
      else "\nsvt AS (SELECT sv.* FROM sv JOIN nvt USING (vec_id)),"
    val sqd16 = "list_sum(list_transform(range(1, 17), i -> (s[i] - c[i]) * (s[i] - c[i])))"
    s"""${ivfTrainCtesT(trainWhere)},
       |sv AS (
       |  SELECT vec_id, jj.j AS j,
       |    list_transform(range(1, 17), i -> nv[jj.j * 16 + i]) AS s
       |  FROM nv CROSS JOIN (SELECT unnest(range(0, 4)) AS j) jj),$svtCte
       |pc0 AS (
       |  SELECT j, list_transform(list(s ORDER BY vec_id),
       |                           v -> list_transform(v, x -> round(x, 9))) AS cs
       |  FROM sv
       |  WHERE vec_id IN (SELECT vec_id FROM $t ORDER BY vec_id LIMIT 16)
       |  GROUP BY j),
       |pa0 AS (
       |  SELECT vec_id, j, s,
       |    CAST(list_position(negd, list_max(negd)) - 1 AS INTEGER) AS code
       |  FROM (SELECT $svt.vec_id, $svt.j, $svt.s,
       |          list_transform(pc0.cs, c -> -$sqd16) AS negd
       |        FROM $svt JOIN pc0 ON pc0.j = $svt.j)),
       |pm1 AS (
       |  SELECT j, code, u.pos AS pos, round(avg(u.val), 9) AS mn
       |  FROM (SELECT j, code,
       |          unnest(list_transform(range(1, 17),
       |            i -> {'pos': i, 'val': s[i]})) AS u
       |        FROM pa0)
       |  GROUP BY j, code, u.pos),
       |pg1 AS (SELECT j, code, list(mn ORDER BY pos) AS mean
       |        FROM pm1 GROUP BY j, code),
       |pc1 AS (
       |  SELECT jj.j, list(COALESCE(pg1.mean, pc0.cs[cid.i + 1]) ORDER BY cid.i) AS cs
       |  FROM (SELECT unnest(range(0, 4)) AS j) jj
       |  CROSS JOIN (SELECT unnest(range(0, 16)) AS i) cid
       |  JOIN pc0 ON pc0.j = jj.j
       |  LEFT JOIN pg1 ON pg1.j = jj.j AND pg1.code = cid.i
       |  GROUP BY jj.j),
       |paf AS (
       |  SELECT vec_id, list(code ORDER BY j) AS codes
       |  FROM (SELECT vec_id, j,
       |          CAST(list_position(negd, list_max(negd)) - 1 AS INTEGER) AS code
       |        FROM (SELECT sv.vec_id, sv.j, sv.s,
       |                list_transform(pc1.cs, c -> -$sqd16) AS negd
       |              FROM sv JOIN pc1 ON pc1.j = sv.j))
       |  GROUP BY vec_id)""".stripMargin
  }

  /** @param queryPred SQL predicate over `vec_id` selecting the query
    *   rows — `IN (0, 1, 2)` for q143's interactive id-list shape,
    *   `% 97 = 0` for q148's derived query TABLE (the ivfPqSearchDf
    *   batch shape). Everything else is byte-shared so the two forms
    *   can never drift.
    */
  private def ivfPqOracleSql(queryPred: String = "IN (0, 1, 2)",
                             trainWhere: String = ""): String = {
    val dot64 = "list_sum(list_transform(range(1, 65), i -> c[i] * nv[i]))"
    s"""${pqTrainCtesT(trainWhere)},
       |qs AS (
       |  SELECT vec_id AS query_id, nv AS qnv,
       |    list_transform(c2.cs, c -> $dot64) AS sims
       |  FROM nv CROSS JOIN c2 WHERE vec_id $queryPred),
       |pq AS (
       |  SELECT query_id, qnv,
       |    unnest(list_transform(range(1, 17), i -> {'idx': i - 1, 'sim': sims[i]})) AS u
       |  FROM qs),
       |probes AS (
       |  SELECT query_id, cluster FROM (
       |    SELECT query_id, u.idx AS cluster,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY u.sim DESC, u.idx) AS rn
       |    FROM pq)
       |  WHERE rn <= 4),
       |lutj AS (
       |  SELECT q.query_id, pc1.j,
       |    list_transform(pc1.cs, c -> round(list_sum(list_transform(range(1, 17),
       |      i -> q.qnv[pc1.j * 16 + i] * c[i])), 9)) AS parts
       |  FROM (SELECT DISTINCT query_id, qnv FROM qs) q CROSS JOIN pc1),
       |lutq AS (SELECT query_id, list(parts ORDER BY j) AS lut
       |         FROM lutj GROUP BY query_id),
       |scored AS (
       |  SELECT p.query_id, af.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, 5),
       |      j -> lutq.lut[j][paf.codes[j] + 1])), 4) AS adc_sim
       |  FROM af
       |  JOIN probes p ON af.cluster = p.cluster
       |  JOIN paf ON paf.vec_id = af.vec_id
       |  JOIN lutq ON lutq.query_id = p.query_id
       |  WHERE af.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY adc_sim DESC, neighbor_id) AS rn
       |  FROM scored)
       |SELECT query_id, neighbor_id, adc_sim FROM ranked WHERE rn <= 10
       |ORDER BY query_id, adc_sim DESC, neighbor_id""".stripMargin
  }

  /** q46/q203 shared curation chain; `blockClause` lands inside the
    * gated CTE (the blocklist gate's position in Curation.curate).
    */
  /** DuckDB replica of [[graft.ext.TextAnalysis.qualityScore]] over
    * CTE columns `w` (token list) and `clean` (cleaned text) — the
    * integer floor-division form (tie-free; the r15 guard-band sweep
    * caught the old `round(double, 4)` landing exactly on `.5`
    * boundaries 21 times). Byte-shared by every oracle that replays
    * the quality score (q28, q82, q46/q203, the per-source datacard)
    * so the formula cannot drift between them.
    */
  private val qualitySql: String =
    "CAST((least(len(w), 20) * len(list_distinct(w))" +
      " * (CASE WHEN length(clean) + 1 BETWEEN 3 * len(w) AND 13 * len(w)" +
      " THEN 2 ELSE 1 END) * 10000) // (40 * len(w)) AS DOUBLE) / 10000.0"

  /** q203/q240 shared blocklist clause (mirrors `blocklistTerms`). */
  private val blocklistClauseSql: String =
    "\n        |    AND len(list_filter(['slow scan','big table','merge conflict','drop part','small batch','stale key','stream','vector','conflictfree','fast merge','slow join','bad data'], t -> contains(lt, t))) = 0"
      .stripMargin

  /** q207/q240 shared decorated-corpus CTE `d(doc_id, ls, txt)` —
    * mirrors [[dupDecoratedText]] over [[synthLinesCtes]]'s `lns`.
    */
  private val dupDecoratedDCte: String =
    """d AS (
      |  SELECT doc_id, ls, array_to_string(ls, chr(10)) AS txt FROM (
      |    SELECT doc_id,
      |      CASE WHEN doc_id % 3 = 0
      |           THEN list_append(list_append(lines, lines[1]),
      |                            'the and that have with.')
      |           ELSE list_append(lines, lines[1]) END AS ls
      |    FROM lns))""".stripMargin

  /** q46/q203/q240 byte-shared curation chain. `src` is the corpus
    * relation (q240 curates the q207-decorated text), `extraGate`
    * lands additional WHERE clauses in the gated CTE (q240's
    * repetition pass-set membership), `prelude` prepends CTEs
    * (q240's synth-lines + repetition chain) without a second WITH.
    */
  private def curationOracleSql(blockClause: String,
                                src: String = "documents",
                                extraGate: String = "",
                                prelude: String = ""): String =
    raw"""WITH ${prelude}cur0 AS (
        |  SELECT doc_id, source, lower(text) AS lt,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS clean,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM $src),
        |feat AS (
        |  SELECT doc_id, source, lt, clean, w,
        |    CAST(len(w) AS INTEGER) AS n_tokens,
        |    $qualitySql AS quality,
        |    len(list_filter(w, x -> list_contains(['table','row','column','key','part'], x))) AS s1,
        |    len(list_filter(w, x -> list_contains(['scan','filter','join','sort','merge','hash'], x))) AS s2,
        |    len(list_filter(w, x -> list_contains(['stream','window','batch'], x))) AS s3,
        |    len(list_filter(w, x -> list_contains(['query','data','value'], x))) AS s4,
        |    md5(clean) AS fp
        |  FROM cur0 WHERE len(w) > 0),
        |lab AS (
        |  SELECT *, greatest(s1, s2, s3, s4) AS best FROM feat),
        |topic AS (
        |  SELECT *, CASE WHEN s1 = best AND best > 0 THEN 'storage'
        |                 WHEN s2 = best AND best > 0 THEN 'exec'
        |                 WHEN s3 = best AND best > 0 THEN 'streaming'
        |                 WHEN s4 = best AND best > 0 THEN 'general'
        |                 ELSE 'und' END AS topic
        |  FROM lab),
        |gated AS (
        |  SELECT doc_id, source, w, n_tokens, quality, fp FROM topic
        |  WHERE n_tokens >= 25 AND quality >= 0.35
        |    AND topic IN ('exec', 'storage', 'streaming')$blockClause$extraGate),
        |exact AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |    FROM gated)
        |  WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM exact WHERE len(w) >= 3),
        |sig AS (
        |  SELECT doc_id, sh,
        |    [list_min(list_transform(sh, s -> md5('0|' || s))),
        |     list_min(list_transform(sh, s -> md5('1|' || s))),
        |     list_min(list_transform(sh, s -> md5('2|' || s))),
        |     list_min(list_transform(sh, s -> md5('3|' || s))),
        |     list_min(list_transform(sh, s -> md5('4|' || s))),
        |     list_min(list_transform(sh, s -> md5('5|' || s))),
        |     list_min(list_transform(sh, s -> md5('6|' || s))),
        |     list_min(list_transform(sh, s -> md5('7|' || s)))] AS hs
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.b AS band_idx, md5(hs[b.b*2+1] || hs[b.b*2+2]) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b),
        |bsz AS (
        |  SELECT band_idx, band_key FROM bands
        |  GROUP BY band_idx, band_key HAVING count(*) <= $MaxBucketCap),
        |cand AS (
        |  SELECT a.doc_id AS id_a, bb.doc_id AS id_b
        |  FROM bands a JOIN bsz USING (band_idx, band_key)
        |              JOIN bands bb USING (band_idx, band_key)
        |  WHERE a.doc_id < bb.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b
        |  FROM (SELECT id_a, id_b,
        |          len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
        |          len(sa.sh) AS la, len(sb.sh) AS lb
        |        FROM cand JOIN sh sa ON sa.doc_id = id_a
        |                  JOIN sh sb ON sb.doc_id = id_b)
        |  WHERE round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) >= 0.8),
        |kept AS (
        |  SELECT * FROM exact
        |  WHERE NOT EXISTS (SELECT 1 FROM pairs WHERE pairs.id_b = exact.doc_id))
        |SELECT source, count(*) AS n_kept,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST((2 * sum(CAST(round(quality * 10000, 0) AS BIGINT)) + count(*))
        |       // (2 * count(*)) AS DOUBLE) / 10000.0 AS avg_quality
        |FROM kept GROUP BY source ORDER BY source""".stripMargin

  /** Repetition-metric chain (q204/q207 byte-shared): expects a CTE
    * `d(doc_id, ls, txt)` upstream; yields `fr` with every rounded
    * metric (n_lines, dup_line_frac, dup_line_char_frac,
    * top{2,3,4}_frac, dup{5,10}_frac).
    */
  private def repetitionFrCtes: String =
    raw"""|tt AS (
        |  SELECT doc_id, ls,
        |    lower(trim(regexp_replace(txt, '\s+', ' ', 'g'))) AS clean,
        |    string_split(lower(trim(regexp_replace(txt, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM d),
        |tb AS (
        |  SELECT doc_id, ls, clean, w,
        |    CAST(length(clean) AS BIGINT) AS cb,
        |    CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS tw
        |  FROM tt),
        |lc AS (
        |  SELECT doc_id, l, count(*) AS c
        |  FROM (SELECT doc_id, unnest(ls) AS l FROM d) GROUP BY doc_id, l),
        |lm AS (
        |  SELECT doc_id, sum(c) AS nl, sum(c - 1) AS nd,
        |    sum((c - 1) * length(l)) AS dch, sum(c * length(l)) AS tch
        |  FROM lc GROUP BY doc_id),
        |gx AS (
        |  SELECT doc_id, n, e.i AS i, e.g AS gr FROM (
        |    SELECT tb.doc_id, n.n AS n,
        |      unnest(list_transform(range(0, len(tb.w) - n.n + 1),
        |        i -> {'i': i, 'g': array_to_string(tb.w[i + 1:i + n.n], ' ')})) AS e
        |    FROM tb, (SELECT unnest([2, 3, 4, 5, 10]) AS n) n
        |    WHERE len(tb.w) >= n.n)),
        |gc AS (
        |  SELECT doc_id, n, gr, count(*) AS c FROM gx GROUP BY doc_id, n, gr),
        |tp0 AS (
        |  SELECT doc_id, n, c * length(gr) AS topch FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id, n
        |                                 ORDER BY c DESC, gr) AS rn
        |    FROM gc WHERE n IN (2, 3, 4)) WHERE rn = 1),
        |tp AS (
        |  SELECT doc_id,
        |    max(CASE WHEN n = 2 THEN topch END) AS top2,
        |    max(CASE WHEN n = 3 THEN topch END) AS top3,
        |    max(CASE WHEN n = 4 THEN topch END) AS top4
        |  FROM tp0 GROUP BY doc_id),
        |cov AS (
        |  SELECT DISTINCT doc_id, n, j FROM (
        |    SELECT gx.doc_id, gx.n, unnest(range(gx.i, gx.i + gx.n)) AS j
        |    FROM gx JOIN gc USING (doc_id, n, gr)
        |    WHERE gc.c >= 2 AND gx.n IN (5, 10))),
        |cc AS (
        |  SELECT cov.doc_id, cov.n,
        |    sum(length(tb.w[cov.j + 1])) AS covch
        |  FROM cov JOIN tb USING (doc_id) GROUP BY cov.doc_id, cov.n),
        |cv AS (
        |  SELECT doc_id,
        |    max(CASE WHEN n = 5 THEN covch END) AS cov5,
        |    max(CASE WHEN n = 10 THEN covch END) AS cov10
        |  FROM cc GROUP BY doc_id),
        |fr AS (
        |  SELECT tb.doc_id,
        |    CAST(lm.nl AS INTEGER) AS n_lines,
        |    CAST((lm.nd * 10000) // lm.nl AS DOUBLE) / 10000.0 AS dup_line_frac,
        |    CAST((lm.dch * 10000) // greatest(lm.tch, 1) AS DOUBLE) / 10000.0 AS dup_line_char_frac,
        |    CAST((COALESCE(tp.top2, 0) * 10000) // greatest(tb.cb, 1) AS DOUBLE) / 10000.0 AS top2_frac,
        |    CAST((COALESCE(tp.top3, 0) * 10000) // greatest(tb.cb, 1) AS DOUBLE) / 10000.0 AS top3_frac,
        |    CAST((COALESCE(tp.top4, 0) * 10000) // greatest(tb.cb, 1) AS DOUBLE) / 10000.0 AS top4_frac,
        |    CAST((COALESCE(cv.cov5, 0) * 10000) // greatest(tb.tw, 1) AS DOUBLE) / 10000.0 AS dup5_frac,
        |    CAST((COALESCE(cv.cov10, 0) * 10000) // greatest(tb.tw, 1) AS DOUBLE) / 10000.0 AS dup10_frac
        |  FROM tb JOIN lm USING (doc_id)
        |          LEFT JOIN tp USING (doc_id)
        |          LEFT JOIN cv USING (doc_id))""".stripMargin

  private def ivfOracleSql: String =
    s"""${ivfSearchRankedCtes("vec_id IN (0, 1, 2)")}
       |SELECT query_id, neighbor_id, cos_sim FROM ranked WHERE rn <= 10
       |ORDER BY query_id, cos_sim DESC, neighbor_id""".stripMargin

  /** q202: the shared PQ-train/ADC chain evaluated ONCE, both probe
    * depths derived from one ranked probe list (probe rank `prn` kept
    * through scoring, per-nprobe re-ranking after the `prn <= nprobe`
    * cut), the q198 brute chain as ground truth, exact per-(nprobe,
    * query) hit counts.
    */
  private def pqRecallOracleSql(queryPred: String, nprobes: Seq[Int],
                                k: Int = 10): String = {
    val dot64 = "list_sum(list_transform(range(1, 65), i -> c[i] * nv[i]))"
    val maxNp = nprobes.max
    s"""${pqTrainCtesT("")},
       |qs AS (
       |  SELECT vec_id AS query_id, nv AS qnv,
       |    list_transform(c2.cs, c -> $dot64) AS sims
       |  FROM nv CROSS JOIN c2 WHERE vec_id $queryPred),
       |pqx AS (
       |  SELECT query_id, qnv,
       |    unnest(list_transform(range(1, 17), i -> {'idx': i - 1, 'sim': sims[i]})) AS u
       |  FROM qs),
       |probes AS (
       |  SELECT query_id, cluster, rn AS prn FROM (
       |    SELECT query_id, u.idx AS cluster,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY u.sim DESC, u.idx) AS rn
       |    FROM pqx)
       |  WHERE rn <= $maxNp),
       |lutj AS (
       |  SELECT q.query_id, pc1.j,
       |    list_transform(pc1.cs, c -> round(list_sum(list_transform(range(1, 17),
       |      i -> q.qnv[pc1.j * 16 + i] * c[i])), 9)) AS parts
       |  FROM (SELECT DISTINCT query_id, qnv FROM qs) q CROSS JOIN pc1),
       |lutq AS (SELECT query_id, list(parts ORDER BY j) AS lut
       |         FROM lutj GROUP BY query_id),
       |scored AS (
       |  SELECT p.query_id, af.vec_id AS neighbor_id, p.prn,
       |    round(list_sum(list_transform(range(1, 5),
       |      j -> lutq.lut[j][paf.codes[j] + 1])), 4) AS adc_sim
       |  FROM af
       |  JOIN probes p ON af.cluster = p.cluster
       |  JOIN paf ON paf.vec_id = af.vec_id
       |  JOIN lutq ON lutq.query_id = p.query_id
       |  WHERE af.vec_id <> p.query_id),
       |np AS (SELECT unnest([${nprobes.mkString(", ")}]) AS nprobe),
       |ax AS (
       |  SELECT nprobe, query_id, neighbor_id FROM (
       |    SELECT np.nprobe, s.query_id, s.neighbor_id,
       |      row_number() OVER (PARTITION BY np.nprobe, s.query_id
       |                         ORDER BY s.adc_sim DESC, s.neighbor_id) AS rn
       |    FROM scored s JOIN np ON s.prn <= np.nprobe)
       |  WHERE rn <= $k),
       |bq AS (SELECT vec_id AS query_id, nv AS qnv FROM nv WHERE vec_id $queryPred),
       |bscored AS (
       |  SELECT bq.query_id, a.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, 65), i -> bq.qnv[i] * a.nv[i])), 4) AS cos_sim
       |  FROM nv a CROSS JOIN bq WHERE a.vec_id <> bq.query_id),
       |bx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |                                 ORDER BY cos_sim DESC, neighbor_id) AS rn2
       |    FROM bscored) WHERE rn2 <= $k),
       |h AS (
       |  SELECT np.nprobe, bx.query_id, count(ax.neighbor_id) AS n_hits
       |  FROM bx CROSS JOIN np
       |  LEFT JOIN ax ON ax.nprobe = np.nprobe
       |              AND ax.query_id = bx.query_id
       |              AND ax.neighbor_id = bx.neighbor_id
       |  GROUP BY np.nprobe, bx.query_id)
       |SELECT CAST(nprobe AS INTEGER) AS nprobe, query_id,
       |  CAST(n_hits AS BIGINT) AS n_hits,
       |  round(CAST(n_hits AS DOUBLE) / $k.0, 4) AS recall
       |FROM h ORDER BY nprobe, query_id""".stripMargin
  }

  /** The q38 IVF search chain through `ranked` (probe selection +
    * in-cluster scoring + per-query ranking), with the query set
    * parameterized — shared by q38 and the q198 recall measurement
    * so the approximate side can never drift.
    */
  private def ivfSearchRankedCtes(queryWhere: String): String = {
    val dot = "list_sum(list_transform(range(1, 65), i -> c[i] * nv[i]))"
    s"""$ivfTrainCtes,
       |qs AS (
       |  SELECT vec_id AS query_id, nv AS qnv,
       |    list_transform(c2.cs, c -> $dot) AS sims
       |  FROM nv CROSS JOIN c2 WHERE $queryWhere),
       |pq AS (
       |  SELECT query_id, qnv,
       |    unnest(list_transform(range(1, 17), i -> {'idx': i - 1, 'sim': sims[i]})) AS u
       |  FROM qs),
       |probes AS (
       |  SELECT query_id, qnv, u.idx AS cluster
       |  FROM (SELECT query_id, qnv, u,
       |          row_number() OVER (PARTITION BY query_id
       |                             ORDER BY u.sim DESC, u.idx) AS rn
       |        FROM pq)
       |  WHERE rn <= 4),
       |scored AS (
       |  SELECT p.query_id, af.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, 65), i -> p.qnv[i] * af.nv[i])), 4) AS cos_sim
       |  FROM af JOIN probes p ON af.cluster = p.cluster
       |  WHERE af.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos_sim DESC, neighbor_id) AS rn
       |  FROM scored)""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = oracleSqlTail ++ Map(
    // q01: exact arithmetic readouts (decimal money sums, integer
    // floor-division averages) — no double sum ever rounds, so the
    // verdict cannot depend on summation order or tie rules.
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |       AS DOUBLE) AS sum_disc_price,
        |  CAST((sum(CAST(l_quantity AS BIGINT)) * 1000000) // count(*) AS DOUBLE)
        |    / 1000000.0 AS avg_qty,
        |  CAST((sum(CAST(round(l_discount * 100, 0) AS BIGINT)) * 1000000)
        |       // (count(*) * 100) AS DOUBLE) / 1000000.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_region_rollup" ->
      """SELECT r_name, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q03_revenue_priority" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |       AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q04_semi_join" ->
      """SELECT o_orderstatus, count(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q06_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin,
    "q07_per_group_head" ->
      """SELECT o_orderstatus, count(*) AS n_rows, round(sum(o_totalprice), 2) AS sum_price
        |FROM (
        |  SELECT o_orderstatus, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 2
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q08_sort_limit" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q09_filter_project" ->
      """SELECT p_partkey, p_name, p_brand, round(p_retailprice, 2) AS p_retailprice
        |FROM part
        |WHERE p_size >= 25 AND p_retailprice > 950.0
        |ORDER BY p_partkey LIMIT 50""".stripMargin,
    "q10_time_window_count" ->
      """SELECT l_returnflag, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q11_distinct_count" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q12_union_counts" ->
      """SELECT o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
        |FROM (
        |  SELECT * FROM orders WHERE o_totalprice > 200000.0
        |  UNION ALL
        |  SELECT * FROM orders WHERE o_totalprice < 50000.0)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q13_keyword_search" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE contains(lower(text), 'spark')
        |ORDER BY doc_id LIMIT 100""".stripMargin,
    "q14_matched_keywords" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    list_filter(['spark', 'merge', 'stream'],
        |                k -> contains(lower(text), k)) AS ml
        |  FROM documents)
        |SELECT doc_id,
        |  array_to_string(list_sort(ml), ', ') AS matched,
        |  ml[1] AS first_match,
        |  CAST(len(ml) AS INTEGER) AS hits
        |FROM m WHERE len(ml) > 0
        |ORDER BY doc_id""".stripMargin,
    "q15_clean_project" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS clean
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN length(clean) > 80
        |       THEN substring(clean, 1, 80) || '...' ELSE clean END AS snippet,
        |  CAST(length(clean) AS INTEGER) AS clean_len
        |FROM c ORDER BY doc_id LIMIT 200""".stripMargin,
    "q16_found_via_agg" ->
      """SELECT source, count(*) AS n_docs,
        |  arg_min(n_chars, doc_id) AS first_chars,
        |  array_to_string(list_sort(list(DISTINCT lang)), ', ') AS langs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q17_relevance_score" ->
      """SELECT doc_id, source,
        |  (CASE WHEN contains(lower(text), 'data') THEN 1 ELSE 0 END
        |   + CASE WHEN contains(lower(text), 'table') THEN 2 ELSE 0 END
        |   + CASE WHEN contains(lower(text), 'stream') THEN 3 ELSE 0 END)
        |  AS relevance_score
        |FROM documents
        |WHERE (CASE WHEN contains(lower(text), 'data') THEN 1 ELSE 0 END
        |   + CASE WHEN contains(lower(text), 'table') THEN 2 ELSE 0 END
        |   + CASE WHEN contains(lower(text), 'stream') THEN 3 ELSE 0 END) > 0
        |ORDER BY relevance_score DESC, doc_id LIMIT 200""".stripMargin,
    "q18_event_type_sets" ->
      """SELECT user_id,
        |  array_to_string(list_sort(list(DISTINCT event_type)), ', ') AS types,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q19_json_extract" ->
      """SELECT event_type,
        |  round(avg(CAST(props->>'$.k' AS BIGINT)), 6) AS avg_k,
        |  max(CAST(props->>'$.k' AS BIGINT)) AS max_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q20_hourly_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY hour_start, event_type
        |ORDER BY hour_start, event_type""".stripMargin,
    "q21_dedup_exact" ->
      """SELECT source, lang, min(doc_id) AS kept_id, count(*) AS n_dups
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "q22_minhash_neardup" ->
      raw"""WITH toks AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM toks WHERE len(w) >= 3),
        |sig AS (
        |  SELECT doc_id, sh,
        |    [list_min(list_transform(sh, s -> md5('0|' || s))),
        |     list_min(list_transform(sh, s -> md5('1|' || s))),
        |     list_min(list_transform(sh, s -> md5('2|' || s))),
        |     list_min(list_transform(sh, s -> md5('3|' || s))),
        |     list_min(list_transform(sh, s -> md5('4|' || s))),
        |     list_min(list_transform(sh, s -> md5('5|' || s))),
        |     list_min(list_transform(sh, s -> md5('6|' || s))),
        |     list_min(list_transform(sh, s -> md5('7|' || s)))] AS hs
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.b AS band_idx, md5(hs[b.b*2+1] || hs[b.b*2+2]) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b),
        |bsz AS (
        |  SELECT band_idx, band_key FROM bands
        |  GROUP BY band_idx, band_key HAVING count(*) <= $MaxBucketCap),
        |cand AS (
        |  SELECT a.doc_id AS id_a, bb.doc_id AS id_b
        |  FROM bands a JOIN bsz USING (band_idx, band_key)
        |              JOIN bands bb USING (band_idx, band_key)
        |  WHERE a.doc_id < bb.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT id_a, id_b,
        |    len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
        |    len(sa.sh) AS la, len(sb.sh) AS lb
        |  FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
        |SELECT id_a, id_b,
        |  round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) AS jaccard
        |FROM j
        |WHERE round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    // q23 — SimHash re-derived in SQL: FNV-1a 64 per shingle emulated
    // in HUGEINT (the XOR-with-a-byte step only touches the low 7
    // bits, so `xor(acc % 128, byte)` on BIGINT + wrapping multiply
    // mod 2^64 on HUGEINT reproduces the 64-bit hash exactly), 64-bit
    // majority vote, four 16-bit segments, pigeonhole candidate join,
    // exact Hamming verify. Like q22, docs with < 3 tokens are out of
    // scope (none in the fixture).
    "q23_simhash_neardup" ->
      s"""$simhashHamCtes
        |SELECT id_a, id_b, hamming FROM ham
        |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
    // q115: the same simhash banding as LOOSE candidates (hamming <= 8
    // is recall-bounded, not pigeonhole-complete — documented), then
    // the exact Levenshtein verify both engines compute natively.
    "q115_edit_dedup" ->
      s"""$simhashHamCtes,
        |t2 AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS c
        |  FROM documents)
        |SELECT h.id_a, h.id_b, h.hamming,
        |  CAST(levenshtein(ta.c, tb.c) AS INTEGER) AS edit_dist
        |FROM ham h
        |JOIN t2 ta ON ta.doc_id = h.id_a
        |JOIN t2 tb ON tb.doc_id = h.id_b
        |WHERE h.hamming <= 8 AND levenshtein(ta.c, tb.c) <= 40
        |ORDER BY id_a, id_b""".stripMargin,
    // q213: the same loose banding, then the exact token-LCS DP as a
    // RECURSIVE CTE over row index i — each new dp row is the
    // prefix-max of h[k] = max(prev[k+1], prev[k] + eq_k) (the
    // scan-free form Dedup.lcsLen uses), so both engines run the
    // identical recurrence. Tokens bounded to the first 40 per side.
    "q213_rouge_dedup" ->
      s"""${simhashHamCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |t40 AS (
        |  SELECT doc_id, list_slice(w, 1, 40) AS t FROM toks),
        |pt AS (
        |  SELECT h.id_a, h.id_b, h.hamming, ta.t AS a, tb.t AS b
        |  FROM ham h
        |  JOIN t40 ta ON ta.doc_id = h.id_a
        |  JOIN t40 tb ON tb.doc_id = h.id_b
        |  WHERE h.hamming <= 32),
        |rec AS (
        |  SELECT id_a AS ra, id_b AS rb, 0 AS i,
        |    list_transform(range(0, len(b)+1), x -> 0) AS row
        |  FROM pt
        |  UNION ALL
        |  SELECT r.ra, r.rb, r.i + 1,
        |    list_prepend(0,
        |      list_transform(range(1, len(p.b)+1), j ->
        |        list_max(list_slice(
        |          list_transform(range(1, len(p.b)+1), k ->
        |            greatest(r.row[k+1],
        |                     r.row[k] + CASE WHEN p.b[k] = p.a[r.i+1]
        |                                THEN 1 ELSE 0 END)),
        |          1, j)))) AS row
        |  FROM rec r JOIN pt p ON p.id_a = r.ra AND p.id_b = r.rb
        |  WHERE r.i < len(p.a)),
        |fin AS (
        |  SELECT r.ra, r.rb, r.row[-1] AS lcs
        |  FROM rec r JOIN pt p ON p.id_a = r.ra AND p.id_b = r.rb
        |  WHERE r.i = len(p.a))
        |SELECT p.id_a, p.id_b, p.hamming, CAST(f.lcs AS INTEGER) AS lcs,
        |  round(2.0 * f.lcs / (len(p.a) + len(p.b)), 4) AS rouge_l,
        |  round(2.0 * f.lcs / (len(p.a) + len(p.b)), 4) >= 0.5 AS is_dup
        |FROM pt p JOIN fin f ON f.ra = p.id_a AND f.rb = p.id_b
        |ORDER BY p.id_a, p.id_b""".stripMargin,
    // q216: the three generalization strata as plain GROUP BYs, the
    // first-level-clearing-k CASE, and the released group's size.
    "q216_k_anonymity" ->
      """WITH l0 AS (
        |  SELECT lang, source, count(*) AS n0 FROM documents GROUP BY 1, 2),
        |l1 AS (SELECT lang, count(*) AS n1 FROM documents GROUP BY 1),
        |l2 AS (SELECT count(*) AS n2 FROM documents),
        |j AS (
        |  SELECT d.doc_id, d.lang, d.source, l0.n0, l1.n1, l2.n2,
        |    CASE WHEN l0.n0 >= 4 THEN 0 WHEN l1.n1 >= 4 THEN 1
        |         ELSE 2 END AS anon_level
        |  FROM documents d
        |  JOIN l0 ON l0.lang = d.lang AND l0.source = d.source
        |  JOIN l1 ON l1.lang = d.lang
        |  CROSS JOIN l2)
        |SELECT doc_id,
        |  CASE WHEN anon_level <= 1 THEN lang ELSE '*' END AS lang_out,
        |  CASE WHEN anon_level <= 0 THEN source ELSE '*' END AS source_out,
        |  CAST(anon_level AS INTEGER) AS anon_level,
        |  CAST(CASE anon_level WHEN 0 THEN n0 WHEN 1 THEN n1 ELSE n2 END
        |       AS BIGINT) AS group_n
        |FROM j ORDER BY doc_id""".stripMargin,
  ) ++ oracleSqlRest

  /** q23's full simhash derivation up to the verified `ham(id_a,
    * id_b, hamming)` CTE — shared with q115's edit-distance verify so
    * the banding can never drift between the two.
    */
  private def simhashHamCtes: String =
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM toks WHERE len(w) >= 3),
        |shx AS (SELECT doc_id, unnest(sh) AS s FROM sh),
        |fh AS (
        |  SELECT doc_id, s,
        |    list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |        list_transform(range(1, length(s) + 1),
        |          i -> CAST(ascii(substr(s, CAST(i AS INTEGER), 1)) AS HUGEINT))),
        |      (acc, c) -> ((acc // 128) * 128
        |                   + xor(CAST(acc % 128 AS BIGINT), CAST(c AS BIGINT)))
        |                  * 1099511628211 % CAST(18446744073709551616 AS HUGEINT)) AS h
        |  FROM shx),
        |votes AS (
        |  SELECT doc_id, b.b,
        |    CASE WHEN sum(CASE WHEN (h // $pow2List[CAST(b.b + 1 AS INTEGER)]) % 2 = 1
        |                       THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM fh CROSS JOIN (SELECT unnest(range(0, 64)) AS b) b
        |  GROUP BY doc_id, b.b),
        |sigs AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN b < 16 THEN bit * ($pow2List[CAST(b + 1 AS INTEGER)]) ELSE 0 END) AS BIGINT) AS s0,
        |    CAST(sum(CASE WHEN b >= 16 AND b < 32 THEN bit * ($pow2List[CAST(b - 15 AS INTEGER)]) ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(sum(CASE WHEN b >= 32 AND b < 48 THEN bit * ($pow2List[CAST(b - 31 AS INTEGER)]) ELSE 0 END) AS BIGINT) AS s2,
        |    CAST(sum(CASE WHEN b >= 48 THEN bit * ($pow2List[CAST(b - 47 AS INTEGER)]) ELSE 0 END) AS BIGINT) AS s3
        |  FROM votes GROUP BY doc_id),
        |segl AS (
        |  SELECT doc_id, unnest([{'i': 0, 'v': s0}, {'i': 1, 'v': s1},
        |                         {'i': 2, 'v': s2}, {'i': 3, 'v': s3}]) AS u
        |  FROM sigs),
        |segs AS (SELECT doc_id, u.i AS i, u.v AS v FROM segl),
        |ssz AS (
        |  SELECT i, v FROM segs GROUP BY i, v HAVING count(*) <= $MaxBucketCap),
        |cand AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM segs a JOIN ssz USING (i, v) JOIN segs b USING (i, v)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |ham AS (
        |  SELECT id_a, id_b,
        |    CAST(bit_count(xor(x.s0, y.s0)) + bit_count(xor(x.s1, y.s1))
        |       + bit_count(xor(x.s2, y.s2)) + bit_count(xor(x.s3, y.s3)) AS INTEGER) AS hamming
        |  FROM cand JOIN sigs x ON x.doc_id = id_a JOIN sigs y ON y.doc_id = id_b)""".stripMargin

  private val oracleSqlRest: Map[String, String] = Map(
    "q24_knn_brute" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (
        |  SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM e),
        |nv AS (
        |  SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv
        |  FROM n WHERE sq > 0),
        |q AS (
        |  SELECT vec_id AS query_id, nv AS qv FROM nv WHERE vec_id IN (0, 1, 2)),
        |scored AS (
        |  SELECT query_id, a.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, len(qv) + 1),
        |                                  i -> qv[i] * a.nv[i])), 4) AS cos_sim
        |  FROM nv a CROSS JOIN q
        |  WHERE a.vec_id <> query_id),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |                               ORDER BY cos_sim DESC, neighbor_id) AS rn
        |  FROM scored)
        |SELECT query_id, neighbor_id, cos_sim FROM ranked WHERE rn <= 10
        |ORDER BY query_id, cos_sim DESC, neighbor_id""".stripMargin,
    "q25_cosine_pairs" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (
        |  SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM e),
        |nv AS (
        |  SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv
        |  FROM n WHERE sq > 0),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_sum(list_transform(range(1, len(a.nv) + 1),
        |                                  i -> a.nv[i] * b.nv[i])), 4) AS cos_sim
        |  FROM nv a JOIN nv b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cos_sim FROM pairs
        |WHERE cos_sim >= 0.42
        |ORDER BY id_a, id_b""".stripMargin,
    // q26 — the full SRP-LSH pipeline in SQL: the ±1 plane components
    // re-derive from the same md5-parity rule as Similarity.planeComp,
    // so bucketing, candidate generation, and the exact-cosine verify
    // are all hard-checked (same approach that oracles q22's banding).
    // NOTE: the shared CTE is stripMargin'd once inside the helper;
    // the tails are stripped separately and concatenated so the CTE's
    // `||` operators are never re-stripped.
    "q26_ann_lsh" ->
      (annLshPairsCte + "\n" +
        """SELECT id_a, id_b, cos_sim FROM pairs
          |WHERE cos_sim >= 0.42
          |ORDER BY id_a, id_b""".stripMargin),
    // q95: EXACTLY q26's oracle — q95 runs the q149 auto form, whose
    // bitsForCorpus(n) is 6 at every oracle scale factor, so it must
    // reproduce the fixed-width pairs bit-for-bit (the sizing only
    // diverges at corpus scale, where it is the fix for the measured
    // quadratic).
    "q95_ann_lsh_sized" ->
      (annLshPairsCte + "\n" +
        """SELECT id_a, id_b, cos_sim FROM pairs
          |WHERE cos_sim >= 0.42
          |ORDER BY id_a, id_b""".stripMargin),
    // q149: the AUTO form — derived bits AND partitions both floor to
    // the pinned configuration at fixture scale (partitioning is
    // purely physical), so it too must reproduce q26's pairs exactly.
    "q149_ann_lsh_auto" ->
      (annLshPairsCte + "\n" +
        """SELECT id_a, id_b, cos_sim FROM pairs
          |WHERE cos_sim >= 0.42
          |ORDER BY id_a, id_b""".stripMargin),
    // q86: same pair derivation, symmetrized, per-vector top-3
    "q86_knn_graph" ->
      (annLshPairsCte + ",\n" +
        """sym AS (
          |  SELECT id_a AS src, id_b AS nbr, cos_sim FROM pairs WHERE cos_sim >= 0.3
          |  UNION ALL
          |  SELECT id_b AS src, id_a AS nbr, cos_sim FROM pairs WHERE cos_sim >= 0.3)
          |SELECT src, nbr, cos_sim FROM (
          |  SELECT *, row_number() OVER (PARTITION BY src
          |                               ORDER BY cos_sim DESC, nbr) AS rn
          |  FROM sym)
          |WHERE rn <= 3
          |ORDER BY src, cos_sim DESC, nbr""".stripMargin),
    "q27_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(list_filter(w, x -> list_contains(['table','row','column','key','part'], x))) AS s1,
        |    len(list_filter(w, x -> list_contains(['scan','filter','join','sort','merge','hash'], x))) AS s2,
        |    len(list_filter(w, x -> list_contains(['stream','window','batch'], x))) AS s3,
        |    len(list_filter(w, x -> list_contains(['query','data','value'], x))) AS s4
        |  FROM t),
        |g AS (SELECT doc_id, s1, s2, s3, s4, greatest(s1, s2, s3, s4) AS best FROM s)
        |SELECT doc_id,
        |  CASE WHEN s1 = best AND best > 0 THEN 'storage'
        |       WHEN s2 = best AND best > 0 THEN 'exec'
        |       WHEN s3 = best AND best > 0 THEN 'streaming'
        |       WHEN s4 = best AND best > 0 THEN 'general'
        |       ELSE 'und' END AS topic
        |FROM g ORDER BY doc_id""".stripMargin,
    "q28_quality_score" ->
      raw"""WITH t AS (
        |  SELECT doc_id,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS clean,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, clean, w,
        |    CAST(len(w) AS INTEGER) AS n_tokens
        |  FROM t WHERE len(w) > 0)
        |SELECT doc_id, n_tokens,
        |  $qualitySql AS quality
        |FROM f ORDER BY doc_id""".stripMargin,
    "q29_token_stats" ->
      """WITH t AS (
        |  SELECT source,
        |    len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS nt,
        |    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS nu
        |  FROM documents)
        |SELECT source,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST(sum(nu) AS BIGINT) AS total_units,
        |  round(avg(nt), 4) AS avg_tokens
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "q30_fingerprint" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents)
        |SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same
        |FROM fp ORDER BY doc_id LIMIT 200""".stripMargin,
    "q31_signal_scan" ->
      """WITH p AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS post_id, source AS subreddit,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS clean_title,
        |    n_chars AS score,
        |    'author_' || CAST(doc_id % 7 AS VARCHAR) AS author,
        |    '/r/' || source || '/' || CAST(doc_id AS VARCHAR) AS permalink
        |  FROM documents),
        |top AS (
        |  SELECT *, row_number() OVER (PARTITION BY subreddit
        |                               ORDER BY score DESC, post_id) AS rn
        |  FROM p),
        |m AS (
        |  SELECT *, list_filter(['spark', 'merge'],
        |                        k -> contains(lower(clean_title || ' '), k)) AS ml
        |  FROM top WHERE rn <= 5)
        |SELECT subreddit AS "Subreddit",
        |  array_to_string(list_sort(ml), ', ') AS "Match",
        |  'Post' AS "Type", clean_title AS "Text", author AS "Author",
        |  'https://reddit.com' || permalink AS "Link"
        |FROM m WHERE len(ml) > 0
        |ORDER BY "Subreddit", "Type", "Link", "Match"""".stripMargin,
    "q32_community_discovery" ->
      """WITH subs AS (
        |  SELECT source AS display_name, count(*) AS subscribers
        |  FROM documents GROUP BY source),
        |p AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS post_id, source AS subreddit,
        |    lower(text) || ' ' AS content, n_chars AS score
        |  FROM documents),
        |q AS (SELECT unnest(['spark', 'stream']) AS query),
        |hits AS (
        |  SELECT p.post_id, p.subreddit, p.score, q.query, s.subscribers
        |  FROM p CROSS JOIN q
        |  JOIN subs s ON s.display_name = p.subreddit
        |  WHERE contains(p.content, q.query)),
        |top AS (
        |  SELECT *, row_number() OVER (PARTITION BY query
        |                               ORDER BY score DESC, post_id) AS rn
        |  FROM hits),
        |agg AS (
        |  SELECT subreddit AS community, max(subscribers) AS members
        |  FROM top WHERE rn <= 10 GROUP BY subreddit)
        |SELECT 'r/' || community AS "Community",
        |  2 AS "Relevance Score",
        |  'Relevant Post' AS "Found Via",
        |  members AS "Members",
        |  'https://www.reddit.com/r/' || community AS "Community Link",
        |  'https://www.reddit.com/r/' || community || '/top/?t=month' AS "Top Posts (Month)"
        |FROM agg
        |ORDER BY "Relevance Score" DESC, "Members" DESC, "Community"""".stripMargin,
    "q33_explode_flatten" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |e AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(w) + 1),
        |                          i -> {'word': w[i], 'pos': i - 1})) AS u
        |  FROM t)
        |SELECT u.word AS word, count(*) AS n,
        |  CAST(sum(CASE WHEN u.pos = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_first
        |FROM e WHERE u.word <> 'a'
        |GROUP BY u.word ORDER BY n DESC, word LIMIT 50""".stripMargin,
    // q34 — exact columns hard-compared; the sketch columns are
    // asserted within 3·rsd of exact on the Spark side and emitted as
    // literal TRUE here, so an out-of-bounds estimate hash-mismatches.
    "q34_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_suppkey) AS exact_supps,
        |  TRUE AS approx_parts_ok,
        |  TRUE AS approx_supps_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q35_multi_join" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q36_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q37_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, length(text) AS L FROM documents),
        |f AS (
        |  SELECT media_id, CAST(unnest(range(0, 4)) AS INTEGER) AS frame_idx, L
        |  FROM m WHERE L >= 4)
        |SELECT media_id, frame_idx,
        |  CAST(floor((frame_idx + 1) * L / 4.0)
        |       - floor(frame_idx * L / 4.0) AS INTEGER) AS frame_bytes
        |FROM f ORDER BY media_id, frame_idx LIMIT 400""".stripMargin,
    "q38_ann_ivf" -> ivfOracleSql,
    "q39_sessionize" ->
      """WITH s AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // q40 — winnowing re-derived in SQL: per-position Karp-Rabin gram
    // hash (power-table form of the rolling hash, HUGEINT mod 2^61-1),
    // then the window minimum over w=8 grams via a windowed min() —
    // the selected VALUES are identical to the monotonic-deque form
    // (the rightmost-on-ties rule only affects positions, and the
    // fingerprint set is distinct values). Assumes every cleaned text
    // has >= w+k-1 chars (fixture min is 44), so the short-text
    // global-min fallback never fires.
    "q40_winnow_neardup" ->
      s"""WITH t AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS c
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, c, unnest(range(1, length(c) - 24 + 2)) AS p FROM t
        |  WHERE length(c) >= 24),
        |hs AS (
        |  SELECT doc_id, p,
        |    CAST(list_sum(list_transform(range(0, 24),
        |      j -> (CAST(ascii(substr(c, CAST(p + j AS INTEGER), 1)) AS HUGEINT)
        |            * ${winnowPowerList(24)}[CAST(j + 1 AS INTEGER)])
        |           % 2305843009213693951)) % 2305843009213693951 AS BIGINT) AS h
        |  FROM g),
        |mins AS (
        |  SELECT doc_id, p,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY p
        |                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS mn
        |  FROM hs),
        |fps AS (SELECT DISTINCT doc_id, mn AS fp FROM mins WHERE p >= 8),
        |fsz AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= $MaxBucketCap),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |  FROM fps a JOIN fsz ON a.fp = fsz.fp
        |             JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM pairs
        |WHERE n_shared >= 10 ORDER BY id_a, id_b""".stripMargin,
    // q48 — q22's pair chain + undirected closure via WITH RECURSIVE;
    // cluster_id = min reachable id, exactly the fixpoint the Spark
    // min-label propagation converges to. q169 runs the large-star/
    // small-star contraction over the SAME pair graph — identical
    // components by construction, so it byte-shares this oracle.
    "q48_dup_clusters" -> dupClustersOracleSql,
    "q169_cc_contracted" -> dupClustersOracleSql,
    // q219: q48's component chain + one LEFT JOIN onto the corpus —
    // singletons coalesce to one copy at weight 1.
    "q219_soft_dedup" ->
      raw"""$dupClustersCtes,
        |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id),
        |cm AS (SELECT v AS doc_id, cluster_size FROM comp JOIN sizes USING (cluster_id)),
        |tk AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_toks
        |  FROM documents)
        |SELECT tk.doc_id,
        |  CAST(COALESCE(cm.cluster_size, 1) AS BIGINT) AS n_copies,
        |  round(1.0 / COALESCE(cm.cluster_size, 1), 4) AS weight,
        |  tk.n_toks,
        |  round(tk.n_toks / CAST(COALESCE(cm.cluster_size, 1) AS DOUBLE), 4) AS eff_tokens
        |FROM tk LEFT JOIN cm USING (doc_id)
        |ORDER BY tk.doc_id""".stripMargin,
    // q49 — exact anchor columns hard-compared; sketch columns bound-
    // checked in-query (see q34's pattern).
    "q49_quantile_sketch" ->
      """SELECT l_returnflag, count(*) AS n,
        |  TRUE AS p50_ok, TRUE AS p90_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q50 — the hash-bucket membership rule re-derived in SQL: value
    // of the first 5 md5 hex digits via positional strpos arithmetic.
    "q50_hash_sample" ->
      """WITH h AS (
        |  SELECT event_type, value,
        |    md5(CAST(event_id AS VARCHAR) || '|0') AS hh
        |  FROM events),
        |b AS (
        |  SELECT event_type, value,
        |    (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1) AS bucket
        |  FROM h)
        |SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM b WHERE bucket < 104857
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q51_column_profile" ->
      """SELECT
        |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_doc_id,
        |  count(DISTINCT doc_id) AS distinct_doc_id,
        |  CAST(min(doc_id) AS VARCHAR) AS min_doc_id,
        |  CAST(max(doc_id) AS VARCHAR) AS max_doc_id,
        |  CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_source,
        |  count(DISTINCT source) AS distinct_source,
        |  min(source) AS min_source,
        |  max(source) AS max_source,
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_lang,
        |  count(DISTINCT lang) AS distinct_lang,
        |  min(lang) AS min_lang,
        |  max(lang) AS max_lang,
        |  CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_n_chars,
        |  count(DISTINCT n_chars) AS distinct_n_chars,
        |  CAST(min(n_chars) AS VARCHAR) AS min_n_chars,
        |  CAST(max(n_chars) AS VARCHAR) AS max_n_chars
        |FROM documents""".stripMargin,
    "q52_shard_packing" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |  FROM t)
        |SELECT source, CAST(floor(start / 2000.0) AS BIGINT) AS shard_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
        |FROM p GROUP BY source, shard_id
        |ORDER BY source, shard_id""".stripMargin,
    // q53 — q22's shingle/signature chain with 1-row bands and a
    // containment (not Jaccard) verify; smaller set on the left.
    "q53_containment" ->
      raw"""WITH toks AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM toks WHERE len(w) >= 3),
        |sig AS (
        |  SELECT doc_id, sh,
        |    [list_min(list_transform(sh, s -> md5('0|' || s))),
        |     list_min(list_transform(sh, s -> md5('1|' || s))),
        |     list_min(list_transform(sh, s -> md5('2|' || s))),
        |     list_min(list_transform(sh, s -> md5('3|' || s))),
        |     list_min(list_transform(sh, s -> md5('4|' || s))),
        |     list_min(list_transform(sh, s -> md5('5|' || s))),
        |     list_min(list_transform(sh, s -> md5('6|' || s))),
        |     list_min(list_transform(sh, s -> md5('7|' || s)))] AS hs
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.b AS band_idx, md5(hs[b.b + 1]) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS b) b),
        |bsz AS (
        |  SELECT band_idx, band_key FROM bands
        |  GROUP BY band_idx, band_key HAVING count(*) <= $MaxBucketCap),
        |cand AS (
        |  SELECT a.doc_id AS id_a, bb.doc_id AS id_b
        |  FROM bands a JOIN bsz USING (band_idx, band_key)
        |              JOIN bands bb USING (band_idx, band_key)
        |  WHERE a.doc_id < bb.doc_id GROUP BY 1, 2),
        |v AS (
        |  SELECT
        |    CASE WHEN len(sa.sh) <= len(sb.sh) THEN id_a ELSE id_b END AS id_small,
        |    CASE WHEN len(sa.sh) <= len(sb.sh) THEN id_b ELSE id_a END AS id_big,
        |    round(CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
        |          / least(len(sa.sh), len(sb.sh)), 4) AS containment
        |  FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
        |SELECT DISTINCT id_small, id_big, containment FROM v
        |WHERE containment >= 0.9
        |ORDER BY id_small, id_big""".stripMargin,
    "q54_full_outer" ->
      """WITH od AS (
        |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS d, count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |ed AS (
        |  SELECT strftime(ts, '%Y-%m-%d') AS d, count(*) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT coalesce(od.d, ed.d) AS d,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(n_events, 0) AS n_events
        |FROM od FULL OUTER JOIN ed ON od.d = ed.d
        |ORDER BY d LIMIT 100""".stripMargin,
    "q55_set_ops" ->
      """WITH wl AS (SELECT source FROM documents WHERE n_chars >= 300),
        |ws AS (SELECT source FROM documents WHERE n_chars < 120),
        |both_s AS (
        |  SELECT 'both' AS set_op, source FROM (
        |    SELECT source FROM wl INTERSECT SELECT source FROM ws)),
        |only_l AS (
        |  SELECT 'only_long' AS set_op, source FROM (
        |    SELECT source FROM wl EXCEPT SELECT source FROM ws))
        |SELECT set_op, source FROM both_s
        |UNION ALL SELECT set_op, source FROM only_l
        |ORDER BY set_op, source""".stripMargin,
    "q56_pivot" ->
      """SELECT CAST(user_id % 10 AS INTEGER) AS bucket,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    // q57 — the oracle never sees the CSV: it aggregates the source
    // table, so the Spark side's write→read round trip must be
    // lossless for the hashes to match.
    "q57_csv_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q58_tolerant_union" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q147: the JSONL round-trip must reproduce the source-table
    // aggregate exactly — any serialization loss flips the hash.
    "q147_jsonl_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q59 — q43's mirror with the "Fast" preset constants (postLimit
    // 10, commentLimit 20) and no truncation (preset path leaves
    // truncateTo unset).
    "q59_preset_scan" ->
      """WITH p AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS post_id, source AS subreddit,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS clean_title,
        |    n_chars AS score,
        |    'author_' || CAST(doc_id % 7 AS VARCHAR) AS author,
        |    '/r/' || source || '/' || CAST(doc_id AS VARCHAR) AS permalink
        |  FROM documents),
        |top AS (
        |  SELECT *, row_number() OVER (PARTITION BY subreddit
        |                               ORDER BY score DESC, post_id) AS rn
        |  FROM p),
        |tp AS (SELECT * FROM top WHERE rn <= 10),
        |postm AS (
        |  SELECT *, list_filter(['spark', 'merge'],
        |                        k -> contains(lower(clean_title || ' '), k)) AS ml
        |  FROM tp),
        |postrows AS (
        |  SELECT subreddit AS "Subreddit",
        |    array_to_string(list_sort(ml), ', ') AS "Match",
        |    'Post' AS "Type", clean_title AS "Text", author AS "Author",
        |    'https://reddit.com' || permalink AS "Link"
        |  FROM postm WHERE len(ml) > 0),
        |c AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS post_id, i.idx AS flat_idx,
        |    CASE WHEN i.idx = 1 AND doc_id % 13 = 0 THEN '[deleted]'
        |         WHEN i.idx = 2 AND doc_id % 7 = 0 THEN NULL
        |         WHEN i.idx = 3 AND doc_id % 5 = 0 THEN ' '
        |         ELSE substring(text, CAST(i.idx * 20 + 1 AS INTEGER), 80) END AS body,
        |    CASE WHEN (doc_id + i.idx) % 11 = 0 THEN '[deleted]'
        |         ELSE 'c_author_' || CAST((doc_id + i.idx) % 7 AS VARCHAR) END AS author,
        |    CASE WHEN (doc_id + i.idx) % 17 = 0 THEN NULL
        |         ELSE '/r/' || source || '/' || CAST(doc_id AS VARCHAR)
        |              || '/c' || CAST(i.idx AS VARCHAR) END AS permalink
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS idx) i),
        |ch AS (
        |  SELECT *, row_number() OVER (PARTITION BY post_id
        |                               ORDER BY flat_idx) AS crn
        |  FROM c),
        |cj AS (
        |  SELECT ch.*, tp.subreddit FROM ch JOIN tp USING (post_id)
        |  WHERE ch.crn <= 20),
        |cf AS (
        |  SELECT subreddit, author, permalink,
        |    trim(regexp_replace(body, '\s+', ' ', 'g')) AS clean_body
        |  FROM cj
        |  WHERE body IS NOT NULL AND author IS NOT NULL
        |    AND author <> '[deleted]' AND permalink IS NOT NULL
        |    AND body NOT IN ('[deleted]', '[removed]')),
        |cm AS (
        |  SELECT *,
        |    CASE WHEN contains(lower(clean_body), 'spark') THEN 'spark'
        |         WHEN contains(lower(clean_body), 'merge') THEN 'merge' END AS first_kw
        |  FROM cf WHERE length(clean_body) > 0),
        |crows AS (
        |  SELECT subreddit AS "Subreddit", first_kw AS "Match",
        |    'Comment' AS "Type", clean_body AS "Text",
        |    author AS "Author", 'https://reddit.com' || permalink AS "Link"
        |  FROM cm WHERE first_kw IS NOT NULL)
        |SELECT * FROM (SELECT * FROM postrows UNION ALL SELECT * FROM crows)
        |ORDER BY "Subreddit", "Type", "Link", "Match"""".stripMargin,
    // q60 — the enrichment constants re-stated as literals; the Spark
    // side must round-trip them through CSV intact.
    "q60_enriched_export" ->
      """SELECT source, 'Not Started' AS "Status", count(*) AS n,
        |  count(*) AS n_blank_priority
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q61_typed_json" ->
      """SELECT event_id, event_type,
        |  CAST(props->>'$.k' AS BIGINT) AS k,
        |  CAST(props->>'$.k' AS BIGINT) * 2 AS k2
        |FROM events
        |WHERE CAST(props->>'$.k' AS BIGINT) % 7 = 0
        |ORDER BY event_id LIMIT 300""".stripMargin,
    // q63 — like q62, the WAV oracle never parses the binary: expected
    // features come straight from the sample formula, so the decoder's
    // chunk walk, de-interleaving (f0/f1 per-channel means), signed
    // LE16 decode (negative samples) and 44-byte size math must all be
    // right to hash-match.
    "q63_wav_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
        |    CAST(40 + doc_id % 50 AS INTEGER) AS n,
        |    CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS rate
        |  FROM documents),
        |sm AS (
        |  SELECT doc_id, ch, n, rate, i.i AS i, c.c AS c,
        |    ((doc_id*13 + 17*i.i + 23*c.c) % 4001) - 2000 AS s
        |  FROM d
        |  CROSS JOIN (SELECT unnest(range(0, 90)) AS i) i
        |  CROSS JOIN (SELECT unnest(range(0, 2)) AS c) c
        |  WHERE i.i < n AND c.c < ch),
        |st AS (
        |  SELECT doc_id, ch, n, rate,
        |    CAST(sum(CASE WHEN c = 0 THEN s ELSE 0 END) AS DOUBLE) / n AS m0,
        |    CAST(sum(CASE WHEN c = 1 THEN s ELSE 0 END) AS DOUBLE) / n AS m1,
        |    CAST(sum(abs(s)) AS DOUBLE) / (n * ch) AS ma,
        |    CAST(max(abs(s)) AS INTEGER) AS pk
        |  FROM sm GROUP BY doc_id, ch, n, rate)
        |SELECT doc_id AS media_id, ch AS channels, rate AS sample_rate,
        |  CAST(n AS BIGINT) AS n_frames,
        |  CAST(44 + n*ch*2 AS BIGINT) AS n_bytes,
        |  floor(CAST(CAST(m0/32768.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f0,
        |  floor(CAST(CAST(m1/32768.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f1,
        |  floor(CAST(CAST(ma/32768.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f2,
        |  floor(CAST(CAST(CAST(pk AS DOUBLE)/32768.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f3,
        |  floor(CAST(CAST(n/1000.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f4,
        |  floor(CAST(CAST(rate/100000.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f5,
        |  floor(CAST(CAST(ch/10.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f6,
        |  floor(CAST(CAST(CAST(n AS DOUBLE)/rate AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f7
        |FROM st ORDER BY media_id""".stripMargin,
    // q94 — q63's formula-oracle shape for the IMA ADPCM decoder: the
    // unit-step triangle signal (consecutive deltas ∈ {-1,0,1}) is
    // exactly representable at step index 0, so the REAL nibble/step-
    // table reconstruction must be bit-exact to hash-match. n_bytes is
    // the closed-form container size: 60-byte headers + (n/9) blocks
    // of 8·ch bytes (4-byte per-channel header + one 4-byte nibble
    // word per channel).
    "q94_adpcm_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 2 AS INTEGER) AS ch,
        |    CAST(9 * (5 + doc_id % 7) AS INTEGER) AS n,
        |    CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS rate
        |  FROM documents),
        |sm AS (
        |  SELECT doc_id, ch, n, rate, i.i AS i, c.c AS c,
        |    ((doc_id*13 + 23*c.c) % 4001) - 2000 + abs((i.i % 20) - 10) AS s
        |  FROM d
        |  CROSS JOIN (SELECT unnest(range(0, 99)) AS i) i
        |  CROSS JOIN (SELECT unnest(range(0, 2)) AS c) c
        |  WHERE i.i < n AND c.c < ch),
        |st AS (
        |  SELECT doc_id, ch, n, rate,
        |    CAST(sum(CASE WHEN c = 0 THEN s ELSE 0 END) AS DOUBLE) / n AS m0,
        |    CAST(sum(CASE WHEN c = 1 THEN s ELSE 0 END) AS DOUBLE) / n AS m1,
        |    CAST(sum(abs(s)) AS DOUBLE) / (n * ch) AS ma,
        |    CAST(max(abs(s)) AS INTEGER) AS pk
        |  FROM sm GROUP BY doc_id, ch, n, rate)
        |SELECT doc_id AS media_id, ch AS channels, rate AS sample_rate,
        |  CAST(n AS BIGINT) AS n_frames,
        |  CAST(60 + (n / 9) * 8 * ch AS BIGINT) AS n_bytes,
        |  floor(CAST(CAST(m0/32768.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f0,
        |  floor(CAST(CAST(m1/32768.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f1,
        |  floor(CAST(CAST(ma/32768.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f2,
        |  floor(CAST(CAST(CAST(pk AS DOUBLE)/32768.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f3,
        |  floor(CAST(CAST(n/1000.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f4,
        |  floor(CAST(CAST(rate/100000.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f5,
        |  floor(CAST(CAST(ch/10.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f6,
        |  floor(CAST(CAST(CAST(n AS DOUBLE)/rate AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f7
        |FROM st ORDER BY media_id""".stripMargin,
    // q62 — the BMP decode oracle never parses the binary: it
    // recomputes the expected features straight from the pixel formula
    // the Spark side encoded, so the real parser must read the header,
    // honor bottom-up row order (f6 = top-half blue mean) and skip row
    // padding (channel means) to hash-match. CAST(... AS REAL) marks
    // the same double→float narrowing points as BmpCodec.features.
    "q62_bmp_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(3 + doc_id % 5 AS INTEGER) AS w,
        |    CAST(2 + doc_id % 3 AS INTEGER) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, x.x AS x, y.y AS y
        |  FROM d
        |  CROSS JOIN (SELECT unnest(range(0, 7)) AS x) x
        |  CROSS JOIN (SELECT unnest(range(0, 4)) AS y) y
        |  WHERE x.x < w AND y.y < h),
        |ch AS (
        |  SELECT doc_id, w, h,
        |    CAST(sum((doc_id*7  + 3*x + 5*y) % 256) AS DOUBLE) / count(*) / 255.0 AS mb,
        |    CAST(sum((doc_id*11 + 3*x + 5*y) % 256) AS DOUBLE) / count(*) / 255.0 AS mg,
        |    CAST(sum((doc_id*13 + 3*x + 5*y) % 256) AS DOUBLE) / count(*) / 255.0 AS mr,
        |    CAST(sum(CASE WHEN y < (h+1)//2 THEN (doc_id*7 + 3*x + 5*y) % 256 ELSE 0 END) AS DOUBLE)
        |      / (w * ((h+1)//2)) / 255.0 AS mbt
        |  FROM px GROUP BY doc_id, w, h)
        |SELECT doc_id AS media_id, w AS width, h AS height,
        |  CAST(54 + ((w*3 + 3)//4)*4*h AS BIGINT) AS n_bytes,
        |  floor(CAST(CAST(mb AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f0,
        |  floor(CAST(CAST(mg AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f1,
        |  floor(CAST(CAST(mr AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f2,
        |  floor(CAST(CAST(0.114*mb + 0.587*mg + 0.299*mr AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f3,
        |  floor(CAST(CAST(w/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f4,
        |  floor(CAST(CAST(h/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f5,
        |  floor(CAST(CAST(mbt AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f6,
        |  floor(CAST(CAST(CAST(w AS DOUBLE)/h AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f7
        |FROM ch ORDER BY media_id""".stripMargin,
    // q64 — the as-of rule spelled out portably: left join on
    // (user, click.ts <= purchase.ts), keep the row_number()-1 pick
    // ordered by (ts DESC, event_id DESC) — exactly the
    // greatest-at-or-before + greatest-id tie-break the Spark window
    // computes. Unmatched purchases survive the LEFT JOIN as one
    // all-null click row.
    "q64_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.event_id AS purchase_id, p.user_id,
        |    strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |    round(p.value, 4) AS purchase_value,
        |    c.event_id AS click_id,
        |    strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |    round(c.value, 4) AS click_value,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
        |SELECT purchase_id, user_id, purchase_ts, purchase_value,
        |       click_id, click_ts, click_value
        |FROM j WHERE rn = 1 ORDER BY purchase_id""".stripMargin,
    // q65 — direct range-predicate join + per-error aggregate; the
    // engine's epoch-bucket banding is an execution detail the oracle
    // doesn't need (same result set).
    "q65_range_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
        |c AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click')
        |SELECT e.event_id AS error_id, e.user_id,
        |  strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
        |  CAST(count(c.event_id) AS BIGINT) AS n_prior_clicks,
        |  round(coalesce(sum(c.value), 0.0), 4) AS click_value_sum
        |FROM e LEFT JOIN c ON e.user_id = c.user_id
        |  AND c.ts >= e.ts - INTERVAL 24 HOUR AND c.ts < e.ts
        |GROUP BY 1, 2, 3 ORDER BY error_id""".stripMargin,
    // q66 — q26's LSH pair derivation (same planes, cap, threshold)
    // piped into q48's recursive-CTE transitive closure: cluster_id =
    // min reachable vec_id over the cosine>=0.42 near-dup graph.
    "q66_embedding_dedup" ->
      raw"""WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (
        |  SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM e),
        |nv AS (
        |  SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv
        |  FROM n WHERE sq > 0),
        |comp AS (
        |  SELECT t.t, b.b, d.d,
        |    CASE WHEN strpos('13579bdf',
        |           substr(md5(CAST(t.t AS VARCHAR) || '|' || CAST(b.b AS VARCHAR)
        |                      || '|' || CAST(d.d AS VARCHAR)), 2, 1)) > 0
        |         THEN -1.0 ELSE 1.0 END AS c
        |  FROM (SELECT unnest(range(0, 16)) AS t) t
        |  CROSS JOIN (SELECT unnest(range(0, 6)) AS b) b
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS d) d),
        |pl AS (SELECT t, b, list(c ORDER BY d) AS pv FROM comp GROUP BY t, b),
        |proj AS (
        |  SELECT nv.vec_id, pl.t, pl.b,
        |    list_sum(list_transform(range(1, 65), i -> nv.nv[i] * pl.pv[i])) AS dp
        |  FROM nv CROSS JOIN pl),
        |bk AS (
        |  SELECT vec_id, t AS table_idx,
        |    CAST(sum(CASE WHEN dp >= 0 THEN power(2, b) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM proj GROUP BY vec_id, t),
        |bsz AS (
        |  SELECT table_idx, bucket FROM bk
        |  GROUP BY table_idx, bucket HAVING count(*) <= $MaxBucketCap),
        |cand AS (
        |  SELECT a.vec_id AS id_a, c.vec_id AS id_b
        |  FROM bk a JOIN bsz USING (table_idx, bucket)
        |            JOIN bk c USING (table_idx, bucket)
        |  WHERE a.vec_id < c.vec_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT id_a, id_b,
        |      round(list_sum(list_transform(range(1, 65),
        |                                    i -> x.nv[i] * y.nv[i])), 4) AS cos_sim
        |    FROM cand JOIN nv x ON x.vec_id = id_a JOIN nv y ON y.vec_id = id_b)
        |  WHERE cos_sim >= 0.42),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS v FROM edges),
        |rec AS (
        |  SELECT v, v AS m FROM nodes
        |  UNION
        |  SELECT g.dst AS v, r.m FROM rec r JOIN edges g ON g.src = r.v),
        |cl AS (SELECT v, min(m) AS cluster_id FROM rec GROUP BY v),
        |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY cluster_id)
        |SELECT v AS vec_id, cluster_id, cluster_size
        |FROM cl JOIN sizes USING (cluster_id)
        |ORDER BY vec_id""".stripMargin,
    // q67 — forward mirror of q64's rule: earliest at-or-after pick
    // (ts ASC, event_id ASC), with the 72 h tolerance folded into the
    // join window (equivalent to the engine's post-match gate).
    "q67_asof_forward" ->
      """WITH s AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
        |p AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT s.event_id AS signup_id, s.user_id,
        |    strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts,
        |    p.event_id AS purchase_id,
        |    strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |    round(p.value, 4) AS first_purchase_value,
        |    row_number() OVER (PARTITION BY s.event_id
        |                       ORDER BY p.ts ASC, p.event_id ASC) AS rn
        |  FROM s LEFT JOIN p ON s.user_id = p.user_id
        |    AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 72 HOUR)
        |SELECT signup_id, user_id, signup_ts, purchase_id, purchase_ts,
        |       first_purchase_value
        |FROM j WHERE rn = 1 ORDER BY signup_id""".stripMargin,
    "q68_cube" ->
      """SELECT coalesce(source, 'ALL') AS source,
        |  coalesce(lang, 'ALL') AS lang,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (source, lang)
        |ORDER BY source, lang""".stripMargin,
    // q69 — the VARIANT extraction is plain typed JSON-path access to
    // the oracle (the binary encoding is an engine detail).
    "q69_variant_json" ->
      """WITH x AS (
        |  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events)
        |SELECT event_type,
        |  CASE WHEN k % 2 = 0 THEN 'even' ELSE 'odd' END AS k_parity,
        |  round(avg(k), 6) AS avg_k, max(k) AS max_k, count(*) AS n
        |FROM x GROUP BY 1, 2 ORDER BY event_type, k_parity""".stripMargin,
    "q41_string_funcs" ->
      """SELECT doc_id,
        |  regexp_replace(source, '^src', '') AS src_num,
        |  'https://example.com/' || source AS url,
        |  CASE WHEN length(text) > 40
        |       THEN substring(text, 1, 40) || '...' ELSE text END AS preview,
        |  starts_with(source, 'src1') AS is_src1x
        |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin,
    "q42_datetime_funcs" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
        |  count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY y, m ORDER BY y, m""".stripMargin,
    // q43 — SignalScan with the comment branch: note the comment
    // budget (crn <= 2) is computed over ALL comments of a post BEFORE
    // the tombstone filters, mirroring the reference's
    // `comments.list()[:k]`-then-filter ordering (app.py:116-124).
    "q43_signal_scan_comments" ->
      """WITH p AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS post_id, source AS subreddit,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS clean_title,
        |    n_chars AS score,
        |    'author_' || CAST(doc_id % 7 AS VARCHAR) AS author,
        |    '/r/' || source || '/' || CAST(doc_id AS VARCHAR) AS permalink
        |  FROM documents),
        |top AS (
        |  SELECT *, row_number() OVER (PARTITION BY subreddit
        |                               ORDER BY score DESC, post_id) AS rn
        |  FROM p),
        |tp AS (SELECT * FROM top WHERE rn <= 5),
        |postm AS (
        |  SELECT *, list_filter(['spark', 'merge'],
        |                        k -> contains(lower(clean_title || ' '), k)) AS ml
        |  FROM tp),
        |postrows AS (
        |  SELECT subreddit AS "Subreddit",
        |    array_to_string(list_sort(ml), ', ') AS "Match",
        |    'Post' AS "Type", clean_title AS "Text", author AS "Author",
        |    'https://reddit.com' || permalink AS "Link"
        |  FROM postm WHERE len(ml) > 0),
        |c AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS post_id, i.idx AS flat_idx,
        |    CASE WHEN i.idx = 1 AND doc_id % 13 = 0 THEN '[deleted]'
        |         WHEN i.idx = 2 AND doc_id % 7 = 0 THEN NULL
        |         WHEN i.idx = 3 AND doc_id % 5 = 0 THEN ' '
        |         ELSE substring(text, CAST(i.idx * 20 + 1 AS INTEGER), 80) END AS body,
        |    CASE WHEN (doc_id + i.idx) % 11 = 0 THEN '[deleted]'
        |         ELSE 'c_author_' || CAST((doc_id + i.idx) % 7 AS VARCHAR) END AS author,
        |    CASE WHEN (doc_id + i.idx) % 17 = 0 THEN NULL
        |         ELSE '/r/' || source || '/' || CAST(doc_id AS VARCHAR)
        |              || '/c' || CAST(i.idx AS VARCHAR) END AS permalink
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS idx) i),
        |ch AS (
        |  SELECT *, row_number() OVER (PARTITION BY post_id
        |                               ORDER BY flat_idx) AS crn
        |  FROM c),
        |cj AS (
        |  SELECT ch.*, tp.subreddit FROM ch JOIN tp USING (post_id)
        |  WHERE ch.crn <= 2),
        |cf AS (
        |  SELECT subreddit, author, permalink,
        |    trim(regexp_replace(body, '\s+', ' ', 'g')) AS clean_body
        |  FROM cj
        |  WHERE body IS NOT NULL AND author IS NOT NULL
        |    AND author <> '[deleted]' AND permalink IS NOT NULL
        |    AND body NOT IN ('[deleted]', '[removed]')),
        |cm AS (
        |  SELECT *,
        |    CASE WHEN contains(lower(clean_body), 'spark') THEN 'spark'
        |         WHEN contains(lower(clean_body), 'merge') THEN 'merge' END AS first_kw
        |  FROM cf WHERE length(clean_body) > 0),
        |crows AS (
        |  SELECT subreddit AS "Subreddit", first_kw AS "Match",
        |    'Comment' AS "Type",
        |    CASE WHEN length(clean_body) > 60
        |         THEN substring(clean_body, 1, 60) || '...'
        |         ELSE clean_body END AS "Text",
        |    author AS "Author", 'https://reddit.com' || permalink AS "Link"
        |  FROM cm WHERE first_kw IS NOT NULL)
        |SELECT * FROM (SELECT * FROM postrows UNION ALL SELECT * FROM crows)
        |ORDER BY "Subreddit", "Type", "Link", "Match"""".stripMargin,
    // q44 — the stub decode recomputed from text bytes (ASCII fixture:
    // code point == byte value): md5 checksum, byte length, and the
    // per-(i mod 8) byte means, with the same double→float→double
    // narrowing as StubCodec so values hash-match exactly.
    "q44_media_decode" ->
      """WITH b AS (
        |  SELECT doc_id AS media_id, text,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    md5(text) AS checksum
        |  FROM documents),
        |e AS (
        |  SELECT media_id, text, unnest(range(1, length(text) + 1)) AS i FROM b),
        |v AS (
        |  SELECT media_id, (i - 1) % 8 AS j,
        |    ascii(substr(text, CAST(i AS INTEGER), 1)) AS val
        |  FROM e),
        |f AS (
        |  SELECT media_id, j,
        |    CAST(CAST(sum(val) AS DOUBLE) / count(*) / 255.0 AS REAL) AS fv
        |  FROM v GROUP BY media_id, j),
        |feat AS (
        |  SELECT media_id,
        |    floor(CAST(max(CASE WHEN j = 0 THEN fv END) AS DOUBLE) * 1000000) / 1000000.0 AS f0,
        |    floor(CAST(max(CASE WHEN j = 1 THEN fv END) AS DOUBLE) * 1000000) / 1000000.0 AS f1,
        |    floor(CAST(max(CASE WHEN j = 2 THEN fv END) AS DOUBLE) * 1000000) / 1000000.0 AS f2,
        |    floor(CAST(max(CASE WHEN j = 3 THEN fv END) AS DOUBLE) * 1000000) / 1000000.0 AS f3,
        |    floor(CAST(max(CASE WHEN j = 4 THEN fv END) AS DOUBLE) * 1000000) / 1000000.0 AS f4,
        |    floor(CAST(max(CASE WHEN j = 5 THEN fv END) AS DOUBLE) * 1000000) / 1000000.0 AS f5,
        |    floor(CAST(max(CASE WHEN j = 6 THEN fv END) AS DOUBLE) * 1000000) / 1000000.0 AS f6,
        |    floor(CAST(max(CASE WHEN j = 7 THEN fv END) AS DOUBLE) * 1000000) / 1000000.0 AS f7
        |  FROM f GROUP BY media_id)
        |SELECT b.media_id, b.n_bytes, b.checksum,
        |  f0, f1, f2, f3, f4, f5, f6, f7
        |FROM b JOIN feat USING (media_id)
        |ORDER BY media_id""".stripMargin,
    // q46 — the curation pipeline composed from its individually
    // oracled stages: q28's quality formula, q27's lexicon argmax,
    // q30's fingerprint, q22's MinHash-LSH chain over the survivors,
    // the canonical-min drop rule, and the per-source rollup.
    // q46/q203: ONE curation oracle chain (byte-shared), the blocklist
    // stage parameterized into the gated CTE — q46 passes the empty
    // clause, q203 the mirrored any-hit exclusion over lower(text).
    "q46_curation" -> curationOracleSql(""),
    "q203_curation_blocklist" -> curationOracleSql(blocklistClauseSql),
    // q240: the FULL composed MassiveText stack — q203's curation
    // chain (src swapped to the q207-decorated corpus) + q204's
    // byte-shared repetitionFrCtes, with the repetition pass set
    // landed in the gated CTE exactly like the blocklist clause.
    "q240_curation_repetition" -> curationOracleSql(
      blocklistClauseSql,
      src = "docs240",
      extraGate = "\n    AND doc_id IN (SELECT doc_id FROM reppass)",
      prelude = synthLinesCtes.stripPrefix("WITH ") + ",\n" +
        """d AS (
          |  SELECT doc_id, ls, array_to_string(ls, chr(10)) AS txt FROM (
          |    SELECT doc_id,
          |      CASE WHEN doc_id % 3 = 0
          |           THEN list_append(base, 'the and that have with.')
          |           ELSE base END AS ls
          |    FROM (SELECT doc_id,
          |            CASE WHEN doc_id % 4 = 0 THEN list_append(lines, lines[1])
          |                 ELSE lines END AS base
          |          FROM lns)))""".stripMargin + ",\n" +
        repetitionFrCtes + ",\n" +
        """reppass AS (
          |  SELECT doc_id FROM fr
          |  WHERE dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
          |    AND top2_frac <= 0.20 AND top3_frac <= 0.18 AND top4_frac <= 0.16
          |    AND dup5_frac <= 0.15 AND dup10_frac <= 0.10)""".stripMargin + ",\n" +
        """docs240 AS (
          |  SELECT d.doc_id, s.source, d.txt AS text
          |  FROM d JOIN documents s USING (doc_id))""".stripMargin + ",\n"),
    "q47_topk_aggregator" ->
      """SELECT l_returnflag, rnk, id, w FROM (
        |  SELECT l_returnflag,
        |    l_orderkey * 100 + l_linenumber AS id,
        |    round(l_extendedprice * (1.0 - l_discount), 2) AS w,
        |    CAST(row_number() OVER (
        |      PARTITION BY l_returnflag
        |      ORDER BY round(l_extendedprice * (1.0 - l_discount), 2) DESC,
        |               l_orderkey * 100 + l_linenumber) AS INTEGER) AS rnk
        |  FROM lineitem)
        |WHERE rnk <= 3
        |ORDER BY l_returnflag, rnk""".stripMargin,
    // q45 — CommunityDiscovery with direct + post + comment channels.
    // Note commentHits filters tombstones BEFORE the head-k budget
    // (CommunityDiscovery.scala:88-91), unlike q43's branch — the SQL
    // mirrors each pipeline's own ordering.
    "q45_community_comments" ->
      """WITH subs AS (
        |  SELECT source AS display_name, count(*) AS subscribers,
        |    min(text) AS description,
        |    (source = 'src7') AS over18
        |  FROM documents GROUP BY source),
        |q AS (SELECT unnest(['spark', 'stream']) AS query),
        |direct AS (
        |  SELECT display_name AS community, subscribers,
        |    'Direct Search' AS found_via
        |  FROM (
        |    SELECT s.*, q.query,
        |      row_number() OVER (PARTITION BY q.query
        |                         ORDER BY s.subscribers DESC, s.display_name) AS rn
        |    FROM subs s CROSS JOIN q
        |    WHERE NOT starts_with(s.display_name, 'u_')
        |      AND contains(lower(s.display_name || ' ' || s.description), q.query))
        |  WHERE rn <= 5),
        |p AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS post_id, source AS subreddit,
        |    lower(text) || ' ' AS content, n_chars AS score
        |  FROM documents),
        |mp AS (
        |  SELECT post_id, query, subreddit AS community, subscribers
        |  FROM (
        |    SELECT p.*, q.query, s.subscribers,
        |      row_number() OVER (PARTITION BY q.query
        |                         ORDER BY p.score DESC, p.post_id) AS rn
        |    FROM p CROSS JOIN q
        |    JOIN subs s ON s.display_name = p.subreddit
        |    WHERE contains(p.content, q.query)
        |      AND NOT s.over18 AND NOT starts_with(p.subreddit, 'u_'))
        |  WHERE rn <= 10),
        |postch AS (
        |  SELECT community, subscribers, 'Relevant Post' AS found_via FROM mp),
        |c AS (
        |  SELECT CAST(doc_id AS VARCHAR) AS post_id, i.idx AS flat_idx,
        |    CASE WHEN i.idx = 1 AND doc_id % 13 = 0 THEN '[deleted]'
        |         WHEN i.idx = 2 AND doc_id % 7 = 0 THEN NULL
        |         WHEN i.idx = 3 AND doc_id % 5 = 0 THEN ' '
        |         ELSE substring(text, CAST(i.idx * 20 + 1 AS INTEGER), 80) END AS body
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS idx) i),
        |firstk AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY post_id
        |                                 ORDER BY flat_idx) AS crn
        |    FROM c
        |    WHERE body IS NOT NULL AND body NOT IN ('[deleted]', '[removed]'))
        |  WHERE crn <= 2),
        |matching AS (
        |  SELECT DISTINCT m.post_id, m.query
        |  FROM firstk f JOIN (SELECT DISTINCT post_id, query FROM mp) m
        |    ON f.post_id = m.post_id AND contains(lower(f.body), m.query)),
        |commch AS (
        |  SELECT community, subscribers, 'Relevant Comment' AS found_via
        |  FROM mp WHERE EXISTS (SELECT 1 FROM matching x
        |                        WHERE x.post_id = mp.post_id AND x.query = mp.query)),
        |allch AS (
        |  SELECT * FROM direct UNION ALL
        |  SELECT * FROM postch UNION ALL
        |  SELECT * FROM commch),
        |agg AS (
        |  SELECT community, max(subscribers) AS members,
        |    list_sort(list(DISTINCT found_via)) AS via
        |  FROM allch GROUP BY community)
        |SELECT 'r/' || community AS "Community",
        |  CAST(CASE WHEN list_contains(via, 'Direct Search') THEN 1 ELSE 0 END
        |     + CASE WHEN list_contains(via, 'Relevant Post') THEN 2 ELSE 0 END
        |     + CASE WHEN list_contains(via, 'Relevant Comment') THEN 3 ELSE 0 END
        |    AS INTEGER) AS "Relevance Score",
        |  array_to_string(via, ', ') AS "Found Via",
        |  members AS "Members",
        |  'https://www.reddit.com/r/' || community AS "Community Link",
        |  'https://www.reddit.com/r/' || community || '/top/?t=month'
        |    AS "Top Posts (Month)"
        |FROM agg
        |ORDER BY "Relevance Score" DESC, "Members" DESC, "Community"""".stripMargin,
    // q70: the bloom pre-filter passes a superset and the exact join
    // removes the false positives — the composed result IS the plain
    // join, which is what the oracle states.
    "q70_bloom_prune" ->
      """SELECT p_brand, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size >= 45
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    // q71: the four regexes are INTERPOLATED from graft.ext.Redact so
    // the oracle evaluates the exact automaton the Spark side does —
    // the patterns cannot drift (they use only Java∩RE2 constructs).
    "q71_pii_redact" ->
      s"""WITH p AS (
        |  SELECT doc_id, concat_ws(' ', text,
        |    CASE WHEN doc_id % 3 = 0 THEN 'contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' END,
        |    CASE WHEN doc_id % 4 = 0 THEN 'see https://docs.example/'
        |      || CAST(doc_id % 13 AS VARCHAR) || '/p?id=' || CAST(doc_id AS VARCHAR) END,
        |    CASE WHEN doc_id % 5 = 0 THEN 'call +1 555-'
        |      || CAST(doc_id % 9000 + 1000 AS VARCHAR) END,
        |    CASE WHEN doc_id % 7 = 0 THEN 'host 10.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.0.' || CAST(doc_id % 100 AS VARCHAR) END) AS pii
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(pii, '${ext.Redact.EmailRe}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(pii, '${ext.Redact.UrlRe}')) AS INTEGER) AS n_urls,
        |  CAST(len(regexp_extract_all(pii, '${ext.Redact.Ipv4Re}')) AS INTEGER) AS n_ips,
        |  CAST(len(regexp_extract_all(pii, '${ext.Redact.PhoneRe}')) AS INTEGER) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(pii,
        |    '${ext.Redact.UrlRe}', '<URL>', 'g'),
        |    '${ext.Redact.EmailRe}', '<EMAIL>', 'g'),
        |    '${ext.Redact.Ipv4Re}', '<IP>', 'g'),
        |    '${ext.Redact.PhoneRe}', '<PHONE>', 'g')) AS red_md5
        |FROM p ORDER BY doc_id""".stripMargin,
    // q72: starts 1, 1+step, … up to max(n-overlap, 1); chunk_idx =
    // (start-1)/step is exact (starts are multiples of step plus 1).
    "q72_chunking" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents)
        |SELECT doc_id, CAST((s - 1) / 12 AS BIGINT) AS chunk_idx,
        |  CAST(len(toks[s:s+15]) AS INTEGER) AS chunk_len,
        |  md5(array_to_string(toks[s:s+15], ' ')) AS chunk_md5
        |FROM d, UNNEST(range(1, greatest(len(toks) - 4, 1) + 1, 12)) AS t(s)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // q73: expression trees mirrored operation-for-operation (same
    // associativity), so doubles agree bit-for-bit pre-rounding; tf,
    // dl, df, N are exact ints, avgdl one division of exact sums.
    "q73_bm25_rank" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, len(toks) AS dl,
        |    len(list_filter(toks, x -> x = 'spark')) AS tf0,
        |    len(list_filter(toks, x -> x = 'merge')) AS tf1,
        |    len(list_filter(toks, x -> x = 'vector')) AS tf2
        |  FROM d),
        |st AS (
        |  SELECT count(*) AS n, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM t)
        |SELECT doc_id, CAST(dl AS INTEGER) AS dl,
        |  CAST(tf0 AS INTEGER) AS tf_spark,
        |  CAST(tf1 AS INTEGER) AS tf_merge,
        |  CAST(tf2 AS INTEGER) AS tf_vector,
        |  round(ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        |      + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        |      + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6) AS bm25
        |FROM t, st ORDER BY bm25 DESC, doc_id LIMIT 50""".stripMargin,
    "q74_merge_upsert" ->
      """WITH ch AS (
        |  SELECT o_custkey AS c_custkey,
        |    'cust_' || CAST(o_orderkey AS VARCHAR) AS c_name,
        |    o_totalprice AS c_acctbal,
        |    CAST(epoch(o_orderdate) AS BIGINT) AS seq,
        |    CASE WHEN o_orderkey % 10 < 2 THEN 'D'
        |         WHEN o_custkey % 3 = 0 THEN 'I' ELSE 'U' END AS op,
        |    o_orderkey AS chg_id
        |  FROM orders),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |                                 ORDER BY seq DESC, chg_id DESC) AS rn
        |    FROM ch) WHERE rn = 1),
        |snap AS (SELECT c_custkey, c_name, c_acctbal FROM customer)
        |SELECT COALESCE(s.c_custkey, c.c_custkey) AS c_custkey,
        |  CASE WHEN c.op IS NOT NULL THEN c.c_name ELSE s.c_name END AS c_name,
        |  CASE WHEN c.op IS NOT NULL THEN c.c_acctbal ELSE s.c_acctbal END AS c_acctbal
        |FROM snap s FULL OUTER JOIN latest c ON s.c_custkey = c.c_custkey
        |WHERE c.op IS NULL OR c.op <> 'D'
        |ORDER BY c_custkey""".stripMargin,
    "q75_scd2_history" ->
      """WITH ch AS (
        |  SELECT o_custkey AS c_custkey,
        |    'cust_' || CAST(o_orderkey AS VARCHAR) AS c_name,
        |    o_totalprice AS c_acctbal,
        |    CAST(epoch(o_orderdate) AS BIGINT) AS seq,
        |    o_orderkey AS chg_id
        |  FROM orders)
        |SELECT c_custkey,
        |  CAST(row_number() OVER w AS INTEGER) AS version,
        |  c_name, c_acctbal,
        |  seq AS valid_from,
        |  lead(seq, 1) OVER w AS valid_to,
        |  (lead(seq, 1) OVER w IS NULL) AS is_current
        |FROM ch
        |WINDOW w AS (PARTITION BY c_custkey ORDER BY seq, chg_id)
        |ORDER BY c_custkey, version""".stripMargin,
    // q76: floor(epoch(ts)) mirrors Spark's unix_seconds truncation —
    // a bare CAST(DOUBLE AS BIGINT) would ROUND fractional seconds in
    // DuckDB and shift frame boundaries.
    "q76_rolling_window" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es
        |  FROM events)
        |SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  count(*) OVER w AS n_1h,
        |  round(sum(value) OVER w, 4) AS v_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY es
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // q77: capacity (8) exceeds the distinct event_type count, so the
    // MG sketch is exact and the oracle is the plain grouped count.
    "q77_freq_items" ->
      """SELECT event_type, count(*) AS est
        |FROM events GROUP BY event_type
        |ORDER BY est DESC, event_type""".stripMargin,
    // q78: distinct trigrams mirror the q22/q23 shingle derivation;
    // total = max(len(w) - 2, 0) so sub-trigram docs score 0.0.
    "q78_dup_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN
        |      len(list_distinct(list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
        |    ELSE 0 END AS d,
        |    greatest(len(w) - 2, 0) AS t
        |  FROM toks),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN t > 0 THEN round(1 - CAST(d AS DOUBLE) / t, 6)
        |         ELSE 0.0 END AS dup3
        |  FROM g)
        |SELECT doc_id, dup3, dup3 > 0.3 AS is_boiler
        |FROM r ORDER BY doc_id""".stripMargin,
    // q79: centroids quantized to 9 dp on both sides (q38's trick)
    // so summation-order ulps can't surface; the normalize/dot chain
    // is the q24/q25 sequential-fold vector SQL.
    "q79_centroid_outliers" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |d AS (
        |  SELECT label, unnest(v) AS x, unnest(range(1, len(v)+1)) AS i FROM e),
        |c AS (
        |  SELECT label, i, round(avg(x), 9) AS cx FROM d GROUP BY label, i),
        |cent AS (
        |  SELECT label, list(cx ORDER BY i) AS cv FROM c GROUP BY label),
        |n AS (
        |  SELECT vec_id, label,
        |    list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS nv
        |  FROM e),
        |nc AS (
        |  SELECT label,
        |    list_transform(cv, x -> x / sqrt(list_sum(list_transform(cv, y -> y * y)))) AS ncv
        |  FROM cent),
        |sc AS (
        |  SELECT vec_id, n.label AS label,
        |    round(list_sum(list_transform(range(1, len(nv)+1),
        |                                  j -> nv[j] * ncv[j])), 6) AS cos_centroid
        |  FROM n JOIN nc ON n.label = nc.label)
        |SELECT vec_id, label, cos_centroid, cos_centroid < 0.1 AS is_outlier
        |FROM sc ORDER BY vec_id""".stripMargin,
    "q80_vocabulary" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
        |  FROM documents),
        |v AS (
        |  SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |  FROM t GROUP BY token)
        |SELECT token, tf, df FROM v WHERE df >= 3
        |ORDER BY tf DESC, token LIMIT 100""".stripMargin,
    // q81: bucket arithmetic is q50's digit-by-digit md5 mirror; the
    // thresholds are round(0.8*2^20)=838861 and round(0.9*2^20)=943718,
    // exactly assignSplit's cumulative bounds.
    "q81_split_assign" ->
      """WITH h AS (
        |  SELECT event_type, md5(CAST(event_id AS VARCHAR) || '|0') AS hh
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1) AS bucket
        |  FROM h),
        |sp AS (
        |  SELECT event_type,
        |    CASE WHEN bucket < 838861 THEN 'train'
        |         WHEN bucket < 943718 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM b)
        |SELECT split, event_type, count(*) AS n
        |FROM sp GROUP BY split, event_type
        |ORDER BY split, event_type""".stripMargin,
    // q85: same reformulated expression tree (operand order included)
    // on both engines; floor(epoch) for Spark's truncation semantics;
    // (t, event_id) total order fixes the prefix-sum sequence.
    "q85_decay_score" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value,
        |    (CAST(floor(epoch(ts)) AS BIGINT) - 1704067200) / 86400.0 AS t
        |  FROM events)
        |SELECT event_id, user_id,
        |  round(exp(t * -0.1) * sum(value * exp(t * 0.1))
        |          OVER (PARTITION BY user_id ORDER BY t, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
        |    AS decay_score
        |FROM e ORDER BY event_id""".stripMargin,
    // q84: q62's feature CTEs at PNG dims; n_bytes is the stored-
    // block size formula raw + 68 with raw = h*(1+3w).
    "q84_png_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 6 AS INTEGER) AS w,
        |    CAST(3 + doc_id % 4 AS INTEGER) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, x.x AS x, y.y AS y
        |  FROM d
        |  CROSS JOIN (SELECT unnest(range(0, 10)) AS x) x
        |  CROSS JOIN (SELECT unnest(range(0, 7)) AS y) y
        |  WHERE x.x < w AND y.y < h),
        |ch AS (
        |  SELECT doc_id, w, h,
        |    CAST(sum((doc_id*7  + 3*x + 5*y) % 256) AS DOUBLE) / count(*) / 255.0 AS mb,
        |    CAST(sum((doc_id*11 + 3*x + 5*y) % 256) AS DOUBLE) / count(*) / 255.0 AS mg,
        |    CAST(sum((doc_id*13 + 3*x + 5*y) % 256) AS DOUBLE) / count(*) / 255.0 AS mr,
        |    CAST(sum(CASE WHEN y < (h+1)//2 THEN (doc_id*7 + 3*x + 5*y) % 256 ELSE 0 END) AS DOUBLE)
        |      / (w * ((h+1)//2)) / 255.0 AS mbt
        |  FROM px GROUP BY doc_id, w, h)
        |SELECT doc_id AS media_id, w AS width, h AS height,
        |  CAST(h * (1 + 3*w) + 68 AS BIGINT) AS n_bytes,
        |  floor(CAST(CAST(mb AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f0,
        |  floor(CAST(CAST(mg AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f1,
        |  floor(CAST(CAST(mr AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f2,
        |  floor(CAST(CAST(0.114*mb + 0.587*mg + 0.299*mr AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f3,
        |  floor(CAST(CAST(w/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f4,
        |  floor(CAST(CAST(h/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f5,
        |  floor(CAST(CAST(mbt AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f6,
        |  floor(CAST(CAST(CAST(w AS DOUBLE)/h AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f7
        |FROM ch ORDER BY media_id""".stripMargin,
    // q93: identical tree — clean/lower, substring bigrams, count,
    // ln(c/total), left join, coalesce to the ln(0.5/total) floor,
    // avg rounded 4dp on both sides (cross-partition double mean).
    "q93_lm_quality" ->
      s"""$lmChainCtes
        |SELECT doc_id, lm_score FROM scored ORDER BY doc_id""".stripMargin,
    // q196: q93's shared LM chain → exact interpolated terciles of
    // the ROUNDED scores (percentile ≡ quantile_cont to the bit, the
    // q124/q140 evidence) → head/middle/tail with >= boundaries —
    // per-bucket stats readout.
    "q196_ccnet_buckets" ->
      s"""$lmChainCtes,
        |b AS (SELECT quantile_cont(lm_score, [1.0/3, 2.0/3]) AS bs FROM scored),
        |x AS (
        |  SELECT doc_id, lm_score,
        |    CASE WHEN lm_score >= bs[2] THEN 'head'
        |         WHEN lm_score >= bs[1] THEN 'middle'
        |         ELSE 'tail' END AS bucket
        |  FROM scored CROSS JOIN b)
        |SELECT bucket, count(*) AS n_docs,
        |  round(min(lm_score), 4) AS min_score,
        |  round(max(lm_score), 4) AS max_score,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM x GROUP BY bucket ORDER BY bucket""".stripMargin,
    // q92: q50's md5 digit arithmetic re-derives the hash bucket; the
    // A-Res priority ln(h)/w uses the identical expression tree and
    // stays internal (cross-libm ulps) — only the selection is output.
    "q92_weighted_sample" ->
      """WITH b AS (
        |  SELECT doc_id, lang, n_chars,
        |    md5(CAST(doc_id AS VARCHAR) || '|0') AS hh
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
        |p AS (
        |  SELECT doc_id, lang, n_chars,
        |    ln((CAST((strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
        |      + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
        |      + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
        |      + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1) AS DOUBLE) + 0.5)
        |      / 1048576.0) / CAST(n_chars AS DOUBLE) AS pri
        |  FROM b)
        |SELECT lang, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY pri DESC, doc_id) AS rn
        |  FROM p)
        |WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin,
    // q91: q22's toks/sh shingle derivation; posting-list cap via
    // HAVING; count(*) per pair = distinct-shingle overlap because
    // shingles are list_distinct per doc on both sides.
    "q91_contamination" -> contaminationOracleSql,
    // q158: the bloom-pruned plan — superset prune + exact join ≡ the
    // unpruned screen, so it shares q91's oracle verbatim (the q70
    // composed-equality convention).
    "q158_contamination_bloom" -> contaminationOracleSql,
    // q97: the same md5 window keys, HAVING count(*) >= 2 as the
    // repetition gate, DISTINCT covered positions, and the kept-token
    // rebuild via a 0-based position anti-join — all integer/string
    // arithmetic, so text_clean itself is hash-compared exactly.
    "q97_span_removal" ->
      s"""$spanCoverCtes,
        |tok AS (
        |  SELECT doc_id, w[x.j + 1] AS tok, x.j AS j
        |  FROM t, LATERAL (SELECT unnest(range(0, len(w))) AS j) x),
        |kept AS (
        |  SELECT tok.doc_id,
        |    array_to_string(list(tok.tok ORDER BY tok.j), ' ') AS text_clean
        |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.j = cov.cj
        |  WHERE cov.cj IS NULL
        |  GROUP BY tok.doc_id),
        |rem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(len(w) AS INTEGER) AS n_tokens,
        |  CAST(coalesce(rem.n_removed, 0) AS INTEGER) AS n_removed,
        |  coalesce(kept.text_clean, '') AS text_clean
        |FROM t
        |LEFT JOIN rem ON t.doc_id = rem.doc_id
        |LEFT JOIN kept ON t.doc_id = kept.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // q90: grayscale block-constant JPEG — the all-8s quant table
    // makes the DC-only roundtrip bit-exact, so features are a pure
    // function of the block formula (x//8, y//8). Channel means are
    // all the gray mean; f3's weighted sum keeps the same operand
    // order as JpegCodec.features.
    "q90_jpeg_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(8 * (1 + doc_id % 3) AS INTEGER) AS w,
        |    CAST(8 * (1 + doc_id % 2) AS INTEGER) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, x.x AS x, y.y AS y
        |  FROM d
        |  CROSS JOIN (SELECT unnest(range(0, 24)) AS x) x
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS y) y
        |  WHERE x.x < w AND y.y < h),
        |pix AS (
        |  SELECT doc_id, w, h, x, y,
        |    (doc_id*31 + (x//8)*7 + (y//8)*11) % 256 AS v
        |  FROM px),
        |ch AS (
        |  SELECT doc_id, w, h,
        |    CAST(sum(v) AS DOUBLE) / count(*) / 255.0 AS m,
        |    CAST(sum(CASE WHEN y < (h+1)//2 THEN v ELSE 0 END) AS DOUBLE)
        |      / (w * ((h+1)//2)) / 255.0 AS mt
        |  FROM pix GROUP BY doc_id, w, h)
        |SELECT doc_id AS media_id, w AS width, h AS height,
        |  floor(CAST(CAST(m AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f0,
        |  floor(CAST(CAST(m AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f1,
        |  floor(CAST(CAST(m AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f2,
        |  floor(CAST(CAST(0.114*m + 0.587*m + 0.299*m AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f3,
        |  floor(CAST(CAST(w/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f4,
        |  floor(CAST(CAST(h/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f5,
        |  floor(CAST(CAST(mt AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f6,
        |  floor(CAST(CAST(CAST(w AS DOUBLE)/h AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f7
        |FROM ch ORDER BY media_id""".stripMargin,
    // q89: deliberately the PLAIN single-window form (q76's shape) —
    // Spark runs the per-second preagg form, so a hash match is a
    // proof of the forms' equivalence, not a mirrored computation.
    "q89_rolling_preagg" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es
        |  FROM events)
        |SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  count(*) OVER w AS n_1h,
        |  round(sum(value) OVER w, 4) AS v_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY es
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // q96: the SAME plain-window SQL as q89 — Spark picks the arm
    // (plain under uniform keys, preagg past the 1/32 hot share) and
    // the hash match proves the choice is invisible to semantics at
    // whichever sf the driver runs.
    "q96_rolling_auto" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es
        |  FROM events)
        |SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  count(*) OVER w AS n_1h,
        |  round(sum(value) OVER w, 4) AS v_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY es
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // q98: deliberately q85's PLAIN running-sum SQL — the auto wrapper
    // must be semantically invisible whichever arm the probe picks
    // (chunked at the hot sf0.001, plain at sf0.01/0.1).
    "q98_decay_auto" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value,
        |    (CAST(floor(epoch(ts)) AS BIGINT) - 1704067200) / 86400.0 AS t
        |  FROM events)
        |SELECT event_id, user_id,
        |  round(exp(t * -0.1) * sum(value * exp(t * 0.1))
        |          OVER (PARTITION BY user_id ORDER BY t, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
        |    AS decay_score
        |FROM e ORDER BY event_id""".stripMargin,
    // q99: animated-GIF compositing from the paint-order formulas —
    // for each sampled frame f, a pixel shows the LATEST delta frame
    // g <= f whose 3x2 rect covers it with a non-transparent index
    // (i_g != 0), else the full-screen base image. Channel means then
    // go through q87's palette formulas and REAL-narrowing chain.
    "q99_video_frames" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(6 + doc_id % 4 AS INTEGER) AS w,
        |    CAST(4 + doc_id % 3 AS INTEGER) AS h,
        |    CAST(2 + doc_id % 3 AS INTEGER) AS nf
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, h, nf, f.f AS f
        |  FROM d, LATERAL (SELECT unnest(range(0, 4)) AS f) f
        |  WHERE f.f < nf AND f.f % 2 = 0),
        |px AS (
        |  SELECT doc_id, w, h, nf, f, x.x AS x, y.y AS y
        |  FROM fr
        |  CROSS JOIN (SELECT unnest(range(0, 9)) AS x) x
        |  CROSS JOIN (SELECT unnest(range(0, 6)) AS y) y
        |  WHERE x.x < w AND y.y < h),
        |pix AS (
        |  SELECT doc_id, w, h, nf, f, x, y,
        |    CASE
        |      WHEN f >= 3
        |        AND x BETWEEN (doc_id + 6) % (w-2) AND (doc_id + 6) % (w-2) + 2
        |        AND y BETWEEN (doc_id + 9) % (h-1) AND (doc_id + 9) % (h-1) + 1
        |        AND (doc_id + 21 + 3*x + 5*y) % 64 != 0
        |        THEN (doc_id + 21 + 3*x + 5*y) % 64
        |      WHEN f >= 2
        |        AND x BETWEEN (doc_id + 4) % (w-2) AND (doc_id + 4) % (w-2) + 2
        |        AND y BETWEEN (doc_id + 6) % (h-1) AND (doc_id + 6) % (h-1) + 1
        |        AND (doc_id + 14 + 3*x + 5*y) % 64 != 0
        |        THEN (doc_id + 14 + 3*x + 5*y) % 64
        |      WHEN f >= 1
        |        AND x BETWEEN (doc_id + 2) % (w-2) AND (doc_id + 2) % (w-2) + 2
        |        AND y BETWEEN (doc_id + 3) % (h-1) AND (doc_id + 3) % (h-1) + 1
        |        AND (doc_id + 7 + 3*x + 5*y) % 64 != 0
        |        THEN (doc_id + 7 + 3*x + 5*y) % 64
        |      ELSE (doc_id + 3*x + 5*y) % 64
        |    END AS i
        |  FROM px),
        |ch AS (
        |  SELECT doc_id, w, h, nf, f,
        |    CAST(sum((doc_id*7  + 3*i) % 256) AS DOUBLE) / count(*) / 255.0 AS mb,
        |    CAST(sum((doc_id*11 + 7*i) % 256) AS DOUBLE) / count(*) / 255.0 AS mg,
        |    CAST(sum((doc_id*13 + 5*i) % 256) AS DOUBLE) / count(*) / 255.0 AS mr,
        |    CAST(sum(CASE WHEN y < (h+1)//2 THEN (doc_id*7 + 3*i) % 256 ELSE 0 END) AS DOUBLE)
        |      / (w * ((h+1)//2)) / 255.0 AS mbt
        |  FROM pix GROUP BY doc_id, w, h, nf, f)
        |SELECT doc_id AS media_id,
        |  CAST(f AS INTEGER) AS frame_idx,
        |  CAST(10 + f AS INTEGER) AS delay_cs,
        |  nf AS n_frames, w AS width, h AS height,
        |  floor(CAST(CAST(mb AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f0,
        |  floor(CAST(CAST(mg AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f1,
        |  floor(CAST(CAST(mr AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f2,
        |  floor(CAST(CAST(0.114*mb + 0.587*mg + 0.299*mr AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f3,
        |  floor(CAST(CAST(w/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f4,
        |  floor(CAST(CAST(h/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f5,
        |  floor(CAST(CAST(mbt AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f6,
        |  floor(CAST(CAST(CAST(w AS DOUBLE)/h AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f7
        |FROM ch ORDER BY media_id, frame_idx""".stripMargin,
    // q100: every resized pixel is the truncating integer mean of its
    // 2x2 source block (partial edge blocks over their actual count),
    // then q62's feature/narrowing chain over the RESIZED grid and
    // the closed-form BMP size of the NEW dims.
    "q100_resize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(7 + doc_id % 5 AS INTEGER) AS w,
        |    CAST(5 + doc_id % 4 AS INTEGER) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, x.x AS x, y.y AS y,
        |    (doc_id*13 + 3*x.x + 5*y.y) % 256 AS r,
        |    (doc_id*11 + 3*x.x + 5*y.y) % 256 AS g,
        |    (doc_id*7  + 3*x.x + 5*y.y) % 256 AS b
        |  FROM d
        |  CROSS JOIN (SELECT unnest(range(0, 11)) AS x) x
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS y) y
        |  WHERE x.x < w AND y.y < h),
        |rx AS (
        |  SELECT doc_id, w, h, x//2 AS x2, y//2 AS y2,
        |    sum(r)//count(*) AS rv, sum(g)//count(*) AS gv, sum(b)//count(*) AS bv
        |  FROM px GROUP BY doc_id, w, h, x//2, y//2),
        |ch AS (
        |  SELECT doc_id, w, h, (w+1)//2 AS w2, (h+1)//2 AS h2,
        |    CAST(sum(bv) AS DOUBLE) / count(*) / 255.0 AS mb,
        |    CAST(sum(gv) AS DOUBLE) / count(*) / 255.0 AS mg,
        |    CAST(sum(rv) AS DOUBLE) / count(*) / 255.0 AS mr,
        |    CAST(sum(CASE WHEN y2 < ((h+1)//2 + 1)//2 THEN bv ELSE 0 END) AS DOUBLE)
        |      / ((w+1)//2 * (((h+1)//2 + 1)//2)) / 255.0 AS mbt
        |  FROM rx GROUP BY doc_id, w, h)
        |SELECT doc_id AS media_id,
        |  w AS orig_width, h AS orig_height,
        |  CAST(w2 AS INTEGER) AS width, CAST(h2 AS INTEGER) AS height,
        |  CAST(54 + ((w2*3 + 3)//4)*4*h2 AS BIGINT) AS n_bytes,
        |  floor(CAST(CAST(mb AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f0,
        |  floor(CAST(CAST(mg AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f1,
        |  floor(CAST(CAST(mr AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f2,
        |  floor(CAST(CAST(0.114*mb + 0.587*mg + 0.299*mr AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f3,
        |  floor(CAST(CAST(w2/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f4,
        |  floor(CAST(CAST(h2/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f5,
        |  floor(CAST(CAST(mbt AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f6,
        |  floor(CAST(CAST(CAST(w2 AS DOUBLE)/h2 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f7
        |FROM ch ORDER BY media_id""".stripMargin,
    // q101: hashes rebuilt bit by bit from the REAL integer
    // arithmetic (luma x1000 block means, truncating global mean,
    // v > m), then the BRUTE-FORCE hamming pair set — the banded join
    // must lose nothing at maxHamming 3 (pigeonhole over 4 bands).
    "q101_image_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents),
        |bv AS (
        |  SELECT doc_id, j.j AS j,
        |    CASE WHEN ((strpos('0123456789abcdef', substr(md5(CAST(g AS VARCHAR) || '|' || CAST(j.j AS VARCHAR)), 1, 1)) - 1) % 2 = 1) != (j.j < m)
        |         THEN 200000 ELSE 40000 END AS v
        |  FROM d, LATERAL (SELECT unnest(range(0, 64)) AS j) j),
        |gm AS (SELECT doc_id, sum(v) // 64 AS gmean FROM bv GROUP BY doc_id),
        |hb AS (
        |  SELECT bv.doc_id, j, CASE WHEN v > gmean THEN 1 ELSE 0 END AS bit
        |  FROM bv JOIN gm ON bv.doc_id = gm.doc_id),
        |pb AS (
        |  SELECT ba.doc_id AS id_a, bb.doc_id AS id_b,
        |    CAST(sum(CASE WHEN ba.bit != bb.bit THEN 1 ELSE 0 END) AS INTEGER)
        |      AS hamming
        |  FROM hb ba JOIN hb bb ON ba.j = bb.j AND ba.doc_id < bb.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, hamming FROM pb
        |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
    // q103: q101's hash derivation with the duplicate-member twist,
    // then BRUTE-FORCE all-pairs <=3 and a recursive-CTE transitive
    // closure — the representative-collapse shortcut must reproduce
    // the closure exactly, with member counts (not rep counts).
    "q103_image_clusters" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, doc_id // 4 AS g,
        |    CASE WHEN doc_id % 4 = 3 THEN 0 ELSE doc_id % 4 END AS m
        |  FROM documents),
        |bv AS (
        |  SELECT doc_id, j.j AS j,
        |    CASE WHEN ((strpos('0123456789abcdef', substr(md5(CAST(g AS VARCHAR) || '|' || CAST(j.j AS VARCHAR)), 1, 1)) - 1) % 2 = 1) != (j.j < m)
        |         THEN 200000 ELSE 40000 END AS v
        |  FROM d, LATERAL (SELECT unnest(range(0, 64)) AS j) j),
        |gm AS (SELECT doc_id, sum(v) // 64 AS gmean FROM bv GROUP BY doc_id),
        |hb AS (
        |  SELECT bv.doc_id, j, CASE WHEN v > gmean THEN 1 ELSE 0 END AS bit
        |  FROM bv JOIN gm ON bv.doc_id = gm.doc_id),
        |pb AS (
        |  SELECT ba.doc_id AS id_a, bb.doc_id AS id_b
        |  FROM hb ba JOIN hb bb ON ba.j = bb.j AND ba.doc_id < bb.doc_id
        |  GROUP BY 1, 2
        |  HAVING sum(CASE WHEN ba.bit != bb.bit THEN 1 ELSE 0 END) <= 3),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pb
        |  UNION ALL SELECT id_b, id_a FROM pb),
        |rec AS (
        |  SELECT DISTINCT src AS v, src AS mm FROM edges
        |  UNION
        |  SELECT e.dst AS v, r.mm FROM rec r JOIN edges e ON e.src = r.v),
        |comp AS (SELECT v, min(mm) AS cluster_id FROM rec GROUP BY v),
        |lab AS (
        |  SELECT d.doc_id AS id, coalesce(comp.cluster_id, d.doc_id) AS cluster_id
        |  FROM d LEFT JOIN comp ON comp.v = d.doc_id),
        |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id)
        |SELECT id, lab.cluster_id, cluster_size
        |FROM lab JOIN sizes USING (cluster_id)
        |ORDER BY id""".stripMargin,
    // q104: the whole chain in one oracle — q103's closure for
    // survivorship, then the resized 8x8 features DIRECTLY from the
    // block values (each 2x2 source block is constant, so the
    // truncating box mean is exactly the block value), the
    // closed-form thumbnail BMP size, and the token gate.
    "q104_media_prep" ->
      raw"""WITH RECURSIVE d AS (
        |  SELECT doc_id, doc_id // 4 AS g,
        |    CASE WHEN doc_id % 4 = 3 THEN 0 ELSE doc_id % 4 END AS m
        |  FROM documents),
        |bb AS (
        |  SELECT doc_id, j.j AS j,
        |    CASE WHEN ((strpos('0123456789abcdef', substr(md5(CAST(g AS VARCHAR) || '|' || CAST(j.j AS VARCHAR)), 1, 1)) - 1) % 2 = 1) != (j.j < m)
        |         THEN 1 ELSE 0 END AS b
        |  FROM d, LATERAL (SELECT unnest(range(0, 64)) AS j) j),
        |gm AS (SELECT doc_id, sum(40000 + 160000*b) // 64 AS gmean FROM bb GROUP BY doc_id),
        |hb AS (
        |  SELECT bb.doc_id, j, CASE WHEN 40000 + 160000*b > gmean THEN 1 ELSE 0 END AS bit
        |  FROM bb JOIN gm ON bb.doc_id = gm.doc_id),
        |pb AS (
        |  SELECT ba.doc_id AS id_a, bbb.doc_id AS id_b
        |  FROM hb ba JOIN hb bbb ON ba.j = bbb.j AND ba.doc_id < bbb.doc_id
        |  GROUP BY 1, 2
        |  HAVING sum(CASE WHEN ba.bit != bbb.bit THEN 1 ELSE 0 END) <= 3),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pb
        |  UNION ALL SELECT id_b, id_a FROM pb),
        |rec AS (
        |  SELECT DISTINCT src AS v, src AS mm FROM edges
        |  UNION
        |  SELECT e.dst AS v, r.mm FROM rec r JOIN edges e ON e.src = r.v),
        |comp AS (SELECT v, min(mm) AS cluster_id FROM rec GROUP BY v),
        |lab AS (
        |  SELECT d.doc_id AS id, coalesce(comp.cluster_id, d.doc_id) AS cluster_id
        |  FROM d LEFT JOIN comp ON comp.v = d.doc_id),
        |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY cluster_id),
        |keep AS (
        |  SELECT lab.id, sizes.cluster_size FROM lab JOIN sizes USING (cluster_id)
        |  WHERE lab.id = lab.cluster_id),
        |ch AS (
        |  SELECT doc_id, CAST(sum(40 + 160*b) AS DOUBLE) / 64 / 255.0 AS mm
        |  FROM bb GROUP BY doc_id),
        |tok AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS INTEGER) AS n_tokens
        |  FROM documents)
        |SELECT keep.id AS media_id, keep.cluster_size,
        |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  CAST(54 + ((8*3 + 3)//4)*4*8 AS BIGINT) AS n_bytes,
        |  floor(CAST(CAST(0.114*mm + 0.587*mm + 0.299*mm AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f3,
        |  tok.n_tokens
        |FROM keep JOIN ch ON ch.doc_id = keep.id
        |JOIN tok ON tok.doc_id = keep.id
        |WHERE tok.n_tokens >= 40
        |ORDER BY media_id""".stripMargin,
    // q102: segment energies recomputed from the per-frame squared
    // samples (frame f's value depends on its segment f//2 only),
    // delta bits via the seg+1 self-join, then the brute-force
    // hamming pair set — q101's completeness proof, audio modality.
    "q102_audio_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents),
        |fe AS (
        |  SELECT doc_id, f.f // 2 AS seg,
        |    sum(CASE WHEN ((strpos('0123456789abcdef', substr(md5(CAST(g AS VARCHAR) || '|' || CAST(f.f//2 AS VARCHAR)), 1, 1)) - 1) % 2 = 1)
        |                  != (f.f//2 < m)
        |             THEN 1500*1500 ELSE 300*300 END) AS e
        |  FROM d, LATERAL (SELECT unnest(range(0, 130)) AS f) f
        |  GROUP BY doc_id, f.f // 2),
        |hb AS (
        |  SELECT a.doc_id, a.seg AS j,
        |    CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
        |  FROM fe a JOIN fe b ON a.doc_id = b.doc_id AND b.seg = a.seg + 1
        |  WHERE a.seg < 64),
        |pb AS (
        |  SELECT ba.doc_id AS id_a, bb.doc_id AS id_b,
        |    CAST(sum(CASE WHEN ba.bit != bb.bit THEN 1 ELSE 0 END) AS INTEGER)
        |      AS hamming
        |  FROM hb ba JOIN hb bb ON ba.j = bb.j AND ba.doc_id < bb.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, hamming FROM pb
        |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,
    // q88: the chunked two-pass tree mirrored EXACTLY — u in (t, tie)
    // window order within (user, chunk), chunk total picked by
    // reversed row_number (never a re-folded GROUP BY sum), offset as
    // a running window over chunk totals, same operand order in the
    // final expression. floor(epoch) matches Spark's truncation.
    "q88_decay_chunked" ->
      """WITH e AS (
        |  SELECT event_id, user_id, value,
        |    (CAST(floor(epoch(ts)) AS BIGINT) - 1704067200) / 86400.0 AS t
        |  FROM events),
        |c AS (
        |  SELECT event_id, user_id, t,
        |    CAST(floor(t / 7.0) AS BIGINT) AS chunk,
        |    value * exp(t * 0.1) AS u
        |  FROM e),
        |w AS (
        |  SELECT *, sum(u) OVER (PARTITION BY user_id, chunk ORDER BY t, event_id
        |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS within
        |  FROM c),
        |tot AS (
        |  SELECT user_id, chunk, within AS ct FROM (
        |    SELECT user_id, chunk, within,
        |      row_number() OVER (PARTITION BY user_id, chunk
        |                         ORDER BY t DESC, event_id DESC) AS rn
        |    FROM w)
        |  WHERE rn = 1),
        |off AS (
        |  SELECT user_id, chunk,
        |    coalesce(sum(ct) OVER (PARTITION BY user_id ORDER BY chunk
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |             0.0) AS offs
        |  FROM tot)
        |SELECT w.event_id, w.user_id,
        |  round(exp(w.t * -0.1) * (off.offs + w.within), 4) AS decay_score
        |FROM w JOIN off ON w.user_id = off.user_id AND w.chunk = off.chunk
        |ORDER BY w.event_id""".stripMargin,
    // q87: q84's CTE shape, but channel values go through the palette
    // indirection — pixel -> LZW-coded palette index -> palette entry —
    // so the oracle checks the ENTROPY DECODE bit-for-bit (a wrong
    // index anywhere shifts a mean). No n_bytes: entropy-coded size is
    // data-dependent by design.
    "q87_gif_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 6 AS INTEGER) AS w,
        |    CAST(3 + doc_id % 4 AS INTEGER) AS h
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, w, h, x.x AS x, y.y AS y
        |  FROM d
        |  CROSS JOIN (SELECT unnest(range(0, 10)) AS x) x
        |  CROSS JOIN (SELECT unnest(range(0, 7)) AS y) y
        |  WHERE x.x < w AND y.y < h),
        |pix AS (
        |  SELECT doc_id, w, h, x, y, (doc_id + 3*x + 5*y) % 64 AS i
        |  FROM px),
        |ch AS (
        |  SELECT doc_id, w, h,
        |    CAST(sum((doc_id*7  + 3*i) % 256) AS DOUBLE) / count(*) / 255.0 AS mb,
        |    CAST(sum((doc_id*11 + 7*i) % 256) AS DOUBLE) / count(*) / 255.0 AS mg,
        |    CAST(sum((doc_id*13 + 5*i) % 256) AS DOUBLE) / count(*) / 255.0 AS mr,
        |    CAST(sum(CASE WHEN y < (h+1)//2 THEN (doc_id*7 + 3*i) % 256 ELSE 0 END) AS DOUBLE)
        |      / (w * ((h+1)//2)) / 255.0 AS mbt
        |  FROM pix GROUP BY doc_id, w, h)
        |SELECT doc_id AS media_id, w AS width, h AS height,
        |  floor(CAST(CAST(mb AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f0,
        |  floor(CAST(CAST(mg AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f1,
        |  floor(CAST(CAST(mr AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f2,
        |  floor(CAST(CAST(0.114*mb + 0.587*mg + 0.299*mr AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f3,
        |  floor(CAST(CAST(w/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f4,
        |  floor(CAST(CAST(h/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f5,
        |  floor(CAST(CAST(mbt AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f6,
        |  floor(CAST(CAST(CAST(w AS DOUBLE)/h AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f7
        |FROM ch ORDER BY media_id""".stripMargin,
    // q83: every stage's mirror is proven elsewhere — q71's pii
    // derivation + interpolated redaction patterns, q28's quality
    // formula, q72's chunk windows, q21-style min-survivor dedup as a
    // row_number pick, q50's bucket arithmetic with q81's thresholds.
    "q83_prep_pipeline" ->
      raw"""WITH t AS (
        |  SELECT doc_id, text,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS clean,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |qf AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      CAST(len(w) AS DOUBLE) AS n,
        |      CAST(len(list_distinct(w)) AS DOUBLE) AS d,
        |      (CAST(length(clean) AS DOUBLE) - (len(w) - 1)) / len(w) AS ml
        |    FROM t)
        |  WHERE round(least(n / 20.0, 1.0) * (d / n)
        |        * (CASE WHEN ml BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END), 4) >= 0.3),
        |p AS (
        |  SELECT doc_id, concat_ws(' ', text,
        |    CASE WHEN doc_id % 3 = 0 THEN 'contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' END,
        |    CASE WHEN doc_id % 4 = 0 THEN 'see https://docs.example/'
        |      || CAST(doc_id % 13 AS VARCHAR) || '/p?id=' || CAST(doc_id AS VARCHAR) END) AS pii
        |  FROM qf),
        |r AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(pii,
        |      '${ext.Redact.UrlRe}', '<URL>', 'g'),
        |      '${ext.Redact.EmailRe}', '<EMAIL>', 'g'),
        |      '${ext.Redact.Ipv4Re}', '<IP>', 'g'),
        |      '${ext.Redact.PhoneRe}', '<PHONE>', 'g') AS red
        |  FROM p),
        |w2 AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(red, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM r),
        |ch AS (
        |  SELECT doc_id, CAST((s - 1) / 12 AS BIGINT) AS chunk_idx,
        |    md5(array_to_string(w[s:s+15], ' ')) AS chunk_md5
        |  FROM w2, UNNEST(range(1, greatest(len(w) - 4, 1) + 1, 12)) AS u(s)),
        |ded AS (
        |  SELECT doc_id, chunk_idx, chunk_md5 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY chunk_md5
        |                                 ORDER BY doc_id, chunk_idx) AS rn
        |    FROM ch) WHERE rn = 1),
        |h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || '|0') AS hh FROM ded),
        |b AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1) AS bucket
        |  FROM h),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN bucket < 838861 THEN 'train'
        |         WHEN bucket < 943718 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM b)
        |SELECT split, count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs
        |FROM sp GROUP BY split ORDER BY split""".stripMargin,
    // q82: quality formula is q28's oracle; percent_rank over the
    // total order (quality, doc_id) is the same exact rational in
    // both engines.
    "q82_quality_pctl" ->
      raw"""WITH t AS (
        |  SELECT doc_id, source,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS clean,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, source,
        |    $qualitySql AS quality
        |  FROM t),
        |p AS (
        |  SELECT doc_id, source, quality,
        |    round(percent_rank() OVER (PARTITION BY source
        |                               ORDER BY quality, doc_id), 6) AS pctl
        |  FROM q)
        |SELECT doc_id, source, quality, pctl, pctl >= 0.2 AS keep
        |FROM p ORDER BY doc_id""".stripMargin,
    // q105: same URL synthesis from doc_id, the SAME parts regex
    // verbatim (interpolated from UrlOps so the two can never
    // drift), and the same suffix-set domain collapse — then the
    // per-domain aggregate and blocklist filter.
    "q105_url_domains" ->
      s"""WITH u AS (
        |  SELECT doc_id, lang, n_chars,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN 'u' || CAST(doc_id % 5 AS VARCHAR) || ':pw@' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'a.b.' ELSE '' END)
        |    || 'site' || CAST(doc_id % 40 AS VARCHAR) || '.'
        |    || (CASE doc_id % 4 WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com' WHEN 2 THEN 'org' ELSE 'io' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END)
        |    || '/p/' || CAST(doc_id % 13 AS VARCHAR)
        |    || (CASE WHEN doc_id % 2 = 0 THEN '?id=' || CAST(doc_id AS VARCHAR) || '&ref=x' ELSE '' END)
        |    || (CASE WHEN doc_id % 11 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, lang, n_chars,
        |    regexp_extract(url, '${ext.UrlOps.UrlPartsRe}', 2) AS host,
        |    nullif(regexp_extract(url, '${ext.UrlOps.UrlPartsRe}', 3), '') AS port,
        |    nullif(regexp_extract(url, '${ext.UrlOps.UrlPartsRe}', 5), '') AS query
        |  FROM u),
        |r AS (SELECT *, string_split(host, '.') AS l FROM p),
        |dm AS (
        |  SELECT doc_id, lang, n_chars, port, query,
        |    CASE WHEN len(l) <= 1 THEN host
        |         WHEN len(l) >= 3 AND l[-2] IN ('co','com','net','org','gov','ac','edu')
        |              AND length(l[-1]) = 2
        |           THEN array_to_string(l[greatest(len(l)-2,1):], '.')
        |         ELSE array_to_string(l[greatest(len(l)-1,1):], '.') END AS domain
        |  FROM r)
        |SELECT domain, count(*) AS n_docs,
        |  count(DISTINCT lang) AS n_langs,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  CAST(sum(CASE WHEN query IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_query,
        |  CAST(sum(CASE WHEN port IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_port
        |FROM dm
        |WHERE domain NOT IN ('site0.co.uk', 'site13.com')
        |GROUP BY domain
        |ORDER BY domain""".stripMargin,
    // q106: the shared q38 train+assign chain (quantized centroids →
    // reproducible clusters), then the ε-ball drop rule as NOT
    // EXISTS over the within-cluster pair predicate — cluster-count
    // cap mirrored as HAVING (no fixture cluster reaches it, like
    // the q22/q40 bucket caps).
    "q106_semdedup" -> semDedupOracleSql,
    // q112: the corpus-sized form (q150's semDedupAuto) must reproduce
    // q106 exactly — the derived k equals the pinned 16 at every
    // fixture size (floor), so one oracle serves both and any drift in
    // the sizing path hash-fails.
    "q112_semdedup_sized" -> semDedupOracleSql,
    // q150: the AUTO form floors to the same pinned configuration
    // (k=16; the derived partition count is purely physical).
    "q150_semdedup_auto" -> semDedupOracleSql,
    // q107: q93's bigram-LM chain instantiated twice over ONE bg
    // stream (target = lang 'en', raw = all), the rounded likelihood
    // ratio, then q92's md5-digit A-Res priority per language —
    // priority internal, selection + scores output.
    "q107_dsir_sample" ->
      raw"""WITH t AS (
        |  SELECT doc_id, lang,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS c
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, lang, substring(c, CAST(i.i AS INTEGER), 2) AS bg
        |  FROM t, LATERAL (SELECT unnest(range(1, length(c))) AS i) i
        |  WHERE length(c) >= 2),
        |cntT AS (SELECT bg, count(*) AS c FROM bg WHERE lang = 'en' GROUP BY bg),
        |totT AS (SELECT sum(c) AS total FROM cntT),
        |mT AS (SELECT bg, ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) AS logp
        |       FROM cntT CROSS JOIN totT),
        |fT AS (SELECT ln(0.5 / CAST(total AS DOUBLE)) AS f FROM totT),
        |cntR AS (SELECT bg, count(*) AS c FROM bg GROUP BY bg),
        |totR AS (SELECT sum(c) AS total FROM cntR),
        |mR AS (SELECT bg, ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) AS logp
        |       FROM cntR CROSS JOIN totR),
        |fR AS (SELECT ln(0.5 / CAST(total AS DOUBLE)) AS f FROM totR),
        |sc AS (
        |  SELECT bg.doc_id,
        |    round(avg(coalesce(mT.logp, fT.f)), 4) AS lm_target,
        |    round(avg(coalesce(mR.logp, fR.f)), 4) AS lm_raw
        |  FROM bg CROSS JOIN fT CROSS JOIN fR
        |  LEFT JOIN mT ON bg.bg = mT.bg
        |  LEFT JOIN mR ON bg.bg = mR.bg
        |  GROUP BY bg.doc_id),
        |w AS (
        |  SELECT doc_id, lm_target, lm_raw,
        |    round(exp(lm_target - lm_raw), 6) AS weight
        |  FROM sc),
        |b AS (
        |  SELECT d.doc_id, d.lang, w.lm_target, w.lm_raw, w.weight,
        |    md5(CAST(d.doc_id AS VARCHAR) || '|0') AS hh
        |  FROM documents d JOIN w ON w.doc_id = d.doc_id
        |  WHERE d.doc_id IS NOT NULL AND w.weight IS NOT NULL AND w.weight > 0),
        |p AS (
        |  SELECT doc_id, lang, lm_target, lm_raw, weight,
        |    ln((CAST((strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
        |      + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
        |      + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
        |      + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1) AS DOUBLE) + 0.5)
        |      / 1048576.0) / weight AS pri
        |  FROM b)
        |SELECT lang, doc_id, lm_target, lm_raw, weight FROM (
        |  SELECT lang, doc_id, lm_target, lm_raw, weight,
        |    row_number() OVER (PARTITION BY lang ORDER BY pri DESC, doc_id) AS rn
        |  FROM p)
        |WHERE rn <= 8
        |ORDER BY lang, doc_id""".stripMargin,
    // q108: every sampled frame's features straight from the fixture
    // formula — frame f is CONSTANT gray v = (id*37 + f*17) % 256,
    // which the all-8s-quant JPEG reproduces bit-exactly, so every
    // mean is exactly v/255 (meanBTop included); delay_cs =
    // usPerFrame/10000; the f%2 predicate mirrors every=2 sampling.
    "q108_avi_decode" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(8 * (1 + doc_id % 2) AS INTEGER) AS w,
        |    CAST(1 + doc_id % 4 AS INTEGER) AS nf,
        |    CAST(1 + doc_id % 3 AS INTEGER) AS dcs
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, nf, dcs, f.f AS f,
        |    CAST((doc_id*37 + f.f*17) % 256 AS DOUBLE) / 255.0 AS m
        |  FROM d, LATERAL (SELECT unnest(range(0, 4)) AS f) f
        |  WHERE f.f < nf AND f.f % 2 = 0)
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
        |  dcs AS delay_cs, nf AS n_frames, w AS width,
        |  CAST(8 AS INTEGER) AS height,
        |  floor(CAST(CAST(m AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f0,
        |  floor(CAST(CAST(m AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f1,
        |  floor(CAST(CAST(m AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f2,
        |  floor(CAST(CAST(0.114*m + 0.587*m + 0.299*m AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f3,
        |  floor(CAST(CAST(w/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f4,
        |  floor(CAST(CAST(8/100.0 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f5,
        |  floor(CAST(CAST(m AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f6,
        |  floor(CAST(CAST(CAST(w AS DOUBLE)/8 AS REAL) AS DOUBLE) * 1000000) / 1000000.0 AS f7
        |FROM fr ORDER BY media_id, frame_idx""".stripMargin,
    // q109: the same 3 PageRank rounds unrolled — per-round round(,9)
    // on BOTH sides absorbs engine summation order (the q38 trick),
    // (1 - 0.85) is COMPUTED on both sides so the 2e-17 literal
    // difference can't creep in, and coalesce(c, 0) covers nodes
    // with no in-edges.
    "q109_pagerank" ->
      s"""WITH e AS (
        |  SELECT DISTINCT doc_id % 37 AS s, (doc_id * 7 + 3) % 40 AS t
        |  FROM documents),
        |$pageRankRoundsSql
        |SELECT 'site' || CAST(n AS VARCHAR) AS domain, round(r, 6) AS rank
        |FROM r3 ORDER BY domain""".stripMargin,
    // q187: q109's edge fixture with the per-round dangling term —
    // the dangling sum is an exact integer nano-unit aggregation
    // (round(,9) ranks make r·1e9 integral up to double error, never
    // near .5), re-entering the update as dmu/1e9/nn in the identical
    // operation order on both sides.
    "q187_pagerank_dangling" ->
      s"""WITH e AS (
        |  SELECT DISTINCT doc_id % 37 AS s, (doc_id * 7 + 3) % 40 AS t
        |  FROM documents),
        |$pageRankDanglingRoundsSql
        |SELECT 'site' || CAST(n AS VARCHAR) AS domain, round(r, 6) AS rank
        |FROM r3 ORDER BY domain""".stripMargin,
    // q190: the shared synthesized lines + the same three C4 rules
    // folded per line (fold/trim/normalize before every check, the
    // c4LineClean contract); all integer/string arithmetic.
    "q190_c4_line_clean" ->
      s"""$c4CleanCtes
        |SELECT doc_id,
        |  CAST(n_lines AS INTEGER) AS n_lines,
        |  CAST(len(kept) AS INTEGER) AS n_kept,
        |  (len(kept) >= 3) AS kept_doc,
        |  -- DuckDB array_to_string of an EMPTY list is NULL; Spark's
        |  -- array_join is '' — coalesce so the every-line-dropped doc
        |  -- hashes identically on both sides
        |  md5(COALESCE(array_to_string(kept, chr(10)), '')) AS clean_md5
        |FROM cl ORDER BY doc_id""".stripMargin,
    // q197: the FineWeb-shaped capstone — the SHARED c4 clean CTEs →
    // global paragraph dedup over the CLEANED lines (the q195 window
    // mirror) → token counts → the q167 packing window at capacity
    // 256. Every stage reuses its own query's oracle chain, so the
    // capstone hash pins the whole composition.
    "q197_fineweb_pipeline" ->
      raw"""$c4CleanCtes,
        |c2 AS (
        |  SELECT doc_id, kept, len(kept) AS c4_kept FROM cl WHERE len(kept) >= 1),
        |ex2 AS (
        |  SELECT doc_id, p.p AS p, kept[p.p + 1] AS l, md5(kept[p.p + 1]) AS h
        |  FROM c2, LATERAL (SELECT unnest(range(0, len(kept))) AS p) p),
        |k2 AS (
        |  SELECT doc_id, p, l,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
        |  FROM ex2),
        |ag2 AS (
        |  SELECT doc_id, count(*) AS n_paras_kept,
        |    array_to_string(list(l ORDER BY p), chr(10)) AS tc
        |  FROM k2 WHERE rn = 1 GROUP BY doc_id),
        |tk AS (
        |  SELECT doc_id, n_paras_kept,
        |    CAST(len(string_split(lower(trim(regexp_replace(tc, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_toks
        |  FROM ag2),
        |f AS (SELECT * FROM tk WHERE n_toks > 0),
        |cpre AS (
        |  SELECT doc_id, n_paras_kept, n_toks,
        |    CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM f)
        |SELECT cpre.doc_id, CAST(c2.c4_kept AS INTEGER) AS c4_kept,
        |  CAST(n_paras_kept AS INTEGER) AS n_paras_kept, n_toks, tok_start,
        |  (tok_start // 256) AS seq_first,
        |  ((tok_start + n_toks - 1) // 256) AS seq_last,
        |  ((tok_start + n_toks - 1) // 256) - (tok_start // 256) + 1 AS n_seqs
        |FROM cpre JOIN c2 ON c2.doc_id = cpre.doc_id
        |ORDER BY cpre.doc_id""".stripMargin,
    // q191: the shared lines + a planted duplicate (first line
    // appended), first-occurrence dedup via min(pos) per (doc, line)
    // and pos-ordered reassembly — the dedupLines plan mirrored.
    "q191_line_dedup" ->
      s"""$synthLinesCtes,
        |d2 AS (SELECT doc_id, lines || lines[1:1] AS l2 FROM lns),
        |ex AS (
        |  SELECT doc_id, l2[p.p + 1] AS l, p.p AS p
        |  FROM d2, LATERAL (SELECT unnest(range(0, len(l2))) AS p) p),
        |fo AS (SELECT doc_id, l, min(p) AS fp FROM ex GROUP BY doc_id, l),
        |ag AS (
        |  SELECT doc_id, count(*) AS n_unique,
        |    array_to_string(list(l ORDER BY fp), chr(10)) AS tc
        |  FROM fo GROUP BY doc_id)
        |SELECT d2.doc_id,
        |  CAST(len(l2) AS INTEGER) AS n_lines,
        |  CAST(ag.n_unique AS INTEGER) AS n_unique,
        |  md5(ag.tc) AS clean_md5
        |FROM d2 JOIN ag USING (doc_id) ORDER BY doc_id""".stripMargin,
    // q192: the decorated synthesized lines + every Gopher metric
    // recomputed with the shared q80 fold; ratios at 4 dp (the
    // cross-engine double convention), counts exact, verdicts and the
    // conjunction derived in an outer select so both engines compare
    // the ROUNDED ratios.
    "q192_gopher_gate" -> {
      val bl = s"($synthBaseLineSql)"
      raw"""${synthLinesCtesWith(
        s"CASE WHEN (doc_id + i) % 4 = 0 THEN '- ' || $bl " +
          s"WHEN (doc_id + i) % 7 = 0 THEN $bl || '...' ELSE $bl END")},
        |txts AS (SELECT doc_id, array_to_string(lines, chr(10)) AS txt FROM lns),
        |${gopherGateCtes("txts")}
        |SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_ratio,
        |  bullet_frac, ellipsis_line_frac, n_stop, ok_words, ok_word_len,
        |  ok_symbols, ok_bullets, ok_ellipsis_lines, ok_stops,
        |  (ok_words AND ok_word_len AND ok_symbols AND ok_bullets
        |   AND ok_ellipsis_lines AND ok_stops) AS passes
        |FROM v ORDER BY doc_id""".stripMargin
    },
    // q193: the same planting in pure-ASCII SQL (chr(769) combining
    // acute, chr(225) composed a-acute), standard NFC on both engines
    // (JDK Normalizer vs utf8proc), strip_accents round-trip pinned.
    "q193_unicode_normalize" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    'e' || chr(769) || ' ' || replace(text, 'a', chr(225)) AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(length(t2) AS INTEGER) AS len_raw,
        |  CAST(length(nfc_normalize(t2)) AS INTEGER) AS len_nfc,
        |  md5(nfc_normalize(t2)) AS nfc_md5,
        |  md5(strip_accents(t2)) AS strip_md5,
        |  (strip_accents(t2) = 'e ' || text) AS strip_roundtrip
        |FROM t ORDER BY doc_id""".stripMargin,
    // q194: the naive per-source window prefix sum (the q167 oracle
    // convention for the distributed two-pass form), exclusive frame,
    // keep-iff-tokens-before-under-budget.
    "q194_token_budget" ->
      raw"""WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_toks,
        |    CAST(COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
        |  FROM t)
        |SELECT source, doc_id, n_toks, cum AS tok_start_in_source
        |FROM c WHERE cum < 800 ORDER BY source, doc_id""".stripMargin,
    // q195: the shared synthesized lines; global first occurrence =
    // ROW_NUMBER over (content hash) ordered (doc_id, pos) — the
    // min-struct aggregation's windowed mirror; per-doc reassembly in
    // pos order; fully-claimed docs via the LEFT join + COALESCE.
    "q195_paragraph_dedup" ->
      s"""$synthLinesCtes,
        |ex AS (
        |  SELECT doc_id, p.p AS p, lines[p.p + 1] AS l,
        |    md5(lines[p.p + 1]) AS h
        |  FROM lns, LATERAL (SELECT unnest(range(0, len(lines))) AS p) p),
        |k AS (
        |  SELECT doc_id, p, l,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
        |  FROM ex),
        |ag AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    array_to_string(list(l ORDER BY p), chr(10)) AS tc
        |  FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT lns.doc_id,
        |  CAST(len(lines) AS INTEGER) AS n_paras,
        |  CAST(COALESCE(ag.n_kept, 0) AS INTEGER) AS n_kept,
        |  md5(COALESCE(ag.tc, '')) AS clean_md5
        |FROM lns LEFT JOIN ag USING (doc_id) ORDER BY lns.doc_id""".stripMargin,
    // q198: the SHARED q38 search chain (ivfSearchRankedCtes) as the
    // approximate side, the q24 brute chain as ground truth, exact
    // per-query hit counts — recall is measured, not sampled.
    "q198_ann_recall" ->
      s"""${ivfSearchRankedCtes("vec_id % 25 = 0")},
        |ax AS (SELECT query_id, neighbor_id FROM ranked WHERE rn <= 10),
        |bq AS (SELECT vec_id AS query_id, nv AS qnv FROM nv WHERE vec_id % 25 = 0),
        |bscored AS (
        |  SELECT bq.query_id, a.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65), i -> bq.qnv[i] * a.nv[i])), 4) AS cos_sim
        |  FROM nv a CROSS JOIN bq WHERE a.vec_id <> bq.query_id),
        |bx AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY cos_sim DESC, neighbor_id) AS rn2
        |    FROM bscored) WHERE rn2 <= 10),
        |h AS (
        |  SELECT bx.query_id, count(ax.neighbor_id) AS n_hits
        |  FROM bx LEFT JOIN ax ON ax.query_id = bx.query_id
        |                      AND ax.neighbor_id = bx.neighbor_id
        |  GROUP BY bx.query_id)
        |SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
        |  round(CAST(n_hits AS DOUBLE) / 10.0, 4) AS recall
        |FROM h ORDER BY query_id""".stripMargin,
    // q220: q198's search + brute chains verbatim; only the fold
    // differs — graded rel = 11 − exact_rank, DCG over approx ranks,
    // MRR = 1/first-hit-rank, both normalized/rounded at 4.
    "q220_ranking_metrics" ->
      s"""${ivfSearchRankedCtes("vec_id % 25 = 0")},
        |ax AS (SELECT query_id, neighbor_id, rn AS rank_a FROM ranked WHERE rn <= 10),
        |bq AS (SELECT vec_id AS query_id, nv AS qnv FROM nv WHERE vec_id % 25 = 0),
        |bscored AS (
        |  SELECT bq.query_id, a.vec_id AS neighbor_id,
        |    round(list_sum(list_transform(range(1, 65), i -> bq.qnv[i] * a.nv[i])), 4) AS cos_sim
        |  FROM nv a CROSS JOIN bq WHERE a.vec_id <> bq.query_id),
        |bx AS (
        |  SELECT query_id, neighbor_id, rn2 AS rank_e FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY cos_sim DESC, neighbor_id) AS rn2
        |    FROM bscored) WHERE rn2 <= 10),
        |h AS (
        |  SELECT bx.query_id,
        |    count(ax.neighbor_id) AS n_hits,
        |    max(1.0 / ax.rank_a) AS mrr_raw,
        |    sum(CASE WHEN ax.neighbor_id IS NULL THEN 0.0
        |             ELSE (11 - bx.rank_e) / log2(ax.rank_a + 1) END) AS dcg
        |  FROM bx LEFT JOIN ax ON ax.query_id = bx.query_id
        |                      AND ax.neighbor_id = bx.neighbor_id
        |  GROUP BY bx.query_id),
        |idcg AS (
        |  SELECT sum((11 - i.i) / log2(CAST(i.i AS DOUBLE) + 1)) AS v
        |  FROM (SELECT unnest(range(1, 11)) AS i) i)
        |SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
        |  round(coalesce(mrr_raw, 0.0), 4) AS mrr,
        |  round(coalesce(dcg, 0.0) / idcg.v, 4) AS ndcg
        |FROM h CROSS JOIN idcg ORDER BY query_id""".stripMargin,
    // q221: the q93 model chain byte-shared (lmModelCtes); scoring
    // folds per-50-bigram chunk means (1-based i → chunk (i-1)//50,
    // UNROUNDED — rounding first puts the doc average on a decimal
    // grid whose half-ties engines resolve differently), then doc
    // mean + sample stddev rounded at 4, then the single-row MEDIAN
    // cut (quantile_cont ≡ Spark percentile to the bit — the q196
    // precedent).
    "q221_synthetic_screen" ->
      s"""WITH ${lmModelCtes("SELECT text AS txt FROM documents WHERE doc_id % 2 = 0")},
        |tsc AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS c
        |  FROM documents),
        |bgp AS (
        |  SELECT doc_id, CAST((i.i - 1) // 50 AS INTEGER) AS chunk,
        |    substring(c, CAST(i.i AS INTEGER), 2) AS bg
        |  FROM tsc, LATERAL (SELECT unnest(range(1, length(c))) AS i) i
        |  WHERE length(c) >= 2),
        |cl AS (
        |  SELECT doc_id, chunk,
        |    avg(coalesce(model.logp, flr.f)) AS clm
        |  FROM bgp CROSS JOIN flr
        |  LEFT JOIN model ON bgp.bg = model.bg
        |  GROUP BY doc_id, chunk),
        |d AS (
        |  SELECT doc_id, count(*) AS n_chunks, round(avg(clm), 4) AS lm_mean,
        |    round(coalesce(stddev_samp(clm), 0.0), 4) AS burstiness
        |  FROM cl GROUP BY doc_id),
        |st AS (SELECT quantile_cont(lm_mean, 0.5) AS ml,
        |              quantile_cont(burstiness, 0.5) AS mb FROM d)
        |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks, lm_mean, burstiness,
        |  (lm_mean > st.ml AND burstiness < st.mb) AS suspect
        |FROM d CROSS JOIN st ORDER BY doc_id""".stripMargin,
    // q222: the q159 canonicalization chain + the q30 fingerprint key
    // byte-shared; (url, fp) pairs, fp-spread joined back, per-url
    // rollup with both verdicts.
    "q222_url_content_audit" ->
      ("WITH " + urlCanonicalCtes + ",\n" +
      raw"""b AS (
        |  SELECT c.canonical_url AS url,
        |    md5(lower(trim(regexp_replace(
        |      CASE WHEN d.doc_id % 2 = 0
        |             THEN 'landing page for site ' || CAST(d.doc_id % 25 AS VARCHAR)
        |           WHEN d.doc_id % 5 = 0
        |             THEN 'mirror boilerplate ' || CAST(d.doc_id % 4 AS VARCHAR)
        |           ELSE d.text END, '\s+', ' ', 'g')))) AS fp
        |  FROM canon c JOIN documents d ON c.doc_id = d.doc_id),
        |p AS (SELECT url, fp, count(*) AS n_docs_pair FROM b GROUP BY url, fp),
        |s AS (SELECT fp, count(*) AS n_urls_for_fp FROM p GROUP BY fp)
        |SELECT p.url,
        |  CAST(sum(p.n_docs_pair) AS BIGINT) AS n_docs,
        |  count(*) AS n_content_variants,
        |  CAST(max(s.n_urls_for_fp) AS BIGINT) AS max_content_spread,
        |  (count(*) > 1) AS unstable,
        |  (max(s.n_urls_for_fp) > 1) AS mirrored
        |FROM p JOIN s ON p.fp = s.fp
        |GROUP BY p.url ORDER BY p.url""".stripMargin),
    // q199: q195's chain byte-shared, output restricted to the
    // increment — under append-only ids the global ROW_NUMBER rule
    // already gives history precedence, which is exactly the
    // incremental seen-set semantics (the q186 convention).
    "q199_paragraph_dedup_incr" ->
      s"""$synthLinesCtes,
        |ex AS (
        |  SELECT doc_id, p.p AS p, lines[p.p + 1] AS l,
        |    md5(lines[p.p + 1]) AS h
        |  FROM lns, LATERAL (SELECT unnest(range(0, len(lines))) AS p) p),
        |k AS (
        |  SELECT doc_id, p, l,
        |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
        |  FROM ex),
        |ag AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    array_to_string(list(l ORDER BY p), chr(10)) AS tc
        |  FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT lns.doc_id,
        |  CAST(len(lines) AS INTEGER) AS n_paras,
        |  CAST(COALESCE(ag.n_kept, 0) AS INTEGER) AS n_kept,
        |  md5(COALESCE(ag.tc, '')) AS clean_md5
        |FROM lns LEFT JOIN ag USING (doc_id)
        |WHERE lns.doc_id >= 250
        |ORDER BY lns.doc_id""".stripMargin,
    // q200: every statistic mirrors its own already-oracled chain —
    // the q28 quality formula, the q30 fingerprint key, the q192
    // Gopher components (single-line degenerate case: the derived
    // text has no newlines, so the line set is [trim(text)]), stop
    // counting over the shared q80 fold; avg rounded at 4 on both
    // sides (the q93 convention). The dt CTE mirrors the
    // stop-word tail decoration (see the Spark side's scaladoc).
    "q200_corpus_datacard" ->
      raw"""WITH dt AS (
        |  SELECT doc_id, source, lang,
        |    text || CASE WHEN doc_id % 3 = 0
        |                 THEN ' the and that have with' ELSE '' END AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, source, lang, text,
        |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS clean,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM dt),
        |fpc AS (SELECT md5(clean) AS fpk, count(*) AS fc FROM t GROUP BY md5(clean)),
        |f AS (
        |  SELECT t.doc_id, t.source, t.lang, md5(clean) AS fpk,
        |    CAST(len(w) AS BIGINT) AS nt,
        |    $qualitySql AS q,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(w, s))) AS INTEGER) AS nstop,
        |    (len(w) BETWEEN 10 AND 100000) AS okw,
        |    (round((CAST(length(clean) AS DOUBLE) - (len(w) - 1)) / len(w), 4)
        |       BETWEEN 3.0 AND 10.0) AS okl,
        |    (round(CAST(len(list_filter(w, x -> contains(x, '#'))) AS DOUBLE) / len(w), 4) <= 0.1
        |     AND round(CAST(len(list_filter(w, x -> contains(x, '...'))) AS DOUBLE) / len(w), 4) <= 0.1) AS oks,
        |    (round(CASE WHEN starts_with(trim(text), '-') OR starts_with(trim(text), '*')
        |                     OR starts_with(trim(text), chr(8226)) THEN 1.0 ELSE 0.0 END, 4) <= 0.9) AS okb,
        |    (round(CASE WHEN ends_with(trim(text), '...') THEN 1.0 ELSE 0.0 END, 4) <= 0.3) AS oke
        |  FROM t WHERE len(w) > 0)
        |SELECT source,
        |  count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(sum(CASE WHEN fc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  round(avg(q), 4) AS mean_quality,
        |  CAST(sum(nstop) AS BIGINT) AS sum_stops,
        |  CAST(sum(CASE WHEN okw AND okl AND oks AND okb AND oke AND nstop >= 2
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass
        |FROM f JOIN fpc USING (fpk)
        |GROUP BY source ORDER BY source""".stripMargin,
    // q201: the composable HOF form the automaton is defined to
    // mirror — matched terms are the dictionary-order list_filter of
    // the literal term list by substring containment in lower(text),
    // joined per the scalar output contract; the flag is its any-hit.
    // COALESCE because DuckDB's array_to_string of an empty list is
    // NULL where Spark's array_join is ''.
    "q201_blocklist_screen" ->
      """SELECT doc_id, source,
        |  len(list_filter(['slow scan','big table','merge conflict','drop part',
        |                   'small batch','stale key','stream','vector','conflictfree',
        |                   'fast merge','slow join','bad data'],
        |      t -> contains(lower(text), t))) > 0 AS flagged,
        |  COALESCE(array_to_string(list_filter(
        |      ['slow scan','big table','merge conflict','drop part',
        |       'small batch','stale key','stream','vector','conflictfree',
        |       'fast merge','slow join','bad data'],
        |      t -> contains(lower(text), t)), ','), '') AS matched
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q202: see pqRecallOracleSql — the shared PQ/ADC chain once, both
    // probe depths from one ranked probe list, the q198 brute ground
    // truth, exact per-(nprobe, query) hit counting.
    "q202_pq_recall_nprobe" -> pqRecallOracleSql("% 25 = 0", Seq(2, 4)),
    // q204: the shared synthesized lines + q191's planted duplicate,
    // then every repetition metric replayed — per-line counts, the
    // one (n × position) gram table, top-1 with (count DESC, gram ASC)
    // ties, ≥2-count semi-join + position-union coverage; fracs
    // rounded at 4 on both sides, verdicts on the rounded values.
    "q204_gopher_repetition" ->
      s"""$synthLinesCtes,
        |d AS (
        |  SELECT doc_id, list_append(lines, lines[1]) AS ls,
        |    array_to_string(list_append(lines, lines[1]), chr(10)) AS txt
        |  FROM lns),
        |$repetitionFrCtes
        |SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
        |  top2_frac, top3_frac, top4_frac, dup5_frac, dup10_frac,
        |  dup_line_frac <= 0.30 AS ok_dup_line,
        |  dup_line_char_frac <= 0.20 AS ok_dup_line_char,
        |  top2_frac <= 0.20 AS ok_top2,
        |  top3_frac <= 0.18 AS ok_top3,
        |  top4_frac <= 0.16 AS ok_top4,
        |  dup5_frac <= 0.15 AS ok_dup5,
        |  dup10_frac <= 0.10 AS ok_dup10,
        |  (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
        |   AND top2_frac <= 0.20 AND top3_frac <= 0.18 AND top4_frac <= 0.16
        |   AND dup5_frac <= 0.15 AND dup10_frac <= 0.10) AS passes
        |FROM fr ORDER BY doc_id""".stripMargin,
    // q205: the whole water-fill replayed in EXACT INTEGERS — no
    // double anywhere in the decision path (the r14/r15 driver reds:
    // the double λ predicate sat 3e-8 from its boundary and
    // round(λ·w) 4e-4 from .5). w = isqrt(t·10¹²) via a double guess
    // + the same ±2 integer adjustment as the Spark side (converges
    // to the true floor on any engine); cap = half-up of t·4 in
    // integers; sort key qr = cap·10¹⁸ // w; λ validity
    // cross-multiplied in HUGEINT (Spark decimal(38,0)); the draw
    // half-up in integers. B = 79·T/20 exact on both sides.
    "q205_epoch_allocation" ->
      raw"""WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |srcs AS (SELECT source, sum(nt) AS t FROM d GROUP BY source),
        |bb AS (SELECT CAST((sum(t) * 79) // 20 AS HUGEINT) AS b FROM srcs),
        |sq0 AS (
        |  SELECT source, t,
        |    CAST(t AS HUGEINT) * 1000000000000 AS n12,
        |    greatest(CAST(floor(sqrt(CAST(t AS DOUBLE)) * 1e6) AS HUGEINT),
        |             CAST(0 AS HUGEINT)) AS g
        |  FROM srcs),
        |sq1 AS (SELECT source, t, n12, CASE WHEN g*g > n12 THEN g - 1 ELSE g END AS g FROM sq0),
        |sq2 AS (SELECT source, t, n12, CASE WHEN g*g > n12 THEN g - 1 ELSE g END AS g FROM sq1),
        |sq3 AS (SELECT source, t, n12, CASE WHEN (g+1)*(g+1) <= n12 THEN g + 1 ELSE g END AS g FROM sq2),
        |base AS (
        |  SELECT source, t,
        |    CASE WHEN (g+1)*(g+1) <= n12 THEN g + 1 ELSE g END AS w,
        |    (CAST(t AS HUGEINT) * 8000000 + 1000000) // 2000000 AS cap
        |  FROM sq3),
        |rr AS (SELECT *, (cap * 1000000000000000000) // w AS qr FROM base),
        |rk AS (
        |  SELECT *,
        |    COALESCE(sum(cap) OVER (ORDER BY qr, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefCap,
        |    COALESCE(sum(w) OVER (ORDER BY qr, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefW,
        |    COALESCE(lag(cap) OVER (ORDER BY qr, source), 0) AS lagCap,
        |    COALESCE(lag(w) OVER (ORDER BY qr, source), 1) AS lagW
        |  FROM rr),
        |tw AS (SELECT CAST(sum(w) AS HUGEINT) AS totW FROM base),
        |cand AS (
        |  SELECT rem, dd FROM (
        |    SELECT bb.b - CAST(rk.prefCap AS HUGEINT) AS rem,
        |           tw.totW - CAST(rk.prefW AS HUGEINT) AS dd,
        |           CAST(rk.lagCap AS HUGEINT) AS lagCap,
        |           CAST(rk.lagW AS HUGEINT) AS lagW,
        |           CAST(rk.cap AS HUGEINT) AS cap, CAST(rk.w AS HUGEINT) AS w
        |    FROM rk, tw, bb)
        |  WHERE rem * lagW >= lagCap * dd AND rem * w < cap * dd),
        |lam AS (SELECT min(rem) AS lamRem, min(dd) AS lamD FROM cand)
        |SELECT source, n_tokens, weight, tokens_drawn,
        |  CAST(CAST(tokens_drawn AS HUGEINT) * 1000000 // n_tokens AS BIGINT) AS epochs_ppm,
        |  capped
        |FROM (
        |  SELECT rr.source AS source, CAST(rr.t AS BIGINT) AS n_tokens,
        |    CAST(rr.w AS BIGINT) AS weight,
        |    CASE WHEN lam.lamRem IS NULL
        |              OR CAST(rr.cap AS HUGEINT) * lam.lamD <= lam.lamRem * CAST(rr.w AS HUGEINT)
        |         THEN CAST(rr.cap AS BIGINT)
        |         ELSE CAST(least(CAST(rr.cap AS HUGEINT),
        |           (2 * lam.lamRem * CAST(rr.w AS HUGEINT) + lam.lamD)
        |             // (2 * lam.lamD)) AS BIGINT) END
        |      AS tokens_drawn,
        |    (lam.lamRem IS NULL
        |      OR CAST(rr.cap AS HUGEINT) * lam.lamD <= lam.lamRem * CAST(rr.w AS HUGEINT)) AS capped
        |  FROM rr, lam)
        |ORDER BY source""".stripMargin,
    // q206: q189's shared span chain + winner ROW_NUMBER per span md5
    // ((doc_id, start) order), loser positions exploded, the q97
    // position-anti-join rebuild, clean text md5'd.
    "q206_exact_substr_dedup" ->
      s"""$spanCoverCtes,
        |isl AS (
        |  SELECT doc_id, cj,
        |    cj - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cj) AS g
        |  FROM cov),
        |sp AS (
        |  SELECT doc_id, min(cj) AS s, max(cj) AS e
        |  FROM isl GROUP BY doc_id, g),
        |spm AS (
        |  SELECT sp.doc_id, s, e,
        |    md5(array_to_string(t.w[s+1:e+1], ' ')) AS h
        |  FROM sp JOIN t ON t.doc_id = sp.doc_id),
        |wnr AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, s) AS rn
        |  FROM spm),
        |rm AS (
        |  SELECT DISTINCT doc_id, j FROM (
        |    SELECT doc_id, unnest(range(s, e + 1)) AS j FROM wnr WHERE rn > 1)),
        |tok AS (
        |  SELECT doc_id, w[x.j + 1] AS tok, x.j AS j
        |  FROM t, LATERAL (SELECT unnest(range(0, len(w))) AS j) x),
        |kept AS (
        |  SELECT tok.doc_id,
        |    array_to_string(list(tok.tok ORDER BY tok.j), ' ') AS text_clean
        |  FROM tok LEFT JOIN rm ON tok.doc_id = rm.doc_id AND tok.j = rm.j
        |  WHERE rm.j IS NULL
        |  GROUP BY tok.doc_id),
        |rem AS (SELECT doc_id, count(*) AS n_removed FROM rm GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(len(w) AS INTEGER) AS n_tokens,
        |  CAST(coalesce(rem.n_removed, 0) AS INTEGER) AS n_removed,
        |  md5(coalesce(kept.text_clean, '')) AS clean_md5
        |FROM t
        |LEFT JOIN rem ON t.doc_id = rem.doc_id
        |LEFT JOIN kept ON t.doc_id = kept.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // q207: BOTH gate chains byte-shared over the same decorated text
    // d(doc_id, ls, txt) — repetition via repetitionFrCtes, quality
    // replaying q192's metric block (minWords=10) — then one
    // per-source rollup; avg rounded at 4 (the q93/q200 convention).
    "q207_hygiene_datacard" ->
      s"""$synthLinesCtes,
        |$dupDecoratedDCte,
        |$repetitionFrCtes,
        |gw AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(txt, '\\s+', ' ', 'g'))), ' ') AS wt,
        |    length(lower(trim(regexp_replace(txt, '\\s+', ' ', 'g')))) AS clen,
        |    list_filter(list_transform(string_split(txt, chr(10)), l -> trim(l)),
        |                l -> l <> '') AS lns2
        |  FROM d),
        |qv AS (
        |  SELECT doc_id,
        |    ((len(wt) BETWEEN 10 AND 100000)
        |     AND (round((CAST(clen AS DOUBLE) - (len(wt) - 1)) / len(wt), 4)
        |          BETWEEN 3.0 AND 10.0)
        |     AND (round(CAST(len(list_filter(wt, t -> contains(t, '#'))) AS DOUBLE)
        |            / len(wt), 4) <= 0.1
        |          AND round(CAST(len(list_filter(wt, t -> contains(t, '...'))) AS DOUBLE)
        |            / len(wt), 4) <= 0.1)
        |     AND (round(CAST(len(list_filter(lns2, l -> starts_with(l, '-')
        |              OR starts_with(l, '*') OR starts_with(l, chr(8226)))) AS DOUBLE)
        |            / greatest(len(lns2), 1), 4) <= 0.9)
        |     AND (round(CAST(len(list_filter(lns2, l -> suffix(l, '...'))) AS DOUBLE)
        |            / greatest(len(lns2), 1), 4) <= 0.3)
        |     AND (len(list_filter(['the','be','to','of','and','that','have','with'],
        |            s -> list_contains(wt, s))) >= 2)) AS qp
        |  FROM gw),
        |rv AS (
        |  SELECT doc_id,
        |    (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
        |     AND top2_frac <= 0.20 AND top3_frac <= 0.18 AND top4_frac <= 0.16
        |     AND dup5_frac <= 0.15 AND dup10_frac <= 0.10) AS rp,
        |    dup5_frac, top2_frac
        |  FROM fr)
        |SELECT dd.source AS source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN qv.qp THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_pass,
        |  CAST(sum(CASE WHEN rv.rp THEN 1 ELSE 0 END) AS BIGINT) AS n_repetition_pass,
        |  CAST(sum(CASE WHEN qv.qp AND rv.rp THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_both,
        |  round(avg(rv.dup5_frac), 4) AS mean_dup5_frac,
        |  round(avg(rv.top2_frac), 4) AS mean_top2_frac
        |FROM documents dd JOIN qv ON dd.doc_id = qv.doc_id
        |                  JOIN rv ON dd.doc_id = rv.doc_id
        |GROUP BY dd.source ORDER BY dd.source""".stripMargin,
    // q189: the shared q97 cover CTEs + the identical gaps-and-islands
    // run grouping (cj − ROW_NUMBER per doc), span text md5'd from the
    // same token array — all integer/string arithmetic, exact compare.
    "q189_exact_substr_spans" ->
      s"""$spanCoverCtes,
        |isl AS (
        |  SELECT doc_id, cj,
        |    cj - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cj) AS g
        |  FROM cov),
        |sp AS (
        |  SELECT doc_id, min(cj) AS s, max(cj) AS e
        |  FROM isl GROUP BY doc_id, g)
        |SELECT sp.doc_id,
        |  CAST(s AS INTEGER) AS span_start,
        |  CAST(e AS INTEGER) AS span_end,
        |  CAST(e - s + 1 AS INTEGER) AS span_len,
        |  md5(array_to_string(t.w[s+1:e+1], ' ')) AS span_md5
        |FROM sp JOIN t ON t.doc_id = sp.doc_id
        |ORDER BY sp.doc_id, span_start""".stripMargin,
    // q188: the FLAT literal argmax/ranking replayed in SQL — the
    // Spark side runs the indexed branch-and-bound expressions
    // (k=100 > FlatAssignMaxK), and hash equality against the flat
    // replay IS the exactness proof. Seeds/sims follow the shared
    // ivfTrainCtes conventions (round(,9) seeds, the bit-equal
    // list_sum dot fold, list_position/list_max first-max argmax,
    // struct-sort probe order).
    "q188_coarse_assign_indexed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n0 AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM e),
        |nv AS (SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv FROM n0 WHERE sq > 0),
        |c0 AS (
        |  SELECT list_transform(list(nv ORDER BY vec_id),
        |                        v -> list_transform(v, x -> round(x, 9))) AS cs
        |  FROM (SELECT vec_id, nv FROM nv ORDER BY vec_id LIMIT 100)),
        |sims AS (
        |  SELECT vec_id,
        |    list_transform(c0.cs,
        |      c -> list_sum(list_transform(range(1, 65), i -> c[i] * nv[i]))) AS ss
        |  FROM nv CROSS JOIN c0)
        |SELECT vec_id,
        |  CAST(list_position(ss, list_max(ss)) - 1 AS INTEGER) AS cluster,
        |  array_to_string(list_transform(list_sort(list_transform(range(1, len(ss) + 1),
        |      i -> {'ns': -ss[i], 'i': i - 1})), s -> CAST(s.i AS INTEGER))[1:3], ',') AS probes
        |FROM sims ORDER BY vec_id""".stripMargin,
    // q241/q243: q188's flat replay with the seed LIMIT at the
    // stress-floored sized k (the schedule's minK floor, replayable
    // as a literal) — generated at BOTH floors from one template so
    // the two anchors differ by exactly the derived k.
    "q241_sized_assign_hier" -> sizedAssignHierOracleSql(256),
    "q243_sized_assign_hier2" -> sizedAssignHierOracleSql(512),
    // q244: both rankings re-derived in full (the q73 BM25 chain +
    // the q24 single-query dense chain), ranks windowed with the
    // identical tie-breaks, fusion as exact integer floor division —
    // `1000000 // (60 + r)` is Exact.ratioUnits' documented mirror.
    "q244_hybrid_rrf" ->
      raw"""WITH d AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, len(toks) AS dl,
        |    len(list_filter(toks, x -> x = 'spark')) AS tf0,
        |    len(list_filter(toks, x -> x = 'merge')) AS tf1,
        |    len(list_filter(toks, x -> x = 'vector')) AS tf2
        |  FROM d),
        |st AS (
        |  SELECT count(*) AS n, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM t),
        |lexs AS (
        |  SELECT doc_id,
        |    round(ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        |        + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        |        + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6) AS bm25
        |  FROM t, st),
        |lexr AS (
        |  SELECT doc_id AS id,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
        |  FROM lexs),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |nrm AS (
        |  SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM e),
        |nv AS (
        |  SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv
        |  FROM nrm WHERE sq > 0),
        |q AS (SELECT nv AS qv FROM nv WHERE vec_id = 0),
        |dens AS (
        |  SELECT a.vec_id AS id,
        |    round(list_sum(list_transform(range(1, len(qv) + 1),
        |                                  i -> qv[i] * a.nv[i])), 4) AS cs
        |  FROM nv a, q WHERE a.vec_id <> 0),
        |denr AS (
        |  SELECT id, row_number() OVER (ORDER BY cs DESC, id) AS r FROM dens),
        |u AS (
        |  SELECT id, 'lex' AS sys, r FROM lexr WHERE r <= 100
        |  UNION ALL
        |  SELECT id, 'dense' AS sys, r FROM denr WHERE r <= 100)
        |SELECT id AS doc_id,
        |  max(CASE WHEN sys = 'lex' THEN r END) AS rank_lex,
        |  max(CASE WHEN sys = 'dense' THEN r END) AS rank_dense,
        |  CAST(sum(1000000 // (60 + r)) AS BIGINT) AS rrf_units
        |FROM u GROUP BY id
        |ORDER BY rrf_units DESC, doc_id LIMIT 50""".stripMargin,
    // q245/q246: the full matrix-free power iteration replayed as
    // unrolled CTEs from one shared template (centering, each C·v
    // fold, each normalization) — the two PCA oracles cannot drift.
    "q245_pca_component" ->
      raw"""${pcaPowerCte(4)},
        |pf AS (
        |  SELECT vec_id, c,
        |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
        |  FROM c, v4),
        |ev AS (SELECT avg(p * p) AS eigenvalue FROM pf),
        |tr AS (SELECT avg(list_sum(list_transform(c, x -> x * x))) AS trace FROM c)
        |SELECT dim, round(loading, 6) AS loading,
        |  round(eigenvalue, 6) AS eigenvalue,
        |  round(eigenvalue / trace, 6) AS explained_frac
        |FROM (SELECT unnest(pc) AS loading,
        |        unnest(range(1, len(pc) + 1)) AS dim FROM v4), ev, tr
        |ORDER BY dim""".stripMargin,
    "q246_pca_project" ->
      raw"""${pcaPowerCte(4)},
        |pf AS (
        |  SELECT vec_id, c,
        |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
        |  FROM c, v4)
        |SELECT vec_id, round(p, 4) AS proj,
        |  round(greatest(0.0, list_sum(list_transform(c, x -> x * x)) - p * p), 4) AS resid_sq
        |FROM pf ORDER BY vec_id""".stripMargin,
    // q252: q247's two-chain spectrum + q246's residual readout,
    // quantile_cont over the 4dp-rounded residuals (bit-identical
    // interpolation inputs), rounded-fraction sum mirrored exactly.
    "q252_spectral_datacard" ->
      raw"""${pcaPowerCte(4)},
        |pf AS MATERIALIZED (
        |  SELECT vec_id, c,
        |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
        |  FROM c, v4),
        |ev1 AS (SELECT avg(p * p) AS ev FROM pf),
        |tr AS (SELECT avg(list_sum(list_transform(c, x -> x * x))) AS trace FROM c),
        |d AS MATERIALIZED (
        |  SELECT pf.vec_id,
        |    list_transform(range(1, len(c) + 1), j -> c[j] - p * pc[j]) AS c
        |  FROM pf, v4),
        |bv0 AS (SELECT list_transform(mu, x -> 1.0) AS pc FROM mul),
        |${pcaStepCtes("d", "b", 4)},
        |pg AS (
        |  SELECT vec_id, c,
        |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
        |  FROM d, bv4),
        |ev2 AS (SELECT avg(p * p) AS ev FROM pg),
        |res AS (
        |  SELECT vec_id,
        |    round(greatest(0.0, list_sum(list_transform(c, x -> x * x)) - p * p), 4) AS resid_sq
        |  FROM pf),
        |q AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |    quantile_cont(resid_sq, 0.5) AS p50,
        |    quantile_cont(resid_sq, 0.9) AS p90,
        |    quantile_cont(resid_sq, 0.99) AS p99
        |  FROM res)
        |SELECT n_vectors,
        |  round(ev1.ev / tr.trace, 6) AS explained_1,
        |  round(ev2.ev / tr.trace, 6) AS explained_2,
        |  round(round(ev1.ev / tr.trace, 6) + round(ev2.ev / tr.trace, 6), 6) AS top2_explained,
        |  round(p50, 6) AS resid_p50,
        |  round(p90, 6) AS resid_p90,
        |  round(p99, 6) AS resid_p99
        |FROM q, ev1, ev2, tr""".stripMargin,
    // q251/q254: the JL planes re-derive from the md5 parity rule in
    // the "jl|t|d" namespace (the q26 convention); the per-pair
    // Σ(dv·p_t)² folds through list(dp ORDER BY t) + list_sum so the
    // t addends sum in Spark's exact fold order. One generator, two
    // operating points (t = 16 / t = 8).
    "q251_jl_distortion" -> jlDistortionOracleSql(16),
    "q254_jl_distortion_t8" -> jlDistortionOracleSql(8),
    // q253: q246's replayed projection chain feeds the q106 ε-ball
    // derivation at dim 2 — both halves byte-shared with their parent
    // anchors via pcaPowerCte/ivfChainCtes.
    "q253_whitened_semdedup" -> whitenedSemDedupOracleSql,
    // q255: the q252 two-chain spectrum CTEs feed the same ε-ball
    // derivation at dim 3.
    "q255_whitened3_semdedup" -> whitened3SemDedupOracleSql,
    // q256: three prefixed ivfChainCtes instances (w/f/s) — the q253
    // footprint chain, the q106 direct chain, and the survivor
    // re-run — plus integer pair-work and agreement readouts.
    "q256_dedup_funnel" -> dedupFunnelOracleSql,
    // q257: q249's sampled-fit prelude + the q253 tail (byte-shared
    // via whitenedSemDedupOracleSqlWith).
    "q257_whitened_semdedup_sized" -> whitenedSemDedupSizedOracleSql,
    // q258: both derivations (clustersForCorpus, partitionsForCorpus)
    // floor to the pinned k=16 / 32 partitions at fixture size, so the
    // fully-sized composition shares q257's oracle bit-for-bit (the
    // q150/q112 convention).
    "q258_whitened_semdedup_auto" -> whitenedSemDedupSizedOracleSql,
    // q262: q255's two-chain spectrum + ε-ball tail on the q249
    // sampled-fit prelude (both components fit on the capped sample,
    // every row scored)
    "q262_whitened3_semdedup_sized" -> whitened3SemDedupSizedOracleSql,
    // q263: fully-sized (sized two-component fit + semDedupAuto);
    // both derivations floor to the pinned k=16/32 partitions at
    // fixture size, so it shares q262's oracle bit-for-bit (the
    // q258/q257 convention)
    "q263_whitened3_semdedup_auto" -> whitened3SemDedupSizedOracleSql,
    // q250: the q38 IVF train+search chain (queries = vec 0, ranked
    // by the same tie-break) + q244's BM25 chain (no CTE-name
    // collisions by construction) + the identical integer fusion.
    "q250_hybrid_rrf_ivf" ->
      raw"""${ivfSearchRankedCtes("vec_id = 0")},
        |d AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, len(toks) AS dl,
        |    len(list_filter(toks, x -> x = 'spark')) AS tf0,
        |    len(list_filter(toks, x -> x = 'merge')) AS tf1,
        |    len(list_filter(toks, x -> x = 'vector')) AS tf2
        |  FROM d),
        |st AS (
        |  SELECT count(*) AS n, avg(dl) AS avgdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM t),
        |lexs AS (
        |  SELECT doc_id,
        |    round(ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        |        + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        |        + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6) AS bm25
        |  FROM t, st),
        |lexr AS (
        |  SELECT doc_id AS id,
        |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
        |  FROM lexs),
        |u AS (
        |  SELECT id, 'lex' AS sys, r FROM lexr WHERE r <= 100
        |  UNION ALL
        |  SELECT neighbor_id AS id, 'dense' AS sys, rn AS r
        |  FROM ranked WHERE rn <= 100)
        |SELECT id AS doc_id,
        |  max(CASE WHEN sys = 'lex' THEN r END) AS rank_lex,
        |  max(CASE WHEN sys = 'dense' THEN r END) AS rank_dense,
        |  CAST(sum(1000000 // (60 + r)) AS BIGINT) AS rrf_units
        |FROM u GROUP BY id
        |ORDER BY rrf_units DESC, doc_id LIMIT 50""".stripMargin,
    // q249: the sampled-fit chain (q50 md5 buckets + the truncating
    // rate threshold) through the SAME step template, then the
    // full-corpus scoring pass centered with the FIT mean.
    "q249_pca_project_sized" ->
      raw"""${pcaPowerCte(4, pcaSampledFitCtes(256))},
        |ca AS (
        |  SELECT vec_id,
        |    list_transform(range(1, len(v) + 1), j -> v[j] - mu[j]) AS c
        |  FROM e, mul),
        |pf AS (
        |  SELECT vec_id, c,
        |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
        |  FROM ca, v4)
        |SELECT vec_id, round(p, 4) AS proj,
        |  round(greatest(0.0, list_sum(list_transform(c, x -> x * x)) - p * p), 4) AS resid_sq
        |FROM pf ORDER BY vec_id""".stripMargin,
    // q247: PC1's chain + one deflation CTE + the identical step
    // template re-instantiated (prefix b) for PC2; per-component
    // Rayleigh readouts against the shared trace.
    "q247_pca_spectrum" ->
      raw"""${pcaPowerCte(4)},
        |pf AS MATERIALIZED (
        |  SELECT vec_id, c,
        |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
        |  FROM c, v4),
        |ev1 AS (SELECT avg(p * p) AS ev FROM pf),
        |tr AS (SELECT avg(list_sum(list_transform(c, x -> x * x))) AS trace FROM c),
        |d AS MATERIALIZED (
        |  SELECT pf.vec_id,
        |    list_transform(range(1, len(c) + 1), j -> c[j] - p * pc[j]) AS c
        |  FROM pf, v4),
        |bv0 AS (SELECT list_transform(mu, x -> 1.0) AS pc FROM mul),
        |${pcaStepCtes("d", "b", 4)},
        |pg AS (
        |  SELECT vec_id, c,
        |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
        |  FROM d, bv4),
        |ev2 AS (SELECT avg(p * p) AS ev FROM pg),
        |o1 AS (
        |  SELECT CAST(1 AS BIGINT) AS component, dim, round(loading, 6) AS loading,
        |    round(ev, 6) AS eigenvalue, round(ev / trace, 6) AS explained_frac
        |  FROM (SELECT unnest(pc) AS loading,
        |          unnest(range(1, len(pc) + 1)) AS dim FROM v4), ev1, tr),
        |o2 AS (
        |  SELECT CAST(2 AS BIGINT) AS component, dim, round(loading, 6) AS loading,
        |    round(ev, 6) AS eigenvalue, round(ev / trace, 6) AS explained_frac
        |  FROM (SELECT unnest(pc) AS loading,
        |          unnest(range(1, len(pc) + 1)) AS dim FROM bv4), ev2, tr)
        |SELECT * FROM o1 UNION ALL SELECT * FROM o2
        |ORDER BY component, dim""".stripMargin,
    // q110: the same scale/round/clamp-free arithmetic in SQL; the
    // integer self-norm is exact on both engines, the double scale
    // and error round at 6 (operation-for-operation mirrored trees).
    "q110_quantize_int8" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc
        |  FROM e),
        |q AS (
        |  SELECT vec_id, v, sc,
        |    CASE WHEN sc = 0 THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v, x -> CAST(round(x / sc, 0) AS INTEGER))
        |    END AS q
        |  FROM s)
        |SELECT vec_id, round(sc, 6) AS scale6,
        |  CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS qnorm,
        |  round(list_max(list_transform(range(1, 65),
        |    i -> abs(q[CAST(i AS INTEGER)] * sc - v[CAST(i AS INTEGER)]))), 6) AS err6
        |FROM q ORDER BY vec_id""".stripMargin,
    // q111: the oracle aggregates the SAME rows from parquet — if any
    // byte of text or any count changed across the ORC write/read
    // boundary, the md5 columns shift.
    "q111_orc_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
        |  min(md5(text)) AS min_md5,
        |  count(DISTINCT md5(text)) AS n_distinct_md5
        |FROM documents
        |WHERE n_chars >= 100
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // q113: q52's running-total shard assignment, then every sequence
    // rebuilt with string_agg ORDER BY doc_id and md5-compared — the
    // separator goes BETWEEN docs only, exactly like array_join.
    "q113_seq_assembly" ->
      raw"""WITH t AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, text, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |  FROM t)
        |SELECT source AS "group", CAST(floor(start / 2000.0) AS BIGINT) AS shard_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
        |  md5(string_agg(text, '<|endofdoc|>' ORDER BY doc_id)) AS seq_md5
        |FROM p GROUP BY source, shard_id
        |ORDER BY "group", shard_id""".stripMargin,
    // q114: per-source rates from the same least(1, share*N/cnt)
    // arithmetic (identical double expression order), membership via
    // q50's md5 digit bucket < floor(rate * 2^20).
    "q114_mixture_sample" ->
      """WITH c AS (
        |  SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        |s AS (
        |  SELECT source, cnt,
        |    CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.3
        |                WHEN 'src5' THEN 0.2 WHEN 'src7' THEN 0.2 END AS share
        |  FROM c),
        |r AS (
        |  SELECT source,
        |    CASE WHEN share IS NULL THEN NULL
        |         ELSE least(1.0, share * 40 / cnt) END AS rate
        |  FROM s),
        |k AS (
        |  SELECT d.source, d.doc_id,
        |    md5(CAST(d.doc_id AS VARCHAR) || '|0') AS hh, r.rate
        |  FROM documents d JOIN r ON d.source = r.source
        |  WHERE r.rate IS NOT NULL)
        |SELECT source, count(*) AS n_kept,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM k
        |WHERE (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1)
        |    < floor(rate * 1048576.0)
        |GROUP BY source ORDER BY source""".stripMargin,
    // q116: same anchor synthesis, href regexp_extract_all, the q105
    // host+registered-domain collapse, distinct edges, then the
    // shared q109 round mirror.
    "q116_link_graph" ->
      s"""WITH h AS (
        |  SELECT doc_id,
        |    'site' || CAST(doc_id % 23 AS VARCHAR) || '.'
        |      || (CASE (doc_id % 3) WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'io' END) AS src,
        |    text || ' <a href="https://site' || CAST((doc_id * 5 + 1) % 23 AS VARCHAR) || '.'
        |      || (CASE ((doc_id + 1) % 3) WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'io' END)
        |      || '/x">l1</a>'
        |      || (CASE WHEN doc_id % 2 = 0 THEN
        |            ' <a href="http://a.site' || CAST((doc_id * 7 + 2) % 23 AS VARCHAR) || '.'
        |            || (CASE ((doc_id + 2) % 3) WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'io' END)
        |            || '/y?z=1">l2</a>' ELSE '' END) AS html
        |  FROM documents),
        |u AS (
        |  SELECT src, unnest(regexp_extract_all(html, 'href="(https?://[^"]+)"', 1)) AS url
        |  FROM h),
        |p AS (
        |  SELECT src, regexp_extract(url, '${ext.UrlOps.UrlPartsRe}', 2) AS host FROM u),
        |dm AS (
        |  SELECT src,
        |    CASE WHEN len(l) <= 1 THEN host
        |         WHEN len(l) >= 3 AND l[-2] IN ('co','com','net','org','gov','ac','edu')
        |              AND length(l[-1]) = 2
        |           THEN array_to_string(l[greatest(len(l)-2,1):], '.')
        |         ELSE array_to_string(l[greatest(len(l)-1,1):], '.') END AS dst
        |  FROM (SELECT src, host, string_split(host, '.') AS l FROM p)),
        |e AS (SELECT DISTINCT src AS s, dst AS t FROM dm),
        |$pageRankRoundsSql
        |SELECT n AS domain, round(r, 6) AS rank
        |FROM r3 ORDER BY domain""".stripMargin,
    // q117: bins and the fill replayed with range() + the same
    // IGNORE NULLS running window; the per-bin pick is the
    // lexicographic (truncated-second, value) max on BOTH sides —
    // epoch() is floored so a fractional second can't flip the
    // tiebreak that unix_seconds() truncates away.
    "q117_resample" ->
      """WITH o AS (
        |  SELECT user_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS e,
        |    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bin
        |  FROM events),
        |lastobs AS (
        |  SELECT user_id, bin, value AS v FROM (
        |    SELECT user_id, bin, value,
        |      row_number() OVER (PARTITION BY user_id, bin
        |                         ORDER BY e DESC, value DESC) AS rn
        |    FROM o) WHERE rn = 1),
        |spans AS (
        |  SELECT user_id, min(bin) AS lo, max(bin) AS hi FROM o GROUP BY user_id),
        |grid AS (
        |  SELECT user_id, g.b AS bin
        |  FROM spans, LATERAL (SELECT unnest(range(lo, hi + 1)) AS b) g),
        |f AS (
        |  SELECT grid.user_id, grid.bin, lastobs.v,
        |    last_value(lastobs.v IGNORE NULLS) OVER (
        |      PARTITION BY grid.user_id ORDER BY grid.bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fill
        |  FROM grid LEFT JOIN lastobs
        |    ON lastobs.user_id = grid.user_id AND lastobs.bin = grid.bin)
        |SELECT user_id, bin, round(fill, 6) AS value,
        |  v IS NOT NULL AS was_observed
        |FROM f ORDER BY user_id, bin""".stripMargin,
    // q118: identical bucket arithmetic (operation order mirrored:
    // (x - mn) * 16 / (mx - mn), capped at 15), bounds re-derived
    // from bucket ids, rounded at 6.
    "q118_histogram" ->
      """WITH mm AS (
        |  SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
        |         CAST(max(l_extendedprice) AS DOUBLE) AS mx
        |  FROM lineitem),
        |b AS (
        |  SELECT CASE WHEN mx = mn THEN 0
        |              ELSE least(15, CAST(floor((CAST(l_extendedprice AS DOUBLE) - mn) * 16 / (mx - mn)) AS INTEGER))
        |         END AS bucket, mn, mx
        |  FROM lineitem CROSS JOIN mm
        |  WHERE l_extendedprice IS NOT NULL)
        |SELECT bucket, count(*) AS n,
        |  round(min(mn + bucket * ((mx - mn) / 16)), 6) AS lo,
        |  round(min(mn + (bucket + 1) * ((mx - mn) / 16)), 6) AS hi
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // q119: q105's domain CTEs gate, q107's LM chain (trained on the
    // GATED corpus — order matters and is mirrored), the weight >= 1
    // keep, then q113's packing + string_agg tail.
    "q119_provenance_prep" ->
      s"""WITH u AS (
        |  SELECT doc_id, source, lang, text,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'a.b.' ELSE '' END)
        |    || 'site' || CAST(doc_id % 40 AS VARCHAR) || '.'
        |    || (CASE doc_id % 4 WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com' WHEN 2 THEN 'org' ELSE 'io' END)
        |    || '/p/' || CAST(doc_id % 13 AS VARCHAR) AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, lang, text,
        |    regexp_extract(url, '${ext.UrlOps.UrlPartsRe}', 2) AS host
        |  FROM u),
        |dm AS (
        |  SELECT doc_id, source, lang, text,
        |    CASE WHEN len(l) <= 1 THEN host
        |         WHEN len(l) >= 3 AND l[-2] IN ('co','com','net','org','gov','ac','edu')
        |              AND length(l[-1]) = 2
        |           THEN array_to_string(l[greatest(len(l)-2,1):], '.')
        |         ELSE array_to_string(l[greatest(len(l)-1,1):], '.') END AS dom
        |  FROM (SELECT *, string_split(host, '.') AS l FROM p)),
        |g AS (
        |  SELECT doc_id, source, lang, text FROM dm
        |  WHERE dom NOT IN ('site0.co.uk', 'site13.com')),
        |t AS (
        |  SELECT doc_id, lang,
        |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS c
        |  FROM g),
        |bg AS (
        |  SELECT doc_id, lang, substring(c, CAST(i.i AS INTEGER), 2) AS bg
        |  FROM t, LATERAL (SELECT unnest(range(1, length(c))) AS i) i
        |  WHERE length(c) >= 2),
        |cntT AS (SELECT bg, count(*) AS c FROM bg WHERE lang = 'en' GROUP BY bg),
        |totT AS (SELECT sum(c) AS total FROM cntT),
        |mT AS (SELECT bg, ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) AS logp
        |       FROM cntT CROSS JOIN totT),
        |fT AS (SELECT ln(0.5 / CAST(total AS DOUBLE)) AS f FROM totT),
        |cntR AS (SELECT bg, count(*) AS c FROM bg GROUP BY bg),
        |totR AS (SELECT sum(c) AS total FROM cntR),
        |mR AS (SELECT bg, ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) AS logp
        |       FROM cntR CROSS JOIN totR),
        |fR AS (SELECT ln(0.5 / CAST(total AS DOUBLE)) AS f FROM totR),
        |sc AS (
        |  SELECT bg.doc_id,
        |    round(avg(coalesce(mT.logp, fT.f)), 4) AS lm_target,
        |    round(avg(coalesce(mR.logp, fR.f)), 4) AS lm_raw
        |  FROM bg CROSS JOIN fT CROSS JOIN fR
        |  LEFT JOIN mT ON bg.bg = mT.bg
        |  LEFT JOIN mR ON bg.bg = mR.bg
        |  GROUP BY bg.doc_id),
        |keepw AS (
        |  SELECT doc_id FROM sc
        |  WHERE round(exp(lm_target - lm_raw), 6) >= 1.0),
        |tok AS (
        |  SELECT g.doc_id, g.source, g.text,
        |    CAST(len(string_split(lower(trim(regexp_replace(g.text, '\\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_tokens
        |  FROM g JOIN keepw ON keepw.doc_id = g.doc_id),
        |pk AS (
        |  SELECT doc_id, source, text, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |  FROM tok)
        |SELECT source AS "group", CAST(floor(start / 2000.0) AS BIGINT) AS shard_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
        |  md5(string_agg(text, '<|endofdoc|>' ORDER BY doc_id)) AS seq_md5
        |FROM pk GROUP BY source, shard_id
        |ORDER BY "group", shard_id""".stripMargin,
    // q120: identical coverage construction — matching tokens map to
    // (doc, pos - i, i) via a VALUES offset table (0-based positions
    // to mirror posexplode), full-coverage groups are occurrences.
    "q120_phrase_search" ->
      raw"""WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, u.p - 1 AS pos, w[CAST(u.p AS INTEGER)] AS tok
        |  FROM t, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS p) u),
        |m AS (
        |  SELECT DISTINCT doc_id, pos - p.i AS base, p.i AS i
        |  FROM tk JOIN (VALUES ('table', 0), ('value', 1)) AS p(w, i)
        |    ON tk.tok = p.w),
        |o AS (
        |  SELECT doc_id, base FROM m
        |  GROUP BY doc_id, base HAVING count(DISTINCT i) = 2)
        |SELECT doc_id, count(*) AS n_occurrences
        |FROM o GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q121: pairs via the BETWEEN range join (oracle-scale), unigram
    // and total CTEs, the identical (c12/tp) / ((c1/tu)*(c2/tu))
    // division order inside ln, rounded at 6.
    "q121_cooccur_pmi" ->
      raw"""WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |tk AS (
        |  SELECT doc_id, u.p - 1 AS pos, w[CAST(u.p AS INTEGER)] AS tok
        |  FROM t, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS p) u),
        |pairs AS (
        |  SELECT a.tok AS w1, b.tok AS w2, count(*) AS c12
        |  FROM tk a JOIN tk b
        |    ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos + 1 AND a.pos + 2
        |  GROUP BY 1, 2 HAVING count(*) >= 30),
        |uni AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
        |tu AS (SELECT CAST(sum(c) AS DOUBLE) AS tu FROM uni),
        |tp AS (SELECT CAST(sum(c12) AS DOUBLE) AS tp FROM pairs)
        |SELECT w1, w2, c12,
        |  round(ln((CAST(c12 AS DOUBLE) / tp) /
        |    ((CAST(u1.c AS DOUBLE) / tu) * (CAST(u2.c AS DOUBLE) / tu))), 6) AS pmi
        |FROM pairs
        |JOIN uni u1 ON u1.tok = pairs.w1
        |JOIN uni u2 ON u2.tok = pairs.w2
        |CROSS JOIN tp CROSS JOIN tu
        |ORDER BY w1, w2""".stripMargin,
    // q122: per-dimension μ/σ re-derived with the same round(,9)
    // quantization, the same σ=0 centering branch, digests rounded
    // at 6 (sum-order jitter absorbed — the q01 convention).
    "q122_standardize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (
        |  SELECT vec_id, u.p AS pos, v[CAST(u.p AS INTEGER)] AS x
        |  FROM e, LATERAL (SELECT unnest(range(1, 65)) AS p) u),
        |st AS (
        |  SELECT pos, round(avg(x), 9) AS mu,
        |    round(sqrt(greatest(0, avg(x*x) - avg(x)*avg(x))), 9) AS sigma
        |  FROM x GROUP BY pos),
        |z AS (
        |  SELECT x.vec_id, x.pos,
        |    CASE WHEN st.sigma = 0 THEN x.x - st.mu
        |         ELSE (x.x - st.mu) / st.sigma END AS z
        |  FROM x JOIN st ON st.pos = x.pos)
        |SELECT vec_id AS id,
        |  round(max(CASE WHEN pos = 1 THEN z END), 6) AS z0,
        |  round(max(CASE WHEN pos = 2 THEN z END), 6) AS z1,
        |  round(sqrt(sum(z*z)), 6) AS znorm
        |FROM z GROUP BY vec_id ORDER BY id""".stripMargin,
    // q123: the shared complete candidate set (ham, pigeonhole at
    // hamming <= 3), symmetrized, then the partner rules: an odd
    // (incoming) id is dup iff its partner is even (history) or an
    // earlier odd id.
    "q123_incremental_dedup" ->
      s"""$simhashHamCtes,
        |sym AS (
        |  SELECT id_a AS x, id_b AS y FROM ham WHERE hamming <= 3
        |  UNION ALL
        |  SELECT id_b AS x, id_a AS y FROM ham WHERE hamming <= 3),
        |dup AS (
        |  SELECT DISTINCT x FROM sym
        |  WHERE x % 2 = 1 AND (y % 2 = 0 OR y < x))
        |SELECT d.doc_id AS id, dup.x IS NOT NULL AS is_dup
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
        |LEFT JOIN dup ON dup.x = d.doc_id
        |ORDER BY id""".stripMargin,
    // q124: quantile_cont ≡ Spark's interpolated percentile; the
    // outlier comparison uses the UNROUNDED med/mad on both sides,
    // only the reported med/mad round at 4.
    "q124_mad_outliers" ->
      """WITH b AS (
        |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |med AS (SELECT g, quantile_cont(x, 0.5) AS med FROM b GROUP BY g),
        |wm AS (SELECT b.g, b.x, med.med FROM b JOIN med ON med.g = b.g),
        |mad AS (SELECT g, quantile_cont(abs(x - med), 0.5) AS mad FROM wm GROUP BY g)
        |SELECT wm.g, count(*) AS n,
        |  round(min(wm.med), 4) AS med,
        |  round(min(mad.mad), 4) AS mad,
        |  CAST(sum(CASE WHEN abs(wm.x - wm.med) > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM wm JOIN mad ON mad.g = wm.g
        |GROUP BY wm.g ORDER BY wm.g""".stripMargin,
    // q125: same planted-duplicate union, md5 over the same
    // clean+fold normalization, two counts.
    "q125_dup_families" ->
      raw"""WITH c AS (
        |  SELECT text FROM documents
        |  UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT text FROM documents WHERE doc_id % 20 = 0),
        |f AS (
        |  SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM c),
        |fam AS (SELECT fp, count(*) AS family_size FROM f GROUP BY fp)
        |SELECT family_size, count(*) AS n_families
        |FROM fam GROUP BY family_size ORDER BY family_size""".stripMargin,
    // q126: the shared complete candidate CTEs + two source joins.
    "q126_source_flow" ->
      s"""$simhashHamCtes,
        |src AS (SELECT doc_id, source FROM documents)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_pairs
        |FROM ham
        |JOIN src a ON a.doc_id = ham.id_a
        |JOIN src b ON b.doc_id = ham.id_b
        |WHERE hamming <= 3
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q127: chained min-timestamp reach sets; step k joins step k−1
    // and keeps events strictly after the previous step but within
    // the 7-day entry-anchored horizon. Counts are exact.
    "q127_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(s1.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(s2.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.tp
        |    AND e.ts <= s2.t1 + INTERVAL 7 DAY
        |  GROUP BY e.user_id)
        |SELECT 1 AS step_idx, 'view' AS step_name, count(*) AS n_users FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3
        |ORDER BY step_idx""".stripMargin,
    // q140: q127's stage CTEs + quantile_cont (≡ Spark's exact
    // percentile, same linear interpolation); dt = floor(epoch) diff
    // on both sides (Spark's timestamp→long cast truncates).
    "q140_funnel_times" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(s1.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(s2.t1) AS t1, min(e.ts) AS tp
        |  FROM events e JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.tp
        |    AND e.ts <= s2.t1 + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |d2 AS (SELECT CAST(floor(epoch(tp)) AS BIGINT)
        |  - CAST(floor(epoch(t1)) AS BIGINT) AS dt FROM s2),
        |d3 AS (SELECT CAST(floor(epoch(tp)) AS BIGINT)
        |  - CAST(floor(epoch(t1)) AS BIGINT) AS dt FROM s3)
        |SELECT 1 AS step_idx, 'view' AS step_name, count(*) AS n_users,
        |  round(quantile_cont(0, 0.5), 6) AS p50_sec,
        |  round(quantile_cont(0, 0.9), 6) AS p90_sec FROM s1
        |UNION ALL SELECT 2, 'click', count(*),
        |  round(quantile_cont(dt, 0.5), 6), round(quantile_cont(dt, 0.9), 6) FROM d2
        |UNION ALL SELECT 3, 'purchase', count(*),
        |  round(quantile_cont(dt, 0.5), 6), round(quantile_cont(dt, 0.9), 6) FROM d3
        |ORDER BY step_idx""".stripMargin,
    // q128: date_trunc('week') is Monday-anchored in both engines;
    // the offset is day arithmetic / 7 — all integers.
    "q128_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |coh AS (SELECT user_id, min(w) AS cw FROM act GROUP BY user_id)
        |SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
        |  CAST(date_diff('day', cw, w) / 7 AS INTEGER) AS week_offset,
        |  count(*) AS n_users
        |FROM act JOIN coh USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q129: the same running IGNORE NULLS last-touch window over the
    // (ts, event_id) total order; sum rounded at 2 (q39 convention).
    "q129_attribution" ->
      """WITH t AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type IN ('view','click','signup')
        |                    THEN event_type END IGNORE NULLS) OVER w AS ltype,
        |    last_value(CASE WHEN event_type IN ('view','click','signup')
        |                    THEN ts END IGNORE NULLS) OVER w AS lts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT CASE WHEN lts IS NOT NULL AND lts >= ts - INTERVAL 3 DAY
        |            THEN ltype ELSE 'direct' END AS channel,
        |  count(*) AS n_conversions, round(sum(value), 2) AS sum_value
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q130: the NAIVE canonical three-way join (a<b edges; triangle
    // x<y<z found once) — a different algorithm than the Scala side's
    // degree-ordered orientation, same exact integer counts.
    "q130_triangles" ->
      """WITH raw AS (
        |  SELECT doc_id % 37 AS s, (doc_id * 7 + 3) % 40 AS d FROM documents),
        |e AS (
        |  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
        |  FROM raw WHERE s <> d),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |n AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |SELECT node, count(*) AS n_triangles
        |FROM n GROUP BY node ORDER BY node""".stripMargin,
    // q131: DuckDB's native jaro_winkler_similarity scores the same
    // nation-blocked pairs (round at 6 BEFORE the threshold, both
    // sides); components via the q48 recursive min-id closure;
    // singletons restored by the left joins.
    "q131_entity_res" ->
      s"""WITH RECURSIVE okb AS (
        |  SELECT c_nationkey FROM customer
        |  GROUP BY c_nationkey HAVING count(*) <= $MaxBucketCap),
        |p AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM customer a JOIN okb oa ON oa.c_nationkey = a.c_nationkey
        |       JOIN customer b ON a.c_nationkey = b.c_nationkey
        |        AND a.c_custkey < b.c_custkey
        |  WHERE round(jaro_winkler_similarity(a.c_name, b.c_name), 6) >= 0.98),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |nodes AS (SELECT DISTINCT src AS v FROM edges),
        |rec AS (
        |  SELECT v, v AS m FROM nodes
        |  UNION
        |  SELECT e.dst AS v, r.m FROM rec r JOIN edges e ON e.src = r.v),
        |comp AS (SELECT v, min(m) AS entity_id FROM rec GROUP BY v),
        |sizes AS (
        |  SELECT entity_id, count(*) AS entity_size FROM comp GROUP BY entity_id)
        |SELECT c.c_custkey AS id,
        |  coalesce(comp.entity_id, c.c_custkey) AS entity_id,
        |  coalesce(sizes.entity_size, 1) AS entity_size
        |FROM customer c
        |LEFT JOIN comp ON comp.v = c.c_custkey
        |LEFT JOIN sizes ON sizes.entity_id = comp.entity_id
        |ORDER BY id""".stripMargin,
    // q133: the SymSpell deletion keys re-derived with list_transform
    // + unnest, same bucket cap, same comparator/threshold/closure —
    // the candidate-generation trade is IN the oracle, so recall
    // drift vs the construction would hash-fail.
    "q133_entity_blocked" ->
      s"""WITH RECURSIVE k AS (
        |  SELECT c_custkey AS id, c_name AS nm,
        |    unnest([CAST(c_nationkey AS VARCHAR) || '|' || c_name] ||
        |      list_transform(range(1, length(c_name) + 1),
        |        i -> CAST(c_nationkey AS VARCHAR) || '|' ||
        |             substr(c_name, 1, i - 1) ||
        |             substr(c_name, i + 1, length(c_name)))) AS key
        |  FROM customer),
        |ok AS (SELECT key FROM k GROUP BY key HAVING count(*) <= $MaxBucketCap),
        |kk AS (SELECT k.* FROM k JOIN ok USING (key)),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.nm AS na, b.nm AS nb
        |  FROM kk a JOIN kk b ON a.key = b.key AND a.id < b.id),
        |p AS (
        |  SELECT id_a, id_b FROM cand
        |  WHERE round(jaro_winkler_similarity(na, nb), 6) >= 0.98),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |nodes AS (SELECT DISTINCT src AS v FROM edges),
        |rec AS (
        |  SELECT v, v AS m FROM nodes
        |  UNION
        |  SELECT e.dst AS v, r.m FROM rec r JOIN edges e ON e.src = r.v),
        |comp AS (SELECT v, min(m) AS entity_id FROM rec GROUP BY v),
        |sizes AS (
        |  SELECT entity_id, count(*) AS entity_size FROM comp GROUP BY entity_id)
        |SELECT c.c_custkey AS id,
        |  coalesce(comp.entity_id, c.c_custkey) AS entity_id,
        |  coalesce(sizes.entity_size, 1) AS entity_size
        |FROM customer c
        |LEFT JOIN comp ON comp.v = c.c_custkey
        |LEFT JOIN sizes ON sizes.entity_id = comp.entity_id
        |ORDER BY id""".stripMargin,
    // q132: lead over the same (ts, event_id) total order; p is a
    // ratio of exact counts rounded at 6.
    "q132_path_transitions" ->
      """WITH t AS (
        |  SELECT event_type AS ft, lead(event_type) OVER w AS tt,
        |    ts, lead(ts) OVER w AS nts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |a AS (
        |  SELECT ft AS from_type, tt AS to_type, count(*) AS n FROM t
        |  WHERE tt IS NOT NULL AND nts <= ts + INTERVAL 10 MINUTE
        |  GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(n / sum(n) OVER (PARTITION BY from_type), 6) AS p
        |FROM a ORDER BY from_type, to_type""".stripMargin,
    // q134: the q81 md5 digit-arithmetic hash split, conversion =
    // last conversion strictly after first exposure, and the SAME
    // double expression tree for rates/lift/z, rounded at 9.
    "q134_ab_test" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |pu AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_exp,
        |    max(CASE WHEN event_type = 'purchase' THEN ts END) AS t_conv
        |  FROM e GROUP BY user_id),
        |v AS (
        |  SELECT
        |    CASE WHEN
        |      (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
        |      + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
        |      + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
        |      + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1) < 524288
        |      THEN 'control' ELSE 'treatment' END AS variant,
        |    CASE WHEN t_conv > t_exp THEN 1 ELSE 0 END AS conv
        |  FROM (SELECT t_exp, t_conv, md5(CAST(user_id AS VARCHAR) || '|0') AS hh
        |        FROM pu WHERE t_exp IS NOT NULL)),
        |s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN variant = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
        |    CAST(sum(CASE WHEN variant = 'control' THEN conv ELSE 0 END) AS BIGINT) AS conv_control,
        |    CAST(sum(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS n_treatment,
        |    CAST(sum(CASE WHEN variant = 'treatment' THEN conv ELSE 0 END) AS BIGINT) AS conv_treatment
        |  FROM v)
        |SELECT n_control, conv_control,
        |  CASE WHEN n_control > 0 THEN
        |    round(CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE), 9)
        |  END AS rate_control,
        |  n_treatment, conv_treatment,
        |  CASE WHEN n_treatment > 0 THEN
        |    round(CAST(conv_treatment AS DOUBLE) / CAST(n_treatment AS DOUBLE), 9)
        |  END AS rate_treatment,
        |  CASE WHEN n_control > 0 AND n_treatment > 0 THEN
        |    round(CAST(conv_treatment AS DOUBLE) / CAST(n_treatment AS DOUBLE)
        |      - CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE), 9)
        |  END AS lift,
        |  CASE WHEN n_control > 0 AND n_treatment > 0
        |      AND conv_control + conv_treatment > 0
        |      AND conv_control + conv_treatment < n_control + n_treatment THEN
        |    round((CAST(conv_treatment AS DOUBLE) / CAST(n_treatment AS DOUBLE)
        |         - CAST(conv_control AS DOUBLE) / CAST(n_control AS DOUBLE))
        |      / sqrt(((CAST(conv_control AS DOUBLE) + CAST(conv_treatment AS DOUBLE))
        |              / (CAST(n_control AS DOUBLE) + CAST(n_treatment AS DOUBLE)))
        |        * (1.0 - (CAST(conv_control AS DOUBLE) + CAST(conv_treatment AS DOUBLE))
        |              / (CAST(n_control AS DOUBLE) + CAST(n_treatment AS DOUBLE)))
        |        * (1.0 / CAST(n_control AS DOUBLE) + 1.0 / CAST(n_treatment AS DOUBLE))), 9)
        |  END AS z_score
        |FROM s""".stripMargin,
    // q136: the q81/q134 hash-split mirror with three cumulative
    // bounds (round(0.4*2^20)=419430, round(0.7*2^20)=734003), then
    // the identical double tree for e/contrib/chi2, round 9; window
    // sums run over the k-row arm table, never the event log.
    "q136_chi_square" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |pu AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_exp,
        |    max(CASE WHEN event_type = 'purchase' THEN ts END) AS t_conv
        |  FROM e GROUP BY user_id),
        |v AS (
        |  SELECT
        |    CASE WHEN bucket < 419430 THEN 'control'
        |         WHEN bucket < 734003 THEN 'variant_a'
        |         ELSE 'variant_b' END AS variant,
        |    CASE WHEN t_conv > t_exp THEN 1 ELSE 0 END AS conv
        |  FROM (SELECT t_exp, t_conv,
        |          (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
        |          + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
        |          + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
        |          + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
        |          + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1) AS bucket
        |        FROM (SELECT t_exp, t_conv,
        |                md5(CAST(user_id AS VARCHAR) || '|0') AS hh
        |              FROM pu WHERE t_exp IS NOT NULL))),
        |arm AS (
        |  SELECT variant, count(*) AS n_users,
        |    CAST(sum(conv) AS BIGINT) AS n_conv
        |  FROM v GROUP BY variant),
        |t AS (
        |  SELECT variant, n_users, n_conv,
        |    CAST(sum(n_users) OVER () AS BIGINT) AS totn,
        |    CAST(sum(n_conv) OVER () AS BIGINT) AS totc,
        |    count(*) OVER () AS k
        |  FROM arm),
        |x AS (
        |  SELECT variant, n_users, n_conv, totn, totc, k,
        |    (CAST(n_users AS DOUBLE) * CAST(totc AS DOUBLE)) / CAST(totn AS DOUBLE) AS e1,
        |    (CAST(n_users AS DOUBLE) * CAST(totn - totc AS DOUBLE)) / CAST(totn AS DOUBLE) AS e0
        |  FROM t),
        |c AS (
        |  SELECT variant, n_users, n_conv, totn, totc, k, e1,
        |    (CAST(n_conv AS DOUBLE) - e1) * (CAST(n_conv AS DOUBLE) - e1) / e1
        |    + ((CAST(n_users AS DOUBLE) - CAST(n_conv AS DOUBLE)) - e0)
        |      * ((CAST(n_users AS DOUBLE) - CAST(n_conv AS DOUBLE)) - e0) / e0 AS contrib
        |  FROM x)
        |SELECT variant, n_users, n_conv,
        |  round(CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE), 9) AS rate,
        |  CASE WHEN totc > 0 AND totc < totn THEN round(e1, 9) END AS exp_conv,
        |  CASE WHEN totc > 0 AND totc < totn THEN round(contrib, 9) END AS chi2_contrib,
        |  CASE WHEN totc > 0 AND totc < totn THEN
        |    round(sum(contrib) OVER (), 9) END AS chi2,
        |  k - 1 AS dof
        |FROM c ORDER BY variant""".stripMargin,
    // q137: cents quantized per event (one deterministic scalar op),
    // so every sum is an exact integer in any order; the moment
    // algebra (n·Sxx − Sx², …) converts to double once and proceeds
    // through deterministic scalar ops — bit-identical cross-engine
    // before the round(6) presentation.
    "q137_cuped" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |pu AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_exp,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |      AND ts < TIMESTAMP '2024-01-16 00:00:00' THEN cents END), 0)
        |      AS BIGINT) AS x,
        |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |      AND ts >= TIMESTAMP '2024-01-16 00:00:00' THEN cents END), 0)
        |      AS BIGINT) AS y
        |  FROM e GROUP BY user_id),
        |v AS (
        |  SELECT
        |    CASE WHEN
        |      (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
        |      + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
        |      + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
        |      + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1) < 524288
        |      THEN 'control' ELSE 'treatment' END AS variant, x, y
        |  FROM (SELECT x, y, md5(CAST(user_id AS VARCHAR) || '|0') AS hh
        |        FROM pu WHERE t_exp IS NOT NULL)),
        |arm AS (
        |  SELECT variant, count(*) AS n_users,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM v GROUP BY variant),
        |t AS (
        |  SELECT variant, n_users, sx, sy,
        |    CAST(sum(n_users) OVER () AS DOUBLE) AS n,
        |    CAST(sum(sx) OVER () AS DOUBLE) AS tsx,
        |    CAST(sum(sy) OVER () AS DOUBLE) AS tsy,
        |    CAST(sum(sxx) OVER () AS DOUBLE) AS tsxx,
        |    CAST(sum(sxy) OVER () AS DOUBLE) AS tsxy,
        |    CAST(sum(syy) OVER () AS DOUBLE) AS tsyy
        |  FROM arm),
        |x2 AS (
        |  SELECT variant, n_users, sx, sy, n, tsx,
        |    n * tsxx - tsx * tsx AS varx,
        |    n * tsyy - tsy * tsy AS vary,
        |    n * tsxy - tsx * tsy AS cov
        |  FROM t)
        |SELECT variant, n_users,
        |  round(CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS mean_post,
        |  CASE WHEN varx <> 0 THEN
        |    round(CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE)
        |      - (cov / varx) * (CAST(sx AS DOUBLE) / CAST(n_users AS DOUBLE)
        |          - tsx / n), 6) END AS mean_post_adj,
        |  CASE WHEN varx <> 0 THEN round(cov / varx, 6) END AS theta,
        |  CASE WHEN varx <> 0 AND vary <> 0 THEN
        |    round(cov * cov / (varx * vary), 6) END AS rho2
        |FROM x2 ORDER BY variant""".stripMargin,
    // q139: per-user distinct labels, pair self-join a<b, per-label
    // audience sizes; jaccard is a ratio of exact integers, round 9.
    "q139_audience_overlap" ->
      """WITH ul AS (
        |  SELECT DISTINCT user_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |sz AS (SELECT event_type, count(*) AS n FROM ul GROUP BY event_type),
        |pr AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM ul x JOIN ul y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        |  round(CAST(n_both AS DOUBLE) / CAST(sa.n + sb.n - n_both AS DOUBLE), 9)
        |    AS jaccard
        |FROM pr
        |JOIN sz sa ON sa.event_type = pr.type_a
        |JOIN sz sb ON sb.event_type = pr.type_b
        |ORDER BY type_a, type_b""".stripMargin,
    // q141: q139's exact mirror + literal TRUE for the in-bounds
    // assertions (the q34 convention — a drifting estimate flips a
    // boolean and hash-mismatches).
    "q141_overlap_sketch" ->
      """WITH ul AS (
        |  SELECT DISTINCT user_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |sz AS (SELECT event_type, count(*) AS n FROM ul GROUP BY event_type),
        |pr AS (
        |  SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM ul x JOIN ul y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        |  TRUE AS est_a_ok, TRUE AS est_b_ok, TRUE AS est_both_ok
        |FROM pr
        |JOIN sz sa ON sa.event_type = pr.type_a
        |JOIN sz sb ON sb.event_type = pr.type_b
        |ORDER BY type_a, type_b""".stripMargin,
    // q138: the same shift-and-mask Morton cascade spelled in SQL
    // (masks as decimal literals); two independent spellings of the
    // interleave must agree on every key.
    "q138_zorder" ->
      """WITH s AS (
        |  SELECT c_custkey,
        |    c_nationkey & 4294967295 AS a0,
        |    (c_custkey % 256) & 4294967295 AS b0
        |  FROM customer),
        |sa AS (
        |  SELECT c_custkey, b0,
        |    ((((a0 | (a0 << 16)) & 281470681808895)
        |       | (((a0 | (a0 << 16)) & 281470681808895) << 8)) & 71777214294589695) AS a2
        |  FROM s),
        |sb AS (
        |  SELECT c_custkey, b0, a2,
        |    (((a2 | (a2 << 4)) & 1085102592571150095)
        |      | ((((a2 | (a2 << 4)) & 1085102592571150095)) << 2)) & 3689348814741910323 AS a4
        |  FROM sa),
        |fa AS (
        |  SELECT c_custkey, b0,
        |    (a4 | (a4 << 1)) & 6148914691236517205 AS abits
        |  FROM sb),
        |ta AS (
        |  SELECT c_custkey, abits,
        |    ((((b0 | (b0 << 16)) & 281470681808895)
        |       | (((b0 | (b0 << 16)) & 281470681808895) << 8)) & 71777214294589695) AS b2
        |  FROM fa),
        |tb AS (
        |  SELECT c_custkey, abits,
        |    (((b2 | (b2 << 4)) & 1085102592571150095)
        |      | ((((b2 | (b2 << 4)) & 1085102592571150095)) << 2)) & 3689348814741910323 AS b4
        |  FROM ta)
        |SELECT c_custkey,
        |  abits | (((b4 | (b4 << 1)) & 6148914691236517205) << 1) AS zkey
        |FROM tb ORDER BY c_custkey""".stripMargin,
    // q135: exact-mode oracle (no full xxhash64 collision among the
    // fixture's event types — deterministic per key set): the sketch
    // readout must equal the exact count.
    "q135_count_min" ->
      """SELECT event_type, count(*) AS est_n
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q142: same derived snapshots, same full-outer + null-safe
    // per-column compare; CASE guards keep added/removed rows at
    // changed_cols = '' exactly like concat_ws over an empty array.
    "q142_snapshot_diff" ->
      """WITH oldv AS (
        |  SELECT c_custkey, c_name, c_acctbal, c_nationkey
        |  FROM customer WHERE c_custkey % 10 <> 0),
        |newv AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
        |         ELSE c_acctbal END AS c_acctbal,
        |    CASE WHEN c_custkey % 11 = 0
        |         THEN CAST((c_nationkey + 1) % 25 AS INTEGER)
        |         ELSE c_nationkey END AS c_nationkey
        |  FROM customer WHERE c_custkey % 13 <> 0),
        |j AS (
        |  SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
        |    CASE WHEN o.c_custkey IS NULL THEN 'added'
        |         WHEN n.c_custkey IS NULL THEN 'removed'
        |         WHEN NOT (o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal)
        |           OR NOT (o.c_name IS NOT DISTINCT FROM n.c_name)
        |           OR NOT (o.c_nationkey IS NOT DISTINCT FROM n.c_nationkey)
        |           THEN 'changed' ELSE 'unchanged' END AS change_type,
        |    concat_ws(',',
        |      CASE WHEN o.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL
        |             AND NOT (o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal)
        |           THEN 'c_acctbal' END,
        |      CASE WHEN o.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL
        |             AND NOT (o.c_name IS NOT DISTINCT FROM n.c_name)
        |           THEN 'c_name' END,
        |      CASE WHEN o.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL
        |             AND NOT (o.c_nationkey IS NOT DISTINCT FROM n.c_nationkey)
        |           THEN 'c_nationkey' END) AS changed_cols
        |  FROM oldv o FULL OUTER JOIN newv n ON o.c_custkey = n.c_custkey)
        |SELECT c_custkey, change_type, changed_cols FROM j
        |WHERE change_type <> 'unchanged'
        |ORDER BY c_custkey""".stripMargin,
    "q143_ivfpq" -> ivfPqOracleSql(),
    // q148: the identical chain, query side = a derived TABLE
    // (every 97th vector) instead of an id list.
    "q148_ivfpq_batch" -> ivfPqOracleSql("% 97 = 0"),
    "q144_html_extract" -> htmlExtractOracleSql,
    // q145: shared coarse+PQ chains; SDC table recomputed from the
    // replayed codebooks (same ascending fold, same 9-dp entries),
    // q106's cluster cap and ≥tau higher-id drop.
    "q145_semdedup_pq" -> semDedupPqOracleSql,
    // q146: q151's auto form ≡ fixed form at fixture scale (derived
    // coarse k = 16 at every fixture sf) — the q112 convention.
    "q146_semdedup_pq_sized" -> semDedupPqOracleSql,
    // q151: the AUTO form — same floors, same oracle.
    "q151_semdedup_pq_auto" -> semDedupPqOracleSql,
    // q152: the oracle IS the naive single-task plan the operator
    // replaces — identical numbering, different physical strategy.
    "q152_stable_row_number" ->
      """SELECT doc_id, source,
        |  ROW_NUMBER() OVER (ORDER BY source, doc_id) AS row_num
        |FROM documents
        |ORDER BY row_num""".stripMargin,
    // q153: the oracle IS the naive inequality join the chunked plan
    // replaces; floor(epoch) mirrors unix_seconds truncation (q76
    // convention), durations are integer-modular so both engines add
    // the exact same whole seconds.
    "q153_interval_overlap" ->
      """WITH ia AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + event_id % 5000 AS e
        |  FROM events WHERE event_type = 'view'),
        |ib AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |    CAST(floor(epoch(ts)) AS BIGINT) + event_id % 8000 AS e
        |  FROM events WHERE event_type = 'click')
        |SELECT a.event_id AS id_a, b.event_id AS id_b,
        |  least(a.e, b.e) - greatest(a.s, b.s) AS overlap_sec
        |FROM ia a JOIN ib b
        |  ON a.user_id = b.user_id AND a.s <= b.e AND b.s <= a.e
        |ORDER BY id_a, id_b""".stripMargin,
    // q154: the identical NB tree — q80's token split, Laplace α=1
    // ratios of exact integers, floor(ln·1e9 + 0.5) nano-unit
    // quantization at every log site, then pure integer sums and an
    // integer-score argmax with label tie-break. The raw nano-unit
    // score stays INTERNAL (cross-libm ulps — the q92 convention);
    // only the selection (pred, hit) is output.
    "q154_naive_bayes" -> nbOracleSql(
      label = "source",
      trainWhere = "doc_id % 10 <> 0", testWhere = "doc_id % 10 = 0",
      readout = """SELECT te.doc_id, te.actual, b.pred,
        |  (b.pred = te.actual) AS hit
        |FROM te JOIN best b ON b.doc_id = te.doc_id AND b.rn = 1
        |ORDER BY te.doc_id""".stripMargin),
    // q155: the full training loop replayed as chained CTEs — same
    // sentinel encoding, same literal-replace merge semantics, same
    // (count DESC, pair ASC) argmax tie-break.
    // q214: the hashed-LR training loop unrolled (the q155 stance
    // applied to gradient descent) — 5 iteration CTE blocks, integer
    // nano-unit weights, the pmod floor-division step.
    "q214_quality_lr" -> lrOracleSql(64, 8, 1L, 1L),
    // q259: the dense-LR loop unrolled (the q214 template at embedding
    // features — milli-unit x, nano-unit w, planted linear teacher).
    "q259_embedding_lr" -> denseLrOracleSql(64, 8, 16L, 1L),
    // q260/q261: the SAME chain generator + tercile boundary —
    // the cut's surviving rows and its one-row datacard
    "q260_classifier_cut" -> denseLrCutOracleSql,
    "q261_classifier_card" -> denseLrCardOracleSql,
    // q223: q214's train+score chain byte-shared (lrChainCtes);
    // decile boundaries by quantile_cont (≡ Spark percentile to the
    // bit), bin = 1 + #{boundaries below}, per-bin acc vs sigmoid
    // confidence, ECE = n-weighted gap over the 10-row bin table.
    "q223_calibration" ->
      (lrChainCtes(64, 8, 1L, 1L) + ",\n" +
      raw"""sy AS MATERIALIZED (
        |  SELECT sc.doc_id, CAST(sc.wx AS DOUBLE) AS m, dd.y
        |  FROM sc JOIN dd USING (doc_id)),
        |qs AS (SELECT quantile_cont(m, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        |       FROM sy),
        |binned AS (
        |  SELECT y, m,
        |    CAST(1 + len(list_filter(qs.qs, q -> m > q)) AS INTEGER) AS bin
        |  FROM sy CROSS JOIN qs),
        |bins AS (
        |  SELECT bin, count(*) AS n, avg(CAST(y AS DOUBLE)) AS acc,
        |    avg(1.0 / (1.0 + exp(-m / 1e9))) AS conf
        |  FROM binned GROUP BY bin)
        |SELECT bin, n, round(acc, 4) AS pos_rate, round(conf, 4) AS confidence,
        |  round(abs(acc - conf), 4) AS gap,
        |  round(sum(n * abs(acc - conf)) OVER () / sum(n) OVER (), 4) AS ece
        |FROM bins ORDER BY bin""".stripMargin),
    "q155_bpe_train" -> bpeOracleSql(8),
    // q156: q143/q148's byte-shared chain with the FIT restricted to
    // yesterday's rows and assignment/encoding over the full corpus —
    // extend ≡ assign-all under fixed centroids.
    "q156_pq_incremental" ->
      ivfPqOracleSql("% 97 = 0", trainWhere = "vec_id % 97 <> 0"),
    // q165: the sized form — derived coarse k floors to 16 at fixture
    // scale, so it shares q156's oracle verbatim (q112 convention).
    "q165_pq_incr_sized" ->
      ivfPqOracleSql("% 97 = 0", trainWhere = "vec_id % 97 <> 0"),
    // q157: the identical rolling-hash polynomial (integer, mod-prime,
    // shared power table) replayed over DuckDB list HOFs. DuckDB's
    // range() never descends, so sub-window docs get [] cuts — the
    // same single-chunk outcome the Spark guard produces.
    "q157_cdc_chunks" -> cdcOracleSql,
    // q159: derivation + canonicalization mirrored — UrlPartsRe and
    // the tracking-param set interpolated from UrlOps so the two
    // engines can never drift.
    "q159_url_canonical" -> urlCanonicalOracleSql,
    // q160: the shared CDC chunk CTEs + the q27 lexicon argmax (lists
    // generated from topicLexicons) per CHUNK, integer majority math.
    "q160_mixed_content" -> mixedContentOracleSql,
    // q161: BOTH corpus versions through the shared CDC chain
    // (suffix-disambiguated), chunk-multiset delta in pure integers.
    "q161_chunk_transfer" ->
      s"""WITH old_t AS (SELECT doc_id, text FROM documents),
         |new_t AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 0 THEN 'EDITED PREFIX v2 ' || text
         |         ELSE text END AS text
         |  FROM documents),
         |${cdcChunkCtesFrom("old_t", "_o")},
         |${cdcChunkCtesFrom("new_t", "_n")},
         |oc AS (
         |  SELECT doc_id, md5(chunk) AS h, count(*) AS o_cnt
         |  FROM ch_o GROUP BY doc_id, md5(chunk)),
         |nc AS (
         |  SELECT doc_id, md5(chunk) AS h, count(*) AS cnt,
         |    max(length(chunk)) AS len
         |  FROM ch_n GROUP BY doc_id, md5(chunk)),
         |xf AS (
         |  SELECT nc.doc_id,
         |    CAST(sum(greatest(nc.cnt - COALESCE(oc.o_cnt, 0), 0) * nc.len) AS BIGINT)
         |      AS transfer_bytes
         |  FROM nc LEFT JOIN oc ON oc.doc_id = nc.doc_id AND oc.h = nc.h
         |  GROUP BY nc.doc_id)
         |SELECT n.doc_id, length(n.text) AS new_bytes, xf.transfer_bytes
         |FROM new_t n JOIN xf ON xf.doc_id = n.doc_id
         |WHERE xf.transfer_bytes > 0
         |ORDER BY n.doc_id""".stripMargin,
    // q162: six rule readouts as UNION ALL branches — rule names are
    // the Scala Rule.name strings verbatim; samples are min keys.
    "q162_quality_checks" ->
      """WITH wl AS (SELECT c_custkey FROM customer WHERE c_custkey < 100),
        |nn AS (
        |  SELECT 'not_null(props)' AS rule, 'props' AS "column",
        |    count(*) FILTER (props IS NULL) AS n_violations,
        |    min(event_id) FILTER (props IS NULL) AS sample_key
        |  FROM events),
        |ir AS (
        |  SELECT 'in_range(value,0.0,50.0)' AS rule, 'value' AS "column",
        |    count(*) FILTER (value IS NOT NULL AND (value < 0.0 OR value > 50.0)) AS n_violations,
        |    min(event_id) FILTER (value IS NOT NULL AND (value < 0.0 OR value > 50.0)) AS sample_key
        |  FROM events),
        |mt AS (
        |  SELECT 'matches(event_type)' AS rule, 'event_type' AS "column",
        |    count(*) FILTER (event_type IS NOT NULL
        |      AND NOT regexp_matches(event_type, '^[a-z]+$')) AS n_violations,
        |    min(event_id) FILTER (event_type IS NOT NULL
        |      AND NOT regexp_matches(event_type, '^[a-z]+$')) AS sample_key
        |  FROM events),
        |st AS (
        |  SELECT 'in_set(event_type)' AS rule, 'event_type' AS "column",
        |    count(*) FILTER (event_type IS NOT NULL
        |      AND event_type NOT IN ('click','view','purchase','signup')) AS n_violations,
        |    min(event_id) FILTER (event_type IS NOT NULL
        |      AND event_type NOT IN ('click','view','purchase','signup')) AS sample_key
        |  FROM events),
        |uq AS (
        |  SELECT 'unique(user_id)' AS rule, 'user_id' AS "column",
        |    CAST(COALESCE(sum(n - 1), 0) AS BIGINT) AS n_violations,
        |    min(k) AS sample_key
        |  FROM (SELECT count(*) AS n, min(event_id) AS k FROM events
        |        WHERE user_id IS NOT NULL GROUP BY user_id HAVING count(*) > 1)),
        |ri AS (
        |  SELECT 'ref_integrity(user_id)' AS rule, 'user_id' AS "column",
        |    count(*) AS n_violations, min(event_id) AS sample_key
        |  FROM events
        |  WHERE user_id IS NOT NULL AND user_id NOT IN (SELECT c_custkey FROM wl))
        |SELECT * FROM (
        |  SELECT * FROM nn UNION ALL SELECT * FROM ir UNION ALL
        |  SELECT * FROM mt UNION ALL SELECT * FROM st UNION ALL
        |  SELECT * FROM uq UNION ALL SELECT * FROM ri) u
        |ORDER BY rule""".stripMargin,
    // q163: integer micro-unit weight quantization → exact integer
    // total → one correctly-rounded division per source; md5 bucket
    // is q81's digit arithmetic (salt 0).
    "q163_temperature_mix" ->
      """WITH cnts AS (
        |  SELECT source, count(*) AS cnt FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, cnt,
        |    CAST(round(sqrt(cnt) * 1e6) AS BIGINT) AS w
        |  FROM cnts),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS s FROM w),
        |rates AS (
        |  SELECT source,
        |    least(1.0, (CAST(w AS DOUBLE) * 200) / (CAST(s AS DOUBLE) * cnt)) AS rate
        |  FROM w, tot),
        |b AS (
        |  SELECT doc_id, source,
        |    md5(CAST(doc_id AS VARCHAR) || '|0') AS hh
        |  FROM documents),
        |kept AS (
        |  SELECT b.doc_id, b.source
        |  FROM b JOIN rates r ON b.source = r.source
        |  WHERE (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
        |      + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
        |      + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
        |      + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1)
        |      < CAST(floor(r.rate * 1048576) AS BIGINT))
        |SELECT source, count(*) AS n_kept,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM kept GROUP BY source ORDER BY source""".stripMargin,
    // q164: train-only fit AND assignment (afSrc = nvt), q38's
    // probe/score shape with the query predicate swapped, integer
    // majority vote with smallest-label tie-break.
    "q164_knn_labels" -> knnLabelOracleSql,
    // q166: every stage is the SHARED chain — url canonicalization,
    // suffix-parameterized mixed-content gate, the q163 rate chain.
    "q166_pipeline_r12" -> pipelineR12OracleSql,
    // q167: the oracle IS the naive single-task global-window prefix
    // sum the two-pass plan replaces (the q152 convention); integer
    // floor division (// / div) agrees across engines on the
    // non-negative offsets, and the window sum is cast back from
    // DuckDB's HUGEINT.
    // q186: the incremental path (history + startOffset-resumed
    // increment) must equal the full repack bit-for-bit — shares
    // q167's oracle verbatim.
    "q186_incremental_pack" -> seqPackingOracleSql,
    "q167_seq_packing" -> seqPackingOracleSql,

    // q168: the md5 permutation replayed as the naive global window
    // (q152 convention); both engines produce the same lowercase-hex
    // md5 of the decimal id string, so the order keys are identical.
    "q168_shard_manifest" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_toks,
        |    ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS shuffle_rank
        |  FROM t)
        |SELECT ((shuffle_rank - 1) // 64) AS shard_id,
        |  count(*) AS n_docs,
        |  CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
        |  CAST(min(shuffle_rank) AS BIGINT) AS first_rank,
        |  CAST(max(shuffle_rank) AS BIGINT) AS last_rank,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // q170: shared BPE chain + per-doc encode + the q167 packing window.
    "q170_bpe_packing" -> bpePackOracleSql(8, 512),
    // q248: the shared q155 training chain + q170 encode chain, then
    // the per-language fertility rollup; token counts are q170's
    // billed convention, chars recover pre-merge word lengths from
    // the de-bracketed symbol string (minus the one marker char);
    // ratios are Exact.ratio's floor-division mirror.
    "q248_bpe_fertility" ->
      (bpeChainCtes(8) + bpeEncodeCtes(8, "documents") +
        raw""",
        |ws AS (
        |  SELECT d.doc_id,
        |    len(string_split(substr(sym, 2, length(sym) - 2), '><')) AS n_sub,
        |    length(replace(replace(sym, '<', ''), '>', '')) - 1 AS n_chars
        |  FROM d8 d),
        |wl AS (SELECT ws.n_sub, ws.n_chars, doc.lang
        |       FROM ws JOIN documents doc USING (doc_id))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(n_sub) AS BIGINT) AS n_subtokens,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST((sum(n_sub) * 1000000) // count(*) AS DOUBLE) / 1000000.0 AS fertility,
        |  CAST((sum(n_chars) * 1000000) // sum(n_sub) AS DOUBLE) / 1000000.0 AS chars_per_token
        |FROM wl GROUP BY lang ORDER BY lang""".stripMargin),
    // q218: the q155 training chain + q170 encode chain over the
    // lang-decorated corpus, then one per-lang compression rollup.
    "q218_token_fairness" -> {
      val decSrc = "(SELECT doc_id, lang, text || CASE WHEN lang <> 'en' " +
        "THEN ' ' || repeat('q' || lang, 3) ELSE '' END AS text FROM documents) dd0"
      bpeChainCtes(32, decSrc) + bpeEncodeCtes(32, decSrc) +
        """,
          |dt AS (
          |  SELECT doc_id,
          |    CAST(count(*) AS BIGINT) AS n_words,
          |    CAST(SUM(length(regexp_replace(sym, '[<>]', '', 'g')) - 1) AS BIGINT) AS n_chars,
          |    CAST(SUM(len(string_split(substr(sym, 2, length(sym) - 2), '><'))) AS BIGINT) AS n_toks
          |  FROM d32 GROUP BY doc_id),
          |lr AS (
          |  SELECT d.lang,
          |    CAST(SUM(dt.n_words) AS BIGINT) AS n_words,
          |    CAST(SUM(dt.n_chars) AS BIGINT) AS n_chars,
          |    CAST(SUM(dt.n_toks) AS BIGINT) AS n_toks
          |  FROM dt JOIN documents d USING (doc_id) GROUP BY d.lang)
          |SELECT lang, n_words, n_chars, n_toks,
          |  round(CAST(n_chars AS DOUBLE) / n_toks, 4) AS chars_per_token
          |FROM lr ORDER BY lang""".stripMargin
    },
    // q171: identical count → smoothed-rate → quantize → integer-
    // product tree; the only doubles are one division and one ln per
    // cell, quantized at birth (the q154 convention).
    "q171_drift_psi" ->
      ("""WITH ev AS (
        |  SELECT event_type || '|' ||
        |    COALESCE(CAST(CAST(floor(value / 100.0) AS BIGINT) AS VARCHAR), 'null')
        |      AS category, ts
        |  FROM events),
        |ca AS (SELECT category, count(*) AS count_a FROM ev
        |       WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
        |cb AS (SELECT category, count(*) AS count_b FROM ev
        |       WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1),
        |""".stripMargin + psiTailSql),
    // q172: the shared dup-cluster chain keys the q81 md5 digit-
    // arithmetic bucket; singletons fall back to their own doc_id.
    "q172_leak_safe_split" -> leakSafeSplitOracleSql,
    // q173: decile edges from quantile_cont (≡ Spark percentile to
    // the bit), tie-up bin rule as a comparison count, then the q171
    // integer-units PSI tree over bins.
    "q173_numeric_drift" ->
      ("""WITH ea AS (
        |  SELECT quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS es
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16'),
        |ba AS (
        |  SELECT CASE WHEN value IS NULL THEN -1
        |    ELSE len(list_filter(ea.es, e -> value >= e)) END AS category
        |  FROM events, ea WHERE ts < TIMESTAMP '2024-01-16'),
        |bb AS (
        |  SELECT CASE WHEN value IS NULL THEN -1
        |    ELSE len(list_filter(ea.es, e -> value >= e)) END AS category
        |  FROM events, ea WHERE ts >= TIMESTAMP '2024-01-16'),
        |ca AS (SELECT category, count(*) AS count_a FROM ba GROUP BY 1),
        |cb AS (SELECT category, count(*) AS count_b FROM bb GROUP BY 1),
        |""".stripMargin + psiTailSql),
    // q174: q86's shared chain + sym/top-k, then the integer-units
    // margin (HALF_UP 2a+b trick) and the mutual self-join.
    "q174_margin_mining" -> oracleForQ174,
    // q208: the shared posts/clean-comments derivation + the same
    // (tokens DESC, flat_idx ASC) top-1 window; acceptance replayed
    // against the same floor.
    "q208_sft_pairs" ->
      s"""$sftCommentsCtes,
        |$sftBestCte
        |SELECT p.post_id, p.subreddit, p.prompt, b.response,
        |  CAST(p.n_prompt_tokens AS BIGINT) AS n_prompt_tokens,
        |  CAST(b.n_resp_tokens AS BIGINT) AS n_resp_tokens,
        |  b.n_resp_tokens >= 13 AS accepted
        |FROM p JOIN best b ON p.post_id = b.post_id
        |ORDER BY p.post_id""".stripMargin,
    // q209: ordered string_agg rebuilds the dialog (1-based pos odd =
    // assistant ≡ Spark's 0-based even), lag() audits alternation;
    // the rendered dialog compares by md5 (scalar output contract).
    "q209_dialog_threads" ->
      s"""$sftCommentsCtes,
        |crv AS (
        |  SELECT post_id, flat_idx, response, n_resp_tokens,
        |    CASE WHEN CAST(post_id AS BIGINT) % 9 = 0
        |         THEN 'c_author_' || CAST(CAST(post_id AS BIGINT) % 7 AS VARCHAR)
        |         ELSE author END AS author
        |  FROM cr),
        |cr2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY post_id ORDER BY flat_idx) AS pos,
        |    lag(author) OVER (PARTITION BY post_id ORDER BY flat_idx) AS prev_author
        |  FROM crv),
        |d AS (
        |  SELECT post_id, count(*) AS n_c,
        |    string_agg(CASE WHEN pos % 2 = 1 THEN 'assistant: ' ELSE 'user: ' END
        |        || response, chr(10) ORDER BY flat_idx) AS turns,
        |    bool_and(prev_author IS NULL OR prev_author <> author) AS alternation_ok
        |  FROM cr2 GROUP BY post_id)
        |SELECT p.post_id, p.subreddit, CAST(d.n_c + 1 AS BIGINT) AS n_turns,
        |  d.alternation_ok,
        |  md5('user: ' || p.prompt || chr(10) || d.turns) AS dialog_md5
        |FROM p JOIN d ON p.post_id = d.post_id
        |ORDER BY p.post_id""".stripMargin,
    // q210: the max_by/min_by extremes replayed as two ROW_NUMBER
    // windows over the same deterministic (tokens, flat_idx) order —
    // hash equality proves the combinable aggregation picks exactly
    // the window's endpoints.
    "q210_preference_pairs" ->
      s"""$sftCommentsCtes,
        |$sftPrefCtes
        |SELECT p.post_id, p.subreddit, p.prompt,
        |  CAST(pair.n_cands AS BIGINT) AS n_cands,
        |  pair.chosen, pair.rejected,
        |  CAST(pair.margin_tokens AS BIGINT) AS margin_tokens
        |FROM p JOIN pair ON p.post_id = pair.post_id
        |ORDER BY p.post_id""".stripMargin,
    // q211: the q208 pair chain feeds the SHARED q91 contamination
    // CTEs (train = pair prompts, test = every tenth document), then
    // one per-prompt hit rollup + LEFT JOIN for the verdict.
    "q211_sft_decontam" ->
      s"""$sftCommentsCtes,
        |$sftBestCte,
        |pairs AS (
        |  SELECT p.post_id, p.subreddit, p.prompt,
        |    b.n_resp_tokens >= 13 AS accepted
        |  FROM p JOIN best b ON p.post_id = b.post_id),
        |${contaminationCtes(
            "SELECT CAST(post_id AS BIGINT) AS id, prompt AS txt FROM pairs",
            "SELECT doc_id AS id, text AS txt FROM documents WHERE doc_id % 10 = 0")},
        |hits AS (
        |  SELECT train_id, count(DISTINCT test_id) AS n_eval_hits
        |  FROM j WHERE n_overlap >= 3 GROUP BY train_id)
        |SELECT pairs.post_id, pairs.subreddit, pairs.accepted,
        |  COALESCE(hits.n_eval_hits, 0) AS n_eval_hits,
        |  COALESCE(hits.n_eval_hits, 0) > 0 AS contaminated
        |FROM pairs LEFT JOIN hits
        |  ON CAST(pairs.post_id AS BIGINT) = hits.train_id
        |ORDER BY pairs.post_id""".stripMargin,
    // q212: every statistic replays its own family member's shared
    // chain — q208's best (acceptance, response tokens), q210's pair
    // (margins), q209's per-post candidate count (+1 = turns) — then
    // one rollup per chain and a LEFT-JOIN assembly on subreddit.
    "q212_sft_datacard" ->
      s"""$sftCommentsCtes,
        |$sftBestCte,
        |$sftPrefCtes,
        |pag AS (
        |  SELECT p.subreddit, count(*) AS n_pairs,
        |    CAST(sum(CASE WHEN b.n_resp_tokens >= 13 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_accepted,
        |    round(avg(b.n_resp_tokens), 4) AS mean_resp_tokens
        |  FROM p JOIN best b ON p.post_id = b.post_id
        |  GROUP BY p.subreddit),
        |prg AS (
        |  SELECT p.subreddit, count(*) AS n_pref_pairs,
        |    round(avg(pair.margin_tokens), 4) AS mean_margin_tokens
        |  FROM pair JOIN p ON p.post_id = pair.post_id
        |  GROUP BY p.subreddit),
        |dig AS (
        |  SELECT p.subreddit, round(avg(d.n_c + 1), 4) AS mean_turns
        |  FROM (SELECT post_id, count(*) AS n_c FROM cr GROUP BY post_id) d
        |  JOIN p ON p.post_id = d.post_id
        |  GROUP BY p.subreddit),
        |basec AS (
        |  SELECT subreddit, count(*) AS n_posts FROM p GROUP BY subreddit)
        |SELECT basec.subreddit, basec.n_posts,
        |  COALESCE(pag.n_pairs, 0) AS n_pairs,
        |  COALESCE(pag.n_accepted, 0) AS n_accepted,
        |  pag.mean_resp_tokens,
        |  COALESCE(prg.n_pref_pairs, 0) AS n_pref_pairs,
        |  prg.mean_margin_tokens, dig.mean_turns
        |FROM basec
        |LEFT JOIN pag ON basec.subreddit = pag.subreddit
        |LEFT JOIN prg ON basec.subreddit = prg.subreddit
        |LEFT JOIN dig ON basec.subreddit = dig.subreddit
        |ORDER BY basec.subreddit""".stripMargin,
    // q215: the shared candidate chain + the shared reward-LM chain
    // (lmScoreCtes over candidate responses), then the two-window
    // replay of the max_by endpoint (the q210 proof shape).
    "q215_best_of_n" ->
      s"""$sftCommentsCtes,
        |${lmScoreCtes(
            "SELECT text AS txt FROM documents WHERE doc_id % 2 = 0",
            "SELECT post_id || '#' || CAST(flat_idx AS VARCHAR) AS sid, " +
              "response AS txt FROM cr")},
        |j AS (
        |  SELECT cr.post_id, cr.flat_idx, cr.response, s.lm_score
        |  FROM cr JOIN scored s
        |    ON s.sid = cr.post_id || '#' || CAST(cr.flat_idx AS VARCHAR)),
        |rk AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY post_id
        |        ORDER BY lm_score DESC, flat_idx ASC) AS rn,
        |    count(*) OVER (PARTITION BY post_id) AS n_cands
        |  FROM j)
        |SELECT post_id, CAST(n_cands AS BIGINT) AS n_cands,
        |  response AS chosen, lm_score AS reward
        |FROM rk WHERE rn = 1
        |ORDER BY post_id""".stripMargin,
    // q224: q215's candidate + reward chains verbatim; corr + exact
    // interpolated quartile boundaries (quantile_cont ≡ Spark
    // percentile to the bit — the q196/q223 precedent), bin = 1 +
    // #{boundaries below}, per-bin mean tokens/reward + the global
    // Pearson r carried through the rollup.
    "q224_reward_length_bias" ->
      s"""$sftCommentsCtes,
        |${lmScoreCtes(
            "SELECT text AS txt FROM documents WHERE doc_id % 2 = 0",
            "SELECT post_id || '#' || CAST(flat_idx AS VARCHAR) AS sid, " +
              "response AS txt FROM cr")},
        |sl AS (
        |  SELECT CAST(cr.n_resp_tokens AS DOUBLE) AS nt, s.lm_score AS r
        |  FROM cr JOIN scored s
        |    ON s.sid = cr.post_id || '#' || CAST(cr.flat_idx AS VARCHAR)),
        |st AS (
        |  SELECT corr(nt, r) AS c,
        |    quantile_cont(nt, [0.25, 0.5, 0.75]) AS qs
        |  FROM sl)
        |SELECT bin, count(*) AS n, round(avg(nt), 4) AS mean_tokens,
        |  round(avg(r), 4) AS mean_reward, round(max(c), 4) AS pearson_r
        |FROM (
        |  SELECT nt, r, c,
        |    CAST(1 + len(list_filter(qs, q -> nt > q)) AS INTEGER) AS bin
        |  FROM sl CROSS JOIN st)
        |GROUP BY bin ORDER BY bin""".stripMargin,
    // q225: same candidate + reward chains; the post-local pair
    // self-join replayed, sign of (token-order × reward-order) per
    // pair, tau-a = (C−D)/pairs. Rewards compare at their published
    // 4-decimal rounding on both engines, so every pair's verdict is
    // engine-stable.
    "q225_pref_concordance" ->
      s"""$sftCommentsCtes,
        |${lmScoreCtes(
            "SELECT text AS txt FROM documents WHERE doc_id % 2 = 0",
            "SELECT post_id || '#' || CAST(flat_idx AS VARCHAR) AS sid, " +
              "response AS txt FROM cr")},
        |sl AS (
        |  SELECT cr.post_id, cr.flat_idx,
        |    CAST(cr.n_resp_tokens AS BIGINT) AS nt, s.lm_score AS r
        |  FROM cr JOIN scored s
        |    ON s.sid = cr.post_id || '#' || CAST(cr.flat_idx AS VARCHAR)),
        |pw AS (
        |  SELECT a.post_id,
        |    CAST(a.nt - b.nt AS DOUBLE) * sign(a.r - b.r) AS s
        |  FROM sl a JOIN sl b
        |    ON a.post_id = b.post_id AND a.flat_idx < b.flat_idx)
        |SELECT post_id, count(*) AS n_pairs,
        |  CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant,
        |  CAST(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant,
        |  CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tied,
        |  round(CAST(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END)
        |           - sum(CASE WHEN s < 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 4) AS tau_a
        |FROM pw GROUP BY post_id ORDER BY post_id""".stripMargin,
    // q226: the q26-chain vector conventions (CAST DOUBLE[],
    // list_sum fold ≡ the Spark sequential dot fold) + quantized-int
    // md5 fingerprint + the q124 MAD construction at single-row
    // crosses.
    "q226_embedding_sanity" ->
      raw"""WITH e AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id % 97 = 0
        |           THEN list_transform(embedding, x -> CAST(0.0 AS FLOAT))
        |         WHEN vec_id % 89 = 0
        |           THEN list_transform(embedding, x -> CAST(0.25 AS FLOAT))
        |         ELSE embedding END AS emb
        |  FROM embeddings),
        |b AS (
        |  SELECT vec_id,
        |    sqrt(list_sum(list_transform(CAST(emb AS DOUBLE[]), x -> x * x)))
        |      AS norm,
        |    md5(array_to_string(list_transform(CAST(emb AS DOUBLE[]),
        |      x -> CAST(CAST(floor(x * 100000.0 + 0.5) AS BIGINT) AS VARCHAR)),
        |      ',')) AS fp
        |  FROM e),
        |d AS (SELECT fp, count(*) AS n_same_vec FROM b GROUP BY fp),
        |m1 AS (SELECT quantile_cont(norm, 0.5) AS med FROM b),
        |m2 AS (SELECT quantile_cont(abs(norm - med), 0.5) AS mad
        |       FROM b CROSS JOIN m1)
        |SELECT b.vec_id, round(b.norm, 4) AS norm, b.norm = 0.0 AS is_zero,
        |  d.n_same_vec,
        |  abs(b.norm - m1.med) > 3.0 * m2.mad + 0.000001 AS is_outlier
        |FROM b JOIN d USING (fp) CROSS JOIN m1 CROSS JOIN m2
        |ORDER BY b.vec_id""".stripMargin,
    // q227: the shared synthesized-line chain + the q27 lexicon
    // construction per LINE, then the (doc, topic) agg replayed with
    // a (n desc, topic asc) row_number — proving the window-free
    // min_by picks exactly the window's winner.
    "q227_code_switching" ->
      raw"""$synthLinesCtes,
        |ln AS (SELECT doc_id, unnest(lines) AS line FROM lns),
        |lw AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(line, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM ln),
        |ls AS (
        |  SELECT doc_id,
        |    len(list_filter(w, x -> list_contains(['table','row','column','key','part'], x))) AS s1,
        |    len(list_filter(w, x -> list_contains(['scan','filter','join','sort','merge','hash'], x))) AS s2,
        |    len(list_filter(w, x -> list_contains(['stream','window','batch'], x))) AS s3,
        |    len(list_filter(w, x -> list_contains(['query','data','value'], x))) AS s4
        |  FROM lw),
        |lt AS (
        |  SELECT doc_id,
        |    CASE WHEN s1 = best AND best > 0 THEN 'storage'
        |         WHEN s2 = best AND best > 0 THEN 'exec'
        |         WHEN s3 = best AND best > 0 THEN 'streaming'
        |         WHEN s4 = best AND best > 0 THEN 'general'
        |         ELSE 'und' END AS topic
        |  FROM (SELECT *, greatest(s1, s2, s3, s4) AS best FROM ls)),
        |ag AS (SELECT doc_id, topic, count(*) AS n FROM lt GROUP BY doc_id, topic),
        |rk AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, topic ASC) AS rn,
        |    sum(n) OVER (PARTITION BY doc_id) AS np,
        |    count(*) OVER (PARTITION BY doc_id) AS nt
        |  FROM ag)
        |SELECT doc_id, CAST(np AS BIGINT) AS n_paras, CAST(nt AS BIGINT) AS n_topics,
        |  topic AS dominant_topic, round(CAST(n AS DOUBLE) / np, 4) AS dominant_share,
        |  nt > 1 AS code_switched
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // q228: two prefixed instances of the shared LM chain (reference
    // r_, proxy p_) + the per-source rollup; exp/normalize replayed on
    // the 5-row source table from the published 4-decimal means.
    "q228_domain_reweight" ->
      s"""WITH $doremiPerCtes,
        |tt AS (SELECT sum(n_toks) AS t FROM per),
        |u AS (
        |  SELECT per.*, round(mean_ref - mean_proxy, 4) AS excess,
        |    (CAST(n_toks AS DOUBLE) / tt.t)
        |      * exp(round(mean_ref - mean_proxy, 4)) AS uu
        |  FROM per CROSS JOIN tt),
        |z AS (SELECT sum(uu) AS zz FROM u)
        |SELECT source, n_docs, n_toks, mean_ref, mean_proxy, excess,
        |  round(uu / z.zz, 4) AS mix_weight
        |FROM u CROSS JOIN z ORDER BY source""".stripMargin,
    // q242: q228's shared per-rollup + four unrolled MATERIALIZED
    // multiplicative-weight rounds in integer nano-units, tie-free
    // floor division everywhere, last + across-rounds-average weights.
    "q242_doremi_rounds" -> doremiRoundsOracleSql(4),
    // q229: the q214 chain with the label condition flipped every
    // 17th doc; sigmoid probabilities and per-class self-confidence
    // thresholds at 6-decimal rounding, the CL verdict per doc.
    "q229_label_noise" ->
      (lrChainCtes(64, 8, 1L, 1L,
          labelCond = "(doc_id % 3 = 0) <> (doc_id % 17 = 0)") + ",\n" +
      raw"""py AS (
        |  SELECT sc.doc_id, dd.y,
        |    round(1.0 / (1.0 + exp(-CAST(sc.wx AS DOUBLE) / 1e9)), 6) AS p1
        |  FROM sc JOIN dd USING (doc_id)),
        |th AS (
        |  SELECT round(avg(CASE WHEN y = 1 THEN p1 END), 6) AS t1,
        |    round(avg(CASE WHEN y = 0 THEN 1.0 - p1 END), 6) AS t0
        |  FROM py)
        |SELECT doc_id, y = 1 AS y_given, p1,
        |  CASE WHEN y = 0 THEN p1 >= t1 ELSE (1.0 - p1) >= t0 END AS suspect,
        |  doc_id % 17 = 0 AS planted_flip
        |FROM py CROSS JOIN th ORDER BY doc_id""".stripMargin),
    // q230: q48's shared cluster chain + the in-cluster pair audit —
    // exact Jaccard replay per member pair under the cap, min/mean
    // rollup, the chained verdict.
    "q230_cluster_audit" ->
      (dupClustersCtes("qdocs").replaceFirst("WITH RECURSIVE ",
        "WITH RECURSIVE qdocs AS (\n" +
        raw"""  SELECT doc_id,
          |    CASE WHEN doc_id < 12
          |           THEN 'qbig qdup qfamily qtext qconstant qblock qcopy'
          |         WHEN doc_id % 100 >= 97 THEN
          |           array_to_string(list_transform(
          |             range((doc_id % 100 - 97)*2 + 1, (doc_id % 100 - 97)*2 + 22),
          |             j -> 'qch' || CAST(doc_id // 100 AS VARCHAR)
          |                  || 'w' || CAST(j AS VARCHAR)), ' ')
          |         ELSE text END AS text
          |  FROM documents),
          |""".stripMargin) + ",\n" +
      raw"""cl AS (SELECT v AS doc_id, cluster_id FROM comp),
        |cz AS (SELECT cluster_id, count(*) AS n_docs FROM cl GROUP BY cluster_id),
        |mem AS (
        |  SELECT cl.cluster_id, cl.doc_id, s.sh
        |  FROM cl JOIN sh s ON s.doc_id = cl.doc_id
        |  JOIN cz ON cz.cluster_id = cl.cluster_id AND cz.n_docs <= 8),
        |pw AS (
        |  SELECT a.cluster_id,
        |    round(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh)
        |         - len(list_filter(a.sh, x -> list_contains(b.sh, x)))), 4) AS sim
        |  FROM mem a JOIN mem b ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id),
        |ad AS (
        |  SELECT cluster_id, count(*) AS n_pairs, round(min(sim), 4) AS min_sim,
        |    round(avg(sim), 4) AS mean_sim
        |  FROM pw GROUP BY cluster_id)
        |SELECT cz.cluster_id, cz.n_docs, cz.n_docs <= 8 AS audited,
        |  COALESCE(ad.n_pairs, 0) AS n_pairs, ad.min_sim, ad.mean_sim,
        |  CASE WHEN cz.n_docs <= 8 THEN ad.min_sim < 0.8 END AS chained
        |FROM cz LEFT JOIN ad ON ad.cluster_id = cz.cluster_id
        |ORDER BY cz.cluster_id""".stripMargin),
    // q231: the q167 prefix-sum chain computed once, the per-capacity
    // seq arithmetic replayed over a 2-row capacity list, one rollup
    // per capacity.
    "q231_packing_datacard" ->
      raw"""WITH dt AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |dc AS (
        |  SELECT doc_id, n_toks,
        |    CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM dt WHERE n_toks > 0),
        |per AS (
        |  SELECT c.cap, doc_id, n_toks,
        |    (tok_start // c.cap) AS sf,
        |    ((tok_start + n_toks - 1) // c.cap) AS sl
        |  FROM dc CROSS JOIN (SELECT unnest([512, 2048]) AS cap) c)
        |SELECT CAST(cap AS BIGINT) AS capacity, count(*) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_toks,
        |  CAST(max(sl) + 1 AS BIGINT) AS n_seqs,
        |  CAST(sum(CASE WHEN sl > sf THEN 1 ELSE 0 END) AS BIGINT) AS n_straddling,
        |  round(avg(CASE WHEN sl > sf THEN 1.0 ELSE 0.0 END), 4) AS straddle_frac,
        |  round(CAST(sum(n_toks) AS DOUBLE) / ((max(sl) + 1) * cap), 4) AS utilization
        |FROM per GROUP BY cap ORDER BY capacity""".stripMargin,
    // q232: the three planted corruptions replayed, json_valid +
    // json_extract_string + try_cast, one rollup.
    "q232_payload_validity" ->
      raw"""WITH e AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_id % 13 = 0 THEN substring(props, 1, 6)
        |         WHEN event_id % 17 = 0 THEN regexp_replace(props, '"k"', '"v"')
        |         WHEN event_id % 11 = 0
        |           THEN '{"k": "x' || CAST(event_id % 100 AS VARCHAR) || '"}'
        |         ELSE props END AS p
        |  FROM events),
        |f AS (
        |  SELECT event_type, json_valid(p) AS ok,
        |    CASE WHEN json_valid(p) THEN json_extract_string(p, '$$.k') END AS ks
        |  FROM e)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  CAST(sum(CASE WHEN ks IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_field,
        |  CAST(sum(CASE WHEN try_cast(ks AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_typed,
        |  round(avg(CASE WHEN ok THEN 1.0 ELSE 0.0 END), 4) AS valid_rate,
        |  round(avg(CASE WHEN try_cast(ks AS BIGINT) IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS typed_rate
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q233: the q30 md5 fingerprint over the derived corpus, distinct
    // (fp, source), fp-keyed self-join, source-pair rollup.
    "q233_source_overlap" ->
      raw"""WITH fp AS (
        |  SELECT DISTINCT source,
        |    md5(lower(trim(regexp_replace(
        |      CASE WHEN doc_id % 7 = 0
        |             THEN 'qboiler blob ' || CAST(doc_id % 3 AS VARCHAR)
        |           ELSE text END, '\s+', ' ', 'g')))) AS fp
        |  FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared_fps
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q234: occurrence trigrams (no per-doc distinct), (source, tri)
    // rollup, per-source diversity readout.
    "q234_diversity_datacard" ->
      raw"""WITH t AS (
        |  SELECT source,
        |    string_split(lower(trim(regexp_replace(
        |      CASE WHEN doc_id % 9 = 0 AND doc_id % 20 < 7
        |             THEN trim(repeat('qrep loop ', 15))
        |           ELSE text END, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |tri AS (
        |  SELECT source, unnest(list_transform(range(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tri
        |  FROM t WHERE len(w) >= 3),
        |st AS (SELECT source, tri, count(*) AS n FROM tri GROUP BY source, tri)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_trigrams,
        |  count(*) AS n_distinct,
        |  round(CAST(count(*) AS DOUBLE) / sum(n), 4) AS distinct_ratio,
        |  round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS top_share,
        |  round(CAST(max(n) AS DOUBLE) / sum(n), 4) > 0.01 AS collapse_suspect
        |FROM st GROUP BY source ORDER BY source""".stripMargin,
    // q235: the decorated synthesized-line chain (pool lines every
    // second slot), first-occurrence min per hash, per-batch rollup.
    "q235_novelty_curve" ->
      (synthLinesCtesWith(
        "CASE WHEN (doc_id + i) % 2 = 0 " +
        "THEN 'qpool ' || CAST((doc_id*7 + i) % 200 AS VARCHAR) " +
        "ELSE " + synthBaseLineSql + " END") + ",\n" +
      raw"""exl AS (SELECT doc_id, unnest(lines) AS l FROM lns),
        |ex AS (SELECT doc_id // 50 AS batch, doc_id, md5(l) AS h FROM exl),
        |inst AS (
        |  SELECT batch, count(*) AS n_instances,
        |    count(DISTINCT h) AS n_distinct
        |  FROM ex GROUP BY batch),
        |fh AS (SELECT h, min(doc_id) AS fd FROM ex GROUP BY h),
        |nw AS (SELECT fd // 50 AS batch, count(*) AS n_new FROM fh GROUP BY 1)
        |SELECT i.batch, i.n_instances, i.n_distinct,
        |  CAST(COALESCE(nw.n_new, 0) AS BIGINT) AS n_new,
        |  round(CAST(COALESCE(nw.n_new, 0) AS DOUBLE) / i.n_distinct, 4) AS novelty_rate
        |FROM inst i LEFT JOIN nw ON nw.batch = i.batch
        |ORDER BY i.batch""".stripMargin),
    // q236: the shared candidate + reward chains, the post-local game
    // aggregation, then eight unrolled Bradley-Terry MM rounds in the
    // exact integer micro/nano quantization the Spark side uses.
    "q236_bt_rating" ->
      s"""$sftCommentsCtes,
        |${lmScoreCtes(
            "SELECT text AS txt FROM documents WHERE doc_id % 2 = 0",
            "SELECT post_id || '#' || CAST(flat_idx AS VARCHAR) AS sid, " +
              "response AS txt FROM cr")},
        |sys AS MATERIALIZED (
        |  SELECT cr.post_id, cr.flat_idx AS sysid, s.lm_score AS r
        |  FROM cr JOIN scored s
        |    ON s.sid = cr.post_id || '#' || CAST(cr.flat_idx AS VARCHAR)),
        |games AS MATERIALIZED (
        |  SELECT a.sysid AS sa, b.sysid AS sb, count(*) AS n,
        |    CAST(sum(CASE WHEN a.r > b.r THEN 1 ELSE 0 END) AS BIGINT) AS wa
        |  FROM sys a JOIN sys b
        |    ON a.post_id = b.post_id AND a.sysid < b.sysid AND a.r <> b.r
        |  GROUP BY 1, 2),
        |wins AS MATERIALIZED (
        |  SELECT sysid, CAST(sum(n) AS BIGINT) AS n_games,
        |    CAST(sum(w) AS BIGINT) AS n_wins FROM (
        |    SELECT sa AS sysid, n, wa AS w FROM games
        |    UNION ALL SELECT sb, n, n - wa FROM games)
        |  GROUP BY sysid),
        |${btRoundsSql(8)}
        |SELECT CAST(w.sysid AS BIGINT) AS sysid, w.n_games, w.n_wins,
        |  round(CAST(p8.pn AS DOUBLE) / 1e9, 6) AS bt_score
        |FROM wins w JOIN p8 ON p8.sysid = w.sysid
        |ORDER BY sysid""".stripMargin,
    // q237: the decorated corpus, the SHARED gopher chain
    // (gopherGateCtes), the q201 blocklist filter, the q196 tercile
    // boundary, then the three pair rows via UNION ALL.
    "q237_screen_overlap" ->
      s"""WITH dd2 AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 3 = 0 THEN ' the and that have with.'
        |                 ELSE '' END AS txt
        |  FROM documents),
        |${lmScoreCtes(
            "SELECT txt FROM dd2 WHERE doc_id % 2 = 0",
            "SELECT doc_id AS sid, txt FROM dd2",
            idAlias = "doc_id")},
        |bnd AS (SELECT quantile_cont(lm_score, 1.0/3) AS b FROM scored),
        |${gopherGateCtes("dd2")},
        |d AS (SELECT doc_id, string_split(txt, chr(10)) AS ls, txt FROM dd2),
        |$repetitionFrCtes,
        |fl AS (
        |  SELECT d.doc_id,
        |    NOT (v.ok_words AND v.ok_word_len AND v.ok_symbols AND v.ok_bullets
        |         AND v.ok_ellipsis_lines AND v.ok_stops) AS ga,
        |    len(list_filter(['slow scan','big table','merge conflict','drop part',
        |                     'small batch','stale key','stream','vector','conflictfree',
        |                     'fast merge','slow join','bad data'],
        |        t -> contains(lower(d.txt), t))) > 0 AS bl,
        |    s.lm_score < bnd.b AS lt,
        |    NOT (fr.dup_line_frac <= 0.30 AND fr.dup_line_char_frac <= 0.20
        |         AND fr.top2_frac <= 0.20 AND fr.top3_frac <= 0.18
        |         AND fr.top4_frac <= 0.16 AND fr.dup5_frac <= 0.15
        |         AND fr.dup10_frac <= 0.10) AS rp
        |  FROM dd2 d JOIN v ON v.doc_id = d.doc_id
        |  JOIN scored s ON s.doc_id = d.doc_id
        |  JOIN fr ON fr.doc_id = d.doc_id CROSS JOIN bnd),
        |pw AS (
        |  SELECT 'gopher' AS screen_a, 'blocklist' AS screen_b, ga AS ra, bl AS rb FROM fl
        |  UNION ALL
        |  SELECT 'gopher', 'lm_tail', ga, lt FROM fl
        |  UNION ALL
        |  SELECT 'gopher', 'repetition', ga, rp FROM fl
        |  UNION ALL
        |  SELECT 'blocklist', 'lm_tail', bl, lt FROM fl
        |  UNION ALL
        |  SELECT 'blocklist', 'repetition', bl, rp FROM fl
        |  UNION ALL
        |  SELECT 'lm_tail', 'repetition', lt, rp FROM fl),
        |ag AS (
        |  SELECT screen_a, screen_b,
        |    CAST(sum(CASE WHEN ra THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_a,
        |    CAST(sum(CASE WHEN rb THEN 1 ELSE 0 END) AS BIGINT) AS n_rej_b,
        |    CAST(sum(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n_both
        |  FROM pw GROUP BY 1, 2)
        |SELECT screen_a, screen_b, n_rej_a, n_rej_b, n_both,
        |  CASE WHEN n_rej_a + n_rej_b - n_both > 0
        |       THEN round(CAST(n_both AS DOUBLE) / (n_rej_a + n_rej_b - n_both), 4)
        |  END AS reject_jaccard,
        |  CASE WHEN n_rej_a > 0
        |       THEN round(CAST(n_both AS DOUBLE) / n_rej_a, 4)
        |  END AS p_b_given_a
        |FROM ag ORDER BY screen_a, screen_b""".stripMargin,
    // q238: q48's shared chain supplies both sides — `pairs` is the
    // banded+verified set; the exact side is the labeled O(n^2) brute
    // join over the same `sh` shingle sets (oracle-affordable).
    "q238_banding_recall" ->
      (dupClustersCtes("qd238").replaceFirst("WITH RECURSIVE ",
        "WITH RECURSIVE qd238 AS (\n" +
        raw"""  SELECT doc_id,
          |    CASE WHEN doc_id % 50 >= 47 THEN
          |      array_to_string(list_transform(
          |        range((doc_id % 50 - 47)*3 + 1, (doc_id % 50 - 47)*3 + 21),
          |        j -> 'qbr' || CAST(doc_id // 50 AS VARCHAR)
          |             || 'w' || CAST(j AS VARCHAR)), ' ')
          |    ELSE text END AS text
          |  FROM documents),
          |""".stripMargin) + ",\n" +
      raw"""cj AS (
        |  SELECT c.id_a, c.id_b FROM cand c),
        |exj AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh)
        |         - len(list_filter(a.sh, x -> list_contains(b.sh, x)))), 4) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |th AS (SELECT unnest([0.5, 0.8]) AS t),
        |fl AS (
        |  SELECT th.t, exj.id_a, exj.id_b,
        |    cj.id_a IS NOT NULL AS in_band
        |  FROM th CROSS JOIN exj
        |  LEFT JOIN cj ON cj.id_a = exj.id_a AND cj.id_b = exj.id_b
        |  WHERE exj.j >= th.t)
        |SELECT t AS exact_threshold, count(*) AS n_exact,
        |  CAST(sum(CASE WHEN in_band THEN 1 ELSE 0 END) AS BIGINT) AS n_banded,
        |  CAST(sum(CASE WHEN NOT in_band THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
        |  CAST((sum(CASE WHEN in_band THEN 1 ELSE 0 END) * 10000) // count(*)
        |       AS DOUBLE) / 10000.0 AS band_recall
        |FROM fl GROUP BY t ORDER BY exact_threshold""".stripMargin),
    // q239: q238's fixture and brute ground truth, the banded side at
    // the AUTO-DERIVED geometry (bandingForRecall(0.5, 0.95) → 11
    // bands × 2 rows, 22 hashes) — the signature/band CTEs generated
    // from the SAME derived literals the Spark side uses, so the two
    // cannot disagree about the geometry being validated.
    "q239_banding_auto" -> bandingAutoOracleSql(0.5, 0.95),
    // q217: the capstone — q208's pair chain + q211's contamination
    // chain + q215's reward chain + q196's quantile cut + q81's
    // md5-bucket split, assembled; every stage the byte-shared
    // generator of its own query.
    "q217_sft_export" ->
      s"""$sftCommentsCtes,
        |$sftBestCte,
        |pairs AS (
        |  SELECT p.post_id, p.subreddit, p.prompt, p.n_prompt_tokens,
        |    b.response, b.n_resp_tokens,
        |    b.n_resp_tokens >= 13 AS accepted
        |  FROM p JOIN best b ON p.post_id = b.post_id),
        |${contaminationCtes(
            "SELECT CAST(post_id AS BIGINT) AS id, prompt AS txt FROM pairs",
            "SELECT doc_id AS id, text AS txt FROM documents WHERE doc_id % 10 = 0")},
        |contam AS (
        |  SELECT DISTINCT train_id FROM j WHERE n_overlap >= 3),
        |${lmScoreCtes(
            "SELECT text AS txt FROM documents WHERE doc_id % 2 = 0",
            "SELECT post_id AS sid, response AS txt FROM pairs")},
        |bound AS (SELECT quantile_cont(lm_score, 1.0/3) AS b FROM scored),
        |sel AS (
        |  SELECT pairs.post_id, pairs.subreddit, pairs.n_prompt_tokens,
        |    pairs.n_resp_tokens, s.lm_score AS reward
        |  FROM pairs
        |  JOIN scored s ON s.sid = pairs.post_id
        |  LEFT JOIN contam ON contam.train_id = CAST(pairs.post_id AS BIGINT)
        |  CROSS JOIN bound
        |  WHERE pairs.accepted AND s.lm_score >= bound.b
        |    AND contam.train_id IS NULL),
        |sb AS (
        |  SELECT *, md5(post_id || '|0') AS hh FROM sel),
        |sbk AS (
        |  SELECT *,
        |    (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1) AS bucket
        |  FROM sb)
        |SELECT post_id, subreddit,
        |  CAST(n_prompt_tokens AS BIGINT) AS n_prompt_tokens,
        |  CAST(n_resp_tokens AS BIGINT) AS n_resp_tokens, reward,
        |  CASE WHEN bucket < 838861 THEN 'train'
        |       WHEN bucket < 943718 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM sbk
        |ORDER BY post_id""".stripMargin,
  )

  /** Shared CTE chain for the post-training mining family
    * (q208/q209/q210): the q43 posts/comments derivation
    * (`docsAsPosts`/`docsAsComments` replayed in SQL) + the
    * candidate-response gate — tombstone/author filters, whitespace
    * normalization, non-empty, token counts. Byte-shared so the three
    * miners can never drift from one candidate definition.
    */
  /** The q208 top-1 candidate CTE (`best`) over [[sftCommentsCtes]]'s
    * `cr` — shared by q208, q211 and q212.
    */
  private def sftBestCte: String =
    """best AS (
      |  SELECT post_id, response, n_resp_tokens FROM (
      |    SELECT cr.*, row_number() OVER (PARTITION BY post_id
      |        ORDER BY n_resp_tokens DESC, flat_idx) AS rn FROM cr)
      |  WHERE rn = 1)""".stripMargin

  /** The q210 chosen/rejected extremes as two ROW_NUMBER windows,
    * ending in `pair(post_id, n_cands, chosen, rejected,
    * margin_tokens)` — shared by q210 and q212.
    */
  private def sftPrefCtes: String =
    """ranked AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY post_id
      |        ORDER BY n_resp_tokens DESC, flat_idx ASC) AS rc,
      |    row_number() OVER (PARTITION BY post_id
      |        ORDER BY n_resp_tokens ASC, flat_idx DESC) AS rr,
      |    count(*) OVER (PARTITION BY post_id) AS n_cands
      |  FROM cr),
      |pair AS (
      |  SELECT c.post_id, c.n_cands, c.response AS chosen, r.response AS rejected,
      |    c.n_resp_tokens - r.n_resp_tokens AS margin_tokens
      |  FROM (SELECT * FROM ranked WHERE rc = 1) c
      |  JOIN (SELECT * FROM ranked WHERE rr = 1) r ON c.post_id = r.post_id
      |  WHERE c.n_cands >= 2 AND c.n_resp_tokens - r.n_resp_tokens >= 1)""".stripMargin

  private def sftCommentsCtes: String =
    """WITH p AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS post_id, source AS subreddit,
      |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS prompt,
      |    len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))
      |      AS n_prompt_tokens
      |  FROM documents),
      |c AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS post_id, i.idx AS flat_idx,
      |    CASE WHEN i.idx = 1 AND doc_id % 13 = 0 THEN '[deleted]'
      |         WHEN i.idx = 2 AND doc_id % 7 = 0 THEN NULL
      |         WHEN i.idx = 3 AND doc_id % 5 = 0 THEN ' '
      |         ELSE substring(text, CAST(i.idx * 20 + 1 AS INTEGER), 80) END AS body,
      |    CASE WHEN (doc_id + i.idx) % 11 = 0 THEN '[deleted]'
      |         ELSE 'c_author_' || CAST((doc_id + i.idx) % 7 AS VARCHAR) END AS author
      |  FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS idx) i),
      |cc AS (
      |  SELECT post_id, CAST(flat_idx AS INTEGER) AS flat_idx, author,
      |    trim(regexp_replace(body, '\s+', ' ', 'g')) AS response
      |  FROM c
      |  WHERE body IS NOT NULL AND author IS NOT NULL AND author <> '[deleted]'
      |    AND body NOT IN ('[deleted]', '[removed]')),
      |cr AS (
      |  SELECT *, len(string_split(lower(response), ' ')) AS n_resp_tokens
      |  FROM cc WHERE length(response) > 0)""".stripMargin

  /** q174's oracle (also q176's — the auto form floors to the same
    * pinned configuration at fixture scale).
    */
  private def oracleForQ174: String =
      (annLshPairsCte + ",\n" +
        """sym AS (
          |  SELECT id_a AS src, id_b AS nbr, cos_sim FROM pairs WHERE cos_sim >= 0.3
          |  UNION ALL
          |  SELECT id_b AS src, id_a AS nbr, cos_sim FROM pairs WHERE cos_sim >= 0.3),
          |topk AS (
          |  SELECT src, nbr, cos_sim FROM (
          |    SELECT *, row_number() OVER (PARTITION BY src
          |                                 ORDER BY cos_sim DESC, nbr) AS rn
          |    FROM sym)
          |  WHERE rn <= 3),
          |st AS (
          |  SELECT src, count(*) AS n,
          |    CAST(SUM(CAST(round(cos_sim * 10000, 0) AS BIGINT)) AS BIGINT) AS su
          |  FROM topk GROUP BY src),
          |m AS (
          |  SELECT t.src, t.nbr, t.cos_sim,
          |    CAST(floor((2 * CAST(round(t.cos_sim * 10000, 0) AS BIGINT) * st.n * 10000 + st.su)
          |               / (2.0 * st.su)) AS BIGINT) AS margin_e4
          |  FROM topk t JOIN st ON st.src = t.src)
          |SELECT a.src AS id_a, a.nbr AS id_b, a.cos_sim,
          |  a.margin_e4 AS margin_ab_e4, b.margin_e4 AS margin_ba_e4
          |FROM m a JOIN m b ON a.src = b.nbr AND a.nbr = b.src
          |WHERE a.src < a.nbr
          |ORDER BY id_a, id_b""".stripMargin)

  private val oracleSqlTail: Map[String, String] = Map(
    // q176: the auto form — derived params floor to the pinned
    // configuration at fixture scale, so the oracle is q174's.
    "q176_margin_mining_auto" -> oracleForQ174,
    // q185: the shared NB chain, label = lang, trained and scored on
    // the full corpus; confusion-matrix readout.
    "q185_lang_audit" -> nbOracleSql(
      label = "lang",
      trainWhere = "TRUE", testWhere = "TRUE",
      readout = """SELECT te.actual AS declared, b.pred,
        |  count(*) AS n_docs, CAST(SUM(te.doc_id) AS BIGINT) AS sum_ids
        |FROM te JOIN best b ON b.doc_id = te.doc_id AND b.rn = 1
        |GROUP BY 1, 2 ORDER BY declared, pred""".stripMargin),
    // q184: the NAIVE exact all-pairs join — prefix filtering must
    // reproduce it bit-for-bit (completeness + exact verify).
    "q184_setsim_exact" ->
      raw"""WITH toks AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ts
        |  FROM toks WHERE len(w) >= 3),
        |f AS (SELECT doc_id, ts FROM sh WHERE len(ts) > 0),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_filter(a.ts, x -> list_contains(b.ts, x))) AS DOUBLE)
        |      / (len(a.ts) + len(b.ts)
        |         - len(list_filter(a.ts, x -> list_contains(b.ts, x)))) AS j
        |  FROM f a JOIN f b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(j, 4) AS jaccard FROM p WHERE j >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,
    // q183: the index accounting needs only the nv row set (cluster
    // assignment cannot change counts), so the oracle skips the fit;
    // absence proofs are literal TRUE, pinned by the hash.
    "q183_forget_flow" ->
      """WITH del AS (SELECT vec_id AS k FROM embeddings WHERE vec_id % 83 = 0),
        |e AS (SELECT vec_id,
        |        list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS sq
        |      FROM embeddings),
        |nv AS (SELECT vec_id FROM e WHERE sq > 0)
        |SELECT * FROM (
        |SELECT 'documents' AS table_name,
        |  (SELECT count(*) FROM documents) AS n_before,
        |  (SELECT count(*) FROM documents WHERE doc_id IN (SELECT k FROM del)) AS n_deleted,
        |  (SELECT count(*) FROM documents WHERE doc_id NOT IN (SELECT k FROM del)) AS n_after,
        |  TRUE AS absent_ok
        |UNION ALL
        |SELECT 'embeddings',
        |  (SELECT count(*) FROM embeddings),
        |  (SELECT count(*) FROM embeddings WHERE vec_id IN (SELECT k FROM del)),
        |  (SELECT count(*) FROM embeddings WHERE vec_id NOT IN (SELECT k FROM del)),
        |  TRUE
        |UNION ALL
        |SELECT 'ivf_index',
        |  (SELECT count(*) FROM nv),
        |  (SELECT count(*) FROM nv WHERE vec_id IN (SELECT k FROM del)),
        |  (SELECT count(*) FROM nv WHERE vec_id NOT IN (SELECT k FROM del)),
        |  TRUE)
        |ORDER BY table_name""".stripMargin,
    // q182: exact-mode theta algebra ≡ true distinct-set algebra;
    // LEFT join from the pair frame so a zero intersection could
    // never drop a row.
    "q182_theta_audiences" ->
      """WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
        |types AS (SELECT DISTINCT event_type FROM events),
        |pairs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM types a JOIN types b ON a.event_type < b.event_type),
        |cnt AS (SELECT event_type, count(*) AS n FROM s GROUP BY 1),
        |inter AS (
        |  SELECT x.event_type AS ta, y.event_type AS tb, count(*) AS ni
        |  FROM s x JOIN s y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT p.ta AS type_a, p.tb AS type_b,
        |  ca.n AS n_a, cb.n AS n_b,
        |  COALESCE(i.ni, 0) AS n_inter,
        |  ca.n - COALESCE(i.ni, 0) AS n_a_only,
        |  ca.n + cb.n - COALESCE(i.ni, 0) AS n_union
        |FROM pairs p
        |JOIN cnt ca ON ca.event_type = p.ta
        |JOIN cnt cb ON cb.event_type = p.tb
        |LEFT JOIN inter i ON i.ta = p.ta AND i.tb = p.tb
        |ORDER BY type_a, type_b""".stripMargin,
    // q181: the q34/q49 exact-anchor + literal-TRUE convention —
    // exact counts hard-compared, randomized KLL estimates bounded
    // in-query.
    "q181_kll_quantiles" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  TRUE AS n_ok, TRUE AS merged_n_ok,
        |  TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS merged_p50_ok
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // q180: the shared IVF chain fit on even ids (trainWhere), both
    // snapshots' occupancy from the full-corpus af, the q171 PSI tail.
    "q180_embedding_drift" ->
      (ivfTrainCtesT("vec_id % 2 = 0") + ",\n" +
        """ca AS (SELECT cluster AS category, count(*) AS count_a
          |       FROM af WHERE vec_id % 2 = 0 GROUP BY 1),
          |cb AS (SELECT cluster AS category, count(*) AS count_b
          |       FROM af WHERE vec_id % 2 = 1 GROUP BY 1),
          |""".stripMargin + psiTailSql),
    // q179: q86's shared chain + sym/top-k + per-src aggregate,
    // LEFT-joined from the nv universe so zero-candidate vectors
    // surface with n_nbrs = 0.
    "q179_isolation_screen" ->
      (annLshPairsCte + ",\n" +
        """sym AS (
          |  SELECT id_a AS src, id_b AS nbr, cos_sim FROM pairs WHERE cos_sim >= 0.3
          |  UNION ALL
          |  SELECT id_b AS src, id_a AS nbr, cos_sim FROM pairs WHERE cos_sim >= 0.3),
          |topk AS (
          |  SELECT src, nbr, cos_sim FROM (
          |    SELECT *, row_number() OVER (PARTITION BY src
          |                                 ORDER BY cos_sim DESC, nbr) AS rn
          |    FROM sym)
          |  WHERE rn <= 3),
          |ag AS (
          |  SELECT src, count(*) AS n_nbrs, max(cos_sim) AS best_cos
          |  FROM topk GROUP BY src)
          |SELECT nv.vec_id, COALESCE(ag.n_nbrs, 0) AS n_nbrs, ag.best_cos,
          |  (ag.n_nbrs IS NULL OR ag.best_cos < 0.5) AS is_isolated
          |FROM nv LEFT JOIN ag ON ag.src = nv.vec_id
          |ORDER BY vec_id""".stripMargin),
    // q178: min/max reduction + the same contiguous prefix rule
    // (prefix equality is monotone, so max of prefix-equal positions
    // ≡ the fold's contiguous per-char count).
    "q178_template_prefix" ->
      """WITH d AS (
        |  SELECT source, '[' || source || '-hdr] ' || text AS t FROM documents),
        |g AS (
        |  SELECT source, count(*) AS n_docs, min(t) AS mn, max(t) AS mx
        |  FROM d GROUP BY source),
        |l AS (
        |  SELECT source, n_docs, mn,
        |    CASE WHEN least(length(mn), length(mx)) < 1 THEN 0
        |      ELSE COALESCE(CAST(list_max(list_filter(
        |        range(1, least(length(mn), length(mx)) + 1),
        |        i -> substr(mn, 1, CAST(i AS INT)) = substr(mx, 1, CAST(i AS INT)))) AS INT), 0)
        |    END AS prefix_len
        |  FROM g)
        |SELECT source, n_docs, prefix_len,
        |  substr(mn, 1, least(prefix_len, 40)) AS prefix40
        |FROM l ORDER BY source""".stripMargin,
    // q177: entropy gate + dup-cluster chain over the gated subset +
    // q81 bucket on cluster ids + BPE train/encode + packing — every
    // stage a shared chain, concatenated pre-stripped.
    "q177_train_ready" -> trainReadyOracleSql,
    // q175: identical char explode → count → p·ln p quantized at
    // birth → exact integer sum (the q154/q171 tree, char-level).
    "q175_char_entropy" ->
      raw"""WITH s AS (
        |  SELECT doc_id,
        |    replace(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ', '') AS s
        |  FROM documents),
        |f AS (SELECT doc_id, s FROM s WHERE length(s) > 0),
        |ch AS (SELECT doc_id, s, unnest(range(1, length(s) + 1)) AS i FROM f),
        |cx AS (SELECT doc_id, substr(s, CAST(i AS INT), 1) AS c FROM ch),
        |cc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n FROM cx GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS t,
        |              count(*) AS n_distinct FROM cc GROUP BY 1),
        |u AS (
        |  SELECT cc.doc_id, tt.t, tt.n_distinct,
        |    CAST(floor((n / CAST(t AS DOUBLE)) * ln(n / CAST(t AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS term
        |  FROM cc JOIN tt ON tt.doc_id = cc.doc_id)
        |SELECT doc_id AS id, max(t) AS n_chars, max(n_distinct) AS n_distinct,
        |  CAST(-SUM(term) AS BIGINT) AS entropy_nano
        |FROM u GROUP BY doc_id ORDER BY id""".stripMargin,
  )

  /** The integer-units PSI readout over `ca(category, count_a)` /
    * `cb(category, count_b)` CTEs — shared by q171/q173/q180 (the
    * q154 quantize-at-birth tree).
    */
  private def psiTailSql: String =
    """j AS (
        |  SELECT COALESCE(ca.category, cb.category) AS category,
        |    COALESCE(count_a, 0) AS count_a, COALESCE(count_b, 0) AS count_b
        |  FROM ca FULL OUTER JOIN cb ON ca.category = cb.category),
        |n AS (SELECT CAST(SUM(count_a) AS BIGINT) AS na,
        |             CAST(SUM(count_b) AS BIGINT) AS nb,
        |             count(*) AS k FROM j),
        |u AS (
        |  SELECT category, count_a, count_b,
        |    CAST(floor(((count_a + 1) / CAST(na + k AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS rate_a_units,
        |    CAST(floor(((count_b + 1) / CAST(nb + k AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS rate_b_units,
        |    CAST(floor(ln((count_a + 1) / CAST(na + k AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS ln_a,
        |    CAST(floor(ln((count_b + 1) / CAST(nb + k AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS ln_b
        |  FROM j, n)
        |SELECT category, count_a, count_b, rate_a_units, rate_b_units,
        |  (rate_a_units - rate_b_units) * (ln_a - ln_b) AS psi_units
        |FROM u ORDER BY category""".stripMargin


  /** The full NB train+score chain (q80 token split, Laplace α=1,
    * nano-unit logs, integer-score argmax) over a parameterized label
    * column and train/test predicates — shared by q154 (held-out
    * accuracy) and q185 (metadata-consistency audit). `best` exposes
    * (doc_id, pred, score_units, rn) and `te` (doc_id, actual, text)
    * to the caller's readout.
    */
  /** q214's full hashed-LR training loop replayed as chained CTEs —
    * one (score, residual, gradient, weight-update) CTE block per GD
    * iteration, all arithmetic in integer nano-units: the margin is
    * an integer sum over the weight table, the residual is the SAME
    * single floor-quantization site the Spark side computes, and the
    * weight step is the pmod floor-division identity so both engines
    * floor (never truncate) negative gradients identically.
    */
  private def lrOracleSql(dims: Int, iters: Int,
                          lrNum: Long, lrDen: Long): String =
    lrChainCtes(dims, iters, lrNum, lrDen) + "\n" +
      raw"""SELECT dd.doc_id, dd.y = 1 AS is_ref, sc.wx >= 0 AS pred,
        |  CAST(sc.wx AS BIGINT) AS margin_units,
        |  (sc.wx >= 0) = (dd.y = 1) AS hit
        |FROM dd JOIN sc USING (doc_id)
        |ORDER BY dd.doc_id""".stripMargin

  /** The q214 train+score chain (decorated text, hashed dims, the
    * 8-iteration integer GD unrolled, full-corpus scoring), ending in
    * `dd(doc_id, y, dims)` + `sc(doc_id, wx)` — body shared by the
    * per-doc readout (q214) and the calibration audit (q223).
    */
  private def lrChainCtes(dims: Int, iters: Int,
                          lrNum: Long, lrDen: Long,
                          labelCond: String = "doc_id % 3 = 0"): String = {
    def fdiv(a: String, b: String): String =
      s"($a - (($a % $b + $b) % $b)) // $b"
    val iterCtes = (1 to iters).map { i =>
      val pw = s"w${i - 1}"
      val g = s"${lrNum} * COALESCE(g.g, 0)"
      // 1/t step decay: the denominator literal grows per iteration
      val d = s"(${lrDen * i} * nn.n)"
      s"""s$i AS (
        |  SELECT f.doc_id, max(f.y) AS y, sum(w.wt) AS wx
        |  FROM fx f JOIN $pw w ON w.dim = f.dim GROUP BY f.doc_id),
        |r$i AS (
        |  SELECT doc_id,
        |    CAST(floor((1.0 / (1.0 + exp(-CAST(wx AS DOUBLE) / 1e9)) - y)
        |               * 1e9 + 0.5) AS BIGINT) AS r
        |  FROM s$i),
        |g$i AS (
        |  SELECT f.dim, sum(r.r) AS g
        |  FROM fx f JOIN r$i r USING (doc_id) GROUP BY f.dim),
        |w$i AS MATERIALIZED (
        |  SELECT w.dim, w.wt - CAST(${fdiv(s"($g)", d)} AS BIGINT) AS wt
        |  FROM $pw w LEFT JOIN g$i g USING (dim) CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    raw"""WITH dec AS (
      |  SELECT doc_id,
      |    text || CASE WHEN doc_id % 3 = 0 THEN ' the and that have with.'
      |                 ELSE '' END AS txt,
      |    CASE WHEN $labelCond THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |dd AS MATERIALIZED (
      |  SELECT doc_id, y,
      |    list_prepend(-1, list_distinct(list_transform(
      |      string_split(lower(trim(regexp_replace(txt, '\s+', ' ', 'g'))), ' '),
      |      t -> CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |             list_transform(range(1, length(t) + 1),
      |               i -> CAST(ascii(substr(t, CAST(i AS INTEGER), 1)) AS BIGINT))),
      |             (h, c) -> (h * 31 + c) % 2147483648) % $dims AS INTEGER))))
      |      AS dims
      |  FROM dec),
      |fx AS MATERIALIZED (
      |  SELECT doc_id, y, CAST(unnest(dims) AS INTEGER) AS dim
      |  FROM dd WHERE doc_id % 10 <> 0),
      |nn AS MATERIALIZED (SELECT count(DISTINCT doc_id) AS n FROM fx),
      |w0 AS (
      |  SELECT CAST(u AS INTEGER) AS dim, CAST(0 AS BIGINT) AS wt
      |  FROM (SELECT unnest(range(-1, $dims)) AS u)),
      |$iterCtes,
      |sc AS MATERIALIZED (
      |  SELECT d2.doc_id, sum(w.wt) AS wx
      |  FROM (SELECT doc_id, CAST(unnest(dims) AS INTEGER) AS dim FROM dd) d2
      |  JOIN w$iters w ON w.dim = d2.dim GROUP BY d2.doc_id)""".stripMargin
  }

  /** q259's dense-LR training loop replayed as chained CTEs — the
    * [[lrOracleSql]] template at dense embedding features: milli-unit
    * quantized x with the 1000-constant bias prepended, integer
    * margins in 10⁻¹² units, the identical single-floor residual
    * site, and the same pmod floor-division weight step (the extra
    * ·1000 in the denominator converts the 10⁻¹²-unit gradient back
    * to nano-unit weights). Dense features mean every gradient
    * component exists in every row, so the per-iteration gradient is
    * one GROUP BY over the unnested vector — no LEFT JOIN against a
    * dim table.
    */
  /** The q259 training+scoring chain through `sc(vec_id, y, wx)` —
    * shared by the q259 readout and the q260/q261 curation capstones
    * (same fit, same scores, different tails — the chain cannot
    * drift between the screen and the cut it gates).
    */
  private def denseLrCtes(dim: Int, iters: Int,
                          lrNum: Long, lrDen: Long): String = {
    def fdiv(a: String, b: String): String =
      s"($a - (($a % $b + $b) % $b)) // $b"
    val iterCtes = (1 to iters).map { i =>
      val pw = s"dw${i - 1}"
      val g = s"${lrNum} * g.g"
      val d = s"(${lrDen * i * 1000L} * nn.n)"
      s"""ds$i AS (
        |  SELECT vec_id, y, x,
        |    list_sum(list_transform(range(1, len(x) + 1), j -> x[j] * w[j])) AS wx
        |  FROM fx, $pw),
        |dr$i AS (
        |  SELECT vec_id, x,
        |    CAST(floor((1.0 / (1.0 + exp(-CAST(wx AS DOUBLE) / 1e12)) - y)
        |               * 1e9 + 0.5) AS BIGINT) AS r
        |  FROM ds$i),
        |dg$i AS (
        |  SELECT j, sum(r * xj) AS g FROM (
        |    SELECT r, unnest(x) AS xj, unnest(range(1, len(x) + 1)) AS j
        |    FROM dr$i)
        |  GROUP BY j),
        |dw$i AS MATERIALIZED (
        |  SELECT list(w.w[g.j] - CAST(${fdiv(s"($g)", d)} AS BIGINT)
        |              ORDER BY g.j) AS w
        |  FROM dg$i g, $pw w, nn)""".stripMargin
    }.mkString(",\n")
    raw"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
      |xx AS MATERIALIZED (
      |  SELECT vec_id, CASE WHEN v[1] + v[2] > 0 THEN 1 ELSE 0 END AS y,
      |    list_prepend(CAST(1000 AS BIGINT),
      |      list_transform(v, ev -> CAST(floor(ev * 1000 + 0.5) AS BIGINT))) AS x
      |  FROM e),
      |fx AS MATERIALIZED (SELECT * FROM xx WHERE vec_id % 10 <> 0),
      |nn AS MATERIALIZED (SELECT count(*) AS n FROM fx),
      |dw0 AS (SELECT list_transform(range(1, ${dim + 2}), j -> CAST(0 AS BIGINT)) AS w),
      |$iterCtes,
      |sc AS (
      |  SELECT vec_id, y,
      |    list_sum(list_transform(range(1, len(x) + 1), j -> x[j] * w[j])) AS wx
      |  FROM xx, dw$iters)""".stripMargin
  }

  private def denseLrOracleSql(dim: Int, iters: Int,
                               lrNum: Long, lrDen: Long): String =
    denseLrCtes(dim, iters, lrNum, lrDen) +
      raw"""
      |SELECT vec_id, y = 1 AS is_pos, wx >= 0 AS pred,
      |  CAST(wx AS BIGINT) AS margin_units,
      |  (wx >= 0) = (y = 1) AS hit
      |FROM sc ORDER BY vec_id""".stripMargin

  /** q260's oracle — the chain + the tercile boundary (the q217
    * `quantile_cont(x, 1.0/3)` idiom) + the surviving-corpus cut.
    */
  private def denseLrCutOracleSql: String =
    denseLrCtes(64, 8, 16L, 1L) +
      raw""",
      |bnd AS (SELECT quantile_cont(wx, 1.0/3) AS b FROM sc)
      |SELECT vec_id, CAST(wx AS BIGINT) AS margin_units, wx >= 0 AS pred
      |FROM sc, bnd WHERE wx >= b ORDER BY vec_id""".stripMargin

  /** q261's oracle — the chain + boundary + the one-row datacard
    * (integer-ppm hit rate with the q256 nullif guard).
    */
  private def denseLrCardOracleSql: String =
    denseLrCtes(64, 8, 16L, 1L) +
      raw""",
      |bnd AS (SELECT quantile_cont(wx, 1.0/3) AS b FROM sc),
      |card AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_in,
      |    CAST(coalesce(sum(CASE WHEN wx >= b THEN 1 END), 0) AS BIGINT) AS n_kept,
      |    CAST(min(CASE WHEN wx >= b THEN wx END) AS BIGINT) AS threshold_units,
      |    CAST(coalesce(sum(CASE WHEN vec_id % 10 <> 0 THEN 1 END), 0) AS BIGINT) AS n_labeled,
      |    CAST(coalesce(sum(CASE WHEN vec_id % 10 <> 0
      |                       AND (wx >= 0) = (y = 1) THEN 1 END), 0) AS BIGINT) AS n_hit
      |  FROM sc, bnd)
      |SELECT n_in, n_kept, threshold_units, n_labeled,
      |  CAST((n_hit * 1000000) // nullif(n_labeled, 0) AS BIGINT) AS hit_ppm
      |FROM card""".stripMargin

  private def nbOracleSql(label: String, trainWhere: String,
                          testWhere: String, readout: String): String =
    raw"""WITH tr AS (
      |  SELECT doc_id, $label AS label, text FROM documents WHERE $trainWhere),
      |te AS (
      |  SELECT doc_id, $label AS actual, text FROM documents WHERE $testWhere),
      |ttok AS (
      |  SELECT label,
      |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
      |  FROM tr),
      |lab AS (SELECT label, count(*) AS n_docs FROM tr GROUP BY label),
      |labtot AS (SELECT label, count(*) AS total FROM ttok GROUP BY label),
      |vocab AS (SELECT DISTINCT token FROM ttok),
      |vs AS (SELECT count(*) AS v FROM vocab),
      |tot AS (SELECT count(*) AS n FROM tr),
      |labs AS (
      |  SELECT l.label,
      |    CAST(floor(ln(CAST(l.n_docs AS DOUBLE) / t.n) * 1e9 + 0.5) AS BIGINT) AS prior_u,
      |    CAST(floor(ln(1.0 / (lt.total + vs.v)) * 1e9 + 0.5) AS BIGINT) AS oov_u,
      |    lt.total AS total, vs.v AS v
      |  FROM lab l, labtot lt, vs, tot t WHERE l.label = lt.label),
      |cnts AS (SELECT label, token, count(*) AS c FROM ttok GROUP BY label, token),
      |grid AS (
      |  SELECT labs.label, vocab.token,
      |    CAST(floor(ln((COALESCE(c.c, 0) + 1.0) / (labs.total + labs.v)) * 1e9 + 0.5) AS BIGINT) AS w_u
      |  FROM vocab CROSS JOIN labs
      |  LEFT JOIN cnts c ON c.label = labs.label AND c.token = vocab.token),
      |stok AS (
      |  SELECT doc_id,
      |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS token
      |  FROM te),
      |ntok AS (SELECT doc_id, count(*) AS n_tok FROM stok GROUP BY doc_id),
      |known AS (
      |  SELECT s.doc_id, g.label, sum(g.w_u) AS s_known, count(*) AS n_known
      |  FROM stok s JOIN grid g ON g.token = s.token
      |  GROUP BY s.doc_id, g.label),
      |scored AS (
      |  SELECT n.doc_id, labs.label,
      |    labs.prior_u + COALESCE(k.s_known, 0) +
      |      (n.n_tok - COALESCE(k.n_known, 0)) * labs.oov_u AS score_units
      |  FROM ntok n CROSS JOIN labs
      |  LEFT JOIN known k ON k.doc_id = n.doc_id AND k.label = labs.label),
      |best AS (
      |  SELECT doc_id, label AS pred, score_units,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |                       ORDER BY score_units DESC, label) AS rn
      |  FROM scored)
      |""".stripMargin + readout

  /** q167's oracle — the naive global-window prefix sum; shared
    * verbatim by q186 (incremental ≡ full repack).
    */
  private def seqPackingOracleSql: String =
    """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |f AS (SELECT doc_id, n_toks FROM t WHERE n_toks > 0),
        |c AS (
        |  SELECT doc_id, n_toks,
        |    CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM f)
        |SELECT doc_id, n_toks, tok_start,
        |  (tok_start // 512) AS seq_first,
        |  ((tok_start + n_toks - 1) // 512) AS seq_last,
        |  ((tok_start + n_toks - 1) // 512) - (tok_start // 512) + 1 AS n_seqs
        |FROM c ORDER BY doc_id""".stripMargin

  private def leakSafeSplitOracleSql: String =
    s"""$dupClustersCtes,
        |alld AS (
        |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN comp c ON c.v = d.doc_id),
        |hh AS (
        |  SELECT doc_id, cluster_id,
        |    md5(CAST(cluster_id AS VARCHAR) || '|0') AS h
        |  FROM alld),
        |bk AS (
        |  SELECT doc_id, cluster_id,
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) AS bucket
        |  FROM hh),
        |sp AS (
        |  SELECT doc_id, cluster_id,
        |    CASE WHEN bucket < 838861 THEN 'train'
        |         WHEN bucket < 943718 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM bk),
        |per AS (
        |  SELECT split, count(*) AS n_docs,
        |    count(DISTINCT cluster_id) AS n_clusters,
        |    CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |  FROM sp GROUP BY split),
        |str AS (
        |  SELECT count(*) AS straddling_clusters FROM (
        |    SELECT cluster_id FROM sp GROUP BY cluster_id
        |    HAVING count(DISTINCT split) > 1) t)
        |SELECT split, n_docs, n_clusters, sum_ids, straddling_clusters
        |FROM per, str ORDER BY split""".stripMargin

  /** q48's full chain (q22 pairs + WITH RECURSIVE min-id closure) —
    * shared verbatim by q169 (contraction computes the identical
    * components).
    */
  private def dupClustersOracleSql: String =
    s"""$dupClustersCtes,
        |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
        |SELECT v AS doc_id, cluster_id, cluster_size
        |FROM comp JOIN sizes USING (cluster_id)
        |ORDER BY doc_id""".stripMargin

  /** q48's chain through `comp(v, cluster_id)` — the doc→component
    * assignment, shared by q48/q169 (full readout) and q172 (the
    * leakage-safe split keys on it).
    */
  private def dupClustersCtes: String = dupClustersCtes("documents")

  /** The dup-cluster chain over an arbitrary (doc_id, text) source
    * CTE/table — q177 runs it on the entropy-gated subset.
    */
  private def dupClustersCtes(src: String): String =
    raw"""WITH RECURSIVE toks AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM SRC_TABLE),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM toks WHERE len(w) >= 3),
        |sig AS (
        |  SELECT doc_id, sh,
        |    [list_min(list_transform(sh, s -> md5('0|' || s))),
        |     list_min(list_transform(sh, s -> md5('1|' || s))),
        |     list_min(list_transform(sh, s -> md5('2|' || s))),
        |     list_min(list_transform(sh, s -> md5('3|' || s))),
        |     list_min(list_transform(sh, s -> md5('4|' || s))),
        |     list_min(list_transform(sh, s -> md5('5|' || s))),
        |     list_min(list_transform(sh, s -> md5('6|' || s))),
        |     list_min(list_transform(sh, s -> md5('7|' || s)))] AS hs
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.b AS band_idx, md5(hs[b.b*2+1] || hs[b.b*2+2]) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) b),
        |bsz AS (
        |  SELECT band_idx, band_key FROM bands
        |  GROUP BY band_idx, band_key HAVING count(*) <= $MaxBucketCap),
        |cand AS (
        |  SELECT a.doc_id AS id_a, bb.doc_id AS id_b
        |  FROM bands a JOIN bsz USING (band_idx, band_key)
        |              JOIN bands bb USING (band_idx, band_key)
        |  WHERE a.doc_id < bb.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT id_a, id_b,
        |      len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
        |      len(sa.sh) AS la, len(sb.sh) AS lb
        |    FROM cand JOIN sh sa ON sa.doc_id = id_a
        |              JOIN sh sb ON sb.doc_id = id_b)
        |  WHERE round(CAST(inter AS DOUBLE) / (la + lb - inter), 4) >= 0.8),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS v FROM edges),
        |rec AS (
        |  SELECT v, v AS m FROM nodes
        |  UNION
        |  SELECT e.dst AS v, r.m FROM rec r JOIN edges e ON e.src = r.v),
        |comp AS (SELECT v, min(m) AS cluster_id FROM rec GROUP BY v)""".stripMargin
      .replace("SRC_TABLE", src)

  /** q239's oracle: the banded candidate chain at the geometry
    * [[graft.ext.Dedup.bandingForRecall]] derives for (threshold,
    * targetRecall) — signature length and band keys GENERATED from
    * the derived values (not hand-copied literals), q238's planted
    * fixture and brute exact side, single-operating-point readout
    * with the derivation inputs published.
    */
  /** q245/q246 shared oracle chain
    * ([[graft.ext.Spectral]]'s power iteration unrolled): centering
    * CTEs + `iterations` (multiply, per-dim sum, normalize) step
    * triples, ending at `v<iterations>` — the single-row unit
    * component, with the centered corpus available as CTE `c`. One
    * generator for both PCA anchors so they cannot drift.
    */
  // MATERIALIZED (the q242 convention) is load-bearing here: inlined,
  // each step's two s-references and the next step's v-reference
  // re-expand the whole upstream chain (2^iterations evaluations; the
  // q247 two-chain form squares that).
  private def pcaStepCtes(src: String, pfx: String, iterations: Int): String =
    (1 to iterations).map { k =>
      val prev = if (k == 1) s"${pfx}v0" else s"${pfx}v${k - 1}"
      raw"""${pfx}p$k AS (
          |  SELECT vec_id, c,
          |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
          |  FROM $src, $prev),
          |${pfx}s$k AS MATERIALIZED (
          |  SELECT i, sum(cx * p) AS s FROM (
          |    SELECT p, unnest(c) AS cx, unnest(range(1, len(c) + 1)) AS i
          |    FROM ${pfx}p$k)
          |  GROUP BY i),
          |${pfx}n$k AS (SELECT sqrt(sum(s * s)) AS nrm FROM ${pfx}s$k),
          |${pfx}v$k AS MATERIALIZED (
          |  SELECT list(s / nrm ORDER BY i) AS pc FROM ${pfx}s$k, ${pfx}n$k)""".stripMargin
    }.mkString(",\n")

  /** `fitCtes` must define `fe` — the fit subset of `e` (default: the
    * whole corpus; q249 swaps in the q50 md5-sampled subset). The
    * mean and iteration chain fit on `fe`; scoring CTEs choose their
    * own source (`c` = centered fit rows; q249 centers ALL of `e`
    * with the fit mean in its own `ca` CTE).
    */
  private def pcaPowerCte(iterations: Int,
                          fitCtes: String = "fe AS (SELECT * FROM e)"): String = {
    val steps = pcaStepCtes("c", "", iterations)
    raw"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) > 0),
        |$fitCtes,
        |ex AS (
        |  SELECT vec_id, i, v[i] AS x FROM (
        |    SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS i FROM fe)),
        |mu AS (SELECT i, avg(x) AS m FROM ex GROUP BY i),
        |mul AS MATERIALIZED (SELECT list(m ORDER BY i) AS mu FROM mu),
        |c AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(range(1, len(v) + 1), j -> v[j] - mu[j]) AS c
        |  FROM fe, mul),
        |v0 AS (SELECT list_transform(mu, x -> 1.0) AS pc FROM mul),
        |$steps""".stripMargin
  }

  /** q249's fit subset: the q50 md5-bucket sample of `e` at the rate
    * the 256-row cap derives from the corpus count — `floor` (not a
    * bare BIGINT cast, which rounds in DuckDB) mirrors Scala's
    * truncating `toLong` on the rate·2²⁰ threshold exactly.
    */
  private def pcaSampledFitCtes(maxFitRows: Int): String =
    raw"""hs AS (SELECT vec_id, md5(CAST(vec_id AS VARCHAR) || '|0') AS hh FROM e),
        |bs AS (
        |  SELECT vec_id,
        |    (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1) AS bucket
        |  FROM hs),
        |nr AS (SELECT count(*) AS n FROM e),
        |fe AS (
        |  SELECT e.vec_id, e.v FROM e JOIN bs USING (vec_id), nr
        |  WHERE bucket < CAST(floor(least(1.0, $maxFitRows.0 / n) * 1048576) AS BIGINT))"""
      .stripMargin

  /** q241/q243 shared oracle template: q188's flat argmax/ranking
    * replay with the seed LIMIT at the derived sized k. One generator
    * for both schedule floors (256, 512), so the anchors are
    * byte-identical up to the k literal the schedule derived.
    */
  private def sizedAssignHierOracleSql(k: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n0 AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM e),
       |nv AS (SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv FROM n0 WHERE sq > 0),
       |c0 AS (
       |  SELECT list_transform(list(nv ORDER BY vec_id),
       |                        v -> list_transform(v, x -> round(x, 9))) AS cs
       |  FROM (SELECT vec_id, nv FROM nv ORDER BY vec_id LIMIT $k)),
       |sims AS (
       |  SELECT vec_id,
       |    list_transform(c0.cs,
       |      c -> list_sum(list_transform(range(1, 65), i -> c[i] * nv[i]))) AS ss
       |  FROM nv CROSS JOIN c0)
       |SELECT vec_id,
       |  CAST(list_position(ss, list_max(ss)) - 1 AS INTEGER) AS cluster,
       |  array_to_string(list_transform(list_sort(list_transform(range(1, len(ss) + 1),
       |      i -> {'ns': -ss[i], 'i': i - 1})), s -> CAST(s.i AS INTEGER))[1:3], ',') AS probes
       |FROM sims ORDER BY vec_id""".stripMargin

  private def bandingAutoOracleSql(t: Double, target: Double): String = {
    val (numHashes, rowsPerBand) = graft.ext.Dedup.bandingForRecall(t, target)
    val nBands = numHashes / rowsPerBand
    val sigs = (0 until numHashes)
      .map(i => s"list_min(list_transform(sh, s -> md5('$i|' || s)))")
      .mkString("[", ",\n        |     ", "]")
    val bandKey = (1 to rowsPerBand)
      .map(j => s"hs[b.b*$rowsPerBand+$j]").mkString(" || ")
    raw"""WITH qd239 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 50 >= 47 THEN
        |      array_to_string(list_transform(
        |        range((doc_id % 50 - 47)*3 + 1, (doc_id % 50 - 47)*3 + 21),
        |        j -> 'qbr' || CAST(doc_id // 50 AS VARCHAR)
        |             || 'w' || CAST(j AS VARCHAR)), ' ')
        |    ELSE text END AS text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM qd239),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM toks WHERE len(w) >= 3),
        |sig AS (
        |  SELECT doc_id, sh,
        |    $sigs AS hs
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, b.b AS band_idx, md5($bandKey) AS band_key
        |  FROM sig CROSS JOIN (SELECT unnest(range(0, $nBands)) AS b) b),
        |bsz AS (
        |  SELECT band_idx, band_key FROM bands
        |  GROUP BY band_idx, band_key HAVING count(*) <= $MaxBucketCap),
        |cand AS (
        |  SELECT a.doc_id AS id_a, bb.doc_id AS id_b
        |  FROM bands a JOIN bsz USING (band_idx, band_key)
        |              JOIN bands bb USING (band_idx, band_key)
        |  WHERE a.doc_id < bb.doc_id GROUP BY 1, 2),
        |exj AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
        |      / (len(a.sh) + len(b.sh)
        |         - len(list_filter(a.sh, x -> list_contains(b.sh, x)))), 4) AS j
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |fl AS (
        |  SELECT exj.id_a, exj.id_b,
        |    cand.id_a IS NOT NULL AS in_band
        |  FROM exj
        |  LEFT JOIN cand ON cand.id_a = exj.id_a AND cand.id_b = exj.id_b
        |  WHERE exj.j >= $t)
        |SELECT CAST($t AS DOUBLE) AS exact_threshold,
        |  CAST($target AS DOUBLE) AS target_recall,
        |  CAST($numHashes AS INTEGER) AS num_hashes,
        |  CAST($rowsPerBand AS INTEGER) AS rows_per_band,
        |  count(*) AS n_exact,
        |  CAST(sum(CASE WHEN in_band THEN 1 ELSE 0 END) AS BIGINT) AS n_banded,
        |  CAST(sum(CASE WHEN NOT in_band THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
        |  CAST((sum(CASE WHEN in_band THEN 1 ELSE 0 END) * 10000) // count(*)
        |       AS DOUBLE) / 10000.0 AS band_recall
        |FROM fl""".stripMargin
  }

  private def pipelineR12OracleSql: String =
    "WITH " + urlCanonicalCtes + ",\n" +
    raw"""crawl AS (
       |  SELECT min(doc_id) AS doc_id FROM canon GROUP BY canonical_url),
       |s1 AS (
       |  SELECT d.doc_id, d.text, d.source
       |  FROM documents d JOIN crawl ON crawl.doc_id = d.doc_id),
       |${mixedContentCtes("s1", "_m")},
       |pass AS (
       |  SELECT tp_m.doc_id
       |  FROM tp_m JOIN nc_m ON nc_m.doc_id = tp_m.doc_id
       |  WHERE tp_m.rn = 1 AND tp_m.top_cnt * 5 >= nc_m.n_chunks * 4),
       |s2 AS (SELECT s1.* FROM s1 JOIN pass USING (doc_id)),
       |cnts2 AS (SELECT source, count(*) AS cnt FROM s2 GROUP BY source),
       |w2 AS (
       |  SELECT source, cnt,
       |    CAST(round(sqrt(cnt) * 1e6) AS BIGINT) AS w
       |  FROM cnts2),
       |tot2 AS (SELECT CAST(sum(w) AS BIGINT) AS s FROM w2),
       |rates2 AS (
       |  SELECT source,
       |    least(1.0, (CAST(w AS DOUBLE) * 150) / (CAST(s AS DOUBLE) * cnt)) AS rate
       |  FROM w2, tot2),
       |b2 AS (
       |  SELECT doc_id, source, text,
       |    md5(CAST(doc_id AS VARCHAR) || '|0') AS hh
       |  FROM s2),
       |kept AS (
       |  SELECT b2.doc_id, b2.source, b2.text
       |  FROM b2 JOIN rates2 r ON b2.source = r.source
       |  WHERE (strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 65536
       |      + (strpos('0123456789abcdef', substr(hh, 2, 1)) - 1) * 4096
       |      + (strpos('0123456789abcdef', substr(hh, 3, 1)) - 1) * 256
       |      + (strpos('0123456789abcdef', substr(hh, 4, 1)) - 1) * 16
       |      + (strpos('0123456789abcdef', substr(hh, 5, 1)) - 1)
       |      < CAST(floor(r.rate * 1048576) AS BIGINT))
       |SELECT source, count(*) AS n_kept,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       |  CAST(sum(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))) AS BIGINT) AS sum_tokens
       |FROM kept GROUP BY source ORDER BY source""".stripMargin

  private def knnLabelOracleSql: String = {
    val dot = "list_sum(list_transform(range(1, 65), i -> c[i] * nv[i]))"
    s"""${ivfTrainCtesT("vec_id % 5 <> 0", "nvt")},
       |qs AS (
       |  SELECT vec_id AS query_id, nv AS qnv,
       |    list_transform(c2.cs, c -> $dot) AS sims
       |  FROM nv CROSS JOIN c2 WHERE vec_id % 5 = 0),
       |pq AS (
       |  SELECT query_id, qnv,
       |    unnest(list_transform(range(1, 17), i -> {'idx': i - 1, 'sim': sims[i]})) AS u
       |  FROM qs),
       |probes AS (
       |  SELECT query_id, qnv, u.idx AS cluster
       |  FROM (SELECT query_id, qnv, u,
       |          row_number() OVER (PARTITION BY query_id
       |                             ORDER BY u.sim DESC, u.idx) AS rn
       |        FROM pq)
       |  WHERE rn <= 4),
       |scored AS (
       |  SELECT p.query_id, af.vec_id AS neighbor_id,
       |    round(list_sum(list_transform(range(1, 65), i -> p.qnv[i] * af.nv[i])), 4) AS cos_sim
       |  FROM af JOIN probes p ON af.cluster = p.cluster
       |  WHERE af.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY cos_sim DESC, neighbor_id) AS rn
       |  FROM scored),
       |votes AS (
       |  SELECT r.query_id, e.label, count(*) AS n_votes
       |  FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
       |  WHERE r.rn <= 10
       |  GROUP BY r.query_id, e.label),
       |best AS (
       |  SELECT query_id, label, n_votes,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY n_votes DESC, label) AS vr
       |  FROM votes)
       |SELECT b.query_id AS vec_id, b.label AS pred_label, b.n_votes,
       |  e.label AS actual_label, (b.label = e.label) AS hit
       |FROM best b JOIN embeddings e ON e.vec_id = b.query_id
       |WHERE b.vr = 1
       |ORDER BY vec_id""".stripMargin
  }

  /** q160's oracle: [[mixedContentCtes]] + the integer majority
    * readout (row_number tie-broken on the label, cross-multiplied
    * 4/5 threshold).
    */
  private def mixedContentOracleSql: String =
    s"""WITH ${mixedContentCtes("documents", "")}
       |SELECT tp.doc_id, nc.n_chunks, tp.topic AS top_topic, tp.top_cnt,
       |  (tp.top_cnt * 5 < nc.n_chunks * 4) AS mixed
       |FROM tp JOIN nc ON nc.doc_id = tp.doc_id
       |WHERE tp.rn = 1
       |ORDER BY tp.doc_id""".stripMargin

  /** CDC-chunk → per-chunk lexicon argmax → per-doc majority, over an
    * arbitrary `(doc_id, text)` source with `suffix`-disambiguated
    * CTE names; ends in `tp$suffix` (majority, rn = 1 row per doc)
    * and `nc$suffix` (chunk counts). Shared by q160 and the q166
    * capstone so the gate can never drift.
    */
  private def mixedContentCtes(src: String, sfx: String): String = {
    val scores = topicLexicons.zipWithIndex.map { case ((_, lex), i) =>
      val lst = lex.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(w, x -> list_contains($lst, x))) AS s$i"
    }.mkString(",\n|    ")
    val caseArms = topicLexicons.zipWithIndex.map { case ((label, _), i) =>
      s"WHEN s$i = best AND best > 0 THEN '$label'"
    }.mkString("\n|         ")
    s"""${cdcChunkCtesFrom(src, sfx)},
       |tok$sfx AS (
       |  SELECT doc_id,
       |    string_split(lower(trim(regexp_replace(chunk, '\\s+', ' ', 'g'))), ' ') AS w
       |  FROM ch$sfx),
       |sc$sfx AS (
       |  SELECT doc_id,
       |    $scores
       |  FROM tok$sfx),
       |lab$sfx AS (
       |  SELECT doc_id,
       |    CASE $caseArms
       |         ELSE 'und' END AS topic
       |  FROM (SELECT *, greatest(${topicLexicons.indices.map(i => s"s$i").mkString(", ")}) AS best FROM sc$sfx)),
       |pt$sfx AS (
       |  SELECT doc_id, topic, count(*) AS top_cnt FROM lab$sfx GROUP BY doc_id, topic),
       |tp$sfx AS (
       |  SELECT doc_id, topic, top_cnt,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY top_cnt DESC, topic) AS rn
       |  FROM pt$sfx),
       |nc$sfx AS (SELECT doc_id, count(*) AS n_chunks FROM lab$sfx GROUP BY doc_id)""".stripMargin
  }

  // NOTE: urlCanonicalCtes contains lines that BEGIN with SQL's `||`
  // concatenation — a second stripMargin over interpolated text would
  // eat one pipe — so consumers concatenate the pre-stripped chain
  // instead of re-interpolating it into a margin string.
  private def urlCanonicalOracleSql: String =
    "WITH " + urlCanonicalCtes + "\n" +
      """SELECT canonical_url, count(*) AS n_docs,
        |  count(DISTINCT raw_url) AS n_raw_variants
        |FROM canon GROUP BY canonical_url
        |ORDER BY canonical_url""".stripMargin

  /** q159/q166's shared derivation+canonicalization chain, ending in
    * `canon(doc_id, raw_url, canonical_url)`.
    */
  private def urlCanonicalCtes: String = {
    val re = ext.UrlOps.UrlPartsRe
    val tracked = ext.UrlOps.TrackingParams.map(p => s"'$p'").mkString(", ")
    s"""raw AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP://'
       |          WHEN doc_id % 3 = 1 THEN 'http://' ELSE 'https://' END)
       |    || (CASE WHEN doc_id % 7 = 0 THEN 'User:pw@' ELSE '' END)
       |    || (CASE WHEN doc_id % 2 = 0
       |             THEN 'Site' || CAST(doc_id % 25 AS VARCHAR) || '.Com'
       |             ELSE 'site' || CAST(doc_id % 25 AS VARCHAR) || '.com' END)
       |    || (CASE WHEN doc_id % 5 = 0
       |             THEN (CASE WHEN doc_id % 3 = 2 THEN ':443' ELSE ':80' END)
       |             ELSE '' END)
       |    || '/Page/' || CAST(doc_id % 25 AS VARCHAR)
       |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
       |    || (CASE WHEN doc_id % 2 = 0
       |             THEN '?utm_source=feed&id=' || CAST(doc_id % 25 AS VARCHAR) || '&utm_medium=x'
       |             WHEN doc_id % 11 = 0
       |             THEN '?id=' || CAST(doc_id % 25 AS VARCHAR) || '&fbclid=abc'
       |             ELSE '' END)
       |    || (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS raw_url
       |  FROM documents),
       |parts AS (
       |  SELECT doc_id, raw_url,
       |    lower(regexp_extract(raw_url, '(?i)$re', 1)) AS sch,
       |    lower(regexp_extract(raw_url, '(?i)$re', 2)) AS h,
       |    nullif(regexp_extract(raw_url, '(?i)$re', 3), '') AS prt,
       |    regexp_extract(raw_url, '(?i)$re', 4) AS pth,
       |    regexp_extract(raw_url, '(?i)$re', 5) AS q
       |  FROM raw),
       |canon AS (
       |  SELECT doc_id, raw_url,
       |    sch || '://' || h
       |    || (CASE WHEN prt IS NULL
       |              OR (sch = 'http' AND prt = '80')
       |              OR (sch = 'https' AND prt = '443') THEN ''
       |             ELSE ':' || CAST(CAST(prt AS INTEGER) AS VARCHAR) END)
       |    || (CASE WHEN p1 <> '/' AND p1 LIKE '%/'
       |             THEN substr(p1, 1, length(p1) - 1) ELSE p1 END)
       |    || (CASE WHEN len(kept) > 0
       |             THEN '?' || array_to_string(list_sort(kept), '&')
       |             ELSE '' END) AS canonical_url
       |  FROM (
       |    SELECT doc_id, raw_url, sch, h, prt,
       |      (CASE WHEN pth = '' THEN '/' ELSE pth END) AS p1,
       |      list_filter(string_split(q, '&'), kv ->
       |        kv <> '' AND NOT starts_with(split_part(kv, '=', 1), 'utm_')
       |        AND split_part(kv, '=', 1) NOT IN ($tracked)) AS kept
       |    FROM parts) t)""".stripMargin
  }

  /** q91/q158's shared oracle: q22's toks/sh shingle derivation;
    * posting-list cap via HAVING; count(*) per pair = distinct-shingle
    * overlap because shingles are list_distinct per doc on both sides.
    * q158 (bloom-pruned train side) shares it verbatim — the prune is
    * a superset filter followed by the same exact join.
    */
  /** Contamination chain CTEs over arbitrary train/test `(id, txt)`
    * selects, ending in `j(test_id, train_id, n_test, n_overlap)` —
    * the q91 trigram-shingle overlap with the train-side df cap.
    * Byte-shared by q91, q158 (whose bloom-pruned plan must be
    * result-identical) and q211 (SFT-prompt decontamination).
    */
  private def contaminationCtes(trainSel: String, testSel: String): String =
    raw"""trd AS ($trainSel),
      |ted AS ($testSel),
      |trsh AS (
      |  SELECT id, list_distinct(list_transform(range(1, len(w)-1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |  FROM (SELECT id,
      |          string_split(lower(trim(regexp_replace(txt, '\s+', ' ', 'g'))), ' ') AS w
      |        FROM trd)),
      |tesh AS (
      |  SELECT id, list_distinct(list_transform(range(1, len(w)-1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
      |  FROM (SELECT id,
      |          string_split(lower(trim(regexp_replace(txt, '\s+', ' ', 'g'))), ' ') AS w
      |        FROM ted)),
      |tr AS (
      |  SELECT id AS train_id, unnest(sh) AS s FROM trsh),
      |cap AS (
      |  SELECT s FROM tr GROUP BY s HAVING count(*) <= 10000),
      |te AS (
      |  SELECT id AS test_id, len(sh) AS n_test, unnest(sh) AS s
      |  FROM tesh WHERE len(sh) > 0),
      |j AS (
      |  SELECT te.test_id, tr.train_id, te.n_test, count(*) AS n_overlap
      |  FROM te
      |  JOIN cap ON te.s = cap.s
      |  JOIN tr ON te.s = tr.s
      |  GROUP BY te.test_id, tr.train_id, te.n_test)""".stripMargin

  private def contaminationOracleSql: String =
    s"""WITH ${contaminationCtes(
         "SELECT doc_id AS id, text AS txt FROM documents WHERE doc_id % 2 = 0",
         "SELECT doc_id AS id, text AS txt FROM documents WHERE doc_id % 2 = 1")}
      |SELECT test_id, train_id, n_overlap,
      |  CAST((n_overlap * 10000) // n_test AS DOUBLE) / 10000.0 AS overlap_frac
      |FROM j WHERE n_overlap >= 3
      |ORDER BY test_id, train_id""".stripMargin

  /** CDC chunk derivation CTEs ending in `ch(doc_id, chunk)` — window
    * 16, modulus 1000003, divisor 64 (the
    * [[graft.ext.Chunker.contentChunks]] defaults), power table
    * interpolated from the same [[graft.ext.Chunker.powerTable]].
    * Shared by the q157 (chunk dedup) and q160 (mixed-content) oracles
    * so the two can never drift.
    */
  private def cdcChunkCtes: String = cdcChunkCtesFrom("documents", "")

  /** The chain over an arbitrary `(doc_id, text)` source with
    * `suffix`-disambiguated CTE names (q161 chunks TWO corpus
    * versions in one statement).
    */
  private def cdcChunkCtesFrom(src: String, suffix: String): String = {
    val pw = graft.ext.Chunker.powerTable(16, 1000003L).mkString("[", ", ", "]")
    val (c, cut, b, ch) = (s"c$suffix", s"cut$suffix", s"b$suffix", s"ch$suffix")
    s"""$c AS (
       |  SELECT doc_id, text, length(text) AS n,
       |    list_transform(range(1, length(text) + 1),
       |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS codes
       |  FROM $src),
       |$cut AS (
       |  SELECT doc_id, text, n,
       |    list_filter(range(16, n + 1), p ->
       |      (list_sum(list_transform(range(1, 17),
       |         j -> codes[p - 16 + j] * ($pw)[j])) % 1000003) % 64 = 0) AS cuts
       |  FROM $c),
       |$b AS (
       |  SELECT doc_id, text,
       |    list_concat(list_concat([CAST(0 AS BIGINT)],
       |      list_filter(cuts, x -> x < n)), [CAST(n AS BIGINT)]) AS bounds
       |  FROM $cut),
       |$ch AS (
       |  SELECT doc_id,
       |    substr(text, CAST(bounds[i] + 1 AS INTEGER),
       |           CAST(bounds[i + 1] - bounds[i] AS INTEGER)) AS chunk
       |  FROM (SELECT doc_id, text, bounds,
       |          unnest(range(1, len(bounds))) AS i FROM $b))""".stripMargin
  }

  private def cdcOracleSql: String =
    s"""WITH $cdcChunkCtes
       |SELECT md5(chunk) AS chunk_hash,
       |  count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_occ,
       |  max(length(chunk)) AS chunk_len
       |FROM ch GROUP BY md5(chunk)
       |ORDER BY n_occ DESC, chunk_hash LIMIT 50""".stripMargin

  /** q155's generated oracle: stage i computes pair counts over the
    * stage-(i−1) vocabulary, picks the argmax merge, and applies it —
    * exactly [[graft.ext.Bpe.learnMerges]]'s loop, unrolled. The CTE
    * chain (s0..sN vocabularies, b1..bN argmax merges) is shared with
    * q170's encode-and-pack oracle via [[bpeChainCtes]].
    */
  private def bpeOracleSql(nMerges: Int): String = {
    val sb = new StringBuilder(bpeChainCtes(nMerges))
    sb.append("\nSELECT merge_rank, sym_left, sym_right, pair_count FROM (")
    sb.append((1 to nMerges).map(i =>
      s"\nSELECT $i AS merge_rank, l AS sym_left, r AS sym_right, c AS pair_count FROM b$i"
    ).mkString("\nUNION ALL"))
    sb.append("\n) u ORDER BY merge_rank")
    sb.toString
  }

  /** The shared BPE training chain: `WITH s0 … bN, sN` — no final
    * SELECT, so callers append their own readout (q155: the merge
    * table; q170: per-doc encoding + packing).
    */
  private def bpeChainCtes(nMerges: Int, src: String = "documents"): String = {
    val sb = new StringBuilder
    sb.append(
      raw"""WITH s0 AS MATERIALIZED (
        |  SELECT regexp_replace(word, '(.)', '<\1>', 'g') || '<_>' AS sym,
        |         CAST(count(*) AS BIGINT) AS freq
        |  FROM (
        |    SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS word
        |    FROM SRC_TABLE) t
        |  WHERE regexp_full_match(word, '[a-z0-9]+')
        |  GROUP BY word)""".stripMargin.replace("SRC_TABLE", src))
    for (i <- 1 to nMerges) {
      sb.append(s""",
        |p$i AS MATERIALIZED (
        |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS c FROM (
        |    SELECT freq, a[i] AS l, a[i + 1] AS r FROM (
        |      SELECT freq, a, unnest(range(1, len(a))) AS i FROM (
        |        SELECT freq, string_split(substr(sym, 2, length(sym) - 2), '><') AS a
        |        FROM s${i - 1}) t1) t2) t3
        |  GROUP BY l, r),
        |b$i AS MATERIALIZED (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
        |s$i AS MATERIALIZED (
        |  SELECT replace(s.sym, '<' || b.l || '><' || b.r || '>',
        |                 '<' || b.l || b.r || '>') AS sym, s.freq
        |  FROM s${i - 1} s, b$i b)""".stripMargin)
    }
    sb.toString
  }

  /** q170's oracle: the shared training chain, then each corpus word
    * re-encoded through the b1..bN merges IN ORDER (per-doc word
    * occurrences through the same replace rule the vocabulary stages
    * use), per-doc BPE token counts, and the q167 packing window.
    */
  /** The per-doc encode chain d0..dN over an arbitrary (doc_id, text)
    * source — the b1..bN merges must already be in scope
    * ([[bpeChainCtes]]); q170 runs it on `documents`, q177 on the
    * gated train split.
    */
  private def bpeEncodeCtes(nMerges: Int, src: String): String = {
    val sb = new StringBuilder
    sb.append(
      raw""",
        |d0 AS MATERIALIZED (
        |  SELECT doc_id, regexp_replace(word, '(.)', '<\1>', 'g') || '<_>' AS sym
        |  FROM (
        |    SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS word
        |    FROM SRC_TABLE) t
        |  WHERE regexp_full_match(word, '[a-z0-9]+'))""".stripMargin
      .replace("SRC_TABLE", src))
    for (i <- 1 to nMerges) {
      sb.append(s""",
        |d$i AS MATERIALIZED (
        |  SELECT doc_id, replace(d.sym, '<' || b.l || '><' || b.r || '>',
        |                 '<' || b.l || b.r || '>') AS sym
        |  FROM d${i - 1} d, b$i b)""".stripMargin)
    }
    sb.toString
  }

  private def bpePackOracleSql(nMerges: Int, capacity: Int): String =
    bpeChainCtes(nMerges) + bpeEncodeCtes(nMerges, "documents") +
      packReadoutSql(nMerges, capacity)

  /** Token-count + prefix-sum packing readout over the encoded d-chain
    * — shared by q170 and q177.
    */
  private def packReadoutSql(nMerges: Int, capacity: Int): String =
    s""",
        |dt AS (
        |  SELECT doc_id,
        |    CAST(SUM(len(string_split(substr(sym, 2, length(sym) - 2), '><'))) AS BIGINT) AS n_toks
        |  FROM d$nMerges GROUP BY doc_id),
        |dc AS (
        |  SELECT doc_id, n_toks,
        |    CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM dt WHERE n_toks > 0)
        |SELECT doc_id, n_toks, tok_start,
        |  (tok_start // $capacity) AS seq_first,
        |  ((tok_start + n_toks - 1) // $capacity) AS seq_last,
        |  ((tok_start + n_toks - 1) // $capacity) - (tok_start // $capacity) + 1 AS n_seqs
        |FROM dc ORDER BY doc_id""".stripMargin

  /** q177's oracle: every stage is a SHARED chain — the q175 entropy
    * tree (e-prefixed), the q48 dup-cluster chain over the gated
    * subset, the q81 md5 bucket on cluster ids (train side), the q155
    * training chain, the q170 encode chain over the train docs, and
    * the q167 packing window.
    */
  private def trainReadyOracleSql: String = {
    val entropy =
      raw"""es AS (
        |  SELECT doc_id,
        |    replace(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ', '') AS s
        |  FROM documents),
        |ef AS (SELECT doc_id, s FROM es WHERE length(s) > 0),
        |ech AS (SELECT doc_id, s, unnest(range(1, length(s) + 1)) AS i FROM ef),
        |ecx AS (SELECT doc_id, substr(s, CAST(i AS INT), 1) AS c FROM ech),
        |ecc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n FROM ecx GROUP BY 1, 2),
        |ett AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS t FROM ecc GROUP BY 1),
        |ent AS (
        |  SELECT ecc.doc_id,
        |    CAST(-SUM(CAST(floor((n / CAST(t AS DOUBLE)) * ln(n / CAST(t AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS e_nano
        |  FROM ecc JOIN ett ON ett.doc_id = ecc.doc_id GROUP BY 1),
        |kept AS (SELECT doc_id FROM ent WHERE e_nano BETWEEN 2800000000 AND 3200000000),
        |kdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN kept USING (doc_id))""".stripMargin
    val split =
      """alld AS (
        |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        |  FROM kdocs d LEFT JOIN comp c ON c.v = d.doc_id),
        |hsp AS (
        |  SELECT doc_id, md5(CAST(cluster_id AS VARCHAR) || '|0') AS h FROM alld),
        |bsp AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) AS bucket
        |  FROM hsp),
        |tdocs AS (
        |  SELECT k.doc_id, k.text FROM kdocs k JOIN bsp USING (doc_id)
        |  WHERE bucket < 838861)""".stripMargin
    "WITH RECURSIVE " + entropy + ",\n" +
      dupClustersCtes("kdocs").stripPrefix("WITH RECURSIVE ") + ",\n" +
      split + ",\n" +
      bpeChainCtes(8).stripPrefix("WITH ") +
      bpeEncodeCtes(8, "tdocs") +
      packReadoutSql(8, 512)
  }

  private def semDedupPqOracleSql: String =
      s"""$pqTrainCtes,
        |cs AS (
        |  SELECT cluster FROM af GROUP BY cluster HAVING count(*) <= $MaxBucketCap),
        |capped AS (SELECT af.* FROM af JOIN cs USING (cluster)),
        |sdc AS (
        |  SELECT p.j AS j, ai.i AS a, bi.i AS b,
        |    round(list_sum(list_transform(range(1, 17),
        |      i -> p.cs[ai.i + 1][i] * p.cs[bi.i + 1][i])), 9) AS d
        |  FROM pc1 p
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS i) ai
        |  CROSS JOIN (SELECT unnest(range(0, 16)) AS i) bi),
        |sdc1 AS (SELECT j, a, list(d ORDER BY b) AS dr FROM sdc GROUP BY j, a),
        |sdc2 AS (SELECT j, list(dr ORDER BY a) AS tbl FROM sdc1 GROUP BY j),
        |sdct AS (SELECT list(tbl ORDER BY j) AS t3 FROM sdc2),
        |pdrop AS (
        |  SELECT DISTINCT b.vec_id AS id
        |  FROM capped a
        |  JOIN capped b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  JOIN paf pa ON pa.vec_id = a.vec_id
        |  JOIN paf pb ON pb.vec_id = b.vec_id
        |  CROSS JOIN sdct
        |  WHERE round(list_sum(list_transform(range(1, 5),
        |      j -> sdct.t3[j][pa.codes[j] + 1][pb.codes[j] + 1])), 4) >= 0.25)
        |SELECT af.vec_id AS id, af.cluster FROM af
        |WHERE af.vec_id NOT IN (SELECT id FROM pdrop)
        |ORDER BY id""".stripMargin

  /** q144's oracle: the identical page template and the identical
    * RE2-safe strip chain (script/style → tags → the single-pass
    * entity decode replayed as split/decode/interleave over the
    * shared alternation → whitespace collapse; DuckDB regexp_replace
    * needs the 'g' flag to match Spark's always-global semantics).
    * [[htmlCleanSql]] expands the chain once for the page and once
    * per anchor text.
    */
  private def htmlCleanSql(x: String): String = {
    val noBlocks = s"regexp_replace(regexp_replace($x, " +
      "'(?is)<script[^>]*>.*?</script>', ' ', 'g'), " +
      "'(?is)<style[^>]*>.*?</style>', ' ', 'g')"
    val noTags = s"regexp_replace($noBlocks, '<[^>]*>', ' ', 'g')"
    // the general single-pass entity decode (numeric + 30-name table,
    // no cascade) replayed as a split/decode/interleave over the
    // SHARED alternation — graft.functions.HtmlEntities.decodeSql
    val decoded = graft.functions.HtmlEntities.decodeSql(noTags)
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  private def htmlExtractOracleSql: String = {
    val clean = htmlCleanSql("html")
    val cleanLink = htmlCleanSql("s")
    raw"""WITH h AS (
      |  SELECT doc_id,
      |    '<html><head><title>' || source || '</title><style>p{margin:0}</style>'
      |    || '<script>var x = 1 < 2;</script></head><body>'
      |    || '<nav><a href="/home">Home</a> <a href="/about">About us</a></nav><h1>'
      |    || source || '</h1><p>' || text
      |    || ' Q &amp; A &lt;tag&gt; Caf&#233; &#x2014; &#38;stay; &mdash; &#xD800;ok done.</p>'
      |    || '<footer><a href="/contact">Contact &quot;page&quot;</a></footer></body></html>'
      |      AS html
      |  FROM documents),
      |x AS (
      |  SELECT doc_id, $clean AS txt,
      |    CAST(len(regexp_extract_all(html, '(?i)<a[\s>]')) AS INTEGER) AS n_links,
      |    COALESCE(list_sum(list_transform(
      |      regexp_extract_all(html, '(?is)<a[^>]*>(.*?)</a>', 1),
      |      s -> length($cleanLink))), 0) AS link_chars
      |  FROM h),
      |f AS (
      |  SELECT doc_id, txt, n_links,
      |    CAST((link_chars * 1000000) // greatest(length(txt), 1) AS DOUBLE)
      |      / 1000000.0 AS frac
      |  FROM x)
      |SELECT doc_id, md5(txt) AS text_md5, n_links,
      |  frac AS link_frac,
      |  (len(regexp_extract_all(txt, '\S+')) >= 12 AND frac <= 0.12) AS kept
      |FROM f ORDER BY doc_id""".stripMargin
  }

  /** The 3 unrolled PageRank rounds over an upstream CTE `e(s, t)` —
    * shared by q109 (arithmetic edges) and q116 (extracted link
    * graph) so the iteration mirror can never drift. Per-round
    * round(,9) on both sides absorbs engine summation order (the q38
    * trick); (1 − 0.85) is COMPUTED on both sides.
    */
  private def pageRankRoundsSql: String =
    """nodes AS (SELECT s AS n FROM e UNION SELECT t FROM e),
      |cnt AS (SELECT count(*) AS nn FROM nodes),
      |od AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
      |r0 AS (SELECT n, round(1.0 / nn, 9) AS r FROM nodes CROSS JOIN cnt),
      |c1 AS (SELECT e.t AS n, sum(r0.r / od.deg) AS c
      |       FROM e JOIN r0 ON e.s = r0.n JOIN od ON od.s = e.s GROUP BY e.t),
      |r1 AS (SELECT nodes.n, round((1 - 0.85) / nn + 0.85 * coalesce(c1.c, 0), 9) AS r
      |       FROM nodes LEFT JOIN c1 ON c1.n = nodes.n CROSS JOIN cnt),
      |c2 AS (SELECT e.t AS n, sum(r1.r / od.deg) AS c
      |       FROM e JOIN r1 ON e.s = r1.n JOIN od ON od.s = e.s GROUP BY e.t),
      |r2 AS (SELECT nodes.n, round((1 - 0.85) / nn + 0.85 * coalesce(c2.c, 0), 9) AS r
      |       FROM nodes LEFT JOIN c2 ON c2.n = nodes.n CROSS JOIN cnt),
      |c3 AS (SELECT e.t AS n, sum(r2.r / od.deg) AS c
      |       FROM e JOIN r2 ON e.s = r2.n JOIN od ON od.s = e.s GROUP BY e.t),
      |r3 AS (SELECT nodes.n, round((1 - 0.85) / nn + 0.85 * coalesce(c3.c, 0), 9) AS r
      |       FROM nodes LEFT JOIN c3 ON c3.n = nodes.n CROSS JOIN cnt)""".stripMargin

  /** q190/q191's shared line synthesis — the EXACT mirror of
    * [[synthLines]]: q80 token split, lines of `4 + doc_id % 5`
    * words, terminal period withheld when `(doc_id + i) % 3 == 0`.
    */
  private def synthLinesCtes: String = synthLinesCtesWith(synthBaseLineSql)

  /** The base synthesized line as a SQL expression over `(doc_id, w,
    * L, i)` — q192 wraps it with its bullet/ellipsis decoration.
    */
  private def synthBaseLineSql: String =
    "array_to_string(w[i*L+1:i*L+L], ' ') || " +
      "CASE WHEN (doc_id + i) % 3 = 0 THEN '' ELSE '.' END"

  private def synthLinesCtesWith(lineSql: String): String =
    raw"""WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (
        |  SELECT doc_id, w,
        |    CAST(4 + doc_id % 5 AS INTEGER) AS L,
        |    CAST(ceil(CAST(len(w) AS DOUBLE) / (4 + doc_id % 5)) AS INTEGER) AS nl
        |  FROM t WHERE len(w) > 0),
        |lns AS (
        |  SELECT doc_id,
        |    list_transform(range(0, nl), i -> $lineSql) AS lines
        |  FROM p)""".stripMargin

  /** q190/q197's shared C4 clean chain: the synthesized lines plus
    * the three folded per-line rules, ending in `cl(doc_id, n_lines,
    * kept)` — one definition so the clean view and the capstone can
    * never drift.
    */
  private def c4CleanCtes: String =
    raw"""$synthLinesCtes,
        |cl AS (
        |  SELECT doc_id, len(lines) AS n_lines,
        |    list_filter(lines, l ->
        |      regexp_matches(lower(trim(regexp_replace(l, '\s+', ' ', 'g'))), '[.!?"]$$')
        |      AND len(string_split(lower(trim(regexp_replace(l, '\s+', ' ', 'g'))), ' ')) >= 3
        |      AND NOT contains(lower(trim(regexp_replace(l, '\s+', ' ', 'g'))), 'slow')
        |      AND NOT contains(lower(trim(regexp_replace(l, '\s+', ' ', 'g'))), '{')) AS kept
        |  FROM lns)""".stripMargin

  /** q93/q196's shared LM chain: the char-bigram model trained on the
    * even-id half, every doc scored by mean log-prob (OOV floor for
    * unseen bigrams), rounded at 4 — ends in `scored(doc_id,
    * lm_score)`. One definition so the score view (q93) and the
    * CCNet bucket view (q196) can never drift.
    */
  /** Parameterized char-bigram LM chain (the q91→contaminationCtes
    * stance applied to the q93 reward model): `train` yields `(txt)`
    * rows the model counts, `score` yields `(sid, txt)` rows to
    * score; emits BODY-ONLY CTEs ending in
    * `scored($idAlias, lm_score)` so callers compose it into their
    * own WITH chains. q93/q196 instantiate it over `documents`;
    * q215 scores SFT candidate responses under the same model — one
    * definition, so reward scoring can never drift between the
    * corpus screen and the best-of-n miner.
    */
  /** Model-building half of [[lmScoreCtes]] — body-only CTEs ending
    * in `model(bg, logp)` + `flr(f)`, so chains that score with a
    * DIFFERENT fold (q221's chunked burstiness) byte-share the
    * trained model with the mean-log-prob scorers.
    */


  /** The q192 Gopher-metric chain over an arbitrary `src(doc_id,
    * txt)` CTE, ending in `v` (metrics + per-rule verdicts) — shared
    * by q192 and the q237 screen-overlap audit so the rule replay can
    * never drift. `minWords` mirrors the Spark-side parameter.
    */
  private def gopherGateCtes(src: String, minWords: Int = 10): String =
    raw"""gw AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(txt, '\s+', ' ', 'g'))), ' ') AS wt,
        |    length(lower(trim(regexp_replace(txt, '\s+', ' ', 'g')))) AS clen,
        |    list_filter(list_transform(string_split(txt, chr(10)), l -> trim(l)),
        |                l -> l <> '') AS lns2
        |  FROM SRC_TABLE),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(wt) AS INTEGER) AS n_words,
        |    round((CAST(clen AS DOUBLE) - (len(wt) - 1)) / len(wt), 4) AS mean_word_len,
        |    round(CAST(len(list_filter(wt, t -> contains(t, '#'))) AS DOUBLE)
        |      / len(wt), 4) AS hash_ratio,
        |    round(CAST(len(list_filter(wt, t -> contains(t, '...'))) AS DOUBLE)
        |      / len(wt), 4) AS ellipsis_ratio,
        |    round(CAST(len(list_filter(lns2, l -> starts_with(l, '-')
        |        OR starts_with(l, '*') OR starts_with(l, '•'))) AS DOUBLE)
        |      / greatest(len(lns2), 1), 4) AS bullet_frac,
        |    round(CAST(len(list_filter(lns2, l -> suffix(l, '...'))) AS DOUBLE)
        |      / greatest(len(lns2), 1), 4) AS ellipsis_line_frac,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(wt, s))) AS INTEGER) AS n_stop
        |  FROM gw),
        |v AS (
        |  SELECT *,
        |    (n_words >= $minWords AND n_words <= 100000) AS ok_words,
        |    (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_word_len,
        |    (hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1) AS ok_symbols,
        |    (bullet_frac <= 0.9) AS ok_bullets,
        |    (ellipsis_line_frac <= 0.3) AS ok_ellipsis_lines,
        |    (n_stop >= 2) AS ok_stops
        |  FROM m)""".stripMargin.replace("SRC_TABLE", src)

  /** q236's eight unrolled Bradley-Terry MM rounds — every per-round
    * quantity quantized to integer micro/nano units before any
    * cross-row sum, mirroring the Spark side operation for operation.
    */
  private def btRoundsSql(iters: Int): String = {
    val sb = new StringBuilder
    sb.append("p0 AS MATERIALIZED (SELECT sysid, CAST(250000000 AS BIGINT) AS pn FROM wins)")
    for (i <- 1 to iters) {
      sb.append(s""",
        |t$i AS MATERIALIZED (
        |  SELECT g.sa, g.sb,
        |    CAST(round(1e6 * g.n / ((pa.pn + pb.pn) / 1e9)) AS BIGINT) AS t
        |  FROM games g JOIN p${i - 1} pa ON pa.sysid = g.sa
        |               JOIN p${i - 1} pb ON pb.sysid = g.sb),
        |den$i AS MATERIALIZED (
        |  SELECT sysid, CAST(sum(t) AS BIGINT) AS den FROM (
        |    SELECT sa AS sysid, t FROM t$i UNION ALL SELECT sb, t FROM t$i)
        |  GROUP BY sysid),
        |pr$i AS MATERIALIZED (
        |  SELECT w.sysid,
        |    CAST(round(CAST(w.n_wins AS DOUBLE) / (CAST(d.den AS DOUBLE) / 1e6) * 1e9)
        |      AS BIGINT) AS pq
        |  FROM wins w JOIN den$i d ON d.sysid = w.sysid),
        |z$i AS MATERIALIZED (SELECT CAST(sum(pq) AS BIGINT) AS z FROM pr$i),
        |p$i AS MATERIALIZED (
        |  SELECT sysid, CAST(round(CAST(pq AS DOUBLE) / CAST(z AS DOUBLE) * 1e9) AS BIGINT) AS pn
        |  FROM pr$i CROSS JOIN z$i)""".stripMargin)
    }
    sb.toString
  }

  /** `px` prefixes every CTE name so two independent LMs (e.g.
    * q228's reference + proxy) can coexist in one oracle; the default
    * "" keeps every existing call site byte-identical.
    */
  private def lmModelCtes(train: String, px: String = ""): String =
    raw"""${px}ttr AS (
        |  SELECT lower(trim(regexp_replace(txt, '\s+', ' ', 'g'))) AS c
        |  FROM ($train)),
        |${px}bgt AS (
        |  SELECT substring(c, CAST(i.i AS INTEGER), 2) AS bg
        |  FROM ${px}ttr, LATERAL (SELECT unnest(range(1, length(c))) AS i) i
        |  WHERE length(c) >= 2),
        |${px}cnt AS (SELECT bg, count(*) AS c FROM ${px}bgt GROUP BY bg),
        |${px}tot AS (SELECT sum(c) AS total FROM ${px}cnt),
        |${px}model AS (
        |  SELECT bg, ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE)) AS logp
        |  FROM ${px}cnt CROSS JOIN ${px}tot),
        |${px}flr AS (SELECT ln(0.5 / CAST(total AS DOUBLE)) AS f FROM ${px}tot)""".stripMargin

  /** q228/q242 shared prelude: the two prefixed LM chains (reference
    * r_, proxy p_) and the per-source rollup `per(source, n_docs,
    * n_toks, mean_ref, mean_proxy)`.
    */
  private lazy val doremiPerCtes: String =
    s"""${lmScoreCtes(
          "SELECT text AS txt FROM documents WHERE doc_id % 2 = 0",
          "SELECT doc_id AS sid, text AS txt FROM documents",
          idAlias = "doc_id", px = "r_")},
      |${lmScoreCtes(
          "SELECT text AS txt FROM documents WHERE doc_id % 3 = 0",
          "SELECT doc_id AS sid, text AS txt FROM documents",
          idAlias = "doc_id", px = "p_")},
      |per AS (
      |  SELECT d.source, count(*) AS n_docs,
      |    CAST(sum(len(string_split(lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))), ' '))) AS BIGINT) AS n_toks,
      |    round(avg(r.lm_score), 4) AS mean_ref,
      |    round(avg(p.lm_score), 4) AS mean_proxy
      |  FROM documents d
      |  JOIN r_scored r ON r.doc_id = d.doc_id
      |  JOIN p_scored p ON p.doc_id = d.doc_id
      |  GROUP BY d.source)""".stripMargin

  /** q242's oracle: [[doremiPerCtes]] + `rounds` multiplicative-weight
    * iterations as chained CTE pairs, each u/w pair AS MATERIALIZED
    * (both are referenced twice — the 2^rounds inlining lesson), all
    * weight state in integer nano-units with tie-free floor division.
    */
  private def doremiRoundsOracleSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { t =>
      s"""u$t AS MATERIALIZED (
         |  SELECT source, excess,
         |    CAST(round(CAST(w AS DOUBLE) / 1000000000.0 * exp(excess) * 1000000000.0, 0) AS BIGINT) AS un
         |  FROM w${t - 1}),
         |w$t AS MATERIALIZED (
         |  SELECT source, excess,
         |    un * 1000000000 // (SELECT sum(un) FROM u$t) AS w
         |  FROM u$t)""".stripMargin
    }.mkString(",\n")
    val avgSum = (1 to rounds).map(t => s"w$t.w").mkString(" + ")
    val joins = (1 to rounds).map(t => s"JOIN w$t ON w$t.source = per.source")
      .mkString("\n")
    s"""WITH $doremiPerCtes,
       |w0 AS MATERIALIZED (
       |  SELECT source, round(mean_ref - mean_proxy, 4) AS excess,
       |    CAST(CAST(n_toks AS HUGEINT) * 1000000000
       |         // (SELECT sum(n_toks) FROM per) AS BIGINT) AS w
       |  FROM per),
       |$roundCtes
       |SELECT per.source, per.n_docs, per.n_toks, per.mean_ref, per.mean_proxy,
       |  w0.excess AS excess,
       |  CAST(w$rounds.w AS DOUBLE) / 1000000000.0 AS mix_weight_last,
       |  CAST(($avgSum) // $rounds AS DOUBLE) / 1000000000.0 AS mix_weight_avg
       |FROM per
       |JOIN w0 ON w0.source = per.source
       |$joins
       |ORDER BY per.source""".stripMargin
  }

  private def lmScoreCtes(train: String, score: String,
                          idAlias: String = "sid", px: String = ""): String =
    raw"""${lmModelCtes(train, px)},
        |${px}tsc AS (
        |  SELECT sid, lower(trim(regexp_replace(txt, '\s+', ' ', 'g'))) AS c
        |  FROM ($score)),
        |${px}bgs AS (
        |  SELECT sid, substring(c, CAST(i.i AS INTEGER), 2) AS bg
        |  FROM ${px}tsc, LATERAL (SELECT unnest(range(1, length(c))) AS i) i
        |  WHERE length(c) >= 2),
        |${px}scored AS (
        |  SELECT ${px}bgs.sid AS $idAlias,
        |    round(avg(coalesce(${px}model.logp, ${px}flr.f)), 4) AS lm_score
        |  FROM ${px}bgs CROSS JOIN ${px}flr
        |  LEFT JOIN ${px}model ON ${px}bgs.bg = ${px}model.bg
        |  GROUP BY ${px}bgs.sid)""".stripMargin

  private def lmChainCtes: String =
    "WITH " + lmScoreCtes(
      "SELECT text AS txt FROM documents WHERE doc_id % 2 = 0",
      "SELECT doc_id AS sid, text AS txt FROM documents",
      idAlias = "doc_id")

  /** Shared q97/q189 cover chain: tokenized docs `t(doc_id, w)`,
    * 10-gram md5 windows `win`, the ≥2-repeated gate `rep`, and the
    * DISTINCT covered positions `cov(doc_id, cj)` — one definition so
    * the deletion view (q97) and the span-structure view (q189) can
    * never drift.
    */
  private def spanCoverCtes: String =
    raw"""WITH t AS (
        |  SELECT doc_id,
        |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        |  FROM documents),
        |win AS (
        |  SELECT doc_id, i.i AS pos, md5(array_to_string(w[i.i+1:i.i+10], ' ')) AS h
        |  FROM t, LATERAL (SELECT unnest(range(0, greatest(len(w) - 9, 0))) AS i) i
        |  WHERE len(w) >= 10),
        |rep AS (SELECT h FROM win GROUP BY h HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT win.doc_id, win.pos + j.j AS cj
        |  FROM win JOIN rep ON win.h = rep.h,
        |       LATERAL (SELECT unnest(range(0, 10)) AS j) j)""".stripMargin

  /** q187's three unrolled rounds with dangling-mass redistribution:
    * [[pageRankRoundsSql]]'s structure plus a per-round scalar CTE
    * `dK` = the previous round's sink mass in exact integer
    * nano-units (`Σ CAST(round(r·1e9) AS BIGINT)` over nodes with no
    * out-edge — order-free integer sum), folded into the update as
    * `0.85·(contribs + dmu/1e9/nn)` in the same operation order the
    * Spark side uses.
    */
  private def pageRankDanglingRoundsSql: String =
    """nodes AS (SELECT s AS n FROM e UNION SELECT t FROM e),
      |cnt AS (SELECT count(*) AS nn FROM nodes),
      |od AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
      |r0 AS (SELECT n, round(1.0 / nn, 9) AS r FROM nodes CROSS JOIN cnt),
      |d1 AS (SELECT COALESCE(SUM(CAST(round(r * 1e9, 0) AS BIGINT)), 0) AS dmu
      |       FROM r0 WHERE n NOT IN (SELECT s FROM e)),
      |c1 AS (SELECT e.t AS n, sum(r0.r / od.deg) AS c
      |       FROM e JOIN r0 ON e.s = r0.n JOIN od ON od.s = e.s GROUP BY e.t),
      |r1 AS (SELECT nodes.n, round((1 - 0.85) / nn +
      |         0.85 * (coalesce(c1.c, 0) + CAST(d1.dmu AS DOUBLE) / 1e9 / nn), 9) AS r
      |       FROM nodes LEFT JOIN c1 ON c1.n = nodes.n CROSS JOIN cnt CROSS JOIN d1),
      |d2 AS (SELECT COALESCE(SUM(CAST(round(r * 1e9, 0) AS BIGINT)), 0) AS dmu
      |       FROM r1 WHERE n NOT IN (SELECT s FROM e)),
      |c2 AS (SELECT e.t AS n, sum(r1.r / od.deg) AS c
      |       FROM e JOIN r1 ON e.s = r1.n JOIN od ON od.s = e.s GROUP BY e.t),
      |r2 AS (SELECT nodes.n, round((1 - 0.85) / nn +
      |         0.85 * (coalesce(c2.c, 0) + CAST(d2.dmu AS DOUBLE) / 1e9 / nn), 9) AS r
      |       FROM nodes LEFT JOIN c2 ON c2.n = nodes.n CROSS JOIN cnt CROSS JOIN d2),
      |d3 AS (SELECT COALESCE(SUM(CAST(round(r * 1e9, 0) AS BIGINT)), 0) AS dmu
      |       FROM r2 WHERE n NOT IN (SELECT s FROM e)),
      |c3 AS (SELECT e.t AS n, sum(r2.r / od.deg) AS c
      |       FROM e JOIN r2 ON e.s = r2.n JOIN od ON od.s = e.s GROUP BY e.t),
      |r3 AS (SELECT nodes.n, round((1 - 0.85) / nn +
      |         0.85 * (coalesce(c3.c, 0) + CAST(d3.dmu AS DOUBLE) / 1e9 / nn), 9) AS r
      |       FROM nodes LEFT JOIN c3 ON c3.n = nodes.n CROSS JOIN cnt CROSS JOIN d3)""".stripMargin

  /** Shared by q106, q112 and q150 (auto form ≡ fixed form at fixture
    * scale): the q38 train+assign chain, cluster cap as HAVING,
    * ε-ball drop rule as NOT EXISTS.
    */
  private def semDedupOracleSql: String =
    s"""$ivfTrainCtes,
      |cs AS (
      |  SELECT cluster FROM af GROUP BY cluster HAVING count(*) <= $MaxBucketCap),
      |capped AS (SELECT af.* FROM af JOIN cs USING (cluster)),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id AS id
      |  FROM capped a JOIN capped b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  WHERE round(list_sum(list_transform(range(1, 65),
      |          i -> a.nv[i] * b.nv[i])), 4) >= 0.42)
      |SELECT af.vec_id AS id, af.cluster FROM af
      |WHERE af.vec_id NOT IN (SELECT id FROM dropped)
      |ORDER BY id""".stripMargin

  /** q251/q254 shared oracle generator — the JL measurement replayed
    * at output dimension `outDim`; everything but the t range and the
    * 1/t scale is byte-identical between the two anchors.
    */
  private def jlDistortionOracleSql(outDim: Int): String =
    raw"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    list_transform(range(1, len(a.v) + 1), i -> a.v[i] - b.v[i]) AS dv
      |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
      |  WHERE a.vec_id % 2 = 0),
      |comp AS (
      |  SELECT t.t, d.d,
      |    CASE WHEN strpos('13579bdf',
      |           substr(md5('jl|' || CAST(t.t AS VARCHAR)
      |                      || '|' || CAST(d.d AS VARCHAR)), 2, 1)) > 0
      |         THEN -1.0 ELSE 1.0 END AS c
      |  FROM (SELECT unnest(range(0, $outDim)) AS t) t
      |  CROSS JOIN (SELECT unnest(range(0, 64)) AS d) d),
      |pl AS (SELECT t, list(c ORDER BY d) AS pv FROM comp GROUP BY t),
      |prj AS (
      |  SELECT id_a, id_b, t,
      |    list_sum(list_transform(range(1, len(dv) + 1), i -> dv[i] * pv[i])) AS dp
      |  FROM p CROSS JOIN pl),
      |agg AS (
      |  SELECT id_a, id_b,
      |    list_sum(list_transform(list(dp ORDER BY t), x -> x * x)) / $outDim.0 AS dproj2
      |  FROM prj GROUP BY id_a, id_b),
      |tru AS (
      |  SELECT id_a, id_b, list_sum(list_transform(dv, x -> x * x)) AS dtrue2
      |  FROM p)
      |SELECT t.id_a AS vec_id_a, t.id_b AS vec_id_b,
      |  round(t.dtrue2, 6) AS dist_sq_true,
      |  round(a.dproj2, 6) AS dist_sq_proj,
      |  round(a.dproj2 / t.dtrue2, 4) AS distortion
      |FROM tru t JOIN agg a ON a.id_a = t.id_a AND a.id_b = t.id_b
      |WHERE t.dtrue2 > 0
      |ORDER BY vec_id_a""".stripMargin

  /** q253/q257 shared oracle generator — the composed
    * whitened-coordinate SemDeDup: a power-iteration chain produces
    * each vector's (proj, resid) whitened 2-d footprint (rounded at 4
    * exactly as [[graft.ext.Spectral.projectWith]] publishes it, THEN
    * the row-local sqrt), and q106's ε-ball derivation — the SAME
    * [[ivfChainCtes]] k-means at dim 2 — picks the survivors. The two
    * anchors differ ONLY in the prelude: q253 fits on the whole corpus
    * and scores the centered fit rows (`c`); q257 fits on the q50
    * md5-sampled subset ([[pcaSampledFitCtes]]) and scores ALL of `e`
    * centered with the FIT mean (the q249 `ca` CTE) — everything
    * downstream of `pf` is byte-identical.
    */
  private def whitenedSemDedupOracleSqlWith(fitCtes: String,
                                            scoreCtes: String): String =
    raw"""${pcaPowerCte(4, fitCtes)},
      |$scoreCtes,
      |wv AS (
      |  SELECT vec_id, [round(p, 4),
      |    sqrt(round(greatest(0.0, list_sum(list_transform(c, x -> x * x)) - p * p), 4))] AS v
      |  FROM pf),
      |wn0 AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM wv),
      |nv AS (SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv FROM wn0 WHERE sq > 0),
      |${ivfChainCtes(2, 16, "nv", "nv")},
      |cs AS (
      |  SELECT cluster FROM af GROUP BY cluster HAVING count(*) <= $MaxBucketCap),
      |capped AS (SELECT af.* FROM af JOIN cs USING (cluster)),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id AS id
      |  FROM capped a JOIN capped b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  WHERE round(list_sum(list_transform(range(1, 3),
      |          i -> a.nv[i] * b.nv[i])), 4) >= 0.9999)
      |SELECT af.vec_id, af.cluster FROM af
      |WHERE af.vec_id NOT IN (SELECT id FROM dropped)
      |ORDER BY vec_id""".stripMargin

  private def whitenedSemDedupOracleSql: String =
    whitenedSemDedupOracleSqlWith(
      "fe AS (SELECT * FROM e)",
      raw"""pf AS (
        |  SELECT vec_id, c,
        |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
        |  FROM c, v4)""".stripMargin)

  /** q257's oracle — the sized prelude: q249's sampled-fit chain
    * (md5 buckets, truncating rate threshold) plus its full-corpus
    * `ca` scoring pass, feeding the shared q253 tail.
    */
  private def whitenedSemDedupSizedOracleSql: String =
    whitenedSemDedupOracleSqlWith(
      pcaSampledFitCtes(256),
      raw"""ca AS (
        |  SELECT vec_id,
        |    list_transform(range(1, len(v) + 1), j -> v[j] - mu[j]) AS c
        |  FROM e, mul),
        |pf AS (
        |  SELECT vec_id, c,
        |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
        |  FROM ca, v4)""".stripMargin)

  /** q255's oracle — q253 at the full whitening readout: q252's
    * two-chain spectrum derivation (pf for p1, the deflation CTE `d`,
    * the `b`-prefixed second iteration, pg for p2) produces the 3-d
    * [p1, p2, √resid] footprint, then the SAME [[ivfChainCtes]]
    * k-means at dim 3 and the q106 ε-ball tail.
    */
  private def whitened3SemDedupOracleSql: String =
    raw"""${pcaPowerCte(4)},
      |pf AS MATERIALIZED (
      |  SELECT vec_id, c,
      |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
      |  FROM c, v4),
      |d AS MATERIALIZED (
      |  SELECT pf.vec_id,
      |    list_transform(range(1, len(c) + 1), j -> c[j] - p * pc[j]) AS c
      |  FROM pf, v4),
      |bv0 AS (SELECT list_transform(mu, x -> 1.0) AS pc FROM mul),
      |${pcaStepCtes("d", "b", 4)},
      |pg AS (
      |  SELECT vec_id, c,
      |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
      |  FROM d, bv4),
      |wv AS (
      |  SELECT pf.vec_id, [round(pf.p, 4), round(pg.p, 4),
      |    sqrt(round(greatest(0.0, list_sum(list_transform(pg.c, x -> x * x)) - pg.p * pg.p), 4))] AS v
      |  FROM pf JOIN pg ON pg.vec_id = pf.vec_id),
      |wn0 AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM wv),
      |nv AS (SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv FROM wn0 WHERE sq > 0),
      |${ivfChainCtes(3, 16, "nv", "nv")},
      |cs AS (
      |  SELECT cluster FROM af GROUP BY cluster HAVING count(*) <= $MaxBucketCap),
      |capped AS (SELECT af.* FROM af JOIN cs USING (cluster)),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id AS id
      |  FROM capped a JOIN capped b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  WHERE round(list_sum(list_transform(range(1, 4),
      |          i -> a.nv[i] * b.nv[i])), 4) >= 0.9999)
      |SELECT af.vec_id, af.cluster FROM af
      |WHERE af.vec_id NOT IN (SELECT id FROM dropped)
      |ORDER BY vec_id""".stripMargin

  /** q262's oracle — q255 on the sized fit path: q249's sampled-fit
    * prelude (md5 buckets, truncating rate threshold) fits BOTH
    * components on the SAMPLE (`c` = centered sample rows → v4; the
    * sample deflates through `dfit` → the `b`-prefixed second chain →
    * bv4), then the full-corpus scoring pass (`ca` centers ALL of `e`
    * with the FIT mean — the q249/q257 split) derives every row's
    * 3-d [p1, p2, √resid] footprint, and the SAME [[ivfChainCtes]]
    * k-means at dim 3 + q106 ε-ball tail picks survivors
    * (byte-shared with q255's tail).
    */
  private def whitened3SemDedupSizedOracleSql: String =
    raw"""${pcaPowerCte(4, pcaSampledFitCtes(256))},
      |pfit AS MATERIALIZED (
      |  SELECT vec_id, c,
      |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
      |  FROM c, v4),
      |dfit AS MATERIALIZED (
      |  SELECT pfit.vec_id,
      |    list_transform(range(1, len(c) + 1), j -> c[j] - p * pc[j]) AS c
      |  FROM pfit, v4),
      |bv0 AS (SELECT list_transform(mu, x -> 1.0) AS pc FROM mul),
      |${pcaStepCtes("dfit", "b", 4)},
      |ca AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_transform(range(1, len(v) + 1), j -> v[j] - mu[j]) AS c
      |  FROM e, mul),
      |pf AS MATERIALIZED (
      |  SELECT vec_id, c,
      |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
      |  FROM ca, v4),
      |d AS MATERIALIZED (
      |  SELECT pf.vec_id,
      |    list_transform(range(1, len(c) + 1), j -> c[j] - p * pc[j]) AS c
      |  FROM pf, v4),
      |pg AS (
      |  SELECT vec_id, c,
      |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
      |  FROM d, bv4),
      |wv AS (
      |  SELECT pf.vec_id, [round(pf.p, 4), round(pg.p, 4),
      |    sqrt(round(greatest(0.0, list_sum(list_transform(pg.c, x -> x * x)) - pg.p * pg.p), 4))] AS v
      |  FROM pf JOIN pg ON pg.vec_id = pf.vec_id),
      |wn0 AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM wv),
      |nv AS (SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv FROM wn0 WHERE sq > 0),
      |${ivfChainCtes(3, 16, "nv", "nv")},
      |cs AS (
      |  SELECT cluster FROM af GROUP BY cluster HAVING count(*) <= $MaxBucketCap),
      |capped AS (SELECT af.* FROM af JOIN cs USING (cluster)),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id AS id
      |  FROM capped a JOIN capped b
      |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  WHERE round(list_sum(list_transform(range(1, 4),
      |          i -> a.nv[i] * b.nv[i])), 4) >= 0.9999)
      |SELECT af.vec_id, af.cluster FROM af
      |WHERE af.vec_id NOT IN (SELECT id FROM dropped)
      |ORDER BY vec_id""".stripMargin

  /** q256's oracle — the funnel datacard: q253's footprint chain
    * (prefix `w`), q106's direct chain (prefix `f`), the survivor
    * re-run (prefix `s`), then integer pair-work and agreement
    * readouts, every published column cast BIGINT.
    */
  private def dedupFunnelOracleSql: String = {
    def ballTail(p: String, dim: Int, tau: String): String =
      raw"""${p}cs AS (
        |  SELECT cluster FROM ${p}af GROUP BY cluster HAVING count(*) <= $MaxBucketCap),
        |${p}capped AS (SELECT ${p}af.* FROM ${p}af JOIN ${p}cs USING (cluster)),
        |${p}dropped AS (
        |  SELECT DISTINCT b.vec_id AS id
        |  FROM ${p}capped a JOIN ${p}capped b
        |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        |  WHERE round(list_sum(list_transform(range(1, ${dim + 1}),
        |          i -> a.nv[i] * b.nv[i])), 4) >= $tau),
        |${p}kept AS MATERIALIZED (
        |  SELECT vec_id FROM ${p}af
        |  WHERE vec_id NOT IN (SELECT id FROM ${p}dropped))""".stripMargin
    def pairWork(p: String, out: String): String =
      raw"""$out AS (
        |  SELECT coalesce(sum((n * (n - 1)) // 2), 0) AS p FROM (
        |    SELECT count(*) AS n FROM ${p}af GROUP BY cluster)
        |  WHERE n <= $MaxBucketCap)""".stripMargin
    raw"""${pcaPowerCte(4)},
      |pf AS (
      |  SELECT vec_id, c,
      |    list_sum(list_transform(range(1, len(c) + 1), j -> c[j] * pc[j])) AS p
      |  FROM c, v4),
      |wv AS (
      |  SELECT vec_id, [round(p, 4),
      |    sqrt(round(greatest(0.0, list_sum(list_transform(c, x -> x * x)) - p * p), 4))] AS v
      |  FROM pf),
      |wn0 AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM wv),
      |wnv AS (SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv FROM wn0 WHERE sq > 0),
      |${ivfChainCtes(2, 16, "wnv", "wnv", "w")},
      |${ballTail("w", 2, "0.9999")},
      |fn0 AS (SELECT vec_id, v, list_sum(list_transform(v, x -> x * x)) AS sq FROM e),
      |fnv AS (SELECT vec_id, list_transform(v, x -> x / sqrt(sq)) AS nv FROM fn0 WHERE sq > 0),
      |${ivfChainCtes(64, 16, "fnv", "fnv", "f")},
      |${ballTail("f", 64, "0.42")},
      |snv AS MATERIALIZED (SELECT fnv.* FROM fnv JOIN wkept USING (vec_id)),
      |${ivfChainCtes(64, 16, "snv", "snv", "s")},
      |${ballTail("s", 64, "0.42")},
      |nin AS (SELECT count(*) AS n FROM wv),
      |ncoarse AS (SELECT count(*) AS n FROM wkept),
      |ndirect AS (SELECT count(*) AS n FROM fkept),
      |nfunnel AS (SELECT count(*) AS n FROM skept),
      |nagree AS (SELECT count(*) AS n FROM fkept JOIN skept USING (vec_id)),
      |${pairWork("w", "pwc")},
      |${pairWork("f", "pwf")},
      |${pairWork("s", "pws")}
      |SELECT CAST(nin.n AS BIGINT) AS n_input,
      |  CAST(ncoarse.n AS BIGINT) AS n_coarse_kept,
      |  CAST(ndirect.n AS BIGINT) AS n_direct_kept,
      |  CAST(nfunnel.n AS BIGINT) AS n_funnel_kept,
      |  CAST(nagree.n AS BIGINT) AS n_agree,
      |  CAST((nagree.n * 1000000) // nullif(ndirect.n, 0) AS BIGINT) AS recall_vs_direct_ppm,
      |  CAST(pwf.p AS BIGINT) AS pairs_direct,
      |  CAST(pwc.p + pws.p AS BIGINT) AS pairs_funnel
      |FROM nin, ncoarse, ndirect, nfunnel, nagree, pwc, pwf, pws""".stripMargin
  }
}
