package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Agg, Score, Text}

/** Pipeline A — hybrid community discovery (`find_communities_hybrid`,
  * `app.py:31-72`; lifecycle SURVEY.md §3.2), re-expressed as ONE
  * declarative DataFrame program.
  *
  * The reference loops queries sequentially and upserts into a dict;
  * here the query list becomes an exploded literal column, so all
  * queries share one scan of each source (Catalyst sees a single plan;
  * per-query limits become rank filters over a window partitioned by
  * query). The dict upsert becomes a groupBy with `collect_set`
  * (channels) — partial-aggregated map-side, one shuffle on the
  * community key. At 100 TB the dominant cost is the two source scans;
  * both push their text predicate and column pruning into parquet.
  *
  * Deterministic deviations from the reference (SURVEY.md §7.4):
  * `Found Via` is sorted before joining; Members comes from the
  * subreddit dimension (the reference's first-wins arrival value is
  * scan-order-dependent).
  */
object CommunityDiscovery {

  case class Params(
      queries: Seq[String],
      directLimit: Int = 10,   // app.py:198
      postLimit: Int = 25,     // app.py:199
      commentLimit: Int = 20,  // app.py:200
      scanComments: Boolean = true)

  private def queriesCol(qs: Seq[String]): Column =
    explode(array(qs.map(q => lit(q.toLowerCase)): _*))

  /** S1 — direct subreddit search: per query, first `directLimit`
    * matching subreddits by (subscribers desc, name) — the engine-side
    * definition of the API's server-side relevance order.
    */
  private[pipelines] def directHits(subreddits: DataFrame, p: Params): DataFrame = {
    val w = Window.partitionBy(col("query"))
      .orderBy(desc("subscribers"), asc("display_name"))
    subreddits
      .withColumn("query", queriesCol(p.queries))
      .filter(!col("display_name").startsWith("u_"))                    // F1
      .filter(lower(concat_ws(" ", col("display_name"), col("description")))
        .contains(col("query")))                                        // F5 over name+description
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= p.directLimit)                              // W3 per query
      .select(col("display_name").as("community"), col("subscribers"),
        lit(Score.FoundViaDirect).as("found_via"))
  }

  /** S2 — global post search: per query, top `postLimit` matching
    * posts by relevance (keyword-hit count, F7) with NSFW/user-profile
    * communities excluded via the subreddit dim (J1 broadcast).
    */
  private[pipelines] def postHits(posts: DataFrame, subreddits: DataFrame,
                                  p: Params): DataFrame = {
    val content = lower(concat_ws(" ", col("title"), col("selftext")))  // X2/X3
    val w = Window.partitionBy(col("query"))
      .orderBy(desc("score"), asc("post_id"))
    posts
      .withColumn("query", queriesCol(p.queries))
      .filter(content.contains(col("query")))                           // F5
      .join(broadcast(subreddits.select(col("display_name").as("subreddit"),
        col("subscribers"), col("over18"))), Seq("subreddit"))          // J1
      .filter(!col("over18"))                                          // F2
      .filter(!col("subreddit").startsWith("u_"))                      // F1
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= p.postLimit)                               // W3 per query
      .select(col("post_id"), col("query"),
        col("subreddit").as("community"), col("subscribers"))
  }

  /** J3 — comment-evidence semi-join: a community earns the
    * `Relevant Comment` channel iff ≥1 of the first `commentLimit`
    * comments (BFS order) under any matched post contains the query.
    * The reference's `break` (`app.py:59`) is exactly left-semi
    * early-out; the budget makes it W1-then-semi (order matters,
    * SURVEY.md §7.4).
    */
  private[pipelines] def commentHits(matchedPosts: DataFrame, comments: DataFrame,
                                     p: Params): DataFrame = {
    val firstK = graft.ops.TopK.perGroupHead(
      comments.filter(col("body").isNotNull &&
        !col("body").isin("[deleted]", "[removed]")),                   // F3
      col("post_id"), col("flat_idx"), p.commentLimit)                  // W1
    val matching = firstK.alias("c")
      .join(broadcast(matchedPosts.select("post_id", "query").distinct().alias("m")),
        col("c.post_id") === col("m.post_id") &&
          lower(col("c.body")).contains(col("m.query")))                // F5
      .select(col("m.post_id").as("post_id"), col("m.query").as("query"))
      .distinct()
    matchedPosts.join(matching, Seq("post_id", "query"), "left_semi")   // J3
      .select(col("community"), col("subscribers"),
        lit(Score.FoundViaComment).as("found_via"))
  }

  /** The full pipeline: union of channels → A1/A2 rollup → X10 score →
    * X4 links → O1 sort → F8 projection (`app.py:63-72`).
    */
  def run(subreddits: DataFrame, posts: DataFrame, comments: DataFrame,
          p: Params): DataFrame = {
    val direct = directHits(subreddits, p)
    val fromPosts = postHits(posts, subreddits, p)
    val postChannel = fromPosts.select(col("community"), col("subscribers"),
      lit(Score.FoundViaPost).as("found_via"))
    val commentChannel =
      if (p.scanComments) commentHits(fromPosts, comments, p)
      else postChannel.limit(0)

    val all = direct.unionByName(postChannel).unionByName(commentChannel) // A5
    all
      .groupBy(col("community"))                                          // A1
      .agg(
        max(col("subscribers")).as("Members"),
        Agg.collectSetSorted(col("found_via")).as("via"))                 // A2
      .select(
        concat(lit("r/"), col("community")).as("Community"),              // X4
        Score.relevanceScore(col("via")).as("Relevance Score"),           // X10
        Text.joinSorted(col("via")).as("Found Via"),                      // X5
        col("Members"),
        concat(lit("https://www.reddit.com/r/"), col("community"))
          .as("Community Link"),                                          // X4
        concat(lit("https://www.reddit.com/r/"), col("community"),
          lit("/top/?t=month")).as("Top Posts (Month)"))                   // X4
      .orderBy(desc("Relevance Score"), desc("Members"), asc("Community")) // O1 (+tie-break)
  }
}
