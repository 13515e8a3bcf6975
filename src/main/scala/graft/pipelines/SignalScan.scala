package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Match, Text, TopK}

/** Pipeline B — buying-signal scan (`find_buying_signals`,
  * `app.py:74-151`; lifecycle SURVEY.md §3.3) as one DataFrame
  * program.
  *
  * The reference loops subreddits → posts → comments sequentially; here
  * the subreddit list is a pushed-down `IN` filter and the per-group
  * budgets are window rank filters, so the whole scan is one
  * partitioned plan: posts shuffle once on subreddit for the top-k,
  * comments shuffle once on post_id for the head-k, and the two
  * branches union by name (A5).
  */
object SignalScan {

  /** X12 — preset → (postLimit, commentLimit) map (`app.py:274-277`;
    * v1 `devcontainer.json:212-216`). "Standard" is the default
    * (`app.py:252`).
    */
  val presets: Map[String, (Int, Int)] = Map(
    "Fast"     -> ((10, 20)),
    "Standard" -> ((50, 100)),
    "Deep"     -> ((100, 500)))

  def paramsForPreset(preset: String, subreddits: Seq[String],
                      keywords: Seq[String]): Params = {
    val (p, c) = presets.getOrElse(preset, presets("Standard"))
    Params(subreddits, keywords, postLimit = p, commentLimit = c)
  }

  case class Params(
      subreddits: Seq[String],      // X8-stripped names (app.py:296)
      keywords: Seq[String],
      postLimit: Int = 50,          // "Standard" preset (app.py:275)
      commentLimit: Int = 100,
      sinceTs: Option[java.sql.Timestamp] = None,  // X13 time_filter
      truncateTo: Option[Int] = None)              // X7, v1 behavior (devcontainer.json:75)

  private def tombstoneOk(author: Column): Column =
    author.isNotNull && author =!= "[deleted]"                          // F3

  /** S3+W2: top `postLimit` posts by score per subreddit in the time
    * window, with F3 author filtering (`app.py:83,93`).
    */
  private[pipelines] def topPosts(posts: DataFrame, p: Params): DataFrame = {
    val cleaned = p.subreddits.map(s => Text.parseQueryLines(s)).flatten  // F6 per line
    val windowed = p.sinceTs.fold(posts)(ts => posts.filter(col("created_utc") >= lit(ts)))
    TopK.perGroupTopK(
      windowed
        .filter(col("subreddit").isin(cleaned: _*))
        .filter(tombstoneOk(col("author"))),
      Seq(col("subreddit")), Seq(desc("score"), asc("post_id")), p.postLimit)
  }

  /** Post branch: X1/X2/X3 clean+assemble → A3 matched set → F9 row
    * (`app.py:94-107`). Match column is the sorted ", "-join (X6
    * determinism deviation).
    */
  private[pipelines] def postSignals(tp: DataFrame, p: Params): DataFrame = {
    val content = concat_ws(" ",
      Text.cleanText(col("title")), Text.cleanText(col("selftext")))     // X1/X3
    tp.withColumn("matched", Match.matchedKeywords(content, p.keywords)) // A3
      .filter(size(col("matched")) > 0)
      .select(
        col("subreddit").as("Subreddit"),
        Text.joinSorted(col("matched")).as("Match"),                     // X6→X5
        lit("Post").as("Type"),
        Text.cleanText(col("title")).as("Text"),
        col("author").as("Author"),
        concat(lit("https://reddit.com"), col("permalink")).as("Link"))  // X4
  }

  /** Comment branch: J2 parent join with W1 head-k budget → F3/F4 →
    * X11 first-match → F9 row (`app.py:113-142`).
    */
  private[pipelines] def commentSignals(tp: DataFrame, comments: DataFrame,
                                        p: Params): DataFrame = {
    val headK = TopK.perGroupHead(comments, col("post_id"), col("flat_idx"),
      p.commentLimit)                                                    // W1 (2.8 budget)
    val joined = headK.join(tp.select("post_id", "subreddit"), "post_id") // J2
    val clean = Text.cleanText(col("body"))
    val base = joined
      .filter(col("body").isNotNull && tombstoneOk(col("author")) &&
        col("permalink").isNotNull &&
        !col("body").isin("[deleted]", "[removed]"))                     // F3
      .withColumn("clean_body", clean)
      .filter(length(col("clean_body")) > 0)                             // F4
      .withColumn("first_kw", Match.firstMatch(col("clean_body"), p.keywords)) // X11
      .filter(col("first_kw").isNotNull)
    val text = p.truncateTo.fold(col("clean_body"))(n =>
      Text.truncateEllipsis(col("clean_body"), n))                       // X7 (v1)
    base.select(
      col("subreddit").as("Subreddit"),
      col("first_kw").as("Match"),
      lit("Comment").as("Type"),
      text.as("Text"),
      col("author").as("Author"),
      concat(lit("https://reddit.com"), col("permalink")).as("Link"))
  }

  /** Full pipeline: post branch ∪ comment branch (A5), deterministic
    * output order (the reference preserves loop order; we sort by an
    * explicit key).
    */
  def run(posts: DataFrame, comments: DataFrame, p: Params): DataFrame = {
    val tp = topPosts(posts, p)
    postSignals(tp, p)
      .unionByName(commentSignals(tp, comments, p))
      .orderBy(col("Subreddit"), col("Type"), col("Link"), col("Match"))
  }
}
