package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.model.Schemas
import graft.pipelines.{CommunityDiscovery, SignalScan}

/** Golden tests for pipelines A and B over synthesized Reddit
  * relations — the edge cases the reference encodes (FIXTURES.md §2):
  * `u_` prefixes, over18, tombstones, whitespace-only bodies,
  * mixed-case hits, multi-keyword posts, multi-channel communities,
  * empty inputs.
  */
class PipelinesSpec extends SparkSuite {
  import scala.jdk.CollectionConverters._

  private def df(schema: org.apache.spark.sql.types.StructType, rows: Row*): DataFrame =
    spark.createDataFrame(rows.toList.asJava, schema)

  private val ts = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")

  lazy val subreddits: DataFrame = df(Schemas.subreddits,
    Row("gamedev", 500000L, false, "game development chat"),
    Row("u_spammer", 10L, false, "gamedev user profile"),   // F1: excluded
    Row("nsfwgames", 1000L, true, "gamedev but over18"),    // F2: excluded from posts
    Row("cooking", 200000L, false, "recipes and food"),
    Row("indiehackers", 80000L, false, "builders discussing startups"))

  lazy val posts: DataFrame = df(Schemas.posts,
    Row("p1", "gamedev", "Looking for a GameDev engine", "any advice?", "alice", 100L, ts, "/r/gamedev/p1"),
    Row("p2", "gamedev", "Weekly thread", "chat about gamedev", "[deleted]", 90L, ts, "/r/gamedev/p2"), // F3
    Row("p3", "nsfwgames", "gamedev stuff", "over18 content", "bob", 80L, ts, "/r/nsfwgames/p3"),       // F2
    Row("p4", "indiehackers", "I need a recommendation for tools", "budget is tight", "carol", 70L, ts, "/r/ih/p4"),
    Row("p5", "cooking", "Best knife advice", "recommendation please", "dave", 60L, ts, "/r/cooking/p5"),
    Row("p6", "gamedev", "unrelated post", "nothing here", "erin", 50L, ts, "/r/gamedev/p6"))

  lazy val comments: DataFrame = df(Schemas.comments,
    Row("c1", "p1", null, 0, "Try the Foo engine, great GAMEDEV support", "frank", "/c/c1"),
    Row("c2", "p1", "c1", 1, "[deleted]", "grace", "/c/c2"),             // F3 tombstone body
    Row("c3", "p1", "c1", 2, "   \t  ", "heidi", "/c/c3"),               // F4 whitespace-only
    Row("c4", "p4", null, 0, "I can recommend a cheap alternative", null, "/c/c4"), // F3 null author
    Row("c5", "p4", null, 1, "another recommendation for you", "ivan", "/c/c5"),
    Row("c6", "p5", null, 0, "sharp knife advice here", "judy", null))   // F3 null permalink

  test("pipeline A: channels, scoring, exclusions, ordering") {
    val out = CommunityDiscovery.run(subreddits, posts, comments,
      CommunityDiscovery.Params(queries = Seq("GameDev", "recommendation")))
    val rows = out.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))

    // u_spammer: name matches 'gamedev' but F1-excluded; nsfwgames posts F2-excluded,
    // but its name/description still matches direct search (reference only
    // F1-filters direct hits, app.py:41).
    val byName = rows.map(r => (r._1, r)).toMap
    assert(!byName.contains("r/u_spammer"))

    // gamedev: direct (name match) + post p1 + comment c1 (mixed-case hit) = 1+2+3
    assert(byName("r/gamedev")._2 == 6)
    assert(byName("r/gamedev")._3 == "Direct Search, Relevant Comment, Relevant Post")
    assert(byName("r/gamedev")._4 == 500000L)

    // indiehackers: post p4 + comment c5 ('recommendation' in first-k comments) = 5
    assert(byName("r/indiehackers")._2 == 5)
    // cooking: post p5 matches 'recommendation'; comment c6 matches keyword
    // 'advice'? no — query is 'recommendation'; c6 has 'advice' → no comment channel
    assert(byName("r/cooking")._2 == 2)

    // O1 ordering: score desc, members desc
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted(Ordering[Int].reverse).toSeq)
  }

  test("pipeline A: empty query list -> empty result") {
    val out = CommunityDiscovery.run(subreddits, posts, comments,
      CommunityDiscovery.Params(queries = Nil))
    assert(out.isEmpty)
  }

  test("pipeline A: comment budget excludes late comments") {
    // commentLimit=1 → only flat_idx 0 scanned per post: c4 ("I can
    // recommend...") lacks the full query word, and c5 (which has it)
    // sits at flat_idx 1, outside the budget → no comment channel,
    // score = post only = 2
    val out = CommunityDiscovery.run(subreddits, posts, comments,
      CommunityDiscovery.Params(queries = Seq("recommendation"), commentLimit = 1))
    val ih = out.filter(col("Community") === "r/indiehackers").collect().head
    assert(ih.getInt(1) == 2)
  }

  test("pipeline B: post+comment branches, tombstones, budgets, first-match") {
    val out = SignalScan.run(posts, comments, SignalScan.Params(
      subreddits = Seq("gamedev", "indiehackers", "cooking"),
      keywords = Seq("advice", "recommendation", "engine")))
    val rows = out.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))

    // p2 excluded: [deleted] author. p3 excluded: not in subreddit list.
    assert(!rows.exists(_._5 == "alice' p2"))
    val postRows = rows.filter(_._3 == "Post")
    // p1 matches advice+engine (sorted join); p4 recommendation; p5 advice+recommendation
    assert(postRows.map(_._2).toSet == Set("advice, engine", "recommendation", "advice, recommendation"))

    val commentRows = rows.filter(_._3 == "Comment")
    // c1: first-match in keyword order = 'engine' (input order, not text order)
    assert(commentRows.find(_._5 == "frank").get._2 == "engine")
    // c2 tombstone, c3 whitespace-only, c6 null permalink all excluded
    assert(!commentRows.exists(r => Set("grace", "heidi", "judy").contains(r._5)))
    // c4 null author excluded (F3)
    assert(commentRows.map(_._5).toSet == Set("frank", "ivan"))
  }

  test("pipeline B: truncation option (v1) and empty keywords") {
    val out = SignalScan.run(posts, comments, SignalScan.Params(
      subreddits = Seq("gamedev"), keywords = Seq("engine"), truncateTo = Some(10)))
    val c = out.filter(col("Type") === "Comment").collect()
    assert(c.forall(_.getString(3).length <= 13)) // 10 + "..."
    val empty = SignalScan.run(posts, comments,
      SignalScan.Params(subreddits = Seq("gamedev"), keywords = Nil))
    assert(empty.isEmpty)
  }

  test("pipelines leave no persisted RDDs behind") {
    // parameters no other test uses: a cache left by an earlier
    // identical request would otherwise be reused and hide a new one
    val discovered = persistedBy(CommunityDiscovery.run(subreddits, posts, comments,
      CommunityDiscovery.Params(queries = Seq("advice", "engine"))).collect())
    assert(discovered.isEmpty, s"CommunityDiscovery.run left $discovered")
    val scanned = persistedBy(SignalScan.run(posts, comments, SignalScan.Params(
      subreddits = Seq("gamedev", "indiehackers"), keywords = Seq("advice"))).collect())
    assert(scanned.isEmpty, s"SignalScan.run left $scanned")
  }

  test("csv sink: single file with header; enrichment adds workflow columns") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val out = SignalScan.run(posts, comments, SignalScan.Params(
      subreddits = Seq("gamedev"), keywords = Seq("engine")))
    sinks.Csv.writeEnriched(out, s"$dir/signals")
    val files = new java.io.File(s"$dir/signals").listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val lines = scala.io.Source.fromFile(files.head).getLines().toList
    assert(lines.head == "Subreddit,Match,Type,Text,Author,Link,Status,Priority,Notes")
    assert(lines.tail.nonEmpty && lines.tail.forall(_.contains("Not Started")))
  }
}
