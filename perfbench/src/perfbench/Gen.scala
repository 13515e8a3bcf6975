package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

/** Seeded input generators. Everything the library sees is derived from
  * the `--seed` argument through these functions; the same seed always
  * yields the same corpus, the same document batches and the same
  * per-op request parameters.
  */
object Gen {

  final case class Sub(name: String, subscribers: java.lang.Long,
                       over18: java.lang.Boolean, description: String)
  final case class Post(id: String, sub: String, title: String, selftext: String,
                        author: String, score: java.lang.Long, created: Timestamp,
                        permalink: String)
  final case class Comment(id: String, postId: String, parent: String, flatIdx: Int,
                           body: String, author: String, permalink: String)
  final case class Corpus(subs: Vector[Sub], posts: Vector[Post], comments: Vector[Comment])

  final case class Doc(id: Long, text: String, emb: Array[Float])
  /** A planted near-duplicate pair with its exact shingle Jaccard. */
  final case class Planted(a: Long, b: Long, jaccard: Double)
  final case class Batch(docs: Vector[Doc], planted: Vector[Planted])

  /** Product-research phrases: the discovery queries and scan keywords,
    * planted into names, descriptions, posts and comments.
    */
  val topics: Vector[String] = Vector(
    "meal prep", "budget app", "standing desk", "crm", "invoice tool",
    "password manager", "note taking", "habit tracker", "mechanical keyboard",
    "home gym", "coffee grinder", "air fryer", "resume template", "cold email",
    "landing page", "seo audit", "email list", "dropshipping", "etsy shop",
    "print on demand", "freelance", "side hustle", "remote job", "time tracking",
    "project management", "task manager", "calendar app", "vpn", "web hosting",
    "site builder", "podcast", "video editing", "drone", "3d printer",
    "language learning", "flashcards", "sleep tracker", "meditation app",
    "running shoes", "bike lock", "camping stove", "tent", "baby monitor",
    "dog food", "cat litter", "plant care", "skincare", "hair loss",
    "protein powder", "standing mat", "ergonomic chair", "noise cancelling",
    "e-reader", "tax software", "bookkeeping", "payroll", "crypto wallet",
    "stock screener", "budget spreadsheet", "smart lock", "robot vacuum",
    "solar panel", "heat pump", "ev charger")

  val signalWords: Vector[String] = Vector(
    "recommend", "looking for", "alternative to", "worth it", "best",
    "anyone tried", "switch from", "cheaper", "need help", "suggestions")

  private val stops = Vector("the", "be", "to", "of", "and", "that", "have", "with",
    "a", "in", "is", "it", "for", "on", "my", "i")

  /** A seed-shaped filler vocabulary of pronounceable pseudo-words. */
  private def vocabulary(r: SplittableRandom, n: Int): Vector[String] = {
    val cons = "bcdfghjklmnprstvwz"; val vows = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syll = 1 + r.nextInt(3)
      val sb = new StringBuilder
      (0 until syll).foreach { _ =>
        sb += cons(r.nextInt(cons.length)); sb += vows(r.nextInt(vows.length))
        if (r.nextInt(3) == 0) sb += cons(r.nextInt(cons.length))
      }
      if (sb.length >= 3) seen += sb.toString
    }
    seen.toVector
  }

  private def pick[T](r: SplittableRandom, xs: Vector[T]): T = xs(r.nextInt(xs.size))

  /** Filler words with stop words mixed in, occasional capitals and
    * irregular whitespace (the pipelines normalise whitespace).
    */
  private def words(r: SplittableRandom, vocab: Vector[String], n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(r.nextInt(40) match {
        case 0 => "  "
        case 1 => "\t"
        case 2 => "\n"
        case _ => " "
      })
      val w = if (r.nextInt(4) == 0) pick(r, stops) else pick(r, vocab)
      sb.append(if (r.nextInt(25) == 0) w.capitalize else w)
      i += 1
    }
    sb.toString
  }

  /** Insert `phrase` (randomly upper-cased) at a word boundary of `text`. */
  private def plant(r: SplittableRandom, text: String, phrase: String): String = {
    val p = if (r.nextInt(5) == 0) phrase.toUpperCase else phrase
    val ws = text.split(" ", -1)
    val at = r.nextInt(ws.length + 1)
    (ws.take(at) ++ Seq(p) ++ ws.drop(at)).mkString(" ")
  }

  def corpus(seed: Long, nSubs: Int, nPosts: Int): Corpus = {
    val r = new SplittableRandom(seed * 7919L + 11L)
    val vocab = vocabulary(r, 600)
    val subs = (0 until nSubs).map { i =>
      val base = s"${pick(r, vocab)}$i"
      val name = if (r.nextInt(20) == 0) s"u_$base" else base
      val subscribers: java.lang.Long =
        if (r.nextInt(30) == 0) null
        else java.lang.Long.valueOf((math.exp(r.nextDouble() * 14)).toLong)
      val over18: java.lang.Boolean = r.nextInt(100) match {
        case x if x < 8 => true
        case x if x < 12 => null
        case _ => false
      }
      val desc =
        if (r.nextInt(20) == 0) null
        else {
          var d = words(r, vocab, 6 + r.nextInt(14))
          if (r.nextInt(2) == 0) d = plant(r, d, pick(r, topics))
          d
        }
      Sub(name, subscribers, over18, desc)
    }.toVector
    // Zipf-like community sizes: a few large subs carry most posts.
    val weights = subs.indices.map(i => 1.0 / (1 + i % 97)).toArray
    val cum = weights.scanLeft(0.0)(_ + _).tail
    val total = cum.last
    def drawSub(): String = {
      if (r.nextInt(100) == 0) return s"gone${r.nextInt(50)}"   // not in the dimension
      val x = r.nextDouble() * total
      var lo = 0; var hi = cum.length - 1
      while (lo < hi) { val m = (lo + hi) / 2; if (cum(m) < x) lo = m + 1 else hi = m }
      subs(lo).name
    }
    val t0 = 1700000000000L
    val posts = Vector.newBuilder[Post]
    val comments = Vector.newBuilder[Comment]
    var cid = 0L
    def commentBody(): String = r.nextInt(100) match {
      case x if x < 4 => "[deleted]"
      case x if x < 7 => "[removed]"
      case x if x < 9 => null
      case x if x < 11 => "   "
      case _ =>
        var b = words(r, vocab, 3 + r.nextInt(25))
        if (r.nextInt(8) == 0) b = plant(r, b, pick(r, topics))
        if (r.nextInt(8) == 0) b = plant(r, b, pick(r, signalWords))
        b
    }
    (0 until nPosts).foreach { i =>
      val pid = f"p$i%07d"
      val sub = drawSub()
      var title = words(r, vocab, 4 + r.nextInt(9))
      var self = if (r.nextInt(5) == 0) null else words(r, vocab, r.nextInt(50))
      var phrase: String = null
      if (r.nextInt(6) == 0) { phrase = pick(r, topics); title = plant(r, title, phrase) }
      if (self != null && r.nextInt(5) == 0) self = plant(r, self, pick(r, topics))
      if (self != null && r.nextInt(6) == 0) self = plant(r, self, pick(r, signalWords))
      if (r.nextInt(40) == 0) title = null
      val author = r.nextInt(100) match {
        case x if x < 5 => "[deleted]"
        case x if x < 7 => null
        case _ => s"user${r.nextInt(5000)}"
      }
      val score: java.lang.Long =
        if (r.nextInt(50) == 0) null else java.lang.Long.valueOf(r.nextInt(5000).toLong - 50)
      posts += Post(pid, sub, title, self, author, score,
        new Timestamp(t0 + r.nextInt(86400 * 60) * 1000L), s"/r/$sub/comments/$pid/")
      // Heavy-tailed thread sizes, so head-k budgets bind on some posts.
      val nc = r.nextInt(100) match {
        case x if x < 70 => r.nextInt(6)
        case x if x < 98 => 6 + r.nextInt(15)
        case _ => 100 + r.nextInt(300)
      }
      // A high-score post whose title carries a topic phrase gets a thread
      // in which the phrase first appears in the 20th or the 21st
      // non-tombstoned comment: an off-by-one in discovery's comment
      // budget (20) flips that community's `Relevant Comment` channel.
      val boundary =
        if (phrase != null && title != null && score != null && score >= 4000L)
          20 + r.nextInt(2)
        else 0
      var k = 0
      var kept = 0
      while (k < nc || kept < boundary) {
        val c = f"c$cid%08d"; cid += 1
        var body = commentBody()
        val live = body != null && body != "[deleted]" && body != "[removed]"
        if (boundary > 0 && live) {
          if (kept + 1 == boundary) body = plant(r, words(r, vocab, 3 + r.nextInt(25)), phrase)
          else if (kept + 1 < boundary)
            while (body.toLowerCase(java.util.Locale.ROOT).contains(phrase))
              body = words(r, vocab, 3 + r.nextInt(25))
        }
        if (live) kept += 1
        val author = r.nextInt(100) match {
          case x if x < 4 => "[deleted]"
          case x if x < 6 => null
          case _ => s"user${r.nextInt(5000)}"
        }
        val link = if (r.nextInt(50) == 0) null else s"/r/$sub/comments/$pid/_/$c/"
        val parent = if (k == 0 || r.nextInt(3) == 0) pid else f"c${cid - 2}%08d"
        comments += Comment(c, pid, parent, k, body, author, link)
        k += 1
      }
    }
    Corpus(subs, posts.result(), comments.result())
  }

  /** A curation batch of `n` documents with ids from `idBase`: 64-d
    * embeddings, near-duplicate pairs planted by word substitution at
    * a recorded exact Jaccard, semantic duplicates (near-identical
    * embeddings), and documents built to fail the quality gate.
    */
  def batch(seed: Long, opIdx: Int, n: Int, idBase: Long, threshold: Double): Batch = {
    val r = new SplittableRandom(seed * 104729L + opIdx * 31L + 5L)
    val vocab = vocabulary(new SplittableRandom(seed + 99L), 2000)
    def emb(): Array[Float] = Array.fill(64)((r.nextDouble() * 2 - 1).toFloat)
    def text(): String = r.nextInt(100) match {
      case x if x < 4 => words(r, vocab, 5 + r.nextInt(30))                 // too short
      case x if x < 7 => (0 until 60).map(_ => "#" + pick(r, vocab)).mkString(" ") // symbols
      case x if x < 10 =>                                                    // bullet list
        (0 until 12).map(_ => "- " + words(r, vocab, 6)).mkString("\n")
      case x if x < 12 =>                                                    // ellipsis lines
        (0 until 10).map(_ => words(r, vocab, 8) + "...").mkString("\n")
      case _ => words(r, vocab, 60 + r.nextInt(120))
    }
    val docs = Vector.newBuilder[Doc]
    val planted = Vector.newBuilder[Planted]
    val base = scala.collection.mutable.ArrayBuffer.empty[Doc]
    var i = 0
    while (i < n) {
      val id = idBase + i
      val kind = r.nextInt(100)
      if (kind < 10 && base.nonEmpty) {
        // near duplicate: substitute a few words of an earlier document
        val src = base(r.nextInt(base.size))
        val ws = src.text.split(" ", -1)
        if (ws.length >= 40) {
          val edits = 1 + r.nextInt(math.max(1, ws.length / 40))
          (0 until edits).foreach(_ => ws(r.nextInt(ws.length)) = pick(r, vocab))
          val t = ws.mkString(" ")
          val j = Reference.jaccard(Reference.shingles(src.text), Reference.shingles(t))
          if (j >= threshold) {
            docs += Doc(id, t, emb())
            planted += Planted(src.id, id, j)
            i += 1
          }
        }
      } else if (kind < 14 && base.nonEmpty) {
        // semantic duplicate: fresh text, near-identical embedding
        val src = base(r.nextInt(base.size))
        val d = Doc(id, text(), src.emb.map(v => (v + (r.nextDouble() - 0.5) * 0.002).toFloat))
        docs += d; base += d; i += 1
      } else {
        val d = Doc(id, text(), emb())
        docs += d; base += d; i += 1
      }
    }
    Batch(docs.result(), planted.result())
  }

  /** Per-op request parameters: a fresh, never-repeated draw per op,
    * because the pipelines' internal `persist()` would otherwise serve a
    * repeated request from the previous op's cache.
    */
  final class Params(seed: Long) {
    private val r = new SplittableRandom(seed * 31337L + 3L)
    private val used = scala.collection.mutable.HashSet.empty[Seq[String]]

    private def distinct(draw: => Seq[String]): Seq[String] = {
      var s = draw
      while (used.contains(s)) s = draw
      used += s
      s
    }

    private def sample[T](xs: Vector[T], k: Int): Vector[T] = {
      val a = xs.toBuffer
      (0 until k).foreach { i =>
        val j = i + r.nextInt(a.length - i)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.take(k).toVector
    }

    def queries(k: Int): Seq[String] = distinct(sample(topics, k))

    /** `k` communities that carry posts, plus `kw` keywords. */
    def scan(candidates: Vector[String], k: Int, kw: Int): (Seq[String], Seq[String]) = {
      val subs = distinct(sample(candidates, k).sorted)
      (subs, sample(topics ++ signalWords, kw))
    }
  }
}
