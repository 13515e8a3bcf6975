package perfbench

import perfbench.Gen._

/** Plain-Scala recomputation of what each op must return, over the
  * generated rows. It shares no code with the library: every rule is
  * re-derived from the documented semantics (Spark's `trim` strips
  * spaces only, `desc` sorts nulls last, `concat_ws` skips nulls,
  * `round` is HALF_UP), so a mismatch means the library and its
  * specification disagree.
  */
object Reference {

  private def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)
  private def sparkTrim(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }
  /** `Text.cleanText`: collapse whitespace runs, trim. */
  def clean(s: String): String = if (s == null) null else sparkTrim(s.replaceAll("\\s+", " "))
  private def concatWs(xs: String*): String = xs.filter(_ != null).mkString(" ")
  def round4(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Descending with nulls last, the order of Spark's `desc`. */
  private def descNullsLast(v: java.lang.Long): (Int, Long) =
    if (v == null) (1, 0L) else (0, -v.longValue)

  // ---------------------------------------------------------------- discovery

  /** Pre-indexed corpus views shared by every op's recomputation. */
  final class Index(val c: Corpus) {
    val subByName: Map[String, Sub] = c.subs.map(s => s.name -> s).toMap
    val postsBySub: Map[String, Vector[Post]] = c.posts.groupBy(_.sub)
    val commentsByPost: Map[String, Vector[Comment]] =
      c.comments.groupBy(_.postId).map { case (k, v) => k -> v.sortBy(_.flatIdx) }
    val postContent: Vector[(Post, String)] =
      c.posts.map(p => p -> lower(concatWs(p.title, p.selftext)))
    val subText: Vector[(Sub, String)] =
      c.subs.map(s => s -> lower(concatWs(s.name, s.description)))
    /** Communities that have at least one post (signal-scan candidates). */
    val postingSubs: Vector[String] =
      postsBySub.keys.filter(subByName.contains).toVector.sorted
  }

  val Direct = "Direct Search"; val ViaPost = "Relevant Post"; val ViaComment = "Relevant Comment"

  /** Expected rows of `CommunityDiscovery.run` (10/25/20 limits). */
  def discovery(ix: Index, queries: Seq[String], directLimit: Int = 10,
                postLimit: Int = 25, commentLimit: Int = 20): Vector[Seq[Any]] = {
    val qs = queries.map(lower).distinct
    val hits = scala.collection.mutable.HashMap.empty[String, Set[String]]
    def add(community: String, via: String): Unit =
      hits(community) = hits.getOrElse(community, Set.empty) + via
    qs.foreach { q =>
      ix.subText.filter { case (s, t) => !s.name.startsWith("u_") && t.contains(q) }
        .map(_._1).sortBy(s => (descNullsLast(s.subscribers), s.name))
        .take(directLimit).foreach(s => add(s.name, Direct))
      val matched = ix.postContent.filter { case (p, t) =>
        t.contains(q) && ix.subByName.get(p.sub).exists { s =>
          s.over18 != null && !s.over18.booleanValue && !p.sub.startsWith("u_")
        }
      }.map(_._1).sortBy(p => (descNullsLast(p.score), p.id)).take(postLimit)
      matched.foreach { p =>
        add(p.sub, ViaPost)
        val firstK = ix.commentsByPost.getOrElse(p.id, Vector.empty)
          .filter(c => c.body != null && c.body != "[deleted]" && c.body != "[removed]")
          .take(commentLimit)
        if (firstK.exists(c => lower(c.body).contains(q))) add(p.sub, ViaComment)
      }
    }
    val weights = Map(Direct -> 1, ViaPost -> 2, ViaComment -> 3)
    hits.toVector.map { case (community, via) =>
      val members = ix.subByName(community).subscribers
      val score = via.toSeq.map(weights).sum
      (community, score, members, via.toSeq.sorted.mkString(", "))
    }.sortBy { case (c, s, m, _) => (-s, descNullsLast(m), "r/" + c) }
      .map { case (c, s, m, v) =>
        Seq[Any]("r/" + c, s, v, m, s"https://www.reddit.com/r/$c",
          s"https://www.reddit.com/r/$c/top/?t=month")
      }
  }

  // -------------------------------------------------------------- signal scan

  /** Expected rows of `SignalScan.run` for one preset's budgets. */
  def signalScan(ix: Index, subs: Seq[String], keywords: Seq[String],
                 postLimit: Int, commentLimit: Int): Vector[Seq[Any]] = {
    val kws = keywords.map(lower)
    def matched(text: String): Seq[String] = { val t = lower(text); kws.filter(t.contains) }
    val ok = (a: String) => a != null && a != "[deleted]"
    val tp = subs.map(_.trim).filter(_.nonEmpty).distinct.sorted.flatMap { s =>
      ix.postsBySub.getOrElse(s, Vector.empty).filter(p => ok(p.author))
        .sortBy(p => (descNullsLast(p.score), p.id)).take(postLimit)
    }
    val postRows = tp.flatMap { p =>
      val m = matched(concatWs(clean(p.title), clean(p.selftext)))
      if (m.isEmpty) None
      else Some(Seq[Any](p.sub, m.sorted.mkString(", "), "Post", clean(p.title), p.author,
        "https://reddit.com" + p.permalink))
    }
    val commentRows = tp.flatMap { p =>
      ix.commentsByPost.getOrElse(p.id, Vector.empty).take(commentLimit).flatMap { c =>
        val cb = clean(c.body)
        if (c.body == null || !ok(c.author) || c.permalink == null ||
          c.body == "[deleted]" || c.body == "[removed]" || cb.isEmpty) None
        else matched(cb).headOption.map { kw =>
          Seq[Any](p.sub, kw, "Comment", cb, c.author, "https://reddit.com" + c.permalink)
        }
      }
    }
    (postRows ++ commentRows).toVector.sortBy(r =>
      (r(0).asInstanceOf[String], r(2).asInstanceOf[String], r(5).asInstanceOf[String],
        r(1).asInstanceOf[String]))
  }

  // ----------------------------------------------------------------- curation

  def tokens(text: String): Array[String] = clean(lower(text)).split(" ", -1)

  /** Distinct 3-word shingles of the cleaned, lower-cased text. */
  def shingles(text: String, k: Int = 3): Set[String] = {
    val w = tokens(text)
    if (w.length < k) Set.empty
    else w.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter).toDouble
  }

  /** Connected components over `pairs`: doc -> (min member id, size). */
  def clusters(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
    }
    val root = parent.keys.map(v => v -> find(v)).toMap
    val size = root.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    root.map { case (v, r) => v -> (r, size(r)) }
  }

  /** Every field of `TextAnalysis.gopherQualityGate` (50..100000 words). */
  def gopher(text: String): Seq[Any] = {
    val toks = tokens(text)
    val nW = toks.length
    val nWd = nW.toDouble
    val meanLen = round4((clean(lower(text)).length.toDouble - (nWd - 1)) / nWd)
    def ratio(p: String => Boolean) = round4(toks.count(p).toDouble / nWd)
    val hash = ratio(_.contains("#"))
    val ell = ratio(_.contains("..."))
    val nStop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .count(s => toks.contains(s))
    val lines = text.split("\n", -1).map(sparkTrim).filter(_.nonEmpty)
    val nL = math.max(lines.length, 1).toDouble
    val bullet = round4(lines.count(l => l.startsWith("-") || l.startsWith("*") ||
      l.startsWith("•")).toDouble / nL)
    val ellLine = round4(lines.count(_.endsWith("...")).toDouble / nL)
    val okW = nW >= 50 && nW <= 100000
    val okLen = meanLen >= 3.0 && meanLen <= 10.0
    val okSym = hash <= 0.1 && ell <= 0.1
    val okB = bullet <= 0.9
    val okE = ellLine <= 0.3
    val okS = nStop >= 2
    Seq(nW, meanLen, hash, ell, bullet, ellLine, nStop, okW, okLen, okSym, okB, okE, okS,
      okW && okLen && okSym && okB && okE && okS)
  }
}
