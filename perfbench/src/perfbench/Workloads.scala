package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Dedup, Similarity, TextAnalysis}
import graft.functions.MinHashSig
import graft.model.Schemas
import graft.ops.{Match, Packing, Text, TopK}
import graft.pipelines.{CommunityDiscovery, SignalScan}
import graft.sinks.Shards
import graft.sources.Tables

/** One closed-loop workload. `prepare` (untimed) draws the op's
  * parameters and writes any per-op input; `run` is the timed call into
  * the library and returns what the user gets; `isolate` (untimed, traced
  * ops only) calls single kernels on the op's inputs; `check` (after the
  * timed loop) compares that output with [[Reference]].
  */
trait Workload[P, O] {
  /** Untimed ops before the timed loop, enough to get past the JIT
    * drift that the op-latency log lines show.
    */
  def warmups: Int
  def setup(spark: SparkSession, dir: File): Unit
  def prepare(i: Int): P
  def run(p: P, t: Tracer): O
  def isolate(p: P, t: Tracer): Unit
  def check(p: P, o: O): Option[String]
  /** Extra end-to-end figures for the human-readable report. */
  def extra(ok: Seq[(P, O)]): Seq[(String, Double, String)] = Nil
  /** Per-op counts for the traced report, read off the op's output. */
  def counts(p: P, o: O): Map[String, Double] = Map.empty
}

object Workload {
  /** `size` overrides the input size: posts of the corpus, or documents
    * per curation batch.
    */
  def apply(name: String, seed: Long, size: Option[Int]): Workload[_, _] = name match {
    case "discovery" => new Discovery(seed, size.getOrElse(Discovery.Posts))
    case "signal_scan" => new Scan(seed, size.getOrElse(Scan.Posts))
    case "curation" => new Curation(seed, size.getOrElse(Curation.Docs))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Write `rows` under `dir/name.parquet` with the declared schema. */
  def writeTable(spark: SparkSession, rows: Seq[Row], schema: StructType,
                 dir: File, name: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write.mode("overwrite").parquet(new File(dir, s"$name.parquet").getPath)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def rowValues(r: Row): Seq[Any] = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.toList
    case v => v
  }

  def diff(what: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] =
    if (got == want) None
    else {
      val i = got.zip(want).indexWhere { case (g, w) => g != w }
      Some(s"$what: ${got.size} rows vs ${want.size} expected; first difference at " +
        s"${if (i < 0) math.min(got.size, want.size) else i}: " +
        s"got ${got.lift(i).orNull} want ${want.lift(i).orNull}")
    }
}

/** Shared Reddit corpus for the two request pipelines. */
abstract class CorpusWorkload[P](seed: Long, val nPosts: Int)
    extends Workload[P, Seq[Seq[Any]]] {
  val nSubs = 2000
  protected var spark: SparkSession = _
  protected var dir: String = _
  protected var ix: Reference.Index = _
  protected val params = new Gen.Params(seed)

  def setup(spark: SparkSession, dir: File): Unit = {
    this.spark = spark
    this.dir = dir.getPath
    val t0 = System.nanoTime()
    val c = Gen.corpus(seed, nSubs, nPosts)
    val t1 = System.nanoTime()
    Workload.writeTable(spark, c.subs.map(s =>
      Row(s.name, s.subscribers, s.over18, s.description)), Schemas.subreddits, dir, "subreddits")
    Workload.writeTable(spark, c.posts.map(p =>
      Row(p.id, p.sub, p.title, p.selftext, p.author, p.score, p.created, p.permalink)),
      Schemas.posts, dir, "posts")
    Workload.writeTable(spark, c.comments.map(m =>
      Row(m.id, m.postId, m.parent, m.flatIdx, m.body, m.author, m.permalink)),
      Schemas.comments, dir, "comments")
    val t2 = System.nanoTime()
    ix = new Reference.Index(c)
    System.err.println(f"[perfbench] corpus: ${c.posts.size} posts ${c.comments.size} comments; " +
      f"generated in ${(t1 - t0) / 1e9}%.2fs, written in ${(t2 - t1) / 1e9}%.2fs, " +
      f"indexed in ${(System.nanoTime() - t2) / 1e9}%.2fs")
  }

  protected def table(name: String): DataFrame = Tables.table(spark, dir, name)

  /** The result a user gets; the `plans.action` span times its planning. */
  protected def collect(df: DataFrame, t: Tracer): Seq[Seq[Any]] =
    t.span("plans.action")(df.collect()).toSeq.map(Workload.rowValues)

  /** Isolated `ops.TopK.perGroupHead` span on the op's own inputs. */
  protected def topkSpan(comments: DataFrame, k: Int, t: Tracer): Unit = {
    val obs = Observation("topk")
    t.span("ops.TopK.perGroupHead") {
      Workload.noop(TopK.perGroupHead(comments, col("post_id"), col("flat_idx"), k)
        .observe(obs, count(lit(1)).as("rows")))
    }
    t.spans.last.rowsOut = obs.get("rows").asInstanceOf[Long]
  }
}

object Discovery { val Posts = 6000 }

/** `CommunityDiscovery.run`: 8 seed-drawn queries, comment channel on. */
final class Discovery(seed: Long, posts: Int)
    extends CorpusWorkload[Seq[String]](seed, posts) {
  val warmups = 18

  def prepare(i: Int): Seq[String] = params.queries(8)

  def run(q: Seq[String], t: Tracer): Seq[Seq[Any]] = {
    val (subs, posts, comments) = t.span("sources.Tables") {
      (table("subreddits"), table("posts"), table("comments"))
    }
    t.span("pipelines.CommunityDiscovery.run") {
      collect(CommunityDiscovery.run(subs, posts, comments, CommunityDiscovery.Params(q)), t)
    }
  }

  def isolate(q: Seq[String], t: Tracer): Unit = {
    t.span("ops.Match.matchedKeywords") {
      Workload.noop(table("posts").select(Match.matchedKeywords(
        lower(concat_ws(" ", col("title"), col("selftext"))), q).as("m")))
    }
    topkSpan(table("comments").filter(col("body").isNotNull &&
      !col("body").isin("[deleted]", "[removed]")), 20, t)
  }

  def check(q: Seq[String], o: Seq[Seq[Any]]): Option[String] =
    Workload.diff("discovery", o, Reference.discovery(ix, q))
}

/** `SignalScan.run`: 20 seed-drawn communities, 3 keywords, presets
  * alternating Standard and Deep.
  */
final class Scan(seed: Long, posts: Int) extends CorpusWorkload[Scan.P](seed, posts) {
  import Scan.P
  val warmups = 2

  def prepare(i: Int): P = {
    val (subs, kws) = params.scan(ix.postingSubs, 20, 3)
    (subs, kws, if (i % 2 == 0) "Standard" else "Deep")
  }

  def run(p: P, t: Tracer): Seq[Seq[Any]] = {
    val (subs, kws, preset) = p
    val (posts, comments) = t.span("sources.Tables")((table("posts"), table("comments")))
    t.span("pipelines.SignalScan.run") {
      collect(SignalScan.run(posts, comments, SignalScan.paramsForPreset(preset, subs, kws)), t)
    }
  }

  def isolate(p: P, t: Tracer): Unit = {
    val (subs, kws, preset) = p
    t.span("ops.Match.matchedKeywords") {
      Workload.noop(table("posts").select(Match.matchedKeywords(concat_ws(" ",
        Text.cleanText(col("title")), Text.cleanText(col("selftext"))), kws).as("m")))
    }
    topkSpan(table("comments"), SignalScan.paramsForPreset(preset, subs, kws).commentLimit, t)
  }

  def check(p: P, o: Seq[Seq[Any]]): Option[String] = {
    val (pl, cl) = SignalScan.presets(p._3)
    Workload.diff("signal_scan", o, Reference.signalScan(ix, p._1, p._2, pl, cl))
  }
}

object Scan {
  val Posts = 6000
  /** (communities, keywords, preset) */
  type P = (Seq[String], Seq[String], String)
}

object Curation {
  val Docs = 1000
  final case class P(i: Int, batch: Gen.Batch, dir: File, inputBytes: Long)
  final case class O(pairs: Seq[(Long, Long, Double)], clusters: Seq[(Long, Long, Long)],
                     gate: Seq[(Long, Seq[Any])], sem: Seq[Long],
                     manifest: Seq[Shards.ShardManifest], out: File)
}

/** One document batch per op through near-dup → clusters → quality
  * gate → semantic dedup → shuffle/shard → shard write.
  */
final class Curation(seed: Long, batchDocs: Int) extends Workload[Curation.P, Curation.O] {
  import Curation._
  val threshold = 0.6
  val recall = 0.95
  val tau = 0.95
  val shardSize = 128L

  val warmups = 2

  private var spark: SparkSession = _
  private var root: File = _
  private val docSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("emb", ArrayType(FloatType, containsNull = false), nullable = false)))

  def setup(spark: SparkSession, dir: File): Unit = { this.spark = spark; root = dir }

  def prepare(i: Int): P = {
    val b = Gen.batch(seed, i, batchDocs, i * 1000000L, threshold)
    val d = new File(root, s"batch$i")
    Workload.writeTable(spark, b.docs.map(x => Row(x.id, x.text, x.emb.toSeq)), docSchema,
      d, "documents")
    val bytes = b.docs.map(x => x.text.getBytes("UTF-8").length + 8L + 4L * x.emb.length).sum
    P(i, b, d, bytes)
  }

  def run(p: P, t: Tracer): O = {
    val docs = t.span("sources.Tables")(Tables.table(spark, p.dir.getPath, "documents"))
    val pairsDf = Dedup.nearDupPairsForRecall(docs, col("id"), col("text"), threshold, recall)
      .persist()
    val pairs = t.span("ext.Dedup.nearDupPairsForRecall") {
      t.span("plans.action")(pairsDf.collect())
    }.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val cl = t.span("ext.Dedup.dupClusters")(Dedup.dupClusters(pairsDf))
    val clusters = t.span("ext.Dedup.dupClusters")(cl.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val kept = docs.join(cl.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("id")), Seq("id"), "left_anti")
    val gated = kept.select(col("id"), TextAnalysis.gopherQualityGate(col("text")).as("q"))
      .persist()
    val gate = t.span("ext.TextAnalysis.gopherQualityGate")(gated.collect())
      .map(r => (r.getLong(0), Workload.rowValues(r.getStruct(1)))).toSeq
    val passing = docs.join(gated.filter(col("q.passes")).select("id"), Seq("id"), "left_semi")
    val semDf = t.span("ext.Similarity.semDedupPqAuto") {
      Similarity.semDedupPqAuto(passing, col("id"), col("emb"), tau).persist()
    }
    val sem = t.span("ext.Similarity.semDedupPqAuto")(semDf.collect()).map(_.getLong(0)).toSeq
    val sharded = t.span("ops.Packing.shuffleShards") {
      Packing.shuffleShards(docs.join(semDf.select("id"), Seq("id"), "left_semi"),
        col("id"), shardSize)
    }
    val out = new File(p.dir, "shards")
    val manifest = t.span("sinks.Shards.writeShards")(Shards.writeShards(sharded, out.getPath))
    Seq(pairsDf, gated, semDf).foreach(_.unpersist(blocking = true))
    O(pairs, clusters, gate, sem, manifest, out)
  }

  def isolate(p: P, t: Tracer): Unit = {
    val docs = Tables.table(spark, p.dir.getPath, "documents")
    t.span("functions.MinHashSig.minhash_sig") {
      Workload.noop(docs.select(MinHashSig.minhash_sig(Dedup.shingles(col("text")),
        Dedup.bandingForRecall(threshold, recall)._1).as("sig")))
    }
    val centroids = p.batch.docs.take(16).map { d =>
      val v = d.emb.map(_.toDouble); val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }.toArray
    t.span("functions.Similarity.assignToCentroids") {
      Workload.noop(Similarity.assignToCentroids(
        Similarity.IvfModel(centroids, spark.emptyDataFrame), docs, col("id"), col("emb")))
    }
  }

  def check(p: P, o: O): Option[String] = {
    val byId = p.batch.docs.map(d => d.id -> d).toMap
    val sh = scala.collection.mutable.HashMap.empty[Long, Set[String]]
    def shingles(id: Long) = sh.getOrElseUpdate(id, Reference.shingles(byId(id).text))
    val badPair = o.pairs.find { case (a, b, j) =>
      !(a < b && byId.contains(a) && byId.contains(b)) || {
        val exact = Reference.jaccard(shingles(a), shingles(b))
        exact < threshold || Reference.round4(exact) != j
      }
    }
    lazy val wantClusters = Reference.clusters(o.pairs.map(x => (x._1, x._2))).toSeq
      .map { case (v, (c, n)) => (v, c, n) }.sortBy(_._1)
    lazy val keptIds = p.batch.docs.map(_.id).toSet --
      wantClusters.collect { case (v, c, _) if v != c => v }
    lazy val passIds = o.gate.filter(_._2.last == true).map(_._1).toSet
    lazy val written = spark.read.parquet(o.out.getPath).select("id").collect()
      .map(_.getLong(0)).toSeq.sorted
    val nShards = (o.sem.size + shardSize - 1) / shardSize
    if (badPair.nonEmpty) Some(s"curation: pair ${badPair.get} fails the exact Jaccard check")
    else if (o.pairs.distinct.size != o.pairs.size) Some("curation: duplicate pairs")
    else if (o.clusters != wantClusters)
      Workload.diff("curation clusters", o.clusters.map(c => Seq(c._1, c._2, c._3)),
        wantClusters.map(c => Seq(c._1, c._2, c._3)))
    else if (o.gate.map(_._1).toSet != keptIds) Some("curation: gated ids != dedup survivors")
    else if (o.gate.exists { case (id, q) => q != Reference.gopher(byId(id).text) })
      Some(s"curation: quality gate differs for ${o.gate.find { case (id, q) =>
        q != Reference.gopher(byId(id).text) }.get}")
    else if (o.sem.distinct.size != o.sem.size || !o.sem.forall(passIds))
      Some("curation: semantic-dedup survivors are not distinct gate-passing ids")
    else if (o.manifest.map(_.shard_id) != (0L until nShards) ||
      o.manifest.exists(_.n_files != 1) ||
      o.manifest.dropRight(1).exists(_.n_rows != shardSize) ||
      o.manifest.map(_.n_rows).sum != o.sem.size)
      Some(s"curation: manifest ${o.manifest.map(m => (m.shard_id, m.n_rows, m.n_files))} " +
        s"does not cover ${o.sem.size} survivors in shards of $shardSize")
    else if (written != o.sem.sorted) Some("curation: written shard ids != survivors")
    else None
  }

  override def counts(p: P, o: O): Map[String, Double] = Map(
    "ext.neardup_pairs" -> o.pairs.size.toDouble,
    "sinks.files" -> o.manifest.map(_.n_files).sum.toDouble,
    "input_bytes" -> p.inputBytes.toDouble)

  /** Planted near-duplicate pairs reported, over pairs planted. */
  override def extra(ok: Seq[(P, O)]): Seq[(String, Double, String)] = {
    val planted = ok.flatMap(_._1.batch.planted)
    val found = ok.flatMap { case (p, o) =>
      val s = o.pairs.map(x => (x._1, x._2)).toSet
      p.batch.planted.filter(x => s.contains((math.min(x.a, x.b), math.max(x.a, x.b))))
    }
    Seq(("dup_recall", found.size.toDouble / math.max(1, planted.size), "fraction"))
  }
}
