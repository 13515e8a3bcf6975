package perfbench

/** Per-layer metrics from the traced loop: each is the median over the
  * traced ops of one per-op figure. A layer that a workload does not
  * call reads 0 there (pipelines on `curation`; functions, ext and
  * sinks on the two request pipelines).
  */
object Layers {

  /** Kernel calls made on a traced op's inputs after the timed loop;
    * they are not part of what the user gets.
    */
  private val isolated = Set("ops.Match.matchedKeywords", "ops.TopK.perGroupHead",
    "functions.MinHashSig.minhash_sig", "functions.Similarity.assignToCentroids")

  val names: Seq[(String, String)] = Seq(
    "sources.input_rows" -> "count", "sources.input_mb" -> "MB",
    "plans.plan_s" -> "s",
    "ops.match_s" -> "s", "ops.topk_s" -> "s", "ops.topk_rows_in" -> "count",
    "ops.topk_rows_out" -> "count", "ops.pack_s" -> "s",
    "pipelines.op_s" -> "s", "pipelines.self_s" -> "s", "pipelines.jobs" -> "count",
    "pipelines.stages" -> "count", "pipelines.shuffle_mb" -> "MB",
    "pipelines.spill_mb" -> "MB", "pipelines.task_cpu_s" -> "s",
    "pipelines.gc_s" -> "s", "pipelines.busy_share" -> "fraction",
    "pipelines.sched_wait_s" -> "s", "pipelines.cached_left" -> "count",
    "functions.minhash_s" -> "s", "functions.assign_s" -> "s",
    "ext.neardup_s" -> "s", "ext.neardup_pairs" -> "count", "ext.dup_recall" -> "fraction",
    "ext.clusters_s" -> "s", "ext.clusters_jobs" -> "count", "ext.quality_s" -> "s",
    "ext.semdedup_s" -> "s", "ext.shuffle_mb" -> "MB", "ext.task_cpu_s" -> "s",
    "ext.busy_share" -> "fraction",
    "ext.cached_left" -> "count",
    "sinks.write_s" -> "s", "sinks.write_mb" -> "MB", "sinks.files" -> "count",
    "sinks.write_amp" -> "ratio",
    "trace.ops_per_s" -> "ops/s", "trace.overhead_ops_per_s" -> "ops/s")

  def report[P, O](w: Workload[P, O], t: Tracer, ops: Seq[Main.Op[P, O]],
                   plainOpsPerS: Double, tracedOpsPerS: Double, cores: Int,
                   ok: Seq[(P, O)]): Seq[(String, Double, String)] = {
    val byOp = t.spans.groupBy(_.op)
    val per = scala.collection.mutable.HashMap.empty[String, Vector[Double]]
    def put(k: String, v: Double): Unit = per(k) = per.getOrElse(k, Vector.empty) :+ v
    val mb = 1e6

    ops.filter(_.out.nonEmpty).foreach { op =>
      byOp.get(op.index).foreach { spans =>
        def named(prefix: String) = spans.filter(_.name.startsWith(prefix))
        def secs(prefix: String) = named(prefix).map(_.seconds).sum
        def incl(prefix: String) = {
          val c = new Counters; named(prefix).foreach(s => c.add(t.inclusive(s.id))); c
        }
        // what the served request scanned: every span but the isolated ones
        val served = new Counters
        spans.filterNot(s => isolated(s.name)).foreach(s => served.add(t.exclusive(s.id)))
        put("sources.input_rows", served.inRows.toDouble)
        put("sources.input_mb", served.inBytes / mb)
        named("plans.action").headOption.foreach { a =>
          val starts = t.inclusive(a.id).jobStartMs
          if (starts.nonEmpty) put("plans.plan_s", (starts.min - a.startMs) / 1e3)
        }
        put("ops.match_s", secs("ops.Match"))
        put("ops.topk_s", secs("ops.TopK"))
        named("ops.TopK").headOption.foreach { s =>
          put("ops.topk_rows_in", t.inclusive(s.id).inRows.toDouble)
          put("ops.topk_rows_out", s.rowsOut.toDouble)
        }
        put("ops.pack_s", secs("ops.Packing"))
        val pipe = named("pipelines.")
        if (pipe.nonEmpty) {
          val c = incl("pipelines.")
          val wall = pipe.map(_.seconds).sum
          put("pipelines.op_s", wall)
          put("pipelines.self_s", wall - secs("ops.Match") - secs("ops.TopK"))
          put("pipelines.jobs", c.jobs.toDouble)
          put("pipelines.stages", c.stages.toDouble)
          put("pipelines.shuffle_mb", c.shuffleWrite / mb)
          put("pipelines.spill_mb", c.spill / mb)
          put("pipelines.task_cpu_s", c.cpuNs / 1e9)
          put("pipelines.gc_s", c.gcMs / 1e3)
          put("pipelines.busy_share", c.durMs / 1e3 / (wall * cores))
          put("pipelines.sched_wait_s", c.schedMs / 1e3)
          put("pipelines.cached_left", op.cachedLeft.toDouble)
        } else put("ext.cached_left", op.cachedLeft.toDouble)
        put("functions.minhash_s", secs("functions.MinHashSig"))
        put("functions.assign_s", secs("functions.Similarity"))
        put("ext.neardup_s", secs("ext.Dedup.nearDup"))
        put("ext.clusters_s", secs("ext.Dedup.dupClusters"))
        put("ext.clusters_jobs", incl("ext.Dedup.dupClusters").jobs.toDouble)
        put("ext.quality_s", secs("ext.TextAnalysis"))
        put("ext.semdedup_s", secs("ext.Similarity"))
        val ext = incl("ext.")
        put("ext.shuffle_mb", ext.shuffleWrite / mb)
        put("ext.task_cpu_s", ext.cpuNs / 1e9)
        val extWall = named("ext.").filter(_.parent == named("op").head.id).map(_.seconds).sum
        if (extWall > 0) put("ext.busy_share", ext.durMs / 1e3 / (extWall * cores))
        put("sinks.write_s", secs("sinks."))
        val sink = incl("sinks.")
        put("sinks.write_mb", sink.outBytes / mb)
        val counts = w.counts(op.p, op.out.get)
        counts.get("ext.neardup_pairs").foreach(put("ext.neardup_pairs", _))
        counts.get("sinks.files").foreach(put("sinks.files", _))
        counts.get("input_bytes").foreach(b => put("sinks.write_amp", sink.outBytes / b))
      }
    }
    w.extra(ok).find(_._1 == "dup_recall").foreach(r => put("ext.dup_recall", r._2))
    put("trace.ops_per_s", tracedOpsPerS)
    put("trace.overhead_ops_per_s", plainOpsPerS - tracedOpsPerS)
    names.map { case (k, u) => (k, Main.median(per.getOrElse(k, Vector.empty)), u) }
  }
}
