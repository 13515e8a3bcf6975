package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: set up, run one workload's closed loop
  * with a single client, check every output, and write the metrics as
  * one JSON object to `--result`. `run.py` builds and launches it.
  *
  * With `--trace 1` the timed loop alternates untraced and traced ops;
  * the per-layer metrics come from the traced ops and the difference in
  * ops/s between the two kinds is the tracing overhead.
  */
object Main {
  private val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, result: File, spans: File, size: Option[Int])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("result")),
      new File(need("spans")), m.get("size").map(_.toInt))
  }

  private val cores = Runtime.getRuntime.availableProcessors()

  private def session(work: File): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.ShortCircuitExists.install(spark)
    spark
  }

  /** One timed op. `latency` covers only the call into the library. */
  final class Op[P, O](val index: Int, val p: P, val traced: Boolean) {
    var out: Option[O] = None
    var latency = 0.0
    var error: Option[String] = None
    /** Persisted RDDs the op added and left behind. */
    var cachedLeft = 0
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    run(Workload(a.workload, a.seed, a.size), a)
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
  }

  private def run[P, O](w: Workload[P, O], a: Args): Unit = {
    val data = new File(a.work, "data")
    var spark: SparkSession = null
    var opIdx = 0

    // A traced op records spans and task counters around the served call.
    def runOp(t: Tracer, traced: Boolean): Op[P, O] = {
      val op = new Op[P, O](opIdx, w.prepare(opIdx), traced)
      t.op = opIdx
      opIdx += 1
      val cached = spark.sparkContext.getPersistentRDDs.size
      if (traced) t.start()
      val cpu0 = os.getProcessCpuTime
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      try op.out = Some(t.span("op")(w.run(op.p, t)))
      catch { case e: Exception => op.error = Some(s"${e.getClass.getName}: ${e.getMessage}") }
      op.latency = (System.nanoTime() - t0) / 1e9
      op.cachedLeft = spark.sparkContext.getPersistentRDDs.size - cached
      System.err.println(f"[perfbench] op ${op.index}${if (traced) " traced" else ""} " +
        f"${op.latency}%.3fs cpu ${(os.getProcessCpuTime - cpu0) / 1e9}%.3fs " +
        f"gc ${gcMs() - gc0}ms")
      if (traced) t.stop()
      op
    }

    // Set-up: fresh session and generated inputs, repeated so the
    // reported figure is a median; the last session serves the run and
    // takes the warm-up ops, whose time is added to that median.
    val setupTimes = (0 until SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(a.work)
      w.setup(spark, data)
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val w0 = System.nanoTime()
    val warm = (0 until w.warmups).map(_ => runOp(tracer, traced = false).latency)
    val warmupS = (System.nanoTime() - w0) / 1e9
    def storageMb(): Double = {
      org.apache.spark.ListenerBusDrain(sc)
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
    }
    val storageBefore = storageMb()
    val measured = {
      val ops = ArrayBuffer.empty[Op[P, O]]
      val start = System.nanoTime()
      while ((System.nanoTime() - start) / 1e9 < a.seconds)
        ops += runOp(tracer, traced = a.trace && ops.size % 2 == 1)
      ops.toSeq
    }
    val storageAfter = storageMb()
    val loopS = (System.nanoTime() - w0) / 1e9 - warmupS
    val (traced, plain) = measured.partition(_.traced)
    // The isolated kernel calls on each traced op's inputs run after the
    // timed loop, so they cannot slow the ops that follow them.
    traced.foreach { op =>
      tracer.op = op.index
      tracer.start()
      try w.isolate(op.p, tracer)
      catch { case e: Exception =>
        op.error = op.error.orElse(Some(s"isolated kernel: ${e.getClass.getName}: ${e.getMessage}"))
      }
      tracer.stop()
    }
    tracer.write(a.spans.toPath)

    val c0 = System.nanoTime()
    measured.foreach { op =>
      if (op.error.isEmpty) op.error =
        try w.check(op.p, op.out.get)
        catch { case e: Exception => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
      op.error.foreach(e => System.err.println(s"[perfbench] op ${op.index} failed: $e"))
    }
    val checkS = (System.nanoTime() - c0) / 1e9
    val failed = measured.count(_.error.nonEmpty)
    val okPairs = measured.filter(_.error.isEmpty).map(op => (op.p, op.out.get))

    def opsPerS(ops: Seq[Op[P, O]]) =
      ops.count(_.out.nonEmpty) / math.max(1e-9, ops.map(_.latency).sum)
    val lat = plain.filter(_.out.nonEmpty).map(_.latency).sorted
    val n = lat.size

    val report = ArrayBuffer.empty[(String, Double, String)]
    report += (("ops_per_s", opsPerS(plain), "ops/s"))
    report += (("latency_p50_s", median(lat), "s"))
    report += (("setup_s", median(setupTimes) + warmupS, "s"))
    report += (("storage_mb_per_op", (storageAfter - storageBefore) / math.max(1, measured.size),
      "MB/op"))
    val e2e = report.map(_._1).toSet
    // The tail is the highest percentile with ten samples beyond it; it
    // lies above the median only from 21 ops on.
    if (n >= 21) report += (("latency_tail_s", lat(n - 11), "s"))
    report += (("storage_mb", storageAfter, "MB"))
    report += (("failed_ratio", failed.toDouble / math.max(1, measured.size), "fraction"))
    report ++= w.extra(okPairs)
    println(s"[perfbench] ${a.workload} seed=${a.seed} ops=$n " +
      (if (n >= 21) f"tail=p${100.0 * (n - 10) / n}%.1f" else "tail=n/a (fewer than 21 ops)") +
      s" setup_reps=${setupTimes.map(x => f"$x%.2f").mkString(",")} " +
      s"warmups=${warm.size} (${warm.map(x => f"$x%.2f").mkString(",")}) " +
      f"in $warmupS%.2fs loop=$loopS%.2fs checks=$checkS%.2fs")
    report.foreach { case (k, v, u) => println(f"[perfbench] $k%-18s $v%.6f $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) report.filter(r => e2e(r._1)).toSeq
      else Layers.report(w, tracer, traced, opsPerS(plain), opsPerS(traced), cores, okPairs)
    if (a.trace) metrics.foreach { case (k, v, u) => println(f"[perfbench] $k%-36s $v%.6f $u") }

    spark.stop()
    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    val attempted = measured.size
    java.nio.file.Files.writeString(a.result.toPath,
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": {$json}}""")
  }
}
