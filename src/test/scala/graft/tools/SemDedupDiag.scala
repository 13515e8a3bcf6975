package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only: quantify the fixed-k SemDeDup degeneration at the
  * second decade (BASELINE.md) — dropped counts + wall clock for
  * fixed k=16 vs corpus-sized k on the sf10 embeddings blow-up.
  */
object SemDedupDiag {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (dir <- Seq("/tmp/graft_sf1", "/tmp/graft_sf10")) {
      val em = spark.read.parquet(s"$dir/embeddings.parquet")
      val n = em.count()
      def run(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        val kept = df.count()
        println(f"$dir $name%-18s n=$n%7d kept=$kept%7d dropped=${n - kept}%6d ${(System.nanoTime()-t0)/1e9}%7.1fs")
      }
      run("fixed k=16")(graft.ext.Similarity.semDedup(
        em, col("vec_id"), col("embedding"), k = 16, iters = 2, tau = 0.42, quantize = Some(9)))
      run("auto")(graft.ext.Similarity.semDedupAuto(
        em, col("vec_id"), col("embedding"), iters = 2, tau = 0.42, quantize = Some(9)))
    }
    spark.stop()
  }
}
