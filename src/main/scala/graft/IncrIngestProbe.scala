package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Day-N incremental-ingest curve (r14; r13 verdict Next-round #5): the
  * central scale claim of the incremental-dedup store
  * ([[graft.metacat.DedupLog]]) is that per-batch cost is O(batch) —
  * independent of how big the persisted corpus has grown — because the
  * corpus is probed through its NARROW signature index and its text is
  * fetched only for verified candidates. This probe measures it: K
  * sequential batches ingest into one fresh store, and the per-batch wall
  * must stay flat while the corpus grows K-fold.
  *
  * Batches split by doc_id stride so every batch is the same size and
  * carries the same near-dup density (ScaleData replica suffixing keeps
  * cross-replica Jaccard ~0.17, so admissions stay ~uniform).
  *
  *   scripts/run.sh graft.IncrIngestProbe [docsParquet] [K]
  *
  * Prints one `INCRINGEST batch=<k> wall=<s> corpus_rows=<n>` line per
  * batch plus a trailing `INCRINGEST-SUMMARY` line with the flatness
  * ratio (median of last 3 walls / median of first 3).
  */
object IncrIngestProbe {
  def main(args: Array[String]): Unit = {
    val docsFile = args.headOption.getOrElse("target/scale10x/documents.parquet")
    val k = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(docsFile).select("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_incringest_")
    val dl = new graft.metacat.DedupLog(spark, s"$out/store")
    val walls = (0 until k).map { b =>
      val batch = docs.filter(pmod(col("doc_id"), lit(k)) === b)
      val t0 = System.nanoTime()
      dl.ingest(batch, b.toLong)
      val wall = (System.nanoTime() - t0) / 1e9
      val rows = dl.corpus().count()
      println(f"INCRINGEST batch=$b%2d wall=$wall%.2f corpus_rows=$rows")
      wall
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val ratio = med(walls.takeRight(3)) / med(walls.take(3))
    println(f"INCRINGEST-SUMMARY batches=$k " +
      f"first3_med=${med(walls.take(3))}%.2f last3_med=${med(walls.takeRight(3))}%.2f " +
      f"flatness=${ratio}%.2fx")
    org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    spark.stop()
  }
}
