package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.metacat.ParquetCatalog

/** Log-growth probe for the merge-on-read catalog: measures how the LIVE
  * read degrades as commits accumulate, and what
  * `checkpointFilesLog + vacuumFilesLog` buy back — the maintenance path
  * an always-on multi-writer catalog runs instead of compaction's
  * exclusive window.
  *
  * Each commit is one tiny parquet directory; a read replays all of them
  * (listing + footer + task per segment dominates at high commit counts).
  * The checkpoint folds the prefix into ONE directory, so the read cost
  * flattens to O(base + commits-since-checkpoint) no matter how long the
  * catalog has been alive.
  *
  *   sbt "runMain graft.CheckpointProbe [nFiles nCommits ...]"
  */
object CheckpointProbe {
  def main(args: Array[String]): Unit = {
    val nFiles = if (args.nonEmpty) args(0).toInt else 200000
    val commitCounts =
      if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(64, 256)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timeS(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    for (k <- commitCounts) {
      val root = java.nio.file.Files.createTempDirectory("graft_cp_").toString
      val cat = new ParquetCatalog(spark, root)
      val rows = spark.range(nFiles.toLong).select(
        format_string("P%09d", col("id")).as("fid"),
        format_string("ns%d", col("id") % 4).as("namespace"),
        format_string("f_%d.dat", col("id")).as("name"),
        format_string("{\"core.run\":%d}", col("id") % 1000).as("metadata_json"),
        lit("probe").as("creator"),
        to_timestamp(lit("2026-03-01 00:00:00")).as("created_timestamp"),
        (col("id") * 10).as("size"))
      cat.declareFiles(rows)
      val listings0 = graft.metacat.OccLog.listings.get()
      val tCommits = timeS {
        for (i <- 0 until k)
          cat.updateFileMeta(Seq(f"P${i % nFiles}%09d"), s"""{"opt.c$i":$i}""")
      }
      // claim-path cost in directory LISTINGS per commit: each commit
      // pays maxClaimed (claims + ckpt dirs) + awaitPublished's pending
      // scan; the r11 fixes (memoized legacy seq, cached ckpt frontier,
      // backoff) bound it to a small constant instead of O(wait-iterations)
      val listingsPerCommit =
        (graft.metacat.OccLog.listings.get() - listings0).toDouble / k
      def readS(): Double = { // fresh instance: no warm caches
        val c = new ParquetCatalog(spark, root)
        timeS(assert(c.files.count() == nFiles.toLong))
      }
      val tRawRead = readS()
      val tCkpt = timeS(cat.checkpointFilesLog())
      val tCkptRead = readS() // served from ckpt + 0 segments (pre-vacuum)
      val tVacuum = timeS(cat.vacuumFilesLog())
      val tVacRead = readS()
      // keep committing after vacuum: the steady-state read
      for (i <- 0 until 8)
        cat.updateFileMeta(Seq(f"P${i}%09d"), s"""{"opt.post$i":$i}""")
      val tSteady = readS()
      println(f"CKPTPROBE n=$nFiles%8d commits=$k%4d  commit-burst=$tCommits%7.1f s  " +
        f"listings/commit=$listingsPerCommit%5.1f  " +
        f"read(raw-log)=$tRawRead%6.2f s  ckpt=$tCkpt%5.2f s  read(ckpt)=$tCkptRead%6.2f s  " +
        f"vacuum=$tVacuum%5.2f s  read(vacuumed)=$tVacRead%6.2f s  read(+8 commits)=$tSteady%6.2f s")
    }
    spark.stop()
  }
}
