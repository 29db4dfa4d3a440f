package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.metacat.ParquetCatalog
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Commit-throughput probe for the multi-writer OCC protocol: W catalog
  * instances on one root each issue M metadata patches concurrently, and
  * the probe reports aggregate commits/s per writer count.
  *
  * The writers patch DISJOINT fid sets, and fid-footprint commits are
  * KEYED (conflict-detection OCC): a commit waits only for unpublished
  * predecessors whose footprints intersect its own, so disjoint
  * mutations' Spark writes OVERLAP — aggregate throughput should now
  * SCALE with writers until CPU saturates, where the pre-keys protocol
  * held flat ~2 commits/s (every commit waited out every predecessor's
  * full compute). Intersecting footprints still serialize — the bar the
  * `MultiWriterSpec` same-fid storm pins. Pass `--overlap` to force all
  * writers onto ONE shared fid and measure the serialized path.
  *
  * Pass `--mixed` for the realistic third arm: every 4th commit touches
  * ONE shared fid (serializes) while the rest stay disjoint (overlap) —
  * the partial-contention profile a live catalog actually runs.
  *
  * Per arm the probe also reports claim-path LISTINGS per commit (from
  * [[graft.metacat.OccLog.listings]]; super-linear growth here is the
  * O(writers) scan the keyed protocol must not have) and the MAX single
  * commit latency (a starved collision-backoff loop shows up as one
  * commit paying seconds while the mean stays flat).
  *
  * Pass `--multi-jvm` (r13; r12 verdict Next-round #3) to run each
  * writer as its OWN driver process (own JVM, own SparkSession, shared
  * catalog root) — the single-JVM probe shares one local[32] scheduler
  * across all writers, so its aggregate-commits/s sag past 8 writers
  * measures harness contention, not the protocol; separate JVMs are the
  * real deployment shape ("every writer sees the 1-writer cost model"),
  * made testable. The parent seeds, spawns workers via scripts/run.sh
  * (SPARK_GRAFT_CPUS split evenly, floor 2), parses each worker's
  * commit-window stats from its output file, and verifies dense seqs.
  * Throughput uses the max worker commit-window (JVM+session startup
  * excluded), listings/commit sums the per-JVM counters.
  *
  *   sbt "runMain graft.ConcurrencyProbe [nFiles perWriter w1 w2 ...] [--overlap|--mixed|--multi-jvm]"
  */
object ConcurrencyProbe {
  /** child-process arm: one writer's burst in its own JVM. `mode` is
    * the contention shape (disjoint | overlap | mixed) — r13's worker
    * silently ran the disjoint burst whatever the parent was asked,
    * so `--overlap --multi-jvm` printed a line that LOOKED like the
    * serialized workload but measured the disjoint one. */
  private def worker(args: Array[String]): Unit = {
    val Array(root, idxS, perWriterS, nFilesS, cpusS, mode) = args
    val (idx, perWriter, nFiles) = (idxS.toInt, perWriterS.toInt, nFilesS.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpusS]")
      .config("spark.sql.shuffle.partitions", cpusS)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName(s"graft-cc-worker-$idx")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cat = new ParquetCatalog(spark, root)
    val l0 = graft.metacat.OccLog.listings.get()
    var maxNs = 0L
    val t0 = System.nanoTime()
    for (k <- 0 until perWriter) {
      // same fid rule as the single-JVM arm: overlap pins every commit
      // to the shared fid 0; mixed serializes every 4th commit on it
      val fid =
        if (mode == "overlap" || (mode == "mixed" && k % 4 == 3)) 0
        else (idx * perWriter + k) % nFiles
      val c0 = System.nanoTime()
      cat.updateFileMeta(Seq(f"P$fid%09d"), s"""{"opt.w${idx}_$k":$k}""")
      maxNs = math.max(maxNs, System.nanoTime() - c0)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"CCWORKER idx=$idx wall=$wall%.3f " +
      f"listings=${graft.metacat.OccLog.listings.get() - l0} " +
      f"maxCommit=${maxNs / 1e9}%.3f")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--worker")) { worker(args.drop(1)); return }
    val overlap = args.contains("--overlap")
    val mixed = args.contains("--mixed")
    val multiJvm = args.contains("--multi-jvm")
    val rest = args.filterNot(a =>
      a == "--overlap" || a == "--mixed" || a == "--multi-jvm")
    val nFiles = if (rest.nonEmpty) rest(0).toInt else 50000
    val perWriter = if (rest.length > 1) rest(1).toInt else 12
    val writerCounts =
      if (rest.length > 2) rest.drop(2).map(_.toInt).toSeq
      else Seq(1, 2, 4, 8, 16, 32)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    for (w <- writerCounts) {
      val root = java.nio.file.Files.createTempDirectory("graft_cc_").toString
      val seed = new ParquetCatalog(spark, root)
      seed.declareFiles(spark.range(nFiles.toLong).select(
        format_string("P%09d", col("id")).as("fid"),
        format_string("ns%d", col("id") % 4).as("namespace"),
        format_string("f_%d.dat", col("id")).as("name"),
        format_string("{\"core.run\":%d}", col("id") % 1000).as("metadata_json"),
        lit("probe").as("creator"),
        to_timestamp(lit("2026-03-01 00:00:00")).as("created_timestamp"),
        (col("id") * 10).as("size")))
      val commits = w * perWriter
      if (multiJvm) {
        val cpus = math.max(2, sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt / w)
        val outs = (0 until w).map(i =>
          java.nio.file.Files.createTempFile(s"graft_ccw_${i}_", ".out"))
        val procs = (0 until w).map { i =>
          val mode =
            if (overlap) "overlap" else if (mixed) "mixed" else "disjoint"
          val pb = new ProcessBuilder("bash", "scripts/run.sh",
            "graft.ConcurrencyProbe", "--worker", root, i.toString,
            perWriter.toString, nFiles.toString, cpus.toString, mode)
          pb.directory(new java.io.File("/root/repo"))
          pb.redirectErrorStream(true)
          pb.redirectOutput(outs(i).toFile)
          pb.start()
        }
        procs.foreach { p =>
          if (!p.waitFor(60, java.util.concurrent.TimeUnit.MINUTES))
            throw new IllegalStateException("cc worker timed out")
          require(p.exitValue() == 0, s"cc worker failed — see ${outs.mkString(",")}")
        }
        val W = "CCWORKER idx=(\\d+) wall=([0-9.]+) listings=(\\d+) maxCommit=([0-9.]+)".r
        val stats = outs.map { o =>
          val txt = new String(java.nio.file.Files.readAllBytes(o))
          W.findFirstMatchIn(txt).getOrElse(
            throw new IllegalStateException(s"no CCWORKER line in $o"))
        }
        val wall = stats.map(_.group(2).toDouble).max
        val perCommitListings = stats.map(_.group(3).toLong).sum.toDouble / commits
        val maxCommit = stats.map(_.group(4).toDouble).max
        val last = new ParquetCatalog(spark, root)
        assert(last.currentLogSeq() == commits.toLong,
          s"expected $commits dense seqs, got ${last.currentLogSeq()}")
        outs.foreach(o => java.nio.file.Files.deleteIfExists(o))
        val modeTag =
          if (overlap) "overlap" else if (mixed) "mixed" else "disjoint"
        println(f"CCPROBE-MJ mode=$modeTag writers=$w%2d  commits=$commits%4d  wall=$wall%6.1f s  " +
          f"throughput=${commits / wall}%5.2f commits/s  " +
          f"per-commit=${wall / commits}%5.2f s  " +
          f"listings/commit=$perCommitListings%6.1f  " +
          f"max-commit=$maxCommit%5.2f s  cpus/writer=$cpus")
      } else {
      val writers = (0 until w).map(_ =>
        new ParquetCatalog(spark, root))
      val maxCommitNs = new java.util.concurrent.atomic.AtomicLong(0L)
      val listings0 = graft.metacat.OccLog.listings.get()
      val t0 = System.nanoTime()
      val bursts = writers.zipWithIndex.map { case (cat, i) =>
        Future {
          for (k <- 0 until perWriter) {
            // mixed: every 4th commit serializes on the shared fid 0
            val fid =
              if (overlap || (mixed && k % 4 == 3)) 0
              else (i * perWriter + k) % nFiles
            val c0 = System.nanoTime()
            cat.updateFileMeta(Seq(f"P$fid%09d"), s"""{"opt.w${i}_$k":$k}""")
            val dt = System.nanoTime() - c0
            var cur = maxCommitNs.get()
            while (dt > cur && !maxCommitNs.compareAndSet(cur, dt))
              cur = maxCommitNs.get()
          }
        }
      }
      Await.result(Future.sequence(bursts), 60.minutes)
      val secs = (System.nanoTime() - t0) / 1e9
      val perCommitListings =
        (graft.metacat.OccLog.listings.get() - listings0).toDouble / commits
      // protocol sanity: dense seqs, no orphans (a lost commit would gap)
      val last = new ParquetCatalog(spark, root)
      assert(last.currentLogSeq() == commits.toLong,
        s"expected $commits dense seqs, got ${last.currentLogSeq()}")
      println(f"CCPROBE writers=$w%2d  commits=$commits%4d  wall=$secs%6.1f s  " +
        f"throughput=${commits / secs}%5.2f commits/s  " +
        f"per-commit=${secs / commits}%5.2f s  " +
        f"listings/commit=$perCommitListings%6.1f  " +
        f"max-commit=${maxCommitNs.get() / 1e9}%5.2f s")
      }
    }
    spark.stop()
  }
}
