package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.metacat.ParquetCatalog
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Write-path SOAK: W concurrent writers drive a MOR catalog through
  * `total` commits while a maintenance thread runs checkpoint + vacuum
  * on a fixed cadence — the always-on deployment shape, measured for
  * CURVES rather than points: per-window commit throughput, live-read
  * latency, and claim-path listings per commit, reported every window
  * so any super-linear degradation with catalog age is visible.
  *
  * The r10 artifacts measured the protocol to 256 commits and 8
  * writers as points; this probe answers "does anything grow with
  * commit COUNT when maintenance runs on a schedule?" — the property a
  * catalog taking thousands of commits per day actually needs. Writers
  * patch DISJOINT fids (the keyed-OCC scale path; the serialized
  * intersecting path is ConcurrencyProbe's --overlap arm).
  *
  *   sbt "runMain graft.SoakProbe [nFiles total writers ckptEvery]"
  */
object SoakProbe {
  def main(args: Array[String]): Unit = {
    val nFiles = if (args.nonEmpty) args(0).toInt else 100000
    val total = if (args.length > 1) args(1).toInt else 1000
    val writers = if (args.length > 2) args(2).toInt else 4
    val ckptEvery = if (args.length > 3) args(3).toInt else 64
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val root = java.nio.file.Files.createTempDirectory("graft_soak_").toString
    val seed = new ParquetCatalog(spark, root)
    seed.declareFiles(spark.range(nFiles.toLong).select(
      format_string("P%09d", col("id")).as("fid"),
      format_string("ns%d", col("id") % 4).as("namespace"),
      format_string("f_%d.dat", col("id")).as("name"),
      format_string("{\"core.run\":%d}", col("id") % 1000).as("metadata_json"),
      lit("probe").as("creator"),
      to_timestamp(lit("2026-03-01 00:00:00")).as("created_timestamp"),
      (col("id") * 10).as("size")))

    val perWriter = total / writers
    val done = new java.util.concurrent.atomic.AtomicLong(0L)
    val stopMaint = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintCat = new ParquetCatalog(spark, root)
    val maintenance = Future {
      var lastCkptAt = 0L
      var cycles = 0
      while (!stopMaint.get()) {
        val d = done.get()
        if (d - lastCkptAt >= ckptEvery) {
          maintCat.checkpointFilesLog(); maintCat.vacuumFilesLog()
          lastCkptAt = d
          cycles += 1
        } else Thread.sleep(100L)
      }
      cycles
    }

    val window = math.max(1, total / 8)
    val reader = new ParquetCatalog(spark, root)
    @volatile var windowStart = System.nanoTime()
    @volatile var windowListings = graft.metacat.OccLog.listings.get()
    val report = new java.util.concurrent.atomic.AtomicLong(window.toLong)
    def maybeReport(): Unit = {
      val d = done.incrementAndGet()
      val bar = report.get()
      if (d >= bar && report.compareAndSet(bar, bar + window)) {
        val now = System.nanoTime()
        val secs = (now - windowStart) / 1e9
        windowStart = now
        val lst = graft.metacat.OccLog.listings.get()
        val perCommit = (lst - windowListings).toDouble / window
        windowListings = lst
        val t0 = System.nanoTime()
        val n = reader.files.count()
        val readS = (System.nanoTime() - t0) / 1e9
        println(f"SOAK commits=$d%5d  window-throughput=${window / secs}%5.2f c/s  " +
          f"listings/commit=$perCommit%6.1f  live-read=$readS%5.2f s  rows=$n")
      }
    }

    val t0 = System.nanoTime()
    val bursts = (0 until writers).map { i =>
      val cat = new ParquetCatalog(spark, root)
      Future {
        for (k <- 0 until perWriter) {
          cat.updateFileMeta(Seq(f"P${(i * perWriter + k) % nFiles}%09d"),
            s"""{"opt.w${i}_$k":$k}""")
          maybeReport()
        }
      }
    }
    Await.result(Future.sequence(bursts), 6.hours)
    stopMaint.set(true)
    val cycles = Await.result(maintenance, 10.minutes)
    val wall = (System.nanoTime() - t0) / 1e9
    val commits = writers * perWriter
    val fresh = new ParquetCatalog(spark, root)
    // protocol sanity: every commit present (dense through checkpoints)
    assert(fresh.currentLogSeq() == commits.toLong,
      s"expected $commits dense seqs, got ${fresh.currentLogSeq()}")
    val audit = graft.metacat.Fsck.audit(fresh).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("mor_seq_gap") == 0L && audit("mor_orphaned_claim") == 0L,
      s"protocol rows flagged after soak: $audit")
    println(f"SOAK TOTAL commits=$commits wall=$wall%6.1f s  " +
      f"throughput=${commits / wall}%5.2f c/s  maintenance-cycles=$cycles  " +
      f"final-read=${ {val t=System.nanoTime(); fresh.files.count(); (System.nanoTime()-t)/1e9} }%5.2f s")
    spark.stop()
  }
}
