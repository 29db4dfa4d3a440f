package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Checkpoint + vacuum for the merge-on-read delta log
  * (`ParquetCatalog.{checkpointFilesLog, vacuumFilesLog}`): the
  * maintenance path that bounds log-read cost WITHOUT compaction's
  * exclusive window. Delta-lake shape: the checkpoint materializes
  * latest-per-fid over the published prefix, readers serve from it plus
  * only the segments above it, vacuum drops the covered prefix — and
  * time travel below the vacuum horizon fails loudly instead of lying.
  *
  * The invariants proven here:
  *  - the LIVE view is byte-identical across checkpoint and vacuum, read
  *    through a fresh instance (no caches)
  *  - commits keep flowing DURING maintenance (no exclusive window), and
  *    sequence allocation continues densely past the vacuumed prefix
  *  - filesAsOf: full history pre-vacuum, horizon-bounded post-vacuum
  *  - compaction clears checkpoints (a stale one would poison the
  *    restarted sequence space)
  *  - fsck stays green on a vacuumed log, still flags real gaps above
  *    the horizon, and flags a PARTIAL vacuum (crashed mid-delete) */
class CheckpointSpec extends SparkTestBase with OccFailureCapture {

  private def newRoot(): String =
    registerRoot(Files.createTempDirectory("graft-ckpt-").toString)

  private def declare(cat: ParquetCatalog, n: Int): Unit = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      (s"W$i", "alpha", s"w_$i.dat", s"""{"core.run":$i}""", "tester", 100L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-02-01 00:00:00")))
    cat.declareFiles(rows)
  }

  private def seqDirs(root: String, t: String): Seq[Long] = {
    val d = new java.io.File(s"$root/$t")
    if (!d.isDirectory) Nil
    else d.listFiles().toSeq.map(_.getName).collect {
      case n if n.matches("s\\d{20}") => n.drop(1).toLong
    }
  }

  private def liveState(cat: ParquetCatalog): Seq[String] =
    cat.files
      .select(concat_ws("|", col("fid"), col("namespace"),
        col("size"), col("retired"), to_json(col("metadata"))))
      .collect().map(_.getString(0)).sorted.toSeq

  test("checkpoint + vacuum preserve the live view and bound the raw log") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    declare(cat, 8)
    for (k <- 0 until 6)
      cat.updateFileMeta(Seq(s"W${k % 8}"), s"""{"opt.m$k":$k}""", mode = "update")
    cat.retireFiles(Seq("W5"))
    cat.removeFiles(Seq("W6"))
    val before = liveState(cat)
    assert(cat.currentLogSeq() == 8L)

    val c = cat.checkpointFilesLog()
    assert(c == 8L)
    // pre-vacuum: raw segments still present, live view unchanged
    assert(seqDirs(root, "files_log").sorted == (1L to 8L))
    assert(liveState(new ParquetCatalog(spark, root)) == before)

    assert(cat.vacuumFilesLog() == 8L)
    // raw prefix + its claims gone; the checkpoint carries the state
    assert(seqDirs(root, "files_log").isEmpty)
    assert(seqDirs(root, "files_log_claims").isEmpty)
    assert(seqDirs(root, "files_log_ckpt") == Seq(8L))
    assert(liveState(new ParquetCatalog(spark, root)) == before)

    // allocation continues densely past the vacuumed prefix, and a fresh
    // instance folds checkpoint + new segments correctly
    cat.updateFileMeta(Seq("W0"), """{"opt.post":1}""", mode = "update")
    assert(cat.currentLogSeq() == 9L)
    assert(seqDirs(root, "files_log") == Seq(9L))
    val after = new ParquetCatalog(spark, root)
    val w0 = after.files.filter(col("fid") === "W0")
      .select(to_json(col("metadata"))).collect().head.getString(0)
    assert(w0.contains("\"opt.post\":1") && w0.contains("\"opt.m0\":0"))
  }

  test("time travel: full history pre-vacuum, horizon-bounded after") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    declare(cat, 4)
    cat.updateFileMeta(Seq("W1"), """{"opt.v":1}""", mode = "update") // seq 1
    val mid = cat.currentLogSeq()
    cat.updateFileMeta(Seq("W1"), """{"opt.v":2}""", mode = "update") // seq 2
    cat.retireFiles(Seq("W2")) // seq 3

    def vAt(seq: Long): Long =
      cat.filesAsOf(seq).filter(col("fid") === "W1")
        .select(expr("try_variant_get(metadata, \"$['opt.v']\", 'long')"))
        .collect().head.getLong(0)

    val c = cat.checkpointFilesLog()
    assert(c == 3L)
    // checkpoint alone must NOT collapse history — raw segments serve it
    assert(vAt(mid) == 1L && vAt(3L) == 2L)

    cat.vacuumFilesLog()
    // at/above the horizon: served from the checkpoint (+ nothing yet)
    assert(vAt(3L) == 2L)
    assert(cat.filesAsOf(0L).count() == 4L) // the untouched base
    // below it: gone, loudly
    val ex = intercept[IllegalStateException](cat.filesAsOf(mid).count())
    assert(ex.getMessage.contains("vacuum horizon"))

    // post-vacuum commits extend the reachable range normally
    cat.updateFileMeta(Seq("W1"), """{"opt.v":3}""", mode = "update") // seq 4
    assert(vAt(3L) == 2L && vAt(4L) == 3L)
  }

  test("checkpoint is idempotent; vacuum keeps only the newest checkpoint") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    declare(cat, 3)
    cat.updateFileMeta(Seq("W0"), """{"opt.a":1}""", mode = "update")
    assert(cat.checkpointFilesLog() == 1L)
    assert(cat.checkpointFilesLog() == 1L) // no new commits: same ckpt
    cat.updateFileMeta(Seq("W1"), """{"opt.b":2}""", mode = "update")
    assert(cat.checkpointFilesLog() == 2L) // supersedes
    assert(seqDirs(root, "files_log_ckpt").sorted == Seq(1L, 2L))
    cat.vacuumFilesLog()
    assert(seqDirs(root, "files_log_ckpt") == Seq(2L))
    val live = new ParquetCatalog(spark, root).files
      .select(to_json(col("metadata"))).collect().map(_.getString(0)).mkString
    assert(live.contains("\"opt.a\":1") && live.contains("\"opt.b\":2"))
  }

  test("commits keep flowing during checkpoint+vacuum maintenance (no exclusive window)") {
    val root = newRoot()
    val writer = new ParquetCatalog(spark, root)
    val maint = new ParquetCatalog(spark, root)
    declare(writer, 4)
    val nPatches = 10
    val burst = Future {
      for (k <- 0 until nPatches)
        writer.updateFileMeta(Seq(s"W${k % 4}"), s"""{"opt.w$k":$k}""", mode = "update")
    }
    val maintenance = Future {
      // maintenance loop racing the writer — each cycle checkpoints
      // whatever prefix has published and vacuums it
      for (_ <- 0 until 4) { maint.checkpointFilesLog(); maint.vacuumFilesLog() }
    }
    Await.result(Future.sequence(Seq(burst, maintenance)), 10.minutes)
    maint.checkpointFilesLog(); maint.vacuumFilesLog()

    // serializability witness: every writer patch survives maintenance
    val fresh = new ParquetCatalog(spark, root)
    val meta = fresh.files.select(to_json(col("metadata")))
      .collect().map(_.getString(0)).mkString
    for (k <- 0 until nPatches)
      assert(meta.contains(s"\"opt.w$k\":$k"), s"patch w$k lost during maintenance")
    // and the raw log is fully folded: nothing below the final horizon
    assert(seqDirs(root, "files_log").isEmpty)
    // the LOG protocol is clean after racing maintenance (the base-table
    // checks are out of scope here — the fixture declares no namespaces)
    assert(Fsck.audit(fresh)
      .filter(col("check_name").startsWith("mor_") && col("n_issues") > 0)
      .count() == 0)
  }

  test("compaction clears checkpoints and restarts the sequence space") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    declare(cat, 3)
    cat.updateFileMeta(Seq("W0"), """{"opt.x":1}""", mode = "update")
    cat.checkpointFilesLog()
    cat.vacuumFilesLog()
    cat.compactFilesLog()
    assert(seqDirs(root, "files_log_ckpt").isEmpty)
    assert(cat.currentLogSeq() == 0L)
    cat.updateFileMeta(Seq("W1"), """{"opt.y":2}""", mode = "update")
    assert(cat.currentLogSeq() == 1L) // restarted, no poison frontier
    val live = new ParquetCatalog(spark, root).files
      .select(to_json(col("metadata"))).collect().map(_.getString(0)).mkString
    assert(live.contains("\"opt.x\":1") && live.contains("\"opt.y\":2"))
  }

  test("fsck: vacuumed log is green; real gaps and partial vacuums still flag") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    declare(cat, 4)
    for (k <- 0 until 4)
      cat.updateFileMeta(Seq(s"W$k"), s"""{"opt.f$k":$k}""", mode = "update")
    cat.checkpointFilesLog()
    cat.vacuumFilesLog()
    cat.updateFileMeta(Seq("W0"), """{"opt.g":9}""", mode = "update") // seq 5
    cat.updateFileMeta(Seq("W1"), """{"opt.h":9}""", mode = "update") // seq 6
    def issues(c: ParquetCatalog): Map[String, Long] =
      Fsck.audit(c).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val clean = issues(new ParquetCatalog(spark, root))
    assert(clean("mor_seq_gap") == 0L, s"vacuumed prefix misread as a gap: $clean")
    assert(clean("mor_orphaned_claim") == 0L && clean("mor_unclaimed_publish") == 0L)

    // a deleted commit ABOVE the horizon is a real gap and must flag —
    // once its claim marker is older than the publish timeout (a YOUNG
    // claim without a publish is a normal in-flight keyed commit and is
    // deliberately not flagged)
    val s5 = new java.io.File(s"$root/files_log/" + f"s${5L}%020d")
    assert(s5.isDirectory)
    s5.listFiles().foreach(_.delete()); s5.delete()
    assert(new java.io.File(s"$root/files_log_claims/" + f"s${5L}%020d")
      .setLastModified(System.currentTimeMillis() - 200000L))
    val gapped = issues(new ParquetCatalog(spark, root))
    assert(gapped("mor_seq_gap") == 1L)

    // PARTIAL vacuum (crashed mid-delete): rebuild, checkpoint, then
    // delete only a subset of the covered segments by hand — the horizon
    // does not engage (raw still reaches below the ckpt) and every
    // missing seq flags
    val root2 = newRoot()
    val cat2 = new ParquetCatalog(spark, root2)
    declare(cat2, 3)
    for (k <- 0 until 3)
      cat2.updateFileMeta(Seq(s"W$k"), s"""{"opt.p$k":$k}""", mode = "update")
    cat2.checkpointFilesLog()
    val s2 = new java.io.File(s"$root2/files_log/" + f"s${2L}%020d")
    s2.listFiles().foreach(_.delete()); s2.delete()
    assert(new java.io.File(s"$root2/files_log_claims/" + f"s${2L}%020d")
      .setLastModified(System.currentTimeMillis() - 200000L))
    val partial = issues(new ParquetCatalog(spark, root2))
    assert(partial("mor_seq_gap") == 1L, s"partial vacuum not flagged: $partial")
  }

  test("checkpoint bounds at the dense published prefix — a slow predecessor's late publish survives") {
    // The data-loss scenario the dense bound closes: seq 1 published,
    // seq 2 claimed by a slow-but-alive writer (any Spark write can
    // exceed the publish timeout under load), seq 3 hand-published as a
    // recovery no-op ABOVE the hole. A checkpoint folding to the raw max
    // (3) would cover seq 2 sight-unseen; when the slow writer later
    // publishes it BELOW the checkpoint, records() would never read it
    // and vacuum would delete it — a commit that returned success,
    // silently lost. The fold must stop at the dense prefix (1).
    import org.apache.spark.sql.types._
    val root = newRoot()
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("__op", StringType), StructField("__seq", LongType)))
    val log = new OccLog(spark, root, "tlog", schema, Some(OccLog.latestPerKey(Seq("k"))))
    import spark.implicits._
    log.commit(() => Seq(("a", 1L)).toDF("k", "v"), "upsert") // seq 1
    def seqName(s: Long) = f"s$s%020d"
    val claim2 = new java.io.File(s"$root/tlog_claims/${seqName(2)}")
    assert(claim2.createNewFile(), "simulated slow writer's claim")
    // operator hand-recovery: claim + empty no-op publish at seq 3
    assert(new java.io.File(s"$root/tlog_claims/${seqName(3)}").createNewFile())
    assert(new java.io.File(s"$root/tlog/${seqName(3)}").mkdirs())

    assert(log.densePublishedSeq() == 1L)
    assert(log.checkpoint() == 1L, "checkpoint must not fold past the hole")
    log.vacuum() // horizon 1: must not touch the in-flight seq 2

    // the slow writer finally publishes seq 2
    Seq(("b", 2L)).toDF("k", "v")
      .withColumn("__op", lit("upsert")).withColumn("__seq", lit(2L))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .write.parquet(s"$root/tlog/${seqName(2)}")

    val live = log.records().groupBy("k").agg(max_by(col("v"), col("__seq")).as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(live == Map("a" -> 1L, "b" -> 2L),
      s"late-published commit lost: $live")
    // the prefix is dense through 3 now — the next checkpoint covers it
    assert(log.checkpoint() == 3L)
    log.vacuum()
    val post = log.records().groupBy("k").agg(max_by(col("v"), col("__seq")).as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(post == Map("a" -> 1L, "b" -> 2L))
  }
}
