package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Cross-log atomic transactions ([[TxnLog]]): multi-log mutations —
  * removeFiles (edges ⊕ members ⊕ files), removeDataset (admin ⊕
  * members) — must be all-or-nothing under crashes at EVERY protocol
  * seam, and a catalog snapshot captured during a storm of them must
  * never straddle one (some legs inside the cut, some outside).
  *
  * Proven here:
  *  - kill-point injection at every recoverable seam: a crash BEFORE
  *    the commit point rolls back (nothing of the mutation visible,
  *    all seq spaces dense); a crash AT/AFTER it rolls forward (the
  *    full mutation visible after recovery) — for both removeFiles
  *    and removeDataset
  *  - a successor blocked on a dead transaction's claim heals it
  *    through the publish-timeout recovery hook instead of failing
  *  - seeded differential crash fuzz: random mutations with random
  *    kills; after recovery the catalog equals the serial model that
  *    applied exactly the committed mutations
  *  - snapshot-vs-mutation storm: every captured cut sees each removed
  *    fid fully present or fully gone across all three views */
class TxnSpec extends SparkTestBase with OccFailureCapture {

  private def newRoot(): String =
    registerRoot(Files.createTempDirectory("graft-txn-").toString)

  /** n files F0..F(n-1), all members of ds:d, edges Fi -> F(i+1) */
  private def seeded(n: Int): ParquetCatalog = {
    import spark.implicits._
    val cat = new ParquetCatalog(spark, newRoot())
    cat.createNamespace("ns")
    cat.createDataset("ds", "d")
    val rows = (0 until n).map { i =>
      (s"F$i", "ns", s"f_$i.dat", s"""{"core.run":$i}""", "t", 10L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-03-01 00:00:00")))
    cat.declareFiles(rows, dataset = Some(("ds", "d")))
    cat.addProvenance((0 until n - 1).map(i => (s"F$i", s"F${i + 1}"))
      .toDF("parent_fid", "child_fid"))
    cat
  }

  private def state(cat: ParquetCatalog): (Set[String], Set[String], Set[String]) = (
    cat.files.select("fid").collect().map(_.getString(0)).toSet,
    cat.filesDatasets.select("fid").collect().map(_.getString(0)).toSet,
    cat.parentChild.select(concat_ws(">", col("parent_fid"), col("child_fid")))
      .collect().map(_.getString(0)).toSet)

  test("a primary leg off the designated primary log is rejected up front") {
    // deadlock-freedom rests on every primary living on ONE log (r14,
    // ADVICE): a primary on any other log must fail fast as a contract
    // violation, not 120 s later as a spurious crashed-writer timeout
    import org.apache.spark.sql.types._
    val root = newRoot()
    val schema = StructType(Seq(StructField("k", StringType)))
    def mkLog(n: String) = new OccLog(spark, root, n, schema, Some(df => df))
    val txns = new TxnLog(spark, root,
      Map("files_log" -> mkLog("files_log"), "members_log" -> mkLog("members_log")),
      primaryLog = "files_log")
    import spark.implicits._
    val e = intercept[IllegalArgumentException] {
      txns.run(Seq(
        TxnLog.Leg("members_log", "up", None, () => Seq("a").toDF("k"),
          primary = true),
        TxnLog.Leg("files_log", "up", None, () => Seq("b").toDF("k"))))
    }
    assert(e.getMessage.contains("primary log"))
  }

  test("removeFiles: kill at every recoverable seam, recovery restores atomicity") {
    val rollbackSeams = Seq("after-intent", "after-stage:edges_log",
      "after-stage:members_log", "after-stage:files_log")
    val forwardSeams = Seq("after-commit-flip", "after-publish:edges_log",
      "after-publish:members_log", "after-publish:files_log")
    for (seam <- rollbackSeams ++ forwardSeams) {
      val cat = seeded(6)
      val before = state(cat)
      cat.txnFailpoint(Some(seam))
      val killed = intercept[Throwable] { cat.removeFiles(Seq("F2", "F3")) }
      assert(killed.getMessage.contains("txn failpoint"), s"seam $seam: $killed")
      cat.recoverTxns(force = true)
      val after = state(cat)
      if (rollbackSeams.contains(seam)) {
        assert(after == before, s"seam $seam: rollback must be invisible")
        // and the catalog is fully usable afterwards (seq spaces dense)
        cat.removeFiles(Seq("F2", "F3"))
      }
      // at/after the commit point the mutation must be FULLY applied
      val done = state(cat)
      assert(done._1 == before._1 -- Set("F2", "F3"), s"seam $seam files")
      assert(done._2 == before._2 -- Set("F2", "F3"), s"seam $seam members")
      assert(done._3 == before._3.filterNot(e =>
        e.contains("F2") || e.contains("F3")), s"seam $seam edges")
      val audit = Fsck.audit(cat).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(audit.forall(_._2 == 0L),
        s"seam $seam: fsck not green: ${audit.filter(_._2 != 0L)}")
    }
  }

  test("removeDataset: rollback and roll-forward seams") {
    // rollback seam: nothing visible
    val cat = seeded(4)
    cat.txnFailpoint(Some("after-stage:admin_log"))
    intercept[Throwable] { cat.removeDataset("ds", "d") }
    cat.recoverTxns(force = true)
    assert(cat.datasets.filter(col("name") === "d").count() == 1L)
    assert(state(cat)._2.nonEmpty, "memberships must survive a rollback")
    // roll-forward seam: dataset AND memberships gone together
    cat.txnFailpoint(Some("after-publish:admin_log"))
    intercept[Throwable] { cat.removeDataset("ds", "d") }
    cat.recoverTxns()
    assert(cat.datasets.filter(col("name") === "d").count() == 0L)
    assert(state(cat)._2.isEmpty, "membership wildcard must land with the drop")
    assert(state(cat)._1.size == 4, "files themselves stay")
  }

  test("updateFile with metadata + replace-edges: kill at every seam, atomic either way") {
    // r13: the primary-leg protocol — the files leg FOLDS over
    // predecessor state (metadata merge), the edges leg is literal; a
    // crash must never leave new metadata with old provenance or vice
    // versa (the r12 gap: two separate OCC commits could be split by a
    // crash or a snapshot)
    def parentsOf(cat: ParquetCatalog, f: String): Set[String] =
      cat.parentChild.filter(col("child_fid") === f)
        .select("parent_fid").collect().map(_.getString(0)).toSet
    def tagOf(cat: ParquetCatalog, f: String): Option[Long] =
      cat.files.filter(col("fid") === f)
        .select(expr("try_variant_get(metadata, \"$['opt.tag']\", 'long')"))
        .collect().headOption.flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val rollbackSeams = Seq("after-intent", "after-stage:edges_log",
      "after-stage:files_log")
    val forwardSeams = Seq("after-commit-flip", "after-publish:edges_log",
      "after-publish:files_log")
    for (seam <- rollbackSeams ++ forwardSeams) {
      val cat = seeded(6)
      assert(parentsOf(cat, "F2") == Set("F1") && tagOf(cat, "F2").isEmpty)
      cat.txnFailpoint(Some(seam))
      val killed = intercept[Throwable] {
        cat.updateFile("F2", metadataJson = Some("""{"opt.tag":7}"""),
          parents = Some(Seq("F0", "F4")), mode = "replace")
      }
      assert(killed.getMessage.contains("txn failpoint"), s"seam $seam: $killed")
      cat.recoverTxns(force = true)
      val (p, t) = (parentsOf(cat, "F2"), tagOf(cat, "F2"))
      if (rollbackSeams.contains(seam)) {
        assert(p == Set("F1") && t.isEmpty,
          s"seam $seam: rollback must leave metadata AND provenance untouched, got parents=$p tag=$t")
        // catalog fully usable after the rollback (all seq spaces dense)
        cat.updateFile("F2", metadataJson = Some("""{"opt.tag":7}"""),
          parents = Some(Seq("F0", "F4")), mode = "replace")
      } else {
        assert(p == Set("F0", "F4") && t.contains(7L),
          s"seam $seam: roll-forward must apply metadata AND provenance together, got parents=$p tag=$t")
      }
      // either way the final state is the fully-applied mutation, and
      // replace touched ONLY the parent side (child edge F2>F3 intact)
      assert(parentsOf(cat, "F2") == Set("F0", "F4"))
      assert(parentsOf(cat, "F3") == Set("F2"), s"seam $seam: child side leaked")
      val audit = Fsck.audit(cat).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(audit.forall(_._2 == 0L),
        s"seam $seam: fsck not green: ${audit.filter(_._2 != 0L)}")
    }
    // add-update mode: the txn stages literal adds (no wildcard); a
    // roll-forward keeps every pre-existing edge
    val cat = seeded(6)
    cat.txnFailpoint(Some("after-commit-flip"))
    intercept[Throwable] {
      cat.updateFile("F2", metadataJson = Some("""{"opt.more":1}"""),
        children = Some(Seq("F5")))
    }
    cat.recoverTxns(force = true)
    assert(cat.parentChild.filter(col("parent_fid") === "F2")
      .select("child_fid").collect().map(_.getString(0)).toSet == Set("F3", "F5"))
    assert(parentsOf(cat, "F2") == Set("F1"), "add-update must not drop edges")
  }

  test("declare with dataset: kill at every seam, files and membership land together") {
    // r13: declareFiles(dataset=Some) commits its base appends (files +
    // files_datasets) and any log legs as ONE transaction with
    // base-append legs — a crash can no longer leave declared files
    // split from their target dataset (r12 What's missing #1b)
    import spark.implicits._
    def batch(ids: Seq[Int]) = ids.map { i =>
      (s"D$i", "ns", s"d_$i.dat", s"""{"core.run":$i}""", "t", 50L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-03-01 00:00:00")))
    val rollbackSeams = Seq("after-intent", "after-stage:base-files_datasets",
      "after-stage:base-files")
    val forwardSeams = Seq("after-commit-flip",
      "after-publish:base-files_datasets", "after-publish:base-files")
    for (seam <- rollbackSeams ++ forwardSeams) {
      val cat = seeded(3)
      cat.txnFailpoint(Some(seam))
      val killed = intercept[Throwable] {
        cat.declareFiles(batch(Seq(10, 11)), dataset = Some(("ds", "d")))
      }
      assert(killed.getMessage.contains("txn failpoint"), s"seam $seam: $killed")
      cat.recoverTxns(force = true)
      val (files, members, _) = state(cat)
      if (rollbackSeams.contains(seam)) {
        assert(!files("D10") && !members("D10"),
          s"seam $seam: rollback must leave no trace of the declare")
        // catalog fully usable afterwards: the same declare succeeds
        cat.declareFiles(batch(Seq(10, 11)), dataset = Some(("ds", "d")))
      } else {
        assert(files("D10") && members("D10"),
          s"seam $seam: roll-forward must land files AND memberships")
      }
      val (f2, m2, _) = state(cat)
      assert(Seq("D10", "D11").forall(d => f2(d) && m2(d)), s"seam $seam")
      val audit = Fsck.audit(cat).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(audit.forall(_._2 == 0L),
        s"seam $seam: fsck not green: ${audit.filter(_._2 != 0L)}")
    }
    // the tombstone-resurrect mix: re-declaring a hard-deleted fid routes
    // that fid through a files-log leg and (its membership shadowed by
    // the removeFids wildcard) a members-log leg, alongside the base legs
    // — killed at the commit flip, recovery lands all four legs together
    val cat = seeded(4)
    cat.removeFiles(Seq("F1"))
    cat.txnFailpoint(Some("after-commit-flip"))
    intercept[Throwable] {
      cat.declareFiles(
        batch(Seq(20)).unionByName(
          seededRow("F1", 99).toDF("fid", "namespace", "name",
            "metadata_json", "creator", "size")
            .withColumn("created_timestamp",
              to_timestamp(lit("2026-03-01 00:00:00")))),
        dataset = Some(("ds", "d")))
    }
    cat.recoverTxns()
    val (files, members, _) = state(cat)
    assert(files("F1") && members("F1"),
      "tombstoned fid must resurrect through the log legs with the txn")
    assert(files("D20") && members("D20"))
    assert(Fsck.audit(cat).collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap.forall(_._2 == 0L))
  }

  private def seededRow(fid: String, i: Int) = {
    import spark.implicits._
    Seq((fid, "ns", s"f_rd_$i.dat", s"""{"core.run":$i}""", "t", 10L + i))
  }

  test("a successor blocked on a dead transaction heals it via the timeout hook") {
    System.setProperty("graft.occ.publishTimeoutMs", "1500")
    try {
      import spark.implicits._
      val cat = seeded(6)
      cat.txnFailpoint(Some("after-commit-flip")) // dies owning 3 claims
      intercept[Throwable] { cat.removeFiles(Seq("F1")) }
      // NO explicit recovery: a plain members-log commit conflicts with
      // the dead transaction's (unkeyed) members leg, waits out the
      // publish timeout, and the recovery hook must roll the whole
      // transaction FORWARD — then the successor applies on top
      cat.removeFrom(Seq("F4").toDF("fid"), "ds", "d")
      val s = state(cat)
      assert(!s._1.contains("F1") && !s._2.contains("F1"),
        "the dead committed transaction must have been rolled forward")
      assert(s._1.contains("F4") && !s._2.contains("F4"),
        "the healing successor's own mutation must apply")
    } finally System.clearProperty("graft.occ.publishTimeoutMs")
  }

  test("seeded differential crash fuzz: recovery converges to the committed prefix") {
    val rnd = new scala.util.Random(registerSeed(20260815L))
    val cat = seeded(30)
    // model: which fids the catalog should still hold
    var model = (0 until 30).map(i => s"F$i").toSet
    val seams = Seq("after-intent", "after-stage:members_log",
      "after-stage:files_log", "after-commit-flip",
      "after-publish:edges_log", "after-publish:members_log")
    var committedKills = 0
    var rolledBack = 0
    for (_ <- 0 until 24) {
      val live = model.toSeq.sorted
      if (live.size > 2) {
        val victim = live(rnd.nextInt(live.size))
        if (rnd.nextBoolean()) {
          val seam = seams(rnd.nextInt(seams.size))
          cat.txnFailpoint(Some(seam))
          intercept[Throwable] { cat.removeFiles(Seq(victim)) }
          cat.recoverTxns(force = true)
          if (seam == "after-commit-flip" || seam.startsWith("after-publish")) {
            model -= victim; committedKills += 1
          } else rolledBack += 1
        } else {
          cat.removeFiles(Seq(victim))
          model -= victim
        }
      }
    }
    assert(committedKills > 2 && rolledBack > 2, "fuzz must hit both arms")
    val s = state(cat)
    assert(s._1 == model, "files view must equal the committed-prefix model")
    assert(s._2 == model, "membership view must equal the model")
    assert(s._3.forall { e =>
      val Array(p, c) = e.split(">"); model(p) && model(c)
    }, "no edge may touch a removed fid")
    assert(Fsck.audit(cat).collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap.forall(_._2 == 0L), "fsck green after the storm")
  }

  test("snapshots during a removeFiles storm never straddle a transaction") {
    val n = 40
    val cat = seeded(n)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val remover = Future {
      // remove odd fids one transaction at a time (each spans 3 logs)
      (1 until n by 2).foreach { i =>
        if (!stop.get()) cat.removeFiles(Seq(s"F$i"))
      }
    }
    try {
      var straddleChecks = 0
      while (!remover.isCompleted && straddleChecks < 200) {
        val v = cat.snapshot()
        val files = cat.filesAsOf(v).select("fid")
          .collect().map(_.getString(0)).toSet
        val members = cat.filesDatasetsAsOf(v).select("fid")
          .collect().map(_.getString(0)).toSet
        val edgeTouch = cat.parentChildAsOf(v)
          .select(explode(array(col("parent_fid"), col("child_fid"))))
          .collect().map(_.getString(0)).toSet
        // consistency of the cut: a removed fid is gone from ALL views,
        // a live one present in all (edges: odd fids link to evens, so
        // an odd fid is live iff it still has a touching edge; the two
        // ends of the seeded chain only ever appear as one edge end)
        for (i <- 1 until n by 2) {
          val f = s"F$i"
          val inF = files(f); val inM = members(f); val inE = edgeTouch(f)
          assert(inF == inM && inM == inE,
            s"straddled cut for $f at $v: files=$inF members=$inM edges=$inE")
        }
        straddleChecks += 1
      }
      assert(straddleChecks > 0)
    } finally stop.set(true)
    Await.result(remover, 120.seconds)
    // final state: all odd fids gone everywhere
    val s = state(cat)
    assert((1 until n by 2).forall(i => !s._1(s"F$i") && !s._2(s"F$i")))
  }
}
