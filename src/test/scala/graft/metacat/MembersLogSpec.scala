package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** The MEMBERSHIP delta log (`ParquetCatalog.membersLog`):
  * addTo/removeFrom/removeFiles commit add/remove records under the same
  * OCC protocol as file-row mutations, and removeDataset retires a whole
  * dataset's membership with ONE wildcard tombstone — no membership-table
  * rewrite anywhere on the mutation path, so a rewrite can never destroy
  * a concurrent writer's append.
  *
  * Invariants proven here:
  *  - the folded view is IDENTICAL to an in-memory copy-on-write model
  *    (a pair set each mutation rewrites) across a seeded random
  *    mutation storm (the differential oracle), before and after
  *    compaction
  *  - wildcard precedence: remove_all kills base rows AND pair records
  *    below it; later adds out-sequence it
  *  - declare-into-dataset resurrects pairs shadowed by logged removes /
  *    wildcards (base appends carry implicit seq 0)
  *  - two concurrent writers' disjoint addTo bursts all survive (a
  *    rewrite-based remove racing an append is exactly the lost-update
  *    this log exists to prevent)
  *  - checkpoint + vacuum keep the view identical while commits keep
  *    flowing, and fsck's members-log protocol rows stay green */
class MembersLogSpec extends SparkTestBase {

  private def newRoot(): String =
    Files.createTempDirectory("graft-members-").toString

  private def declare(cat: ParquetCatalog, fids: Seq[Int],
      ds: Option[(String, String)] = None): Unit = {
    import spark.implicits._
    val rows = fids.map { i =>
      (f"M$i%04d", "alpha", s"m_$i.dat", s"""{"core.run":$i}""", "tester", 100L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-02-01 00:00:00")))
    cat.declareFiles(rows, dataset = ds)
  }

  private def fidSet(cat: ParquetCatalog, fids: Seq[Int]): DataFrame = {
    import spark.implicits._
    fids.map(i => f"M$i%04d").toDF("fid")
  }

  private def members(cat: ParquetCatalog): Seq[String] =
    cat.filesDatasets
      .select(concat_ws("|", col("fid"), col("dataset_namespace"), col("dataset_name")))
      .collect().map(_.getString(0)).sorted.toSeq

  test("differential storm: MOR folded view == COW rewrites, pre and post compaction") {
    val morRoot = newRoot()
    val mor = new ParquetCatalog(spark, morRoot)
    val dss = Seq("d0", "d1", "d2")
    dss.foreach(mor.createDataset("wds", _))
    declare(mor, 0 until 40, ds = Some(("wds", "d0")))
    // the model: the live (fid index, dataset) pairs, rewritten per mutation
    var model: Set[(Int, String)] = (0 until 40).map(i => (i, "d0")).toSet
    val r = new scala.util.Random(7L)
    for (_ <- 0 until 30) r.nextInt(4) match {
      case 0 =>
        val fids = Seq.fill(4)(r.nextInt(40)); val d = dss(r.nextInt(3))
        mor.addTo(fidSet(mor, fids), "wds", d)
        model ++= fids.map((_, d))
      case 1 =>
        val fids = Seq.fill(3)(r.nextInt(40)); val d = dss(r.nextInt(3))
        mor.removeFrom(fidSet(mor, fids), "wds", d)
        model --= fids.map((_, d))
      case 2 =>
        val d = dss(r.nextInt(3))
        mor.removeDataset("wds", d); mor.createDataset("wds", d)
        model = model.filterNot(_._2 == d)
      case 3 => // hard delete + re-declare keeps the fid space stable
        val i = r.nextInt(40)
        mor.removeFiles(Seq(f"M$i%04d"))
        declare(mor, Seq(i), ds = Some(("wds", "d0")))
        model = model.filterNot(_._1 == i) + ((i, "d0"))
    }
    val expect = model.toSeq.map { case (i, d) => f"M$i%04d|wds|$d" }.sorted
    assert(members(mor) == expect, "MOR view diverged from the model")
    // fold everything into the base: view unchanged, log gone, and a
    // FRESH instance (no caches) agrees
    mor.compactFilesLog()
    assert(members(mor) == expect, "compaction changed the membership view")
    assert(!new java.io.File(s"$morRoot/members_log").exists())
    assert(members(new ParquetCatalog(spark, morRoot)) == expect)
  }

  test("wildcard precedence and resurrect-by-declare") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    cat.createDataset("wds", "a")
    declare(cat, 0 until 10, ds = Some(("wds", "a")))
    // logged remove shadows the base pair; re-declare resurrects it
    cat.removeFrom(fidSet(cat, Seq(3)), "wds", "a")
    assert(!members(cat).contains("M0003|wds|a"))
    cat.removeFiles(Seq("M0003"))
    declare(cat, Seq(3), ds = Some(("wds", "a")))
    assert(members(cat).contains("M0003|wds|a"),
      "declare into a remove-shadowed pair must resurrect through the log")
    // wildcard kills base rows and pair records below it…
    cat.removeDataset("wds", "a")
    assert(members(cat).isEmpty)
    // …and a re-created dataset's declares route through the log (base
    // appends would be shadowed by the wildcard's seq)
    cat.createDataset("wds", "a")
    declare(cat, Seq(77), ds = Some(("wds", "a")))
    cat.addTo(fidSet(cat, Seq(0, 1)), "wds", "a")
    assert(members(cat) == Seq("M0000|wds|a", "M0001|wds|a", "M0077|wds|a"))
  }

  test("two concurrent writers: disjoint addTo bursts all survive") {
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
    a.createDataset("wds", "da")
    a.createDataset("wds", "db")
    declare(a, 0 until 24)
    val burstA = Future {
      for (k <- 0 until 12) a.addTo(fidSet(a, Seq(k)), "wds", "da")
    }
    val burstB = Future {
      for (k <- 12 until 24) b.addTo(fidSet(b, Seq(k)), "wds", "db")
    }
    Await.result(Future.sequence(Seq(burstA, burstB)), 10.minutes)
    val fresh = new ParquetCatalog(spark, root)
    val got = members(fresh)
    for (k <- 0 until 12)
      assert(got.contains(f"M$k%04d|wds|da"), s"writer A's add of $k lost")
    for (k <- 12 until 24)
      assert(got.contains(f"M$k%04d|wds|db"), s"writer B's add of $k lost")
    // the protocol allocated densely: fsck's members-log rows are green
    val audit = Fsck.audit(fresh).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("mor_members_seq_gap") == 0L &&
      audit("mor_members_orphaned_claim") == 0L &&
      audit("mor_members_unclaimed_publish") == 0L, s"protocol rows: $audit")
  }

  test("commits keep flowing during members-log checkpoint+vacuum maintenance") {
    val root = newRoot()
    val writer = new ParquetCatalog(spark, root)
    val maint = new ParquetCatalog(spark, root)
    writer.createDataset("wds", "da")
    declare(writer, 0 until 16)
    val burst = Future {
      for (k <- 0 until 16) writer.addTo(fidSet(writer, Seq(k)), "wds", "da")
    }
    val maintenance = Future {
      for (_ <- 0 until 4) { maint.checkpointMembersLog(); maint.vacuumMembersLog() }
    }
    Await.result(Future.sequence(Seq(burst, maintenance)), 10.minutes)
    maint.checkpointMembersLog(); maint.vacuumMembersLog()
    val fresh = new ParquetCatalog(spark, root)
    val got = members(fresh)
    for (k <- 0 until 16)
      assert(got.contains(f"M$k%04d|wds|da"), s"add of $k lost during maintenance")
    // raw segments fully folded into the checkpoint
    val raw = new java.io.File(s"$root/members_log")
    assert(!raw.isDirectory || raw.listFiles().forall(f =>
      !f.getName.matches("s\\d{20}")), "vacuum left covered raw segments")
  }

  test("membership time travel: snapshots by seq, horizon-bounded after vacuum") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    cat.createDataset("wds", "a")
    declare(cat, 0 until 10, ds = Some(("wds", "a")))
    cat.removeFrom(fidSet(cat, Seq(1, 2)), "wds", "a") // seq 1
    val mid = cat.currentMembersSeq()
    cat.removeDataset("wds", "a") // seq 2: wildcard
    cat.createDataset("wds", "a")
    cat.addTo(fidSet(cat, Seq(5)), "wds", "a") // seq 3
    def names(df: org.apache.spark.sql.DataFrame) =
      df.select("fid").collect().map(_.getString(0)).sorted.toSeq
    assert(names(cat.filesDatasetsAsOf(0L)) == (0 until 10).map(i => f"M$i%04d"))
    assert(names(cat.filesDatasetsAsOf(mid)) ==
      Seq(0, 3, 4, 5, 6, 7, 8, 9).map(i => f"M$i%04d"))
    assert(names(cat.filesDatasetsAsOf(2L)).isEmpty)
    assert(names(cat.filesDatasetsAsOf(cat.currentMembersSeq())) == Seq("M0005"))
    // vacuum bounds reachability, loudly
    cat.checkpointMembersLog(); cat.vacuumMembersLog()
    val ex = intercept[IllegalStateException](cat.filesDatasetsAsOf(mid).count())
    assert(ex.getMessage.contains("vacuum horizon"))
    assert(names(cat.filesDatasetsAsOf(cat.currentMembersSeq())) == Seq("M0005"))
  }

  test("compaction reclaims wildcard-tombstoned rows and restarts the seq space") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    cat.createDataset("wds", "a")
    cat.createDataset("wds", "keep")
    declare(cat, 0 until 20, ds = Some(("wds", "a")))
    cat.addTo(fidSet(cat, Seq(1, 2, 3)), "wds", "keep")
    cat.removeDataset("wds", "a") // one wildcard record, 20 rows retired
    val expect = members(cat)
    cat.compactFilesLog()
    assert(members(cat) == expect)
    // base physically holds only the surviving rows now
    assert(spark.read.parquet(s"$root/files_datasets").count() == 3L)
    assert(!new java.io.File(s"$root/members_log").exists())
    // post-compaction membership mutations start a fresh log
    cat.createDataset("wds", "a")
    cat.addTo(fidSet(cat, Seq(5)), "wds", "a")
    assert(members(cat).contains("M0005|wds|a"))
  }

  test("lost-add race: a removeDataset landing inside the append window is repaired") {
    // The check-then-append race: addTo's shadow check sees no wildcard,
    // a concurrent removeDataset commits its wildcard, THEN the base
    // append lands — the fresh seq-0 rows are dead under the wildcard and,
    // unlike a duplicate add, the loss is invisible to Fsck. The append
    // now RE-VALIDATES: shadowed rows are resurrected through the log
    // (the add serializes after the remove — a legal order, the two calls
    // overlap in real time). Injected deterministically via the seam.
    for (logAlreadyNonEmpty <- Seq(false, true)) {
      val root = newRoot()
      val a = new ParquetCatalog(spark, root)
      val b = new ParquetCatalog(spark, root)
      a.createDataset("wds", "d")
      declare(a, 0 until 6)
      if (logAlreadyNonEmpty) { // prod the log so addTo takes the non-empty path
        a.createDataset("wds", "other")
        a.addTo(fidSet(a, Seq(5)), "wds", "other")
        a.removeFrom(fidSet(a, Seq(5)), "wds", "other")
      }
      // instance b wipes + recreates the dataset exactly between a's
      // shadow check and a's base append
      a.onBeforeMembersAppend = () => {
        a.onBeforeMembersAppend = () => () // fire once (repair re-appends nothing)
        b.removeDataset("wds", "d")
        b.createDataset("wds", "d")
      }
      try a.addTo(fidSet(a, Seq(0, 1, 2)), "wds", "d")
      finally a.onBeforeMembersAppend = () => ()
      val got = members(new ParquetCatalog(spark, root))
        .filter(_.endsWith("|wds|d"))
      assert(got == Seq("M0000|wds|d", "M0001|wds|d", "M0002|wds|d"),
        s"adds lost to the racing wildcard (logAlreadyNonEmpty=$logAlreadyNonEmpty): $got")
    }
  }

  test("lost-add race: a pair-level removeFrom landing inside the append window is repaired") {
    // Same window, pair-level: W1 is a member, removeFrom(W1) commits
    // between a re-add's shadow check and its base append. The shadow
    // check ran when the remove record did not exist yet, so the fresh
    // base row would silently lose to it; the re-validation repairs it.
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
    a.createDataset("wds", "d")
    declare(a, 0 until 4)
    a.addTo(fidSet(a, Seq(1)), "wds", "d")
    a.removeFrom(fidSet(a, Seq(1)), "wds", "d") // seq 1: W1 out again
    // re-add W1: the first check routes it through the log (shadowed by
    // seq 1); meanwhile W0 base-appends — and b removes W1 AGAIN right
    // inside the window, plus W0 the same way
    a.onBeforeMembersAppend = () => {
      a.onBeforeMembersAppend = () => ()
      // b's removeFrom sees current members (none of W0/W1 yet) — so to
      // make a record that kills the incoming base row, b removes a pair
      // it CAN see: first b adds W0 itself, then removes it; a's append
      // of W0 then lands under b's remove record
      b.addTo(fidSet(b, Seq(0)), "wds", "d")
      b.removeFrom(fidSet(b, Seq(0)), "wds", "d")
    }
    try a.addTo(fidSet(a, Seq(0)), "wds", "d")
    finally a.onBeforeMembersAppend = () => ()
    val got = members(new ParquetCatalog(spark, root))
      .filter(_.endsWith("|wds|d"))
    assert(got.contains("M0000|wds|d"),
      s"re-add lost to the racing pair remove: $got")
  }
}
