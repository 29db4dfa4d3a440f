package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** The ADMIN (dimension-table) delta log (`ParquetCatalog.adminLog`): in
  * MOR mode every dataset / namespace / named-query / hierarchy /
  * category mutation commits to ONE shared OCC log, closing the last
  * concurrency delta vs the reference (which serializes the same tables
  * through Postgres transactions, `data_handler.py:287-363`). Checks run
  * INSIDE the commit closure, so they serialize across writers:
  * duplicate creates resolve to one winner + one loud rejection (the
  * reference's PK posture), racing metadata merges fold over each other,
  * and two edge adds that are individually acyclic but jointly circular
  * reject the second.
  *
  * Invariants proven here:
  *  - two-instance concurrent mutation storm is SERIALIZABLE: every
  *    writer's merge keys survive in the final dataset metadata
  *  - racing createDataset of one name: exactly one winner, one loud
  *    rejection, one surviving row
  *  - racing addDatasetEdge forming a cycle: second rejected
  *  - removeDataset tombstones the dataset row AND its hierarchy edges
  *    in ONE commit; recreate + re-add out-sequence the tombstones
  *  - the MOR dimension view equals COW's rewrites over the same
  *    mutation script (differential oracle), pre and post compaction
  *  - checkpoint + vacuum on the admin log keep the view identical while
  *    commits keep flowing; fsck admin-protocol rows stay green */
class DimsLogSpec extends SparkTestBase {

  private def newRoot(): String =
    Files.createTempDirectory("graft-dims-").toString

  private def dsState(cat: ParquetCatalog): Seq[String] =
    cat.datasets.select(concat_ws("|", col("namespace"), col("name"),
        col("frozen"), col("monotonic"), col("description"),
        to_json(col("metadata"))))
      .collect().map(_.getString(0)).sorted.toSeq

  private def dimState(cat: ParquetCatalog): Seq[String] = {
    val ds = dsState(cat)
    val ns = cat.namespaces.select(concat_ws("|", lit("ns"), col("name"),
        col("owner_user"), coalesce(col("description"), lit("-"))))
      .collect().map(_.getString(0)).toSeq
    val q = cat.queries.select(concat_ws("|", lit("q"), col("namespace"),
        col("name"), col("source")))
      .collect().map(_.getString(0)).toSeq
    val e = cat.datasetsParentChild.select(concat_ws("|", lit("e"),
        col("parent_namespace"), col("parent_name"),
        col("child_namespace"), col("child_name")))
      .collect().map(_.getString(0)).toSeq
    (ds ++ ns ++ q ++ e).sorted
  }

  test("two concurrent admin writers: every dataset-metadata patch survives (serializable)") {
    val root = newRoot()
    val a = new ParquetCatalog(spark, root, mergeOnRead = true)
    val b = new ParquetCatalog(spark, root, mergeOnRead = true)
    a.createDataset("dims", "d0")
    a.createDataset("dims", "d1")

    val perWriter = 6
    def burst(cat: ParquetCatalog, tag: String): Future[Unit] = Future {
      for (k <- 0 until perWriter)
        cat.updateDataset("dims", s"d${k % 2}",
          metadataJson = Some(s"""{"opt.$tag$k":$k}"""))
    }
    Await.result(Future.sequence(Seq(burst(a, "a"), burst(b, "b"))), 10.minutes)

    // serializable outcome: EVERY writer's merge keys present (a commit
    // computed from a stale snapshot would permanently drop the other
    // writer's keys)
    val meta = new ParquetCatalog(spark, root, mergeOnRead = true)
      .datasets.select(col("name"), to_json(col("metadata")).as("mj"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for (tag <- Seq("a", "b"); k <- 0 until perWriter) {
      val d = s"d${k % 2}"
      assert(meta(d).contains(s""""opt.$tag$k":$k"""),
        s"lost admin update opt.$tag$k on $d: ${meta(d)}")
    }
  }

  test("racing createDataset of one name: one winner, one loud rejection") {
    val root = newRoot()
    val a = new ParquetCatalog(spark, root, mergeOnRead = true)
    val b = new ParquetCatalog(spark, root, mergeOnRead = true)
    val results = Await.result(Future.sequence(Seq(a, b).map(cat => Future {
      try { cat.createDataset("dims", "same", metadataJson = """{"w.x":1}"""); "won" }
      catch { case e: IllegalArgumentException
          if e.getMessage.contains("already exists") => "rejected" }
    })), 5.minutes)
    assert(results.sorted == Seq("rejected", "won"), s"got $results")
    val rows = new ParquetCatalog(spark, root, mergeOnRead = true)
      .datasets.filter(col("name") === "same").count()
    assert(rows == 1L, s"expected exactly one surviving row, got $rows")
  }

  test("racing edge adds that are jointly circular: second rejected") {
    val root = newRoot()
    val a = new ParquetCatalog(spark, root, mergeOnRead = true)
    val b = new ParquetCatalog(spark, root, mergeOnRead = true)
    a.createDataset("dims", "x"); a.createDataset("dims", "y")
    val results = Await.result(Future.sequence(Seq(
      Future {
        try { a.addDatasetEdge("dims", "x", "dims", "y"); "ok" }
        catch { case e: IllegalArgumentException
            if e.getMessage.contains("circular") => "cycle" }
      },
      Future {
        try { b.addDatasetEdge("dims", "y", "dims", "x"); "ok" }
        catch { case e: IllegalArgumentException
            if e.getMessage.contains("circular") => "cycle" }
      })), 5.minutes)
    // either both raced into the serialized checks (one ok, one cycle) —
    // never both ok (a silent cycle in the hierarchy)
    assert(results.count(_ == "ok") == 1 && results.count(_ == "cycle") == 1,
      s"hierarchy cycle slipped through: $results")
    val edges = new ParquetCatalog(spark, root, mergeOnRead = true)
      .datasetsParentChild.count()
    assert(edges == 1L)
  }

  test("removeDataset tombstones dataset + hierarchy edges atomically; recreate out-sequences") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root, mergeOnRead = true)
    cat.createDataset("dims", "p")
    cat.createDataset("dims", "c")
    cat.addDatasetEdge("dims", "p", "dims", "c")
    // ONE admin seq carries both tombstones
    val before = cat.currentAdminSeq()
    cat.removeDataset("dims", "p")
    assert(cat.currentAdminSeq() == before + 1,
      "dataset + edge tombstones must share one commit")
    assert(cat.datasets.filter(col("name") === "p").count() == 0L)
    assert(cat.datasetsParentChild.count() == 0L)
    // recreate and re-link: the new rows out-sequence the tombstones
    cat.createDataset("dims", "p")
    cat.addDatasetEdge("dims", "p", "dims", "c")
    assert(cat.datasets.filter(col("name") === "p").count() == 1L)
    assert(cat.datasetsParentChild.count() == 1L)
    // named-query re-save REPLACES (upsert semantics)
    cat.saveNamedQuery("dims", "q1", "files from a:b")
    cat.saveNamedQuery("dims", "q1", "files from a:c")
    assert(cat.namedQuerySource("dims", "q1").contains("files from a:c"))
    assert(cat.queries.filter(col("name") === "q1").count() == 1L)
  }

  test("differential script: MOR dimension views == COW rewrites, pre and post compaction") {
    def script(cat: ParquetCatalog): Unit = {
      cat.createNamespace("dims", owner = "alice", description = "dim ns")
      cat.createDataset("dims", "a", metadataJson = """{"ds.kind":"raw"}""")
      cat.createDataset("dims", "b")
      cat.createDataset("dims", "c", frozen = true)
      cat.updateDataset("dims", "a",
        metadataJson = Some("""{"ds.kind":"clean","ds.v":2}"""),
        description = Some("updated a"))
      cat.updateDataset("dims", "b", frozen = Some(true), monotonic = Some(false))
      cat.updateDataset("dims", "c", frozen = Some(false))
      cat.updateDataset("dims", "c",
        metadataJson = Some("""{"ds.only":"x"}"""), metadataMode = "replace")
      cat.addDatasetEdge("dims", "a", "dims", "c")
      cat.addDatasetEdge("dims", "a", "dims", "b")
      cat.saveNamedQuery("dims", "q", "files from dims:a")
      cat.removeDataset("dims", "b")
      intercept[IllegalArgumentException](cat.createDataset("dims", "a"))
      intercept[IllegalArgumentException](cat.createNamespace("dims"))
      intercept[IllegalArgumentException](
        cat.addDatasetEdge("dims", "c", "dims", "a")) // cycle
    }
    val cowRoot = newRoot(); val morRoot = newRoot()
    val cow = new ParquetCatalog(spark, cowRoot)
    val mor = new ParquetCatalog(spark, morRoot, mergeOnRead = true)
    script(cow); script(mor)
    assert(dimState(mor) == dimState(cow),
      s"MOR dims diverged from COW:\n${dimState(mor)}\nvs\n${dimState(cow)}")
    val expect = dimState(mor)
    // maintenance: checkpoint + vacuum keep the view; compaction folds it
    mor.checkpointAdminLog(); mor.vacuumAdminLog()
    val reopened = new ParquetCatalog(spark, morRoot, mergeOnRead = true)
    assert(dimState(reopened) == expect)
    // commits keep flowing against the vacuumed log
    reopened.createDataset("dims", "late")
    assert(reopened.datasets.filter(col("name") === "late").count() == 1L)
    reopened.removeDataset("dims", "late")
    assert(dimState(reopened) == expect)
    reopened.compactFilesLog()
    assert(!new java.io.File(s"$morRoot/admin_log").exists())
    assert(dimState(new ParquetCatalog(spark, morRoot, mergeOnRead = true)) == expect)
    // fsck admin-protocol rows green throughout
    val audit = Fsck.audit(reopened).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Seq("mor_admin_seq_gap", "mor_admin_orphaned_claim",
      "mor_admin_unclaimed_publish").forall(audit(_) == 0L), s"got $audit")
  }

  test("seeded random dimension-mutation storm: MOR == COW at every checkpoint") {
    // the differential oracle over RANDOM admin histories — create/
    // update/remove/recreate cycles, edge add/remove interplay across
    // removals, named-query re-saves, duplicate and cycle rejections —
    // every op must produce the SAME outcome (state or exception) on
    // both storage modes, with MOR maintenance folded in mid-history
    val rnd = new scala.util.Random(
      sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(1107L))
    val cow = new ParquetCatalog(spark, newRoot())
    val morRoot = newRoot()
    val mor = new ParquetCatalog(spark, morRoot, mergeOnRead = true)
    val names = Seq("da", "db", "dc", "dd")

    def attempt(f: ParquetCatalog => Unit): Unit = {
      val r1 = try { f(cow); None } catch {
        case e: IllegalArgumentException => Some(e.getMessage.take(30)) }
      val r2 = try { f(mor); None } catch {
        case e: IllegalArgumentException => Some(e.getMessage.take(30)) }
      assert(r1 == r2, s"outcome diverged: cow=$r1 mor=$r2")
    }

    for (step <- 0 until 24) {
      // draw every random choice BEFORE attempt(): the closure runs once
      // per catalog, and an inner draw would give the two different ops
      rnd.nextInt(6) match {
        case 0 =>
          val n = names(rnd.nextInt(names.size))
          attempt(_.createDataset("fz", n,
            metadataJson = s"""{"fz.s":$step}"""))
        case 1 =>
          val n = names(rnd.nextInt(names.size))
          val mode = if (rnd.nextBoolean()) "update" else "replace"
          val fr = if (rnd.nextBoolean()) Some(rnd.nextBoolean()) else None
          attempt(_.updateDataset("fz", n,
            metadataJson = Some(s"""{"fz.k$step":$step}"""),
            metadataMode = mode, frozen = fr))
        case 2 =>
          val n = names(rnd.nextInt(names.size))
          attempt(_.removeDataset("fz", n))
        case 3 =>
          val p = names(rnd.nextInt(names.size))
          val c = names(rnd.nextInt(names.size))
          attempt(_.addDatasetEdge("fz", p, "fz", c))
        case 4 =>
          val q = s"q${rnd.nextInt(3)}"
          attempt(_.saveNamedQuery("fz", q, s"files from fz:x$step"))
        case 5 =>
          val ns = s"ns${rnd.nextInt(3)}"
          attempt(_.createNamespace(ns))
      }
      if (step % 6 == 5) {
        if (rnd.nextBoolean()) { mor.checkpointAdminLog(); mor.vacuumAdminLog() }
        assert(dimState(mor) == dimState(cow),
          s"step $step dims diverged:\n${dimState(mor)}\nvs\n${dimState(cow)}")
      }
    }
    mor.compactFilesLog() // folds the admin log into the base tables
    assert(dimState(mor) == dimState(cow))
    // a FRESH instance (no caches) reads the compacted state identically
    assert(dimState(new ParquetCatalog(spark, morRoot, mergeOnRead = true)) ==
      dimState(cow))
  }

  test("admin commits keep flowing during admin-log checkpoint+vacuum maintenance") {
    // the always-on shape for the dimension log too: writer commits race
    // a maintenance loop running checkpoint+vacuum — nothing lost, reads
    // correct throughout, protocol rows green after
    val root = newRoot()
    val w = new ParquetCatalog(spark, root, mergeOnRead = true)
    val m = new ParquetCatalog(spark, root, mergeOnRead = true)
    w.createDataset("dims", "race")
    val writer = Future {
      for (k <- 0 until 12)
        w.updateDataset("dims", "race", metadataJson = Some(s"""{"opt.k$k":$k}"""))
    }
    val maint = Future {
      for (_ <- 0 until 6) {
        m.checkpointAdminLog(); m.vacuumAdminLog()
        Thread.sleep(50L)
      }
    }
    Await.result(Future.sequence(Seq(writer, maint)), 10.minutes)
    m.checkpointAdminLog(); m.vacuumAdminLog()
    val meta = new ParquetCatalog(spark, root, mergeOnRead = true)
      .datasets.filter(col("name") === "race")
      .select(to_json(col("metadata"))).head().getString(0)
    for (k <- 0 until 12)
      assert(meta.contains(s""""opt.k$k":$k"""),
        s"admin commit k$k lost to the maintenance race: $meta")
    val audit = Fsck.audit(m).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("mor_admin_seq_gap") == 0L &&
      audit("mor_admin_orphaned_claim") == 0L, s"got $audit")
  }

  test("dataset flags and categories another instance changed bind on this instance's next check") {
    import spark.implicits._
    val root = newRoot()
    val a = new ParquetCatalog(spark, root, mergeOnRead = true)
    val b = new ParquetCatalog(spark, root, mergeOnRead = true)
    a.createDataset("dims", "shared")
    val rows = Seq(("S1", "dims", "s1.dat", """{"core.run":1}""", "t", 10L))
      .toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-01-01 00:00:00")))
    a.declareFiles(rows)
    // instance a has read the dataset and the (empty) category table
    a.addTo(Seq("S1").toDF("fid"), "dims", "shared")
    a.removeFrom(Seq("S1").toDF("fid"), "dims", "shared")
    // instance b freezes the dataset and restricts a category
    b.updateDataset("dims", "shared", frozen = Some(true))
    b.createCategory("core", restricted = true,
      definitionsJson = """{"run": {"type": "int"}}""")
    val frozen = intercept[IllegalArgumentException](
      a.addTo(Seq("S1").toDF("fid"), "dims", "shared"))
    assert(frozen.getMessage.contains("frozen"), frozen.getMessage)
    assert(a.filesDatasets.filter(col("dataset_name") === "shared").count() == 0L)
    val restricted = intercept[IllegalArgumentException](
      a.updateFileMeta(Seq("S1"), """{"core.other":1}"""))
    assert(restricted.getMessage.contains("restricted category core"),
      restricted.getMessage)
    // and a dataset b removed no longer exists for a
    b.updateDataset("dims", "shared", frozen = Some(false))
    b.removeDataset("dims", "shared")
    intercept[IllegalArgumentException](
      a.addTo(Seq("S1").toDF("fid"), "dims", "shared"))
  }
}
