package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** The ADMIN (dimension-table) delta log (`ParquetCatalog.adminLog`):
  * every dataset / namespace / named-query / hierarchy / category
  * mutation commits to ONE shared OCC log, closing the last
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
  *  - the dimension view equals an in-memory copy-on-write model
  *    ([[DimModel]]: dimension maps each mutation rewrites) over the same
  *    mutation script and a seeded random storm (differential oracle),
  *    pre and post compaction
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

  /** the admin mutations the differential tests drive, on the catalog
    * ([[CatOps]]) or on the model ([[DimModel]]) */
  private trait DimOps {
    def createNamespace(name: String, owner: String = "graft",
        description: String = null): Unit
    def createDataset(ns: String, name: String, frozen: Boolean = false,
        metadataJson: String = "{}"): Unit
    def updateDataset(ns: String, name: String,
        metadataJson: Option[String] = None, metadataMode: String = "update",
        frozen: Option[Boolean] = None, monotonic: Option[Boolean] = None,
        description: Option[String] = None): Unit
    def removeDataset(ns: String, name: String): Unit
    def addDatasetEdge(pNs: String, pName: String, cNs: String, cName: String): Unit
    def saveNamedQuery(ns: String, name: String, source: String): Unit
  }

  private final class CatOps(cat: ParquetCatalog) extends DimOps {
    def createNamespace(name: String, owner: String, description: String): Unit =
      cat.createNamespace(name, owner = owner, description = description)
    def createDataset(ns: String, name: String, frozen: Boolean,
        metadataJson: String): Unit =
      cat.createDataset(ns, name, frozen = frozen, metadataJson = metadataJson)
    def updateDataset(ns: String, name: String, metadataJson: Option[String],
        metadataMode: String, frozen: Option[Boolean], monotonic: Option[Boolean],
        description: Option[String]): Unit =
      cat.updateDataset(ns, name, metadataJson, metadataMode, frozen, monotonic,
        description)
    def removeDataset(ns: String, name: String): Unit = cat.removeDataset(ns, name)
    def addDatasetEdge(pNs: String, pName: String, cNs: String, cName: String): Unit =
      cat.addDatasetEdge(pNs, pName, cNs, cName)
    def saveNamedQuery(ns: String, name: String, source: String): Unit =
      cat.saveNamedQuery(ns, name, source)
  }

  /** In-memory model of the dimension tables: each mutation rewrites its
    * map, rejecting with the catalog's message — duplicate creates, a
    * missing dataset, a self-edge, a cycle. Metadata is key -> JSON
    * value; [[state]] renders it as the catalog's `to_json` does (keys
    * sorted, no spaces). */
  private final class DimModel extends DimOps {
    private case class Ds(frozen: Boolean, monotonic: Boolean,
        description: String, meta: Map[String, String])
    private var ds = Map.empty[(String, String), Ds]
    private var nss = Map.empty[String, (String, Option[String])]
    private var qs = Map.empty[(String, String), String]
    private var edges = Set.empty[((String, String), (String, String))] // (parent, child)

    private def meta(json: String): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        .fields().asScala.map(e => e.getKey -> e.getValue.toString).toMap
    }
    private def reject(msg: String) = throw new IllegalArgumentException(msg)
    private def existing(ns: String, name: String): Ds =
      ds.getOrElse((ns, name), reject(s"dataset $ns:$name does not exist"))

    def createNamespace(name: String, owner: String, description: String): Unit = {
      if (nss.contains(name)) reject(s"namespace $name already exists")
      nss += name -> ((owner, Option(description)))
    }
    def createDataset(ns: String, name: String, frozen: Boolean,
        metadataJson: String): Unit = {
      if (ds.contains((ns, name))) reject(s"dataset $ns:$name already exists")
      ds += (ns, name) -> Ds(frozen, monotonic = false, s"dataset $name",
        meta(metadataJson))
    }
    def updateDataset(ns: String, name: String, metadataJson: Option[String],
        metadataMode: String, frozen: Option[Boolean], monotonic: Option[Boolean],
        description: Option[String]): Unit = {
      var d = existing(ns, name)
      metadataJson.foreach { mj =>
        d = d.copy(meta = if (metadataMode == "replace") meta(mj) else d.meta ++ meta(mj))
      }
      frozen.foreach(f => d = d.copy(frozen = f))
      monotonic.foreach(m => d = d.copy(monotonic = m))
      description.foreach(t => d = d.copy(description = t))
      ds += (ns, name) -> d
    }
    def removeDataset(ns: String, name: String): Unit = {
      existing(ns, name)
      ds -= ((ns, name))
      edges = edges.filterNot { case (p, c) => p == ((ns, name)) || c == ((ns, name)) }
    }
    def addDatasetEdge(pNs: String, pName: String, cNs: String, cName: String): Unit = {
      existing(pNs, pName); existing(cNs, cName)
      val (p, c) = ((pNs, pName), (cNs, cName))
      if (p == c) reject(s"circular connection: $cNs:$cName cannot be its own subset")
      if (edges((p, c))) return // an existing edge is a no-op
      var frontier = Set(p)
      var seen = frontier
      while (frontier.nonEmpty) {
        frontier = edges.collect { case (up, down) if frontier(down) => up } -- seen
        seen ++= frontier
      }
      if (seen(c))
        reject(s"circular connection: $cNs:$cName is already an ancestor of $pNs:$pName")
      edges += ((p, c))
    }
    def saveNamedQuery(ns: String, name: String, source: String): Unit =
      qs += (ns, name) -> source

    /** the model's rows in the shape of [[dimState]] */
    def state: Seq[String] = {
      val d = ds.toSeq.map { case ((ns, n), x) =>
        val mj = x.meta.toSeq.sorted
          .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
        Seq(ns, n, x.frozen, x.monotonic, x.description, mj).mkString("|")
      }
      val n = nss.toSeq.map { case (name, (owner, desc)) =>
        Seq("ns", name, owner, desc.getOrElse("-")).mkString("|") }
      val q = qs.toSeq.map { case ((ns, name), src) => Seq("q", ns, name, src).mkString("|") }
      val e = edges.toSeq.map { case ((pn, p), (cn, c)) => Seq("e", pn, p, cn, c).mkString("|") }
      (d ++ n ++ q ++ e).sorted
    }
  }

  test("two concurrent admin writers: every dataset-metadata patch survives (serializable)") {
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
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
    val meta = new ParquetCatalog(spark, root)
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
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
    val results = Await.result(Future.sequence(Seq(a, b).map(cat => Future {
      try { cat.createDataset("dims", "same", metadataJson = """{"w.x":1}"""); "won" }
      catch { case e: IllegalArgumentException
          if e.getMessage.contains("already exists") => "rejected" }
    })), 5.minutes)
    assert(results.sorted == Seq("rejected", "won"), s"got $results")
    val rows = new ParquetCatalog(spark, root)
      .datasets.filter(col("name") === "same").count()
    assert(rows == 1L, s"expected exactly one surviving row, got $rows")
  }

  test("racing edge adds that are jointly circular: second rejected") {
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
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
    val edges = new ParquetCatalog(spark, root)
      .datasetsParentChild.count()
    assert(edges == 1L)
  }

  test("removeDataset tombstones dataset + hierarchy edges atomically; recreate out-sequences") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
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
    def script(cat: DimOps): Unit = {
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
    val morRoot = newRoot()
    val mor = new ParquetCatalog(spark, morRoot)
    val model = new DimModel
    script(new CatOps(mor)); script(model)
    assert(dimState(mor) == model.state,
      s"dims diverged from the model:\n${dimState(mor)}\nvs\n${model.state}")
    val expect = dimState(mor)
    // maintenance: checkpoint + vacuum keep the view; compaction folds it
    mor.checkpointAdminLog(); mor.vacuumAdminLog()
    val reopened = new ParquetCatalog(spark, morRoot)
    assert(dimState(reopened) == expect)
    // commits keep flowing against the vacuumed log
    reopened.createDataset("dims", "late")
    assert(reopened.datasets.filter(col("name") === "late").count() == 1L)
    reopened.removeDataset("dims", "late")
    assert(dimState(reopened) == expect)
    reopened.compactFilesLog()
    assert(!new java.io.File(s"$morRoot/admin_log").exists())
    assert(dimState(new ParquetCatalog(spark, morRoot)) == expect)
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
    // the catalog and the model, with maintenance folded in mid-history
    val rnd = new scala.util.Random(
      sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(1107L))
    val morRoot = newRoot()
    val mor = new ParquetCatalog(spark, morRoot)
    val model = new DimModel
    val names = Seq("da", "db", "dc", "dd")

    def attempt(f: DimOps => Unit): Unit = {
      val r1 = try { f(model); None } catch {
        case e: IllegalArgumentException => Some(e.getMessage.take(30)) }
      val r2 = try { f(new CatOps(mor)); None } catch {
        case e: IllegalArgumentException => Some(e.getMessage.take(30)) }
      assert(r1 == r2, s"outcome diverged: model=$r1 catalog=$r2")
    }

    for (step <- 0 until 24) {
      // draw every random choice BEFORE attempt(): the closure runs once
      // on the model and once on the catalog, and an inner draw would
      // give the two different ops
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
        assert(dimState(mor) == model.state,
          s"step $step dims diverged:\n${dimState(mor)}\nvs\n${model.state}")
      }
    }
    mor.compactFilesLog() // folds the admin log into the base tables
    assert(dimState(mor) == model.state)
    // a FRESH instance (no caches) reads the compacted state identically
    assert(dimState(new ParquetCatalog(spark, morRoot)) ==
      model.state)
  }

  test("admin commits keep flowing during admin-log checkpoint+vacuum maintenance") {
    // the always-on shape for the dimension log too: writer commits race
    // a maintenance loop running checkpoint+vacuum — nothing lost, reads
    // correct throughout, protocol rows green after
    val root = newRoot()
    val w = new ParquetCatalog(spark, root)
    val m = new ParquetCatalog(spark, root)
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
    val meta = new ParquetCatalog(spark, root)
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
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
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
