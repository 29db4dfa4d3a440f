package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** The PROVENANCE-EDGE delta log (`ParquetCatalog.edgesLog`):
  * addProvenance / updateFile(parents/children) / removeFiles commit
  * edge records under the shared OCC protocol — hard deletes
  * retire every touching edge with two one-side wildcards, and a
  * replace-parents is ONE atomic commit (wildcard + new edges at a
  * single seq, adds surviving their own wildcard via the fold's `>=`).
  *
  * Invariants proven here:
  *  - folded view == an in-memory copy-on-write model (an edge multiset
  *    each mutation rewrites) across a seeded mutation storm, before and
  *    after compaction
  *  - replace atomicity: the re-added edge that the wildcard also covers
  *    survives (same-seq semantics), older edges die, later adds live
  *  - two concurrent writers' disjoint edge adds all survive
  *  - checkpoint + vacuum keep the view identical while commits flow */
class EdgesLogSpec extends SparkTestBase {

  private def newRoot(): String =
    Files.createTempDirectory("graft-edges-").toString

  private def declare(cat: ParquetCatalog, fids: Seq[Int]): Unit = {
    import spark.implicits._
    val rows = fids.map { i =>
      (f"E$i%04d", "alpha", s"e_$i.dat", s"""{"core.run":$i}""", "tester", 100L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-02-01 00:00:00")))
    cat.declareFiles(rows)
  }

  private def edgeDf(pairs: Seq[(Int, Int)]): DataFrame = {
    import spark.implicits._
    pairs.map { case (p, c) => (f"E$p%04d", f"E$c%04d") }
      .toDF("parent_fid", "child_fid")
  }

  private def edges(cat: ParquetCatalog): Seq[String] =
    cat.parentChild
      .select(concat_ws(">", col("parent_fid"), col("child_fid")))
      .collect().map(_.getString(0)).sorted.toSeq

  test("differential storm: MOR folded edges == COW rewrites, pre and post compaction") {
    val morRoot = newRoot()
    val mor = new ParquetCatalog(spark, morRoot)
    declare(mor, 0 until 30)
    mor.addProvenance(edgeDf((1 until 15).map(i => (i - 1, i))))
    // the model: the live (parent, child) edges as a multiset —
    // addProvenance appends without deduplicating
    var model: Seq[(Int, Int)] = (1 until 15).map(i => (i - 1, i))
    val r = new scala.util.Random(11L)
    for (_ <- 0 until 25) r.nextInt(4) match {
      case 0 =>
        val e = (r.nextInt(30), r.nextInt(30))
        mor.addProvenance(edgeDf(Seq(e)))
        model :+= e
      case 1 => // distinct endpoints: updateFile rejects self-edges
        val i = r.nextInt(30)
        val p = (i + 1 + r.nextInt(29)) % 30
        mor.updateFile(f"E$i%04d", parents = Some(Seq(f"E$p%04d")),
          mode = "replace")
        model = model.filterNot(_._2 == i) :+ ((p, i))
      case 2 => // add-update: adds the edge unless it is already live
        val i = r.nextInt(30)
        val c = (i + 1 + r.nextInt(29)) % 30
        mor.updateFile(f"E$i%04d", children = Some(Seq(f"E$c%04d")))
        if (!model.contains((i, c))) model :+= ((i, c))
      case 3 => // hard delete + re-declare keeps the fid space stable
        val i = r.nextInt(30)
        mor.removeFiles(Seq(f"E$i%04d"))
        declare(mor, Seq(i))
        model = model.filterNot { case (p, c) => p == i || c == i }
    }
    val expect = model.map { case (p, c) => f"E$p%04d>E$c%04d" }.sorted
    assert(edges(mor) == expect, "MOR edge view diverged from the model")
    mor.compactFilesLog()
    assert(edges(mor) == expect, "compaction changed the edge view")
    assert(!new java.io.File(s"$morRoot/edges_log").exists())
    assert(edges(new ParquetCatalog(spark, morRoot)) == expect)
  }

  test("replace-parents is atomic: same-seq re-add survives its own wildcard") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    declare(cat, 0 until 8)
    cat.addProvenance(edgeDf(Seq((1, 4), (2, 4), (3, 4), (4, 5))))
    // parents of 4 := {2, 6}: the wildcard retires 1→4/2→4/3→4, the adds
    // (2→4 among them — covered by the very wildcard they ship with)
    // land at the SAME seq and must survive; 4→5 (other side) untouched
    cat.updateFile("E0004", parents = Some(Seq("E0002", "E0006")), mode = "replace")
    assert(edges(cat) == Seq("E0002>E0004", "E0004>E0005", "E0006>E0004"))
    // a LATER add to 4 out-sequences the old wildcard
    cat.updateFile("E0004", parents = Some(Seq("E0007"))) // update mode
    assert(edges(cat).contains("E0007>E0004"))
    // and the whole thing replays identically from a fresh instance
    assert(edges(new ParquetCatalog(spark, root)) ==
      Seq("E0002>E0004", "E0004>E0005", "E0006>E0004", "E0007>E0004"))
  }

  test("hard-delete wildcards retire both directions; re-declare resurrects adds") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    declare(cat, 0 until 6)
    cat.addProvenance(edgeDf(Seq((0, 3), (3, 1), (2, 3), (4, 5))))
    cat.removeFiles(Seq("E0003"))
    assert(edges(cat) == Seq("E0004>E0005"))
    // re-declared fid: new edges must resurrect through the log (base
    // appends would be shadowed by the remove wildcards)
    declare(cat, Seq(3))
    cat.addProvenance(edgeDf(Seq((0, 3))))
    assert(edges(cat) == Seq("E0000>E0003", "E0004>E0005"))
  }

  test("edge time travel: lineage snapshots by seq") {
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    declare(cat, 0 until 6)
    cat.addProvenance(edgeDf(Seq((0, 1), (1, 2), (2, 3)))) // base appends
    cat.removeFiles(Seq("E0002")) // seq 1+2 (wildcards) + files tombstone
    val mid = cat.currentEdgesSeq()
    // replace-parents swaps E0001's WHOLE parent set (0→1 goes too)
    cat.updateFile("E0001", parents = Some(Seq("E0004")), mode = "replace")
    assert(edges(cat) == Seq("E0004>E0001"))
    // as-of 0: the pure base; as-of mid: the hard delete applied, the
    // replace not yet
    def at(seq: Long) = cat.parentChildAsOf(seq)
      .select(concat_ws(">", col("parent_fid"), col("child_fid")))
      .collect().map(_.getString(0)).sorted.toSeq
    assert(at(0L) == Seq("E0000>E0001", "E0001>E0002", "E0002>E0003"))
    assert(at(mid) == Seq("E0000>E0001"))
    assert(at(cat.currentEdgesSeq()) == Seq("E0004>E0001"))
  }

  test("two concurrent writers: disjoint edge adds all survive; fsck protocol green") {
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
    declare(a, 0 until 24)
    // seed the log so both writers take the commit path (not base appends)
    a.removeFiles(Seq("E0023"))
    val burstA = Future {
      for (k <- 1 until 11) a.updateFile(f"E$k%04d", parents = Some(Seq("E0000")))
    }
    val burstB = Future {
      for (k <- 12 until 22) b.updateFile(f"E$k%04d", children = Some(Seq("E0011")))
    }
    Await.result(Future.sequence(Seq(burstA, burstB)), 10.minutes)
    val fresh = new ParquetCatalog(spark, root)
    val got = edges(fresh)
    for (k <- 1 until 11)
      assert(got.contains(f"E0000>E$k%04d"), s"writer A's edge to $k lost")
    for (k <- 12 until 22)
      assert(got.contains(f"E$k%04d>E0011"), s"writer B's edge from $k lost")
    val audit = Fsck.audit(fresh).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("mor_edges_seq_gap") == 0L &&
      audit("mor_edges_orphaned_claim") == 0L &&
      audit("mor_edges_unclaimed_publish") == 0L, s"protocol rows: $audit")
  }

  test("commits keep flowing during edges-log checkpoint+vacuum maintenance") {
    val root = newRoot()
    val writer = new ParquetCatalog(spark, root)
    val maint = new ParquetCatalog(spark, root)
    declare(writer, 0 until 14)
    writer.removeFiles(Seq("E0013")) // seed the log
    val burst = Future {
      for (k <- 1 until 13) writer.updateFile(f"E$k%04d", parents = Some(Seq("E0000")))
    }
    val maintenance = Future {
      for (_ <- 0 until 4) { maint.checkpointEdgesLog(); maint.vacuumEdgesLog() }
    }
    Await.result(Future.sequence(Seq(burst, maintenance)), 10.minutes)
    maint.checkpointEdgesLog(); maint.vacuumEdgesLog()
    val fresh = new ParquetCatalog(spark, root)
    val got = edges(fresh)
    for (k <- 1 until 13)
      assert(got.contains(f"E0000>E$k%04d"), s"edge to $k lost during maintenance")
    val raw = new java.io.File(s"$root/edges_log")
    assert(!raw.isDirectory || raw.listFiles().forall(f =>
      !f.getName.matches("s\\d{20}")), "vacuum left covered raw segments")
  }
}
