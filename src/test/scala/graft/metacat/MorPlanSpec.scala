package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** PHYSICAL-PLAN assertions for the merge-on-read overlays — the shapes
  * that must hold at a 100 TB catalog. Every overlay is the base scan
  * filtered by `InSet` on the log-governed keys plus the log's live rows
  * (a `LocalTableScan` for the small logs, a pinned file scan for the
  * files log's payloads), built from the logs' driver folds:
  *
  *  - no Window: latest-wins is resolved on the driver, never per read
  *  - no Exchange of any kind (shuffle or broadcast): the base is never
  *    shuffled, and no log-derived key set is broadcast per read
  *  - no SortMergeJoin (nor any join): the base side is a filtered scan
  *
  * A regression here (e.g. an overlay rewritten as a join Catalyst plans
  * as SMJ) would still pass every correctness gate at sf0.01 while
  * costing a corpus-wide shuffle per read at scale — exactly the class
  * of defect only a plan assertion catches. */
class MorPlanSpec extends SparkTestBase {

  private def seeded(): ParquetCatalog = {
    val root = Files.createTempDirectory("graft-morplan-").toString
    val cat = new ParquetCatalog(spark, root)
    import spark.implicits._
    val rows = (0 until 500).map { i =>
      (f"Q$i%04d", "alpha", s"q_$i.dat", s"""{"core.run":$i}""", "t", 100L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-02-01 00:00:00")))
    cat.createDataset("mp", "d")
    cat.declareFiles(rows, dataset = Some(("mp", "d")))
    // populate every log: file mutations, membership removes + a fid
    // wildcard, provenance edges + removes, one admin update
    cat.retireFiles(Seq("Q0001"))
    cat.updateFileMeta(Seq("Q0002"), """{"opt.x":1}""")
    cat.removeFrom(rows.filter(col("fid") === "Q0003").select("fid"), "mp", "d")
    cat.addProvenance(Seq(("Q0001", "Q0002"), ("Q0002", "Q0003"))
      .toDF("parent_fid", "child_fid"))
    cat.removeFiles(Seq("Q0004"))
    cat.updateDataset("mp", "d", metadataJson = Some("""{"ds.v":1}"""))
    // live rows in the small logs too: a remove-shadowed re-add resolves
    // through the members log, a parent replace through the edges log
    cat.addTo(Seq("Q0003").toDF("fid"), "mp", "d")
    cat.updateFile("Q0005", parents = Some(Seq("Q0006")), mode = "replace")
    cat
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** the overlay shape every MOR view must have */
  private def assertOverlay(what: String, p: String, logSide: String): Unit = {
    for (bad <- Seq("Window", "Exchange", "SortMergeJoin", "Join"))
      assert(!p.contains(bad), s"$what overlay plans a $bad:\n$p")
    assert(p.contains(logSide), s"$what overlay lost its $logSide log side:\n$p")
    assert(p.contains("Filter") && p.contains("Union"),
      s"expected a filtered base scan unioned with the log rows:\n$p")
  }

  test("files overlay: InSet-filtered base scan plus the pinned payload scan") {
    val p = plan(seeded().files)
    assertOverlay("files", p, "FileScan")
    assert(p.split("FileScan").length - 1 == 2,
      s"expected exactly the base scan and the payload scan:\n$p")
  }

  test("membership overlay: InSet-filtered base scan plus the live log pairs") {
    assertOverlay("membership", plan(seeded().filesDatasets), "LocalTableScan")
  }

  test("edge overlay: InSet-filtered base scan plus the live log edges") {
    assertOverlay("edge", plan(seeded().parentChild), "LocalTableScan")
  }

  test("dimension overlay: InSet-filtered base scan plus the live admin rows") {
    assertOverlay("dimension", plan(seeded().datasets), "LocalTableScan")
  }
}
