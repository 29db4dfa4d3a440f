package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The audit must actually DETECT corruption — the gate corpus is
  * consistent (all-zero counts), so this spec plants one violation of
  * every invariant in an in-memory catalog and asserts the exact
  * per-check counts, plus an all-green audit of a real catalog after
  * mutations and delta-log corruption planted in it. */
class FsckSpec extends SparkTestBase {

  test("fsck counts each planted violation exactly once") {
    import spark.implicits._
    val corrupt = new MetacatCatalog {
      // F1, F2 exist; F2 stored TWICE (duplicate_fid = 1 fid); all rows
      // live in nsA, which the namespaces dimension below does NOT hold
      // (missing_namespace = 1)
      def files: DataFrame =
        Seq("F1", "F2", "F2").toDF("fid")
          .withColumn("retired", lit(false))
          .withColumn("namespace", lit("nsA"))
      // F1 ok; FX dangles (dangling_membership = 1); dsns:ghost missing
      // (missing_dataset = 1); the (F1, dsns, d1) row appears TWICE
      // (duplicate_membership = 1 key; its copy also raises
      // dangling_membership by zero — F1 exists)
      def filesDatasets: DataFrame = Seq(
        ("F1", "dsns", "d1"),
        ("F1", "dsns", "d1"),
        ("FX", "dsns", "d1"),
        ("F1", "dsns", "ghost")).toDF("fid", "dataset_namespace", "dataset_name")
      def datasets: DataFrame = Seq(("dsns", "d1"), ("dsns", "cy1"), ("dsns", "cy2"))
        .toDF("namespace", "name")
      // one edge with a missing parent, one with a missing child
      def parentChild: DataFrame = Seq(
        ("F1", "F2"), ("FGONE", "F1"), ("F2", "FGONE2"))
        .toDF("parent_fid", "child_fid")
      // one endpoint missing from datasets (dangling_ds_edge counts the
      // ENDPOINT occurrences: (dsns, nope) appears once); cy1 <-> cy2 is
      // a planted 2-cycle of EXISTING datasets (ds_cycle_member = 2,
      // orthogonal to the dangling check)
      def datasetsParentChild: DataFrame = Seq(
        ("dsns", "d1", "dsns", "nope"),
        ("dsns", "cy1", "dsns", "cy2"),
        ("dsns", "cy2", "dsns", "cy1"))
        .toDF("parent_namespace", "parent_name", "child_namespace", "child_name")
      override def namespaces: DataFrame =
        Seq("nsB").toDF("name")
          .withColumn("description", lit("other"))
          .withColumn("owner_user", lit(null).cast("string"))
          .withColumn("creator", lit(null).cast("string"))
          .withColumn("created_timestamp", lit(null).cast("timestamp"))
          .withColumn("file_count", lit(null).cast("long"))
      def queries: DataFrame = spark.emptyDataFrame
      def namedQuerySource(namespace: String, name: String): Option[String] = None
    }
    val got = Fsck.audit(corrupt).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "dangling_membership" -> 1L,
      "dangling_parent_fid" -> 1L,
      "dangling_child_fid" -> 1L,
      "missing_dataset" -> 1L,
      "dangling_ds_edge" -> 1L,
      "duplicate_fid" -> 1L,
      "duplicate_membership" -> 1L,
      "missing_namespace" -> 1L,
      "ds_cycle_member" -> 2L), s"got $got")
  }

  test("cycle detector: self-loop, long cycle, and DAG-with-diamond") {
    assert(Fsck.cycleMembers(Seq(("a", "a"))) == 1L)
    assert(Fsck.cycleMembers(Seq(("a", "b"), ("b", "c"), ("c", "a"))) == 3L)
    // diamond + a tail: acyclic despite reconvergence
    assert(Fsck.cycleMembers(
      Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e"))) == 0L)
    // a node BETWEEN two cycles is not itself on one
    assert(Fsck.cycleMembers(Seq(("a", "b"), ("b", "a"), ("b", "x"),
      ("x", "c"), ("c", "d"), ("d", "c"))) == 4L)
  }

  private def declareInto(cat: ParquetCatalog): Unit = {
    import spark.implicits._
    cat.createNamespace("zns")
    cat.createDataset("zds", "a")
    cat.declareFiles(
      (0 until 6).map(i =>
        (f"Z$i%08d", "zns", s"z_$i.dat", s"""{"core.run":$i}""", "t", 10L + i))
        .toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
        .withColumn("created_timestamp", to_timestamp(lit("2026-03-01 00:00:00"))),
      dataset = Some(("zds", "a")))
    cat.retireFiles(Seq("Z00000001"))
    cat.removeFiles(Seq("Z00000002"))
  }

  test("fsck is all-green on a consistent ParquetCatalog after mutations") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsck-").toString
    val cat = new ParquetCatalog(spark, root)
    declareInto(cat)
    val got = Fsck.audit(cat).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.values.forall(_ == 0L), s"consistent catalog flagged: $got")
    assert(got.size == 25)
  }

  test("MOR delta-log audit: green when consistent, exact counts when corrupted") {
    val root = java.nio.file.Files.createTempDirectory("graft-fsck-mor-").toString
    val cat = new ParquetCatalog(spark, root)
    declareInto(cat) // seq 1 = retire, seq 2 = remove (tombstone)
    cat.updateFileMeta(Seq("Z00000003"), """{"opt.x":1}""") // seq 3
    val green = Fsck.audit(cat).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(green.size == 25,
      s"expected 9 + 4 files-log + 3x3 members/edges/admin-log + declare-claims + txn + pins checks, got $green")
    assert(green.values.forall(_ == 0L), s"consistent catalog flagged: $green")

    def seqName(s: Int) = "s" + ("0" * 18) + f"$s%02d"
    // corrupt 1: rewrite seq 2's tombstone to a fid that never existed
    val s2 = new java.io.File(s"$root/files_log/${seqName(2)}")
    val bad = spark.read.parquet(s2.toString).withColumn("fid", lit("ZNEVER"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-fsck-inject-")
    bad.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    org.apache.commons.io.FileUtils.deleteDirectory(s2)
    org.apache.commons.io.FileUtils.copyDirectory(tmp.toFile, s2)
    // corrupt 2: delete seq 1's data dir but leave its claim (orphaned
    // claim + sequence gap)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/files_log/${seqName(1)}"))
    // corrupt 3: a published dir nobody claimed (protocol bypass)
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$root/files_log/${seqName(3)}"),
      new java.io.File(s"$root/files_log/${seqName(7)}"))

    // While seq 1's claim marker is YOUNG (age < publish timeout) the
    // audit treats the hole as an IN-FLIGHT keyed commit — a disjoint
    // successor publishing above a still-computing predecessor is a
    // normal transient state, not a crashed writer — so it contributes
    // neither an orphaned claim nor a seq gap yet.
    val young = Fsck.audit(cat).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(young("mor_orphaned_claim") == 0L, s"got $young")
    assert(young("mor_seq_gap") == 3L, s"got $young") // 4..6 only (unclaimed)
    // age the claim past the timeout: now it IS a crashed writer
    assert(new java.io.File(s"$root/files_log_claims/${seqName(1)}")
      .setLastModified(System.currentTimeMillis() - 200000L))

    val got = Fsck.audit(cat).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("mor_tombstone_unknown_fid") == 1L, s"got $got")
    assert(got("mor_orphaned_claim") == 1L, s"got $got")
    assert(got("mor_unclaimed_publish") == 1L, s"got $got")
    // gaps: seq 1 deleted (aged claim); 4..6 missing below the planted 7
    assert(got("mor_seq_gap") == 4L, s"got $got")
  }
}
