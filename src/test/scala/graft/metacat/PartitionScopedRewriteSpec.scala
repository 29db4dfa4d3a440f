package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Mutation amplification guard: folding a files-table mutation into the
  * base must rewrite ONLY the `namespace=` partitions it touches (r6
  * postmortem: every one-file metadata update rewrote the whole table — at
  * a 100× catalog, a 15M-row rewrite per admin action). Mutations commit
  * to the files log; [[ParquetCatalog.compactFilesLog]] is the one
  * partition-scoped rewrite, so each physical assertion follows a
  * compaction. Asserted physically: the untouched partition's parquet
  * files must be byte-identical (same paths, sizes, modification times)
  * across the mutation and its compaction.
  */
class PartitionScopedRewriteSpec extends SparkTestBase {

  private lazy val root = Files.createTempDirectory("graft-scoped-").toString
  private lazy val cat = new ParquetCatalog(spark, root)

  private def declare(ns: String, n: Int, tag: String): Unit = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      (s"$tag$i", ns, s"f_$tag$i.dat", s"""{"core.run":$i}""", "tester", 100L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-02-01 00:00:00")))
    cat.declareFiles(rows)
  }

  /** (path, size, mtime) of every data file under files/namespace=<ns> */
  private def snapshot(ns: String): Set[(String, Long, Long)] = {
    val dir = new java.io.File(s"$root/files/namespace=$ns")
    assert(dir.isDirectory, s"missing partition dir for $ns")
    dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getPath, f.length(), f.lastModified())).toSet
  }

  test("mutations leave untouched namespace partitions physically intact") {
    declare("big", 500, "B")
    declare("small", 10, "S")
    val bigBefore = snapshot("big")
    assert(bigBefore.nonEmpty)

    // retire, metadata-update and single-file update in `small` only
    cat.retireFiles(Seq("S1"))
    cat.updateFileMeta(Seq("S2"), """{"core.extra":1}""", "update")
    cat.updateFile("S3", size = Some(999L))
    cat.compactFilesLog()
    assert(snapshot("big") == bigBefore,
      "mutation in `small` rewrote the `big` partition")

    // the mutations themselves landed
    assert(cat.files.filter(col("fid") === "S1" && col("retired")).count() == 1)
    assert(cat.files.filter(col("fid") === "S3" && col("size") === 999L).count() == 1)

    // a move touches source and target partitions but nothing else
    declare("third", 5, "T")
    val bigBefore2 = snapshot("big")
    cat.moveNamespace(Seq("T0"), "small")
    cat.compactFilesLog()
    assert(snapshot("big") == bigBefore2,
      "moveNamespace small<-third rewrote the `big` partition")
    assert(cat.files.filter(col("fid") === "T0")
      .select("namespace").head().getString(0) == "small")

    // removeFiles scopes too, and fully-emptied partitions disappear
    val bigBefore3 = snapshot("big")
    cat.removeFiles(Seq("T1", "T2", "T3", "T4"))
    cat.compactFilesLog()
    assert(snapshot("big") == bigBefore3)
    assert(cat.files.filter(col("namespace") === "third").count() == 0)
    assert(!new java.io.File(s"$root/files/namespace=third").exists,
      "emptied partition dir should be deleted")
  }

  test("escaped partition values round-trip through scoped rewrites") {
    declare("odd ns", 3, "E")
    cat.retireFiles(Seq("E0"))
    cat.compactFilesLog()
    val ns = cat.files.filter(col("fid") === "E0")
      .select("namespace", "retired").head()
    assert(ns.getString(0) == "odd ns" && ns.getBoolean(1))
  }
}
