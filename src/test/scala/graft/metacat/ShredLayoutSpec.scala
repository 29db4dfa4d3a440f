package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Sorted shred layout (r14): the files table must reach disk SORTED on
  * the hot shred keys through the CATALOG write paths — not just in a
  * standalone probe table — so selective typed predicates prune row
  * groups by min/max. Two arms:
  *
  *  - [[DerivedCatalog]]: the materialized shredded store is written
  *    sorted at ingest; the MQL read path pushes the typed predicate to
  *    the scan.
  *  - [[ParquetCatalog]]: declare appends land in arrival order, and
  *    compaction (the whole-partition rewrite) RESTORES the sorted
  *    layout — the Delta OPTIMIZE-ZORDER posture.
  */
class ShredLayoutSpec extends SparkTestBase {

  /** every physical part file's `col` values must be non-decreasing —
    * the property row-group min/max pruning rides on */
  private def assertFileSorted(dir: String, column: String): Unit = {
    val parts = new java.io.File(dir).listFiles()
    assert(parts != null && parts.nonEmpty, s"no content under $dir")
    val files: Seq[java.io.File] = parts.toSeq.flatMap { p =>
      if (p.isDirectory)
        p.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      else if (p.getName.endsWith(".parquet")) Seq(p)
      else Seq.empty[java.io.File]
    }
    assert(files.nonEmpty, s"no parquet part files under $dir")
    for (f <- files) {
      val vals = spark.read.parquet(f.toString).select(col(column))
        .collect().map(_.getDouble(0))
      assert(vals.zip(vals.drop(1)).forall { case (a, b) => a <= b },
        s"${f.getName}: $column not sorted within the file")
    }
  }

  test("DerivedCatalog: shred predicate pushes to the scan; store is sorted") {
    val cat = new DerivedCatalog(spark, "/root/testdata/sf0.001")
    val plan = cat.files.filter(col("_s_core_run") === 777L)
      .queryExecution.executedPlan.toString
    // the store path may legitimately fall back to the in-memory build
    // (unwritable store dir) — only the stored posture is asserted here
    if (plan.contains("FileScan")) {
      assert(plan.contains("PushedFilters") && plan.contains("_s_core_run"),
        s"shred predicate did not reach the parquet scan:\n$plan")
      // find the materialized store and check physical sortedness
      val store = sys.env.getOrElse("SPARK_GRAFT_CATALOG_STORE",
        "/tmp/graft-catalog-store")
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest("/root/testdata/sf0.001".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
      val vals = new java.io.File(s"$store/files-$key").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(vals.nonEmpty)
      for (f <- vals) {
        val runs = spark.read.parquet(f.toString).select("_s_core_run")
          .collect().map(_.getLong(0))
        assert(runs.zip(runs.drop(1)).forall { case (a, b) => a <= b },
          s"${f.getName}: _s_core_run not sorted within the store file")
      }
    } else cancel("catalog store disabled in this environment")
  }

  test("ParquetCatalog: compaction restores the sorted shred layout") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-shredlayout-").toString
    val shred = Map("core.run" -> (("_s_run", graft.mql.MetaCompiler.ShredNum)))
    val c = new ParquetCatalog(spark, root, shred)
    // declare with run values deliberately SCRAMBLED in arrival order
    val n = 500
    val rows = (0 until n).map { i =>
      val run = (i * 377) % 1000 // co-prime stride: arrival order ≠ run order
      (f"X$i%08d", "wns", s"d_$i.dat", s"""{"core.run":$run}""", "tester", 100L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-02-01 00:00:00")))
    c.declareFiles(rows)
    // one logged mutation so compaction has a fold to do in namespace wns
    c.updateFileMeta(Seq("X00000007"), """{"core.run":7}""")
    c.compactFilesLog()
    assertFileSorted(s"$root/files", "_s_run")
    // and the typed predicate still reaches the scan through cat.files
    val plan = c.files.filter(col("_s_run") === 123.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("_s_run"),
      s"shred predicate did not reach the parquet scan:\n$plan")
  }
}
