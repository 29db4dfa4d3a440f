package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Per-op Spark job budgets of the catalog's small mutations and of its
  * maintenance, on a catalog whose four logs each hold a checkpoint and
  * live segments above it. Small commits stage and fold on the driver
  * ([[SegmentIO]]) and literal checks fold into their relation, so an
  * admin mutation runs no job and a files or members mutation only the
  * query that computes its rows; the members, edges and admin logs
  * checkpoint from their driver folds. A regression here fails a test
  * before it shows in a benchmark. */
class CatalogJobBudgetSpec extends SparkTestBase with OccFailureCapture {

  private def declareRows(fids: Seq[String]): DataFrame = {
    import spark.implicits._
    fids.toDF("fid")
      .withColumn("namespace", lit("budget"))
      .withColumn("name", concat(col("fid"), lit(".dat")))
      .withColumn("metadata_json", lit("""{"core.run":1}"""))
      .withColumn("creator", lit("t"))
      .withColumn("size", lit(1L))
      .withColumn("created_timestamp", to_timestamp(lit("2026-01-01 00:00:00")))
  }

  private def jobs(f: => Unit): Int = JobBudget.jobs(spark.sparkContext)(f)

  test("small catalog mutations and fold refreshes stay within their job budgets") {
    import spark.implicits._
    val root = registerRoot(Files.createTempDirectory("graft-catjobs-").toString)
    val cat = new ParquetCatalog(spark, root)
    val fids = (0 until 60).map(i => f"B$i%04d")
    cat.createDataset("budget", "all")
    cat.createDataset("budget", "other")
    cat.declareFiles(declareRows(fids), dataset = Some(("budget", "all")))
    // a record in every log, then a checkpoint of each, then live
    // segments above every checkpoint
    def touchAll(i: Int): Unit = {
      cat.removeFrom(Seq(fids(i)).toDF("fid"), "budget", "all")
      cat.retireFiles(Seq(fids(i + 1)))
      cat.addProvenance(Seq((fids(i + 2), fids(i + 3))).toDF("parent_fid", "child_fid"))
      cat.saveNamedQuery("budget", s"q$i", "files from budget:all")
      cat.removeFiles(Seq(fids(i + 3))) // wildcard edge tombstones
    }
    touchAll(0)
    cat.checkpointFilesLog(); cat.vacuumFilesLog()
    cat.checkpointMembersLog(); cat.vacuumMembersLog()
    cat.checkpointEdgesLog(); cat.vacuumEdgesLog()
    cat.checkpointAdminLog(); cat.vacuumAdminLog()
    touchAll(4)
    for (log <- Seq(cat.filesLog, cat.membersLog, cat.edgesLog, cat.adminLog)) {
      assert(log.ckptSeq() > 0L && log.currentSeq() > log.ckptSeq(),
        s"${log.logName} needs a checkpoint and a live segment above it")
    }
    // one warm-up of every op, so no first-use read lands in a budget
    cat.createDataset("budget", "warm")
    cat.addDatasetEdge("budget", "all", "budget", "warm")
    cat.updateDataset("budget", "warm", Some("""{"ds.note":"w"}"""))
    cat.updateFileMeta(Seq(fids(10)), """{"opt.mark":"w"}""")
    cat.addTo(Seq(fids(11)).toDF("fid"), "budget", "other")
    cat.removeFrom(Seq(fids(11)).toDF("fid"), "budget", "other")

    val budgets = Seq[(String, Int, () => Unit)](
      ("createDataset", 0, () => cat.createDataset("budget", "fresh")),
      ("addDatasetEdge", 0, () => cat.addDatasetEdge("budget", "all", "budget", "fresh")),
      ("saveNamedQuery", 0, () => cat.saveNamedQuery("budget", "q", "files from budget:all")),
      ("updateDataset", 0, () => cat.updateDataset("budget", "fresh", Some("""{"ds.note":"n"}"""))),
      ("retireFiles", 1, () => cat.retireFiles(Seq(fids(20), fids(21)))),
      ("updateFileMeta", 1, () => cat.updateFileMeta(Seq(fids(22)), """{"opt.mark":"m"}""")),
      ("addTo", 1, () => cat.addTo(fids.slice(23, 26).toDF("fid"), "budget", "other")),
      ("removeFrom", 2, () => cat.removeFrom(fids.slice(30, 33).toDF("fid"), "budget", "all")),
      ("declareFiles (20 literal rows into a dataset)", 1, () => cat.declareFiles(
        declareRows((0 until 20).map(i => f"N$i%04d")), dataset = Some(("budget", "other")))))
    for ((op, budget, run) <- budgets) {
      val n = jobs(run())
      assert(n <= budget, s"$op ran $n Spark jobs (budget $budget)")
      // the next read folds the segment that op published on the driver
      for (log <- Seq(cat.filesLog, cat.membersLog, cat.edgesLog, cat.adminLog)) {
        val m = jobs(log.folded())
        assert(m == 0, s"folding ${log.logName} after $op ran $m Spark jobs")
      }
    }
    // maintain: the members, edges and admin checkpoints are written from
    // their driver folds, the files log's by its Spark fold; every
    // checkpoint re-keys its log's fold, so the next read folds nothing
    val maintain = Seq[(OccLog, Int, () => Long, () => Long)](
      (cat.filesLog, 2, () => cat.checkpointFilesLog(), () => cat.vacuumFilesLog()),
      (cat.membersLog, 0, () => cat.checkpointMembersLog(), () => cat.vacuumMembersLog()),
      (cat.edgesLog, 0, () => cat.checkpointEdgesLog(), () => cat.vacuumEdgesLog()),
      (cat.adminLog, 0, () => cat.checkpointAdminLog(), () => cat.vacuumAdminLog()))
    for ((log, budget, checkpoint, vacuum) <- maintain) {
      val name = log.logName
      assert(log.currentSeq() > log.ckptSeq(), s"$name needs segments above its checkpoint")
      val n = jobs(checkpoint())
      assert(n <= budget, s"checkpoint of $name ran $n Spark jobs (budget $budget)")
      assert(log.ckptSeq() == log.currentSeq())
      val v = jobs(vacuum())
      assert(v == 0, s"vacuum of $name ran $v Spark jobs")
      val read = SegmentIO.filesRead.get
      val m = jobs(log.folded())
      val files = SegmentIO.filesRead.get - read
      assert(m == 0 && files == 0L,
        s"folding $name after its checkpoint ran $m Spark jobs and read $files files")
    }
    // and the ops did what they say
    assert(cat.datasets.filter(col("name") === "fresh").count() == 1L)
    assert(cat.files.filter(col("fid").isin(fids(20), fids(21)) && col("retired")).count() == 2L)
    val other = cat.filesDatasets.filter(col("dataset_name") === "other")
      .select("fid").as[String].collect().toSet
    assert(other == fids.slice(23, 26).toSet ++ (0 until 20).map(i => f"N$i%04d"))
    val all = cat.filesDatasets.filter(col("dataset_name") === "all")
      .select("fid").as[String].collect().toSet
    assert(all.intersect(fids.slice(30, 33).toSet).isEmpty)
  }
}
