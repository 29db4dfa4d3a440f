package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

import ParquetCatalog._

/** The catalog logs' driver folds ([[OccLog.folded]]) against their
  * Spark-side definition: after every step of a seeded random mutation
  * script — including checkpoints, vacuums, keyed out-of-order publishes
  * and a compaction by a second catalog instance — each log's
  * incrementally maintained fold must equal latest-per-key over
  * `records()`. The members, edges and admin logs checkpoint from their
  * driver folds, so each of their checkpoints must also read back equal
  * to latest-per-key over the records it covers, and a fresh catalog on
  * the same root must see what the checkpointing one sees. */
class DriverFoldSpec extends SparkTestBase with OccFailureCapture {

  /** latest-per-key over `recs`, per log, on the Spark side */
  private def expected(log: String, recs: DataFrame): DataFrame = {
    def latest(keys: String*)(df: DataFrame) = OccLog.latestPerKey(keys)(df)
    log match {
      case "files_log" => latest("fid")(recs)
      case "members_log" =>
        latest("fid", "dataset_namespace", "dataset_name")(
            recs.filter(col("__op").isin(MemberAdd, MemberRemove)))
          .unionByName(latest("dataset_namespace", "dataset_name")(
            recs.filter(col("__op") === MemberRemoveAll)))
          .unionByName(latest("fid")(recs.filter(col("__op") === MemberRemoveFid)))
      case "edges_log" =>
        latest("parent_fid", "child_fid")(
            recs.filter(col("parent_fid").isNotNull && col("child_fid").isNotNull))
          .unionByName(latest("parent_fid")(recs.filter(col("child_fid").isNull)))
          .unionByName(latest("child_fid")(recs.filter(col("parent_fid").isNull)))
      case "admin_log" => latest("table", "key")(recs)
    }
  }

  private def logs(cat: ParquetCatalog): Seq[(String, OccLog, OccLog.FoldSpec)] = Seq(
    ("files_log", cat.filesLog, LogFolds.FilesSpec),
    ("members_log", cat.membersLog, LogFolds.MembersSpec),
    ("edges_log", cat.edgesLog, LogFolds.EdgesSpec),
    ("admin_log", cat.adminLog, LogFolds.AdminSpec))

  private def assertFolds(cat: ParquetCatalog, step: String): Unit =
    for ((name, log, spec) <- logs(cat)) {
      val want = expected(name, log.records()).select(spec.cols.map(col): _*)
        .collect().map(_.toSeq).toSeq
      val got = log.folded().latest.values.map(_.toSeq).toSeq
      assert(got.size == want.size && got.toSet == want.toSet,
        s"$step: the $name driver fold differs from latest-per-key over " +
        s"records(): missing ${want.toSet -- got.toSet}, extra ${got.toSet -- want.toSet}")
    }

  private def ckptDir(root: String, log: String, n: Long): String =
    f"$root/${log}_ckpt/s$n%020d"

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** the catalog views a fresh instance on `root` rebuilds from the
    * checkpoints and segments on disk */
  private def assertSameAsFresh(cat: ParquetCatalog, root: String, step: String): Unit = {
    val fresh = new ParquetCatalog(spark, root)
    for ((what, view) <- Seq[(String, ParquetCatalog => DataFrame)](
        "filesDatasets" -> (_.filesDatasets), "parentChild" -> (_.parentChild),
        "datasets" -> (_.datasets), "queries" -> (_.queries)))
      assert(rowsOf(view(cat)) == rowsOf(view(fresh)),
        s"$step: $what differs between the checkpointing catalog and a fresh one")
  }

  private def declareRows(fids: Seq[String]): DataFrame = {
    import spark.implicits._
    fids.toDF("fid")
      .withColumn("namespace", lit("fold"))
      .withColumn("name", concat(col("fid"), lit(".dat")))
      .withColumn("metadata_json", lit("""{"core.run":1}"""))
      .withColumn("creator", lit("t"))
      .withColumn("size", lit(1L))
      .withColumn("created_timestamp", to_timestamp(lit("2026-01-01 00:00:00")))
  }

  /** two keyed members-log commits published in reverse seq order: the
    * newer add lands first, the older remove of the same pairs after it,
    * and the add must stay the latest record */
  private def outOfOrder(cat: ParquetCatalog, root: String, ds: String,
      fids: Seq[String], check: String => Unit): Unit = {
    import spark.implicits._
    val log = cat.membersLog
    val keys = Some(Seq("fold\u0001" + ds))
    val older = log.claimNext(keys)
    val newer = log.claimNext(keys)
    def publish(s: Long, op: String): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(
        s"$root/_tmp/ooo-${java.util.UUID.randomUUID()}")
      log.stageRows(s, () => fids.map(f => (f, "fold", ds))
        .toDF("fid", "dataset_namespace", "dataset_name"), op, tmp)
      log.publishStaged(s, tmp, strict = true)
    }
    publish(newer, MemberAdd)
    check(s"seq $newer published before $older")
    publish(older, MemberRemove)
  }

  private def scenario(seed: Long, steps: Int): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(registerSeed(seed))
    val root = registerRoot(Files.createTempDirectory("graft-driverfold-").toString)
    val cat = new ParquetCatalog(spark, root)
    val other = new ParquetCatalog(spark, root)
    val fids = (0 until 24).map(i => f"D$i%03d")
    val dss = Seq("d0", "d1", "d2")
    dss.foreach(cat.createDataset("fold", _))
    cat.declareFiles(declareRows(fids), dataset = Some(("fold", "d0")))
    var live = fids.toSet
    def some(k: Int): Seq[String] = rnd.shuffle(live.toSeq.sorted).take(k)
    def ds(): String = dss(rnd.nextInt(dss.size))
    var step = 0
    def check(what: String): Unit = assertFolds(cat, s"seed $seed step $step ($what)")
    // record kinds the checked checkpoints carried
    val covered = scala.collection.mutable.Set.empty[String]

    /** checkpoint every log; each driver-written checkpoint must read
      * back equal, row for row, to latest-per-key over the records it
      * covers (collected before it was written) */
    def checkpointAll(): Unit = {
      cat.checkpointFilesLog()
      for ((name, log, checkpoint) <- Seq[(String, OccLog, () => Long)](
          ("members_log", cat.membersLog, () => cat.checkpointMembersLog()),
          ("edges_log", cat.edgesLog, () => cat.checkpointEdgesLog()),
          ("admin_log", cat.adminLog, () => cat.checkpointAdminLog()))) {
        import scala.jdk.CollectionConverters._
        val schema = log.records().schema
        val prefix = log.records().collect().toList.asJava
        val n = checkpoint()
        if (n > 0L) {
          val cols = schema.fieldNames.map(col).toIndexedSeq
          val got = spark.read.parquet(ckptDir(root, name, n)).select(cols: _*)
          val want = expected(name, spark.createDataFrame(prefix, schema)
            .filter(col("__seq") <= n)).select(cols: _*)
          assert(rowsOf(got) == rowsOf(want), s"seed $seed step $step: checkpoint $n " +
            s"of $name differs from latest-per-key over its records")
          got.collect().foreach { r =>
            val op = r.getAs[String]("__op")
            if (op == MemberRemoveAll || op == MemberRemoveFid) covered += op
            if (name == "edges_log" && r.isNullAt(0)) covered += "edge wildcard to a child"
            if (name == "edges_log" && r.isNullAt(1)) covered += "edge wildcard from a parent"
          }
        }
      }
      assertSameAsFresh(cat, root, s"seed $seed step $step")
    }

    val ops: IndexedSeq[(String, () => Unit)] = IndexedSeq(
      "addTo" -> (() => cat.addTo(some(3).toDF("fid"), "fold", ds())),
      "addTo a scanned set" -> (() => {
        val f = some(2)
        cat.addTo(cat.files.filter(col("fid").isin(f: _*)), "fold", ds())
      }),
      "removeFrom" -> (() => cat.removeFrom(some(4).toDF("fid"), "fold", ds())),
      "removeDataset + recreate" -> (() => {
        val d = ds()
        cat.removeDataset("fold", d)
        cat.createDataset("fold", d)
      }),
      "removeFiles" -> (() => {
        val f = some(1)
        cat.removeFiles(f)
        live --= f
      }),
      "re-declare a removed fid" -> (() => {
        val gone = fids.filterNot(live).take(1)
        if (gone.nonEmpty) {
          cat.declareFiles(declareRows(gone), dataset = Some(("fold", ds())))
          live ++= gone
        }
      }),
      "addProvenance" -> (() => {
        val Seq(a, b, c) = some(3)
        cat.addProvenance(Seq((a, b), (b, c)).toDF("parent_fid", "child_fid"))
      }),
      "replace parents" -> (() => {
        val Seq(f, p1, p2) = some(3)
        cat.updateFile(f, parents = Some(Seq(p1, p2)), mode = "replace")
      }),
      "retireFiles" -> (() => cat.retireFiles(some(2))),
      "updateFileMeta" -> (() =>
        cat.updateFileMeta(some(2), s"""{"opt.n":${rnd.nextInt(100)}}""")),
      "updateDataset" -> (() =>
        cat.updateDataset("fold", ds(), metadataJson = Some(s"""{"ds.n":${rnd.nextInt(100)}}"""))),
      "saveNamedQuery" -> (() =>
        cat.saveNamedQuery("fold", s"q${rnd.nextInt(3)}", s"files from fold:${ds()}")),
      "addDatasetEdge" -> (() => {
        val Seq(a, b) = rnd.shuffle(dss).take(2)
        try cat.addDatasetEdge("fold", a, "fold", b)
        catch { case _: IllegalArgumentException => () } // a cycle: rejected
      }),
      "keyed out-of-order publish" -> (() =>
        outOfOrder(cat, root, ds(), some(2), check)),
      "checkpoint" -> (() => checkpointAll()),
      "vacuum" -> (() => {
        cat.vacuumFilesLog(); cat.vacuumMembersLog()
        cat.vacuumEdgesLog(); cat.vacuumAdminLog()
      }))

    def run(name: String, op: () => Unit): Unit = {
      step += 1
      op()
      check(name)
    }
    for (_ <- 1 to steps) {
      val (name, op) = ops(rnd.nextInt(ops.size))
      run(name, op)
    }
    // every wildcard kind lands in a checked checkpoint at least once
    for (name <- Seq("removeDataset + recreate", "removeFiles", "replace parents", "checkpoint"))
      run(name, ops.find(_._1 == name).get._2)
    assert(covered == Set(MemberRemoveAll, MemberRemoveFid,
      "edge wildcard to a child", "edge wildcard from a parent"), s"seed $seed covered $covered")
    // a second instance compacts every log (seqs restart at 1), then as
    // many members-log commits land again as the fold had seen: the
    // cached segments must never pass for the new ones
    val before = cat.membersLog.currentSeq()
    cat.membersLog.folded()
    run("compaction by another instance", () => other.compactFilesLog())
    while (cat.membersLog.currentSeq() < before)
      run("commit after the compaction", () =>
        outOfOrder(cat, root, ds(), some(2), check))
  }

  test("driver folds equal latest-per-key over records() through a seeded mutation script") {
    for (seed <- Seq(11L, 12L)) scenario(seed, steps = 30)
  }

  test("a foreign compaction followed by as many commits never passes for the cached segments") {
    import spark.implicits._
    val root = registerRoot(Files.createTempDirectory("graft-foldkey-").toString)
    val schema = Seq(("x", 1L)).toDF("k", "v")
      .withColumn("__op", lit("upsert")).withColumn("__seq", lit(1L)).schema
    val spec = OccLog.FoldSpec(Seq("k", "v", "__seq"), _.getString(0))
    def open() = new OccLog(spark, root, "tlog", schema,
      Some(OccLog.latestPerKey(Seq("k"))), foldSpec = Some(spec))
    val mine = open()
    val theirs = open()
    def fold(): Map[String, Long] =
      mine.folded().latest.values.map(r => r.getString(0) -> r.getLong(1)).toMap
    def commits(v: Long): Unit =
      for (i <- 1 to 3) theirs.commit(() => Seq((s"k$i", v * i)).toDF("k", "v"), "upsert")

    commits(1L)
    assert(fold() == Map("k1" -> 1L, "k2" -> 2L, "k3" -> 3L))
    theirs.truncate() // compaction: the same seqs 1..3 get published again
    commits(10L)
    assert(fold() == Map("k1" -> 10L, "k2" -> 20L, "k3" -> 30L))
    // the same for a checkpoint re-created at the same seq
    assert(theirs.checkpoint() == 3L)
    assert(fold() == Map("k1" -> 10L, "k2" -> 20L, "k3" -> 30L))
    theirs.truncate()
    commits(100L)
    assert(theirs.checkpoint() == 3L)
    assert(fold() == Map("k1" -> 100L, "k2" -> 200L, "k3" -> 300L))
    // and nothing left after a compaction with no new commits
    theirs.truncate()
    assert(fold().isEmpty)
  }

  test("addTo and removeFrom on a non-empty members log stay within a fixed job budget") {
    import spark.implicits._
    val root = registerRoot(Files.createTempDirectory("graft-foldjobs-").toString)
    val cat = new ParquetCatalog(spark, root)
    val fids = (0 until 200).map(i => f"J$i%04d")
    cat.createDataset("fold", "jobs")
    cat.declareFiles(declareRows(fids), dataset = Some(("fold", "jobs")))
    cat.removeFrom(fids.take(5).toDF("fid"), "fold", "jobs") // log non-empty
    cat.addTo(fids.take(2).toDF("fid"), "fold", "jobs")

    def jobs(f: => Unit): Int = JobBudget.jobs(spark.sparkContext)(f)
    // each op reads the segment the previous one published, probes the
    // base once and writes once; the Spark-side overlays cost ~20 each
    val removeJobs = jobs(cat.removeFrom(fids.slice(10, 14).toDF("fid"), "fold", "jobs"))
    val addJobs = jobs(cat.addTo(fids.slice(2, 12).toDF("fid"), "fold", "jobs"))
    assert(removeJobs <= 3, s"removeFrom ran $removeJobs jobs")
    assert(addJobs <= 4, s"addTo ran $addJobs jobs")
    val members = cat.filesDatasets.filter(col("dataset_name") === "jobs")
      .select("fid").as[String].collect().toSet
    assert(members == fids.toSet -- fids.slice(12, 14))
  }
}
