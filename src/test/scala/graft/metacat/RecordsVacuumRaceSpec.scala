package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Pins the r14 driver-run flake (CatalogIngestStreamSpec's concurrent
  * test, 1-in-N): `spark.read.parquet` resolves its file index EAGERLY,
  * so a checkpoint+vacuum landing between [[OccLog.records]]'s segment
  * listing and its `spark.read` calls used to throw PATH_NOT_FOUND out
  * of plan CONSTRUCTION — before any materializing caller's
  * `retryOnVanish` could see it (the ingest path's very first
  * `mkBatch()` in `declareFiles` is built outside the pin-retry loop).
  * records() now absorbs the plan-time race inside its own guard loop;
  * the deterministic seam [[OccLog.onRecordsPinned]] fires maintenance
  * in the exact window. */
class RecordsVacuumRaceSpec extends SparkTestBase with OccFailureCapture {

  test("records() retries when a vacuum deletes just-listed segments") {
    import spark.implicits._
    val root = registerRoot(
      Files.createTempDirectory("graft-recrace-").toString)
    val schema = Seq(("x", 1L)).toDF("k", "v")
      .withColumn("__op", lit("upsert")).withColumn("__seq", lit(1L)).schema
    val log = new OccLog(spark, root, "tlog", schema,
      Some(OccLog.latestPerKey(Seq("k"))))
    for (i <- 1 to 4)
      log.commit(() => Seq((s"k$i", i.toLong)).toDF("k", "v"), "upsert",
        Some(Seq(s"k$i")))

    // no checkpoint yet: records() pins the listing [s1..s4]; the seam
    // then checkpoints (fold lands at seq 4) and vacuums (s1..s4 deleted)
    // INSIDE the window between the pointer re-validation and the eager
    // reads — the exact interleaving the ingest stream hit against the
    // admin loop's maintenance cadence. One-shot: the retry's fresh
    // listing must see the post-vacuum state and serve the checkpoint.
    var fired = 0
    log.onRecordsPinned = () => {
      if (fired == 0) {
        fired += 1
        log.onRecordsPinned = () => ()
        assert(log.checkpoint() == 4L)
        assert(log.vacuum() == 4L)
      }
    }
    val recs = log.records() // pre-fix: AnalysisException PATH_NOT_FOUND
    assert(fired == 1, "the seam must have raced the listing")
    // the checkpoint is the fold of the vacuumed prefix: same live state
    assert(recs.count() == 4L)
    assert(recs.select("k").as[String].collect().sorted.toSeq ==
      Seq("k1", "k2", "k3", "k4"))
  }

  test("folded() retries when a vacuum deletes segments between its listing and the driver read") {
    import spark.implicits._
    val root = registerRoot(
      Files.createTempDirectory("graft-foldrace-").toString)
    val schema = Seq(("x", 1L)).toDF("k", "v")
      .withColumn("__op", lit("upsert")).withColumn("__seq", lit(1L)).schema
    val spec = OccLog.FoldSpec(Seq("k", "v", "__seq"), _.getString(0))
    def open() = new OccLog(spark, root, "tlog", schema,
      Some(OccLog.latestPerKey(Seq("k"))), foldSpec = Some(spec))
    val log = open()
    for (i <- 1 to 4)
      log.commit(() => Seq((s"k${i % 3}", i.toLong)).toDF("k", "v"), "upsert")
    // folded() lists s1..s4 and their part files, then the seam
    // checkpoints and vacuums them before the driver reads a byte
    var fired = 0
    log.onRecordsPinned = () => {
      if (fired == 0) {
        fired += 1
        log.onRecordsPinned = () => ()
        assert(log.checkpoint() == 4L)
        assert(log.vacuum() == 4L)
      }
    }
    val raced = log.folded().latest
    assert(fired == 1, "the seam must have raced the listing")
    val fresh = open().folded().latest
    def view(m: Map[Any, org.apache.spark.sql.Row]) = m.view.mapValues(_.toSeq).toMap
    assert(view(raced) == view(fresh))
    assert(view(raced) == Map("k0" -> Seq("k0", 3L, 3L), "k1" -> Seq("k1", 4L, 4L),
      "k2" -> Seq("k2", 2L, 2L)))
  }

  test("a segment missing on every attempt fails loudly, with the read failure as cause") {
    import spark.implicits._
    val root = registerRoot(
      Files.createTempDirectory("graft-recmissing-").toString)
    val schema = Seq(("x", 1L)).toDF("k", "v")
      .withColumn("__op", lit("upsert")).withColumn("__seq", lit(1L)).schema
    val log = new OccLog(spark, root, "tlog", schema,
      Some(OccLog.latestPerKey(Seq("k"))),
      foldSpec = Some(OccLog.FoldSpec(Seq("k", "v", "__seq"), _.getString(0))))
    log.commit(() => Seq(("k1", 1L)).toDF("k", "v"), "upsert")
    // more segments than the guard has attempts, none covered by a
    // checkpoint: the seam deletes the newest one after every listing,
    // so each attempt finds a just-listed segment gone — a segment lost
    // outside the protocol, not a vacuum the retry could outrun
    val logDir = java.nio.file.Paths.get(root, "tlog")
    val s1 = logDir.resolve(f"s${1L}%020d")
    for (s <- 2 to 2 * OccLog.MaxReadAttempts + 1) { // two reads' worth
      val dst = java.nio.file.Files.createDirectory(logDir.resolve(f"s${s.toLong}%020d"))
      java.nio.file.Files.list(s1).forEach(f =>
        java.nio.file.Files.copy(f, dst.resolve(f.getFileName)))
    }
    def segments(): Seq[java.nio.file.Path] = {
      val st = java.nio.file.Files.list(logDir)
      try st.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]).sortBy(_.toString)
      finally st.close()
    }
    log.onRecordsPinned = () => {
      val newest = segments().last
      java.nio.file.Files.list(newest).forEach(f => java.nio.file.Files.delete(f))
      java.nio.file.Files.delete(newest)
    }
    for ((what, read) <- Seq[(String, () => Any)](
        "records()" -> (() => log.records()), "folded()" -> (() => log.folded()))) {
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("deleted outside the commit protocol"),
        s"$what: ${e.getMessage}")
      assert(e.getCause != null && OccLog.fileVanished(e.getCause) &&
        e.getCause.getMessage.contains("PATH_NOT_FOUND"),
        s"$what: the cause must be the missing-segment read, got ${e.getCause}")
    }
  }

  /** a log whose driver fold keeps every column — it checkpoints from
    * that fold — holding seqs 1..3 and 5, with 4 claimed but unpublished:
    * the dense prefix is 3, so a checkpoint's fold view (which also holds
    * seq 5) ends past it and the checkpoint reads seqs ≤ 3 itself */
  private def holedLog(tag: String): (String, () => OccLog, OccLog) = {
    import spark.implicits._
    val root = registerRoot(Files.createTempDirectory(s"graft-$tag-").toString)
    val schema = Seq(("x", 1L)).toDF("k", "v")
      .withColumn("__op", lit("upsert")).withColumn("__seq", lit(1L)).schema
    def open() = new OccLog(spark, root, "tlog", schema, None,
      foldSpec = Some(OccLog.FoldSpec(schema.fieldNames.toSeq, _.getString(0))))
    val writer = open()
    for (i <- 1 to 3)
      writer.commit(() => Seq((s"k${i % 2}", i.toLong)).toDF("k", "v"), "upsert",
        Some(Seq(s"k${i % 2}")))
    assert(writer.claimNext(Some(Seq("k9"))) == 4L)
    writer.commit(() => Seq(("k5", 5L)).toDF("k", "v"), "upsert", Some(Seq("k5")))
    assert(writer.densePublishedSeq() == 3L)
    (root, () => open(), writer)
  }

  private def ckptDirs(root: String): Seq[String] =
    Option(new java.io.File(s"$root/tlog_ckpt").list()).toSeq.flatten.sorted

  private def stagedLeftovers(root: String): Seq[String] =
    Option(new java.io.File(s"$root/_tmp").list()).toSeq.flatten.filter(_.startsWith("ckpt-"))

  test("checkpoint() from the driver fold retries when a second instance checkpoints and vacuums under its read") {
    val (root, open, theirs) = holedLog("ckptrace")
    val mine = open()
    // the first pinned window is the fold refresh, the second the
    // checkpoint's own read of seqs ≤ 3: the second instance checkpoints
    // and vacuums there, deleting the segments just listed
    var pinned = 0
    mine.onRecordsPinned = () => {
      pinned += 1
      if (pinned == 2) {
        assert(theirs.checkpoint() == 3L)
        assert(theirs.vacuum() == 3L)
      }
    }
    assert(mine.checkpoint() == 3L)
    // the raced read failed on the vacuumed segments; its retry found
    // seq 3 covered by the second instance's checkpoint
    assert(pinned == 2, "the seam must have raced the checkpoint's read")
    mine.onRecordsPinned = () => ()
    // one checkpoint, theirs: nothing partial or empty staged or
    // published by the raced attempt
    assert(ckptDirs(root) == Seq(f"s${3L}%020d"))
    assert(stagedLeftovers(root).isEmpty)
    import spark.implicits._
    val ckpt = spark.read.parquet(s"$root/tlog_ckpt/${ckptDirs(root).head}")
      .select("k", "v", "__seq").as[(String, Long, Long)].collect().toSet
    assert(ckpt == Set(("k1", 3L, 3L), ("k0", 2L, 2L)))
    def view(l: OccLog) = l.folded().latest.view.mapValues(_.toSeq).toMap
    assert(view(mine) == view(open()))
    assert(view(mine).keySet == Set("k0", "k1", "k5"))
  }

  test("a checkpoint whose prefix loses a segment on every attempt publishes nothing and fails loudly") {
    val (root, open, _) = holedLog("ckptmissing")
    val log = open()
    // seq 1 is deleted outside the protocol inside the checkpoint's read
    // window; every later listing lacks it while the pointer stands still
    var pinned = 0
    log.onRecordsPinned = () => {
      pinned += 1
      if (pinned == 2) {
        val seg = new java.io.File(root, f"tlog/s${1L}%020d")
        seg.listFiles().foreach(_.delete())
        seg.delete()
      }
    }
    val e = intercept[IllegalStateException](log.checkpoint())
    assert(e.getMessage.contains("no stable view") &&
      e.getMessage.contains("deleted outside the commit protocol"), e.getMessage)
    assert(e.getCause != null && OccLog.fileVanished(e.getCause),
      s"the cause must be the missing segment, got ${e.getCause}")
    assert(ckptDirs(root).isEmpty, s"published ${ckptDirs(root)}")
    assert(stagedLeftovers(root).isEmpty)
  }
}
