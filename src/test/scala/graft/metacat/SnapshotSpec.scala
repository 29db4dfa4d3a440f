package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** `ParquetCatalog.snapshot()`: ONE reproducibility handle across all
  * four delta logs (files ⊕ memberships ⊕ edges ⊕ dimensions), captured
  * by re-reading the frontiers until two consecutive passes agree.
  *
  * Proven here:
  *  - as-of views at a captured version replay the exact state that was
  *    live at capture time, even after later mutations land on every log
  *  - a snapshot taken DURING a concurrent commit burst returns a
  *    consistent cut (bounded by the pre/post frontiers, monotonic), and
  *    its as-of views are readable
  *  - continuous churn past the pass budget fails loudly instead of
  *    returning an unvalidated cut */
class SnapshotSpec extends SparkTestBase with OccFailureCapture {

  private def newRoot(): String =
    registerRoot(Files.createTempDirectory("graft-snap-").toString)

  private def declare(cat: ParquetCatalog, n: Int,
      ds: Option[(String, String)] = None): Unit = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      (s"S$i", "alpha", s"s_$i.dat", s"""{"core.run":$i}""", "tester", 100L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-02-01 00:00:00")))
    cat.declareFiles(rows, dataset = ds)
  }

  private def state(cat: ParquetCatalog, v: ParquetCatalog.CatalogVersion): Seq[String] = {
    val f = cat.filesAsOf(v).select(concat_ws("|", lit("f"), col("fid"),
        col("namespace"), col("retired"), to_json(col("metadata"))))
      .collect().map(_.getString(0)).toSeq
    val m = cat.filesDatasetsAsOf(v).select(concat_ws("|", lit("m"), col("fid"),
        col("dataset_namespace"), col("dataset_name")))
      .collect().map(_.getString(0)).toSeq
    val e = cat.parentChildAsOf(v).select(concat_ws("|", lit("e"),
        col("parent_fid"), col("child_fid")))
      .collect().map(_.getString(0)).toSeq
    val d = cat.datasetsAsOf(v).select(concat_ws("|", lit("d"),
        col("namespace"), col("name"), to_json(col("metadata"))))
      .collect().map(_.getString(0)).toSeq
    (f ++ m ++ e ++ d).sorted
  }

  private def live(cat: ParquetCatalog): Seq[String] = {
    val f = cat.files.select(concat_ws("|", lit("f"), col("fid"),
        col("namespace"), col("retired"), to_json(col("metadata"))))
      .collect().map(_.getString(0)).toSeq
    val m = cat.filesDatasets.select(concat_ws("|", lit("m"), col("fid"),
        col("dataset_namespace"), col("dataset_name")))
      .collect().map(_.getString(0)).toSeq
    val e = cat.parentChild.select(concat_ws("|", lit("e"),
        col("parent_fid"), col("child_fid")))
      .collect().map(_.getString(0)).toSeq
    val d = cat.datasets.select(concat_ws("|", lit("d"),
        col("namespace"), col("name"), to_json(col("metadata"))))
      .collect().map(_.getString(0)).toSeq
    (f ++ m ++ e ++ d).sorted
  }

  test("as-of views at a captured version replay the capture-time state exactly") {
    import spark.implicits._
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    cat.createDataset("sds", "d")
    declare(cat, 6, ds = Some(("sds", "d")))
    cat.addProvenance(Seq(("S0", "S1"), ("S1", "S2")).toDF("parent_fid", "child_fid"))
    cat.retireFiles(Seq("S4"))
    cat.removeFrom(Seq("S5").toDF("fid"), "sds", "d")
    cat.updateDataset("sds", "d", metadataJson = Some("""{"ds.v":1}"""))

    val v = cat.snapshot()
    val expected = live(cat) // the state the version must keep naming

    // mutate every log after the capture
    cat.updateFileMeta(Seq("S0"), """{"opt.later":1}""")
    cat.removeFrom(Seq("S1").toDF("fid"), "sds", "d")
    cat.removeFiles(Seq("S2")) // files + members + edges
    cat.updateDataset("sds", "d", metadataJson = Some("""{"ds.v":2}"""))
    cat.createDataset("sds", "d2")

    assert(state(cat, v) == expected,
      "snapshot views diverged from the capture-time state")
    // a later snapshot names the new state; versions are monotonic
    val v2 = cat.snapshot()
    assert(v2.files >= v.files && v2.members >= v.members &&
      v2.edges >= v.edges && v2.admin >= v.admin)
    assert(state(cat, v2) == live(cat))
  }

  test("snapshot during a concurrent commit burst returns a validated consistent cut") {
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
    declare(a, 4)
    val stop = new AtomicBoolean(false)
    val writer = Future {
      var k = 0
      while (!stop.get()) {
        b.updateFileMeta(Seq(s"S${k % 4}"), s"""{"opt.w$k":$k}""")
        k += 1
        Thread.sleep(30L) // bursty, with gaps a double-pass can land in
      }
      k
    }
    try {
      val before = a.currentLogSeq()
      val v = a.snapshot(maxAttempts = 256)
      assert(v.files >= before, s"snapshot fell behind: $v vs $before")
      assert(v.files <= a.currentLogSeq())
      // the captured version stays readable while commits keep landing
      assert(a.filesAsOf(v).count() == 4L)
    } finally stop.set(true)
    val total = Await.result(writer, 5.minutes)
    assert(total > 0, "writer burst never ran")
  }

  test("snapshots during an updateFile-replace storm never straddle the txn") {
    // r13 (closes r12 What's wrong #3): updateFile with metadata +
    // replace-parents is now ONE primary-leg transaction; a capture
    // between its files-log and edges-log effects — possible when they
    // were two separate OCC commits — must be impossible. Each storm
    // mutation atomically (a) stamps `upd.v` into Si's metadata and
    // (b) replaces Si's parents with the EMPTY set, so any cut where
    // exactly one of the two is visible is a straddle.
    import spark.implicits._
    val n = 16
    val cat = new ParquetCatalog(spark, newRoot())
    cat.createDataset("sds", "d")
    declare(cat, n, ds = Some(("sds", "d")))
    cat.addProvenance((0 until n - 1).map(i => (s"S$i", s"S${i + 1}"))
      .toDF("parent_fid", "child_fid"))
    val victims = (3 until n by 2).map(i => s"S$i")
    val stop = new AtomicBoolean(false)
    val storm = Future {
      victims.foreach { f =>
        if (!stop.get())
          cat.updateFile(f, metadataJson = Some(s"""{"upd.v":1}"""),
            parents = Some(Nil), mode = "replace")
      }
    }
    try {
      var checks = 0
      while (!storm.isCompleted && checks < 100) {
        val v = cat.snapshot()
        val stamped = cat.filesAsOf(v)
          .select(col("fid"),
            expr("try_variant_get(metadata, \"$['upd.v']\", 'long')").as("u"))
          .collect().map(r => r.getString(0) -> !r.isNullAt(1)).toMap
        val withParent = cat.parentChildAsOf(v)
          .select("child_fid").collect().map(_.getString(0)).toSet
        for (f <- victims)
          assert(stamped(f) == !withParent(f),
            s"straddled cut for $f at $v: metaStamped=${stamped(f)} " +
            s"parentsCleared=${!withParent(f)}")
        checks += 1
      }
      assert(checks > 0)
    } finally stop.set(true)
    Await.result(storm, 300.seconds)
    val finalParents = cat.parentChild.select("child_fid")
      .collect().map(_.getString(0)).toSet
    assert(victims.forall(f => !finalParents(f)))
  }

  test("a pinned version survives maintenance: vacuum refuses, unpin releases") {
    import spark.implicits._
    val root = newRoot()
    val cat = new ParquetCatalog(spark, root)
    cat.createDataset("sds", "d")
    declare(cat, 6, ds = Some(("sds", "d")))
    cat.retireFiles(Seq("S4"))          // files seq 1
    val v = cat.snapshot()
    cat.pin("run-2026-03", v)
    val expected = state(cat, v)

    // later mutations + a checkpoint that covers history PAST the pin
    cat.updateFileMeta(Seq("S0"), """{"opt.later":1}""") // files seq 2
    cat.checkpointFilesLog()
    // vacuum must refuse: its horizon (ckpt seq 2) would pass the pinned
    // files seq 1 and destroy the pin's as-of read
    val ex = intercept[IllegalStateException] { cat.vacuumFilesLog() }
    assert(ex.getMessage.contains("run-2026-03"))
    assert(Fsck.audit(cat).collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap.getOrElse("mor_stale_pins", -1L) == 0L)
    // the pinned read still works, bit-for-bit
    assert(state(cat, v) == expected)
    // compaction refuses too (it would restart every sequence)
    assert(intercept[IllegalStateException] { cat.compactFilesLog() }
      .getMessage.contains("run-2026-03"))

    // a second pin at the CURRENT frontier does not block the vacuum by
    // itself — only the oldest pin does
    cat.pin("head", cat.snapshot())
    intercept[IllegalStateException] { cat.vacuumFilesLog() }

    // unpin releases maintenance
    assert(cat.unpin("run-2026-03"))
    assert(cat.vacuumFilesLog() > 0L)
    // the destroyed version now fails loudly; the surviving pin reads
    intercept[IllegalStateException] { cat.filesAsOf(v) }
    assert(cat.filesAsOf(cat.pins().toMap.apply("head")).count() == 6L)

    // a FORCED vacuum past a live pin leaves a stale pin fsck reports
    val cat2 = new ParquetCatalog(spark, newRoot())
    declare(cat2, 3)
    cat2.retireFiles(Seq("S0"))
    cat2.pin("doomed", cat2.snapshot())
    cat2.updateFileMeta(Seq("S1"), """{"opt.x":1}""")
    cat2.checkpointFilesLog()
    cat2.vacuumFilesLog(force = true)
    assert(Fsck.audit(cat2).collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap.apply("mor_stale_pins") == 1L)
    // pinning an already-destroyed version is refused up front
    intercept[IllegalStateException] {
      cat2.pin("too-late", ParquetCatalog.CatalogVersion(1L, 0L, 0L, 0L))
    }
  }

  test("an unvalidated cut is never returned: the pass budget fails loudly") {
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    declare(a, 2)
    // one pass can never validate (validation IS two agreeing passes) —
    // the budget path must throw rather than hand back an unchecked cut
    val ex = intercept[IllegalStateException](a.snapshot(maxAttempts = 1))
    assert(ex.getMessage.contains("did not stabilize"))
    assert(a.snapshot(maxAttempts = 2) ==
      ParquetCatalog.CatalogVersion(0L, 0L, 0L, 0L))
  }
}
