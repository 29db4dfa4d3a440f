package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Merge-on-read files-table storage: mutations append row versions /
  * tombstones to `files_log/` (O(rows touched), no base rewrite); reads
  * overlay latest-log-wins; [[ParquetCatalog.compactFilesLog]] folds the
  * log back into the base. The log must be invisible to readers — pinned
  * here by driving the SAME mutation sequence through the catalog and an
  * in-memory copy-on-write model (each mutation rewrites the model's row
  * map) and asserting identical live state at every checkpoint, plus the
  * physical no-base-write guarantee. */
class MergeOnReadSpec extends SparkTestBase {

  private def newCat(): (ParquetCatalog, String) = {
    val root = Files.createTempDirectory("graft-mor-").toString
    (new ParquetCatalog(spark, root), root)
  }

  /** one live file row of the model: metadata as key -> JSON value */
  private case class MRow(namespace: String, name: String, size: Long,
      retired: Boolean, meta: Map[String, String])

  /** the model's rows after [[declare]]: the same rows it writes */
  private def modelDeclare(ns: String, n: Int, tag: String): Map[String, MRow] =
    (0 until n).map { i =>
      s"$tag$i" -> MRow(ns, s"f_$tag$i.dat", 100L + i, retired = false,
        Map("core.run" -> i.toString))
    }.toMap

  /** [[mutate]] applied to the model */
  private def modelMutate(m: Map[String, MRow]): Map[String, MRow] = {
    var out = m
    for (f <- Seq("M1", "M3")) out = out.updated(f, out(f).copy(retired = true))
    for (f <- Seq("M2", "M4")) out = out.updated(f, out(f).copy(
      meta = out(f).meta ++ Map("core.run" -> "999", "opt.tag" -> "\"x\"")))
    out = out.updated("M5", out("M5").copy(namespace = "moved"))
    out = out.updated("M6", out("M6").copy(size = 4242L))
    out - "M7"
  }

  /** the model's rows in the shape of [[state]] */
  private def modelState(m: Map[String, MRow]): Seq[String] =
    m.toSeq.map { case (fid, r) =>
      val meta = r.meta.toSeq.sorted
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      Seq(fid, r.namespace, r.name, r.size.toString, r.retired.toString, meta)
        .mkString("|")
    }.sorted

  private def declare(cat: ParquetCatalog, ns: String, n: Int, tag: String): Unit = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      (s"$tag$i", ns, s"f_$tag$i.dat", s"""{"core.run":$i}""", "tester", 100L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-02-01 00:00:00")))
    cat.declareFiles(rows)
  }

  /** live state, normalized for comparison (metadata as canonical JSON) */
  private def state(cat: ParquetCatalog): Seq[String] =
    cat.files
      .select(concat_ws("|", col("fid"), col("namespace"), col("name"),
        col("size"), col("retired").cast("string"),
        to_json(col("metadata"))).as("row"))
      .collect().map(_.getString(0)).toSeq.sorted

  private def mutate(cat: ParquetCatalog): Unit = {
    cat.retireFiles(Seq("M1", "M3"))
    cat.updateFileMeta(Seq("M2", "M4"), """{"core.run":999,"opt.tag":"x"}""")
    cat.moveNamespace(Seq("M5"), "moved")
    cat.updateFile("M6", size = Some(4242L))
    cat.removeFiles(Seq("M7"))
  }

  test("merge-on-read state matches copy-on-write at every checkpoint") {
    val (mor, morRoot) = newCat()
    declare(mor, "alpha", 10, "M"); declare(mor, "beta", 5, "B")
    var model = modelDeclare("alpha", 10, "M") ++ modelDeclare("beta", 5, "B")
    assert(state(mor) == modelState(model))
    mutate(mor); model = modelMutate(model)
    assert(state(mor) == modelState(model))
    // shredded predicate pushdown columns stay in sync with mutated metadata
    assert(mor.files.filter(col("fid") === "M2")
      .select(expr("try_variant_get(metadata, \"$['core.run']\", 'long')"))
      .head().getLong(0) == 999L)
    // compaction folds the log and preserves state exactly
    mor.compactFilesLog()
    assert(state(mor) == modelState(model))
    assert(!new java.io.File(s"$morRoot/files_log").exists())
  }

  test("MOR mutations never touch base partition files; compaction is scoped") {
    val (cat, root) = newCat()
    declare(cat, "hot", 20, "H")
    declare(cat, "cold", 20, "C")
    def snap(ns: String): Set[(String, Long, Long)] = {
      val dir = new java.io.File(s"$root/files/namespace=$ns")
      assert(dir.isDirectory, s"missing partition dir for $ns")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.length(), f.lastModified())).toSet
    }
    val hotBefore = snap("hot")
    val coldBefore = snap("cold")
    cat.retireFiles(Seq("H1"))
    cat.updateFileMeta(Seq("H2"), """{"core.run":7}""")
    cat.removeFiles(Seq("H3"))
    // every mutation was a log append: BOTH partitions physically intact
    assert(snap("hot") == hotBefore, "MOR mutation rewrote the touched partition's base")
    assert(snap("cold") == coldBefore, "MOR mutation rewrote an untouched partition")
    assert(new java.io.File(s"$root/files_log").isDirectory)
    // the merged view reflects the log
    assert(cat.files.filter(col("fid") === "H1" && col("retired")).count() == 1)
    assert(cat.files.filter(col("fid") === "H3").count() == 0)
    // compaction rewrites ONLY the touched partition and truncates the log
    cat.compactFilesLog()
    assert(snap("cold") == coldBefore, "compaction rewrote an untouched partition")
    assert(snap("hot") != hotBefore, "compaction did not fold the log into `hot`")
    assert(!new java.io.File(s"$root/files_log").exists())
    assert(cat.files.filter(col("fid") === "H1" && col("retired")).count() == 1)
    assert(cat.files.filter(col("fid") === "H3").count() == 0)
    assert(cat.files.count() == 39)
  }

  test("hard-deleted fid can be re-declared through the log") {
    import spark.implicits._
    val (cat, _) = newCat()
    declare(cat, "res", 3, "R")
    cat.removeFiles(Seq("R1"))
    assert(cat.files.filter(col("fid") === "R1").count() == 0)
    // re-declare the tombstoned fid (plus a brand-new one in the batch)
    val rows = Seq(("R1", "res", "f_R1v2.dat", """{"core.run":11}""", "tester", 777L),
      ("R9", "res", "f_R9.dat", """{"core.run":9}""", "tester", 900L))
      .toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-02-02 00:00:00")))
    cat.declareFiles(rows)
    val r1 = cat.files.filter(col("fid") === "R1").collect()
    assert(r1.length == 1 && r1.head.getAs[Long]("size") == 777L)
    assert(cat.files.filter(col("fid") === "R9").count() == 1)
    // duplicate of a LIVE fid still rejected
    intercept[IllegalArgumentException](cat.declareFiles(rows))
    // and everything survives compaction
    cat.compactFilesLog()
    assert(cat.files.filter(col("fid") === "R1").head().getAs[Long]("size") == 777L)
    assert(cat.files.count() == 4)
  }

  test("reopened MOR catalog continues the log sequence") {
    val (cat, root) = newCat()
    declare(cat, "seq", 4, "S")
    cat.retireFiles(Seq("S0"))
    // a NEW catalog instance over the same root must not reuse seq numbers
    // (a reused seq could let an older version win the latest-wins merge)
    val reopened = new ParquetCatalog(spark, root)
    reopened.updateFileMeta(Seq("S0"), """{"core.run":500}""")
    assert(reopened.files.filter(col("fid") === "S0")
      .select(expr("try_variant_get(metadata, \"$['core.run']\", 'long')"))
      .head().getLong(0) == 500L)
    // the retire from the first instance still holds under the newer upsert?
    // latest-wins: the update row carries retired=true forward because it
    // was computed FROM the merged view
    assert(reopened.files.filter(col("fid") === "S0" && col("retired")).count() == 1)
  }

  // ---- time travel (filesAsOf / logHistory / currentLogSeq) ----

  test("filesAsOf names every log sequence; latest-of-<=seq wins") {
    val (cat, _) = newCat()
    declare(cat, "tt", 5, "T")
    assert(cat.currentLogSeq() == 0L)
    val declared = state(cat)
    cat.retireFiles(Seq("T0")) // seq 1
    cat.updateFileMeta(Seq("T1"), """{"core.run":777,"opt.mark":"X"}""") // seq 2
    val mid = cat.currentLogSeq()
    assert(mid == 2L)
    val midState = state(cat)
    cat.updateFileMeta(Seq("T1"), """{"core.run":888}""") // seq 3: 2nd version
    cat.removeFiles(Seq("T2")) // seq 4: tombstone
    assert(cat.currentLogSeq() == 4L)

    def asOfState(seq: Long): Seq[String] =
      cat.filesAsOf(seq)
        .select(concat_ws("|", col("fid"), col("namespace"), col("name"),
          col("size"), col("retired").cast("string"),
          to_json(col("metadata"))).as("row"))
        .collect().map(_.getString(0)).toSeq.sorted

    // seq 0 = pure base; mid = retire + FIRST patch only; current seq (and
    // anything beyond it) = the live view
    assert(asOfState(0L) == declared)
    assert(asOfState(mid) == midState)
    assert(asOfState(cat.currentLogSeq()) == state(cat))
    assert(asOfState(Long.MaxValue) == state(cat))
    // the twice-patched fid shows its seq-2 version when read as-of 2
    assert(cat.filesAsOf(mid).filter(col("fid") === "T1")
      .select(expr("try_variant_get(metadata, \"$['core.run']\", 'long')"))
      .head().getLong(0) == 777L)
    // the tombstoned fid exists in every snapshot before its delete
    assert(cat.filesAsOf(3L).filter(col("fid") === "T2").count() == 1)
    assert(cat.filesAsOf(4L).filter(col("fid") === "T2").count() == 0)
  }

  test("logHistory journals every mutation; compaction bounds time travel") {
    val (cat, _) = newCat()
    declare(cat, "tt", 4, "J")
    cat.retireFiles(Seq("J0", "J1")) // seq 1 (one batch, one seq)
    cat.removeFiles(Seq("J3")) // seq 2
    val hist = cat.logHistory().collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 1L, 2L),
      "one seq per mutation batch, ordered")
    assert(hist.filter(_.getLong(0) == 1L).forall(_.getString(1) == "upsert"))
    assert(hist.filter(_.getLong(0) == 2L).map(r => (r.getString(1), r.getString(2))).toSeq
      == Seq(("delete", "J3")))
    // compaction folds the log: sequences reset, history empties, and the
    // only reachable snapshot (seq 0) IS the current state — the VACUUM
    // bound of Delta-style time travel
    val live = state(cat)
    cat.compactFilesLog()
    assert(cat.currentLogSeq() == 0L)
    assert(cat.logHistory().count() == 0L)
    assert(state(cat) == live)
    assert(cat.filesAsOf(0L)
      .select(concat_ws("|", col("fid"), col("namespace"), col("name"),
        col("size"), col("retired").cast("string"),
        to_json(col("metadata"))).as("row"))
      .collect().map(_.getString(0)).toSeq.sorted == live)
  }

  test("mutation-sized commits land as single part files (commit sizing)") {
    // a mutation-sized commit is written on the driver as one part file
    // (SegmentIO) instead of inheriting the session's shuffle/scan
    // partitioning — a tiny segment was 5-10 near-empty part files, each
    // listed + footer-read by every later records() fold. Layout only;
    // the state-equality tests above pin that semantics are unchanged.
    val (mor, morRoot) = newCat()
    declare(mor, "alpha", 10, "M")
    mutate(mor)
    val logDir = new java.io.File(s"$morRoot/files_log")
    val segs = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("s"))
    assert(segs.nonEmpty, "expected published commit segments")
    for (s <- segs) {
      val parts = Option(s.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-"))
      assert(parts.length == 1,
        s"segment ${s.getName} has ${parts.length} part files, expected 1")
    }
  }
}
