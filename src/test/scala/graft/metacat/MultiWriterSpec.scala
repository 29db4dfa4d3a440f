package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Multi-writer safety of the merge-on-read commit protocol
  * (claim-by-atomic-create + publish-by-rename, see
  * `ParquetCatalog.commitFilesLog`). The reference gets this from
  * Postgres transactions (`data_handler.py` handlers each run on one
  * transactional connection); here two INDEPENDENT catalog instances —
  * separate claim races, separate caches, shared store — mutate one root
  * concurrently and the result must be SERIALIZABLE: identical to some
  * serial order of the committed mutations.
  *
  * The serializability witness is metadata merge ("update" mode folds the
  * patch over the predecessor's metadata): writer A adds keys a0..aN,
  * writer B adds keys b0..bN, to the SAME fids. Any lost update —
  * a commit computed from a stale snapshot shadowing a concurrent
  * commit — permanently drops the other writer's keys; the serializable
  * outcome carries every key from both writers. */
class MultiWriterSpec extends SparkTestBase with OccFailureCapture {

  private def newRoot(): String =
    registerRoot(Files.createTempDirectory("graft-multiwriter-").toString)

  private def declare(cat: ParquetCatalog, n: Int): Unit = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      (s"W$i", "alpha", s"w_$i.dat", s"""{"core.run":$i}""", "tester", 100L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-02-01 00:00:00")))
    cat.declareFiles(rows)
  }

  private def seqDirs(root: String, t: String): Seq[Long] = {
    val d = new java.io.File(s"$root/$t")
    if (!d.isDirectory) Nil
    else d.listFiles().toSeq.map(_.getName).collect {
      case n if n.matches("s\\d{20}") => n.drop(1).toLong
    }
  }

  test("two concurrent writers: every merge-mode patch survives (serializable OCC)") {
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
    declare(a, 6)
    val fids = (0 until 6).map(i => s"W$i")

    val perWriter = 8
    def burst(cat: ParquetCatalog, tag: String): Future[Unit] = Future {
      // deterministic per-writer schedule; the interleave itself is the
      // nondeterminism under test
      for (k <- 0 until perWriter) {
        val hit = Seq(fids(k % fids.size), fids((k + 3) % fids.size))
        cat.updateFileMeta(hit, s"""{"opt.$tag$k":$k}""", mode = "update", by = tag)
      }
    }
    Await.result(Future.sequence(Seq(burst(a, "a"), burst(b, "b"))), 10.minutes)

    // claims are dense 1..N with exactly one published dir per claim
    val claims = seqDirs(root, "files_log_claims").sorted
    val published = seqDirs(root, "files_log").sorted
    assert(claims == published, s"claimed $claims but published $published")
    assert(claims == (1L to claims.size).toSeq, s"claim sequence not dense: $claims")
    assert(claims.size == 2 * perWriter)

    // serializability: fold the committed patches in __seq order — the
    // live metadata must equal the serial fold (no lost updates)
    val hist = a.logHistory().select("__seq").collect().map(_.getLong(0))
    assert(hist.distinct.sorted.toSeq == (1L to claims.size).toSeq)
    val meta = a.files
      .select(col("fid"), to_json(col("metadata")).as("mj"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val expectedKeys: Map[String, Set[String]] = {
      val m = scala.collection.mutable.Map[String, Set[String]]()
      for (f <- fids) m(f) = Set("core.run")
      for (tag <- Seq("a", "b"); k <- 0 until perWriter;
           f <- Seq(fids(k % fids.size), fids((k + 3) % fids.size)))
        m(f) = m(f) + s"opt.$tag$k"
      m.toMap
    }
    for (f <- fids) {
      val got = spark.read.json(
        spark.createDataset(Seq(meta(f)))(org.apache.spark.sql.Encoders.STRING))
        .columns.toSet
      assert(got == expectedKeys(f),
        s"$f lost updates: missing ${expectedKeys(f) -- got}, extra ${got -- expectedKeys(f)}")
    }

    // a reopened third instance sees the same converged state
    val c = new ParquetCatalog(spark, root)
    assert(c.currentLogSeq() == claims.size.toLong)
    assert(c.files.count() == fids.size.toLong)
  }

  test("cross-instance sequence allocation never collides (interleaved, no threads)") {
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
    declare(a, 4)
    // the pre-OCC design kept a per-instance counter: this exact
    // interleave made b reuse a's sequence and silently shadow its commit
    a.retireFiles(Seq("W0"))
    b.updateFileMeta(Seq("W1"), """{"opt.x":1}""")
    a.moveNamespace(Seq("W2"), "moved")
    b.removeFiles(Seq("W3"))
    assert(seqDirs(root, "files_log").sorted == Seq(1L, 2L, 3L, 4L))
    val live = a.files.select("fid", "namespace", "retired").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(live == Set(("W0", "alpha", true), ("W1", "alpha", false),
      ("W2", "moved", false)))
    // time travel still reaches every intermediate snapshot
    assert(b.filesAsOf(2).filter(col("fid") === "W3").count() == 1)
    assert(b.filesAsOf(4).filter(col("fid") === "W3").count() == 0)
  }

  test("orphaned claim (crashed writer) fails loudly and names the marker") {
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    declare(a, 2)
    a.retireFiles(Seq("W0")) // seq 1, published
    // simulate a writer that died between claim and publish
    val claims = new java.io.File(s"$root/files_log_claims")
    val orphan = new java.io.File(claims, "s" + "0" * 18 + "02")
    assert(orphan.createNewFile())
    // shorten the publish wait for the test (production default: 120 s,
    // sized to cover a queue of claim-first computes ahead)
    System.setProperty("graft.occ.publishTimeoutMs", "2000")
    val ex =
      try intercept[IllegalStateException] {
        a.updateFileMeta(Seq("W1"), """{"opt.y":2}""")
      } finally System.clearProperty("graft.occ.publishTimeoutMs")
    assert(ex.getMessage.contains("claimed but never published"))
    assert(ex.getMessage.contains("files_log_claims"))
    // the aborted writer does NOT publish its own seq as an empty no-op
    // (the predecessor may be slow-but-alive, and a published seq above
    // an unpublished one would misrepresent the queue); its claim stays,
    // named in the error for recovery
    assert(ex.getMessage.contains("s" + "0" * 18 + "03"))
    val aborted = new java.io.File(claims, "s" + "0" * 18 + "03")
    assert(aborted.exists(), "aborted writer's claim must remain")
    assert(!new java.io.File(s"$root/files_log", "s" + "0" * 18 + "03").exists(),
      "aborted writer must not publish a no-op over the hole")
    // manual recovery: drop the orphan AND the aborted claim; the retry
    // then re-claims the freed sequence space
    assert(orphan.delete())
    assert(aborted.delete())
    a.updateFileMeta(Seq("W1"), """{"opt.y":2}""")
    assert(a.files.filter(col("fid") === "W1")
      .select(expr("try_variant_get(metadata, \"$['opt.y']\", 'long')"))
      .head().getLong(0) == 2L)
  }

  test("racing declares of the SAME fid: one winner, one loud rejection, one row") {
    // the reference's PK rejects the duplicate at write time
    // (schema.sql:53); small batches now claim their fids as ephemeral
    // markers, so the check-then-append race has a serialization point
    import spark.implicits._
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
    def batch(extra: String) =
      Seq(("SAME0", "alpha", "same.dat", """{"core.run":1}""", "t", 1L),
        (extra, "alpha", s"$extra.dat", """{"core.run":2}""", "t", 2L))
        .toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
        .withColumn("created_timestamp", to_timestamp(lit("2026-02-01 00:00:00")))
    val results = Await.result(Future.sequence(Seq(
      Future { try { a.declareFiles(batch("A1")); "won" }
        catch { case e: IllegalArgumentException
            if e.getMessage.contains("SAME0") => "rejected" } },
      Future { try { b.declareFiles(batch("B1")); "won" }
        catch { case e: IllegalArgumentException
            if e.getMessage.contains("SAME0") => "rejected" } })), 10.minutes)
    // both may lose (each claimed SAME0's marker check behind the other's
    // completed declare) is impossible — markers serialize: exactly one
    // winner unless one also saw the other's finished row first
    assert(results.count(_ == "won") == 1 && results.count(_ == "rejected") == 1,
      s"same-fid declare race not serialized: $results")
    val rows = new ParquetCatalog(spark, root)
      .files.filter(col("fid") === "SAME0").count()
    assert(rows == 1L, s"expected exactly one SAME0 row, got $rows")
    // markers released: nothing pending
    val claims = new java.io.File(s"$root/declare_claims").listFiles()
    assert(claims == null || claims.isEmpty)

    // ignoreExisting posture: the same race resolves IDEMPOTENTLY — both
    // writers may proceed, contended fids dropped, exactly one row lands
    val results2 = Await.result(Future.sequence(Seq(
      Future { a.declareFiles(batch("A2").withColumn("fid",
        regexp_replace(col("fid"), "SAME0", "SAME1")), ignoreExisting = true) },
      Future { b.declareFiles(batch("B2").withColumn("fid",
        regexp_replace(col("fid"), "SAME0", "SAME1")), ignoreExisting = true) })),
      10.minutes)
    assert(results2.size == 2) // both returned without error
    assert(new ParquetCatalog(spark, root)
      .files.filter(col("fid") === "SAME1").count() == 1L)

    // a crashed declare's stale marker blocks loudly and names the dir
    val stale = new java.io.File(s"$root/declare_claims",
      java.net.URLEncoder.encode("STUCK0", "UTF-8"))
    stale.getParentFile.mkdirs()
    assert(stale.createNewFile())
    val ex = intercept[IllegalArgumentException](
      a.declareFiles(batch("C1").withColumn("fid",
        regexp_replace(col("fid"), "SAME0", "STUCK0"))))
    assert(ex.getMessage.contains("declare_claims"))
    assert(stale.delete())
    a.declareFiles(batch("C2").withColumn("fid",
      regexp_replace(col("fid"), "SAME0", "STUCK0")))
    assert(a.files.filter(col("fid") === "STUCK0").count() == 1L)
  }

  test("concurrent declares of distinct fids: every file row survives") {
    // Spark's own append mode stages under a shared _temporary/ inside
    // the destination, so two concurrent appending jobs could delete each
    // other's staging and silently lose rows (this burst reproduced the
    // loss before appendParquet's write-then-move). The declare path must
    // keep every batch from every writer.
    import spark.implicits._
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
    def batch(tag: String, i: Int) =
      Seq((s"D$tag$i", "alpha", s"d_$tag$i.dat", s"""{"core.run":$i}""", "tester", 1L))
        .toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
        .withColumn("created_timestamp", to_timestamp(lit("2026-02-01 00:00:00")))
    val burstA = Future { for (i <- 0 until 10) a.declareFiles(batch("A", i)) }
    val burstB = Future { for (i <- 0 until 10) b.declareFiles(batch("B", i)) }
    Await.result(Future.sequence(Seq(burstA, burstB)), 10.minutes)
    val fids = new ParquetCatalog(spark, root)
      .files.select("fid").collect().map(_.getString(0)).toSet
    for (t <- Seq("A", "B"); i <- 0 until 10)
      assert(fids(s"D$t$i"), s"declare D$t$i lost to a concurrent append")
  }
}
