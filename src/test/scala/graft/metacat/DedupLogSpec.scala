package graft.metacat

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import graft.mql.SparkTestBase
import graft.functions.MinHashExpr
import graft.pipeline.Dedup

/** The OCC-governed multi-writer dedup store ([[DedupLog]]): admission
  * parity with the [[Dedup.incrementalAdmit]] rule, serializable
  * concurrent admission (one winner per clone group no matter how batches
  * interleave), redelivery convergence without partition tricks, the
  * log's own lifecycle preserving the corpus, and an fsck that flags each
  * invariant violation. */
class DedupLogSpec extends SparkTestBase with OccFailureCapture {

  // r14: the clone-storm test failed ONCE in a 7-suite group soak (10
  // runs total: 1 failure, 9 green incl. 4 isolated + 3 full-group
  // reruns) and the soak had only grep'd the output — no transcript.
  // Wired into OccFailureCapture so the next occurrence leaves the
  // store's full claim/keys/segment listing behind.
  private def tmpRoot(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-deduplog-$tag-")
    graft.TempDirs.register(d)
    registerRoot(s"$d/store")
  }

  /** docs long enough to shingle; distinct seeds share ZERO tokens (so
    * zero shingles — never candidates), clones share the full text (so
    * jaccard 1.0 — always candidates); ids are never shared */
  private def doc(id: Long, seed: String): (Long, String) =
    (id, (0 until 10).map(i => s"$seed-$i").mkString(" "))

  private def toDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** order-free content identity of the store's corpus */
  private def corpusId(dl: DedupLog): (Long, Long) = {
    val r = dl.corpus().agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(doc_id, text, batch))"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The tombstone fold as a Spark plan — latest tombstone seq per doc,
    * a left join, and the seq comparison — kept as the reference the
    * store's driver-side fold ([[DedupLog.corpus]], [[DedupLog.index]])
    * must equal. */
  private def sparkFolded(dl: DedupLog): DataFrame = {
    val rec = dl.log.records()
    val tomb = rec.filter(col("__op") === DedupLog.OpRemove)
      .groupBy("doc_id").agg(max("__seq").as("__rseq"))
    rec.filter(col("__op") =!= DedupLog.OpRemove)
      .join(tomb, Seq("doc_id"), "left")
      .filter(col("__rseq").isNull || col("__seq") > col("__rseq"))
      .drop("__rseq")
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** `corpus()` and `index()` against the Spark reference fold */
  private def checkFold(dl: DedupLog, step: String): Unit = {
    val ref = sparkFolded(dl)
    val wantCorpus = rowSet(ref.filter(col("band") === DedupLog.CorpusBand)
      .select("doc_id", "text", "batch"))
    val wantIndex = rowSet(ref.filter(col("band") >= 0).select("doc_id", "band", "bkey"))
    assert(rowSet(dl.corpus()) == wantCorpus, s"$step: corpus() differs from the Spark fold")
    assert(rowSet(dl.index()) == wantIndex, s"$step: index() differs from the Spark fold")
  }

  /** the single-writer store's admissions, replayed on the driver through
    * [[Dedup.incrementalAdmit]] (the rule a single writer applies): per batch, re-arrivals of admitted ids dropped, then the rule run
    * against the docs admitted so far; returns (doc_id, batch) */
  private def replay(batches: Seq[(Seq[(Long, String)], Long)]): Set[(Long, Long)] = {
    import spark.implicits._
    batches.foldLeft(Seq.empty[(Long, String, Long)]) { case (acc, (batch, bid)) =>
      val stored = acc.map(_._1).toSet
      val fresh = batch.filterNot(d => stored(d._1))
      val corpus = acc.map(d => (d._1, d._2)).toDF("doc_id", "text")
      val admitted = Dedup.incrementalAdmit(corpus, toDf(fresh))
        .collect().map(_.getLong(0)).toSet
      acc ++ fresh.filter(d => admitted(d._1)).map(d => (d._1, d._2, bid))
    }.map(d => (d._1, d._3)).toSet
  }

  test("sequential ingest matches the single-writer store's admissions") {
    val docs = (0L until 40L).map { i =>
      // %7 == 1 docs clone their predecessor's text — cross-parity
      // near-dups (evens/odds split puts clone pairs in both batches)
      if (i % 7 == 1) doc(i, s"payload-${i - 1}")
      else doc(i, s"payload-$i")
    }
    val evens = docs.filter(_._1 % 2 == 0)
    val odds = docs.filter(_._1 % 2 == 1)

    val root = tmpRoot("parity")
    val dl = new DedupLog(spark, root)
    dl.ingest(toDf(evens), 0L)
    dl.ingest(toDf(odds), 1L)

    val got = dl.corpus().select("doc_id", "batch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = replay(Seq(evens -> 0L, odds -> 1L))
    assert(got == want)
    assert(got.exists(_._2 == 1L) && want.size < docs.size)
    assert(dl.fsck().filter(!col("ok")).count() == 0)
  }

  test("concurrent clone storm: exactly one admitted doc per clone group") {
    val writers = 4
    val groups = 12
    // writer w's batch holds one member of EVERY clone group (identical
    // text ⇒ identical signature ⇒ guaranteed candidates) plus unique
    // filler — every pair of batches conflicts on every group's buckets,
    // the worst-case interleave for the protocol
    def batchOf(w: Int): Seq[(Long, String)] =
      (0 until groups).map(g => doc(w * 1000L + g, s"group-$g")) ++
        (0 until 5).map(k => doc(w * 1000L + 500 + k, s"solo-$w-$k"))

    val root = tmpRoot("storm")
    val dl = new DedupLog(spark, root)
    Await.result(Future.sequence((0 until writers).map(w =>
      Future { dl.ingest(toDf(batchOf(w)), w.toLong) })), 10.minutes)

    val admitted = dl.corpus().collect()
    // one winner per clone group, every unique filler admitted
    val byText = admitted.groupBy(_.getString(1)).view.mapValues(_.length)
    assert(byText.values.forall(_ == 1),
      s"duplicate admissions: ${byText.filter(_._2 > 1).toMap}")
    assert(admitted.length == groups + writers * 5)
    assert(dl.fsck().filter(!col("ok")).count() == 0)

    // the claims carry REAL key footprints (keyed OCC, not total order)
    val claims = new java.io.File(s"$root/dedup_log_claims")
      .listFiles().filter(_.getName.endsWith(".keys"))
    assert(claims.nonEmpty)
    claims.foreach { f =>
      val c = new String(java.nio.file.Files.readAllBytes(f.toPath))
      assert(c.trim != "*" && c.contains("b:"), s"unkeyed claim ${f.getName}")
    }
  }

  test("redelivered batch publishes zero rows; store byte-identical") {
    val root = tmpRoot("redeliver")
    val dl = new DedupLog(spark, root)
    val batch = (0L until 10L).map(i => doc(i, s"pay-$i"))
    dl.ingest(toDf(batch), 0L)
    val before = corpusId(dl)
    dl.ingest(toDf(batch), 0L) // verbatim redelivery
    assert(corpusId(dl) == before)
    // a LATER-batch re-arrival of a subset converges the same way: the
    // redelivered docs keep their original batch
    dl.ingest(toDf(batch.take(3)), 1L)
    assert(corpusId(dl) == before)
    assert(dl.corpus().select("batch").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(dl.fsck().filter(!col("ok")).count() == 0)
  }

  private val b0 = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "one two three four five six seven eight nine",
    3L -> "red orange yellow green blue indigo violet colors")
  private val b1 = Seq(
    10L -> "alpha beta gamma delta epsilon zeta eta iota", // near-dup of 1
    11L -> "completely different words about storage engines here")

  /** a store holding `b0` (batch 0) and `b1` (batch 1) */
  private def twoBatchStore(tag: String): DedupLog = {
    val dl = new DedupLog(spark, tmpRoot(tag))
    dl.ingest(toDf(b0), 0L)
    dl.ingest(toDf(b1), 1L)
    dl
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("redelivery after checkpoint + vacuum publishes zero rows") {
    val dl = twoBatchStore("ckpt-redeliver")
    // batch 1 probed batch 0's persisted index: the clone is rejected
    assert(ids(dl.corpus()) == Set(1L, 2L, 3L, 11L))
    assert(ids(dl.index()) == Set(1L, 2L, 3L, 11L))
    assert(dl.checkpoint() > 0L)
    dl.vacuum()
    val before = corpusId(dl)
    val records = dl.log.records().count()
    // the stream resumes from a checkpoint that never committed batch 1:
    // its docs are already in the log checkpoint, so the redelivery adds
    // nothing and un-admits nothing
    dl.ingest(toDf(b1), 1L)
    assert(dl.log.records().count() == records)
    assert(corpusId(dl) == before)
    assert(dl.fsck().filter(!col("ok")).count() == 0)
  }

  test("fsck detects each invariant violation") {
    import spark.implicits._
    def bad(dl: DedupLog): Set[String] = dl.fsck()
      .filter(!col("ok")).select("check").collect().map(_.getString(0)).toSet
    /** commit raw `(doc_id, band, bkey, text, batch)` rows through the
      * store's own log, bypassing admission */
    def plant(dl: DedupLog, rows: Seq[(Long, Int, String, String, Long)]): Unit =
      dl.log.commit(() => rows.toDF("doc_id", "band", "bkey", "text", "batch"),
        DedupLog.OpAdmit)
    // 1. orphan index rows: a doc the corpus never admitted
    val dl1 = twoBatchStore("fsck-orphan")
    assert(bad(dl1).isEmpty)
    plant(dl1, Seq((99L, 0, "x,y", null, 7L)))
    val afterOrphan = bad(dl1)
    assert(afterOrphan.contains("index_orphans"), s"got $afterOrphan")
    assert(afterOrphan.contains("index_signature_match"))
    // maintenance never masks corruption: the checkpoint keeps the row
    assert(dl1.checkpoint() > 0L)
    dl1.vacuum()
    assert(bad(dl1).contains("index_orphans"))
    // 2. under-indexed corpus doc: admitted text with no index rows
    val dl2 = twoBatchStore("fsck-cardinality")
    plant(dl2, Seq((50L, DedupLog.CorpusBand, null,
      "some entirely new admitted doc text without index rows", 7L)))
    val bad2 = bad(dl2)
    assert(bad2.contains("index_cardinality"), s"got $bad2")
    // 3. duplicate live corpus doc_id (a non-idempotent writer)
    val dl3 = twoBatchStore("fsck-dup")
    plant(dl3, Seq((1L, DedupLog.CorpusBand, null, b0.head._2, 8L)))
    val bad3 = bad(dl3)
    assert(bad3.contains("corpus_doc_unique"), s"got $bad3")
    // 4. corrupted signature content: right cardinality, wrong bkey —
    // doc 1 retired, then re-committed above its tombstones with band 0
    // carrying a wrong bkey
    val dl4 = twoBatchStore("fsck-sig")
    val idx1 = dl4.index().filter(col("doc_id") === 1L).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(idx1.length == 4)
    dl4.retire(Seq(1L))
    plant(dl4, (1L, DedupLog.CorpusBand, null: String, b0.head._2, 0L) +:
      idx1.toSeq.map { case (d, band, bkey) =>
        (d, band, if (band == 0) "corrupted" else bkey, null: String, 0L) })
    val bad4 = bad(dl4)
    assert(bad4 == Set("index_signature_match"), s"got $bad4")
  }

  test("retire frees the bucket: a later clone of a retired doc admits") {
    val root = tmpRoot("retire")
    val dl = new DedupLog(spark, root)
    def ids(): Set[Long] =
      dl.corpus().select("doc_id").collect().map(_.getLong(0)).toSet
    dl.ingest(toDf(Seq(doc(1, "ret-a"), doc(2, "ret-b"))), 0L)
    // clone rejected while the original is live
    dl.ingest(toDf(Seq(doc(11, "ret-a"))), 1L)
    assert(ids() == Set(1L, 2L))
    dl.retire(Seq(1L))
    assert(ids() == Set(2L))
    // the same clone arriving again is now admissible (bucket freed)
    dl.ingest(toDf(Seq(doc(12, "ret-a"))), 2L)
    assert(ids() == Set(2L, 12L))
    // double retire + unknown id: both no-ops
    dl.retire(Seq(1L, 777L))
    assert(ids() == Set(2L, 12L))
    assert(dl.fsck().filter(!col("ok")).count() == 0)
    // checkpoint physically shadows tombstoned rows; reads unchanged
    assert(dl.checkpoint() > 0L)
    dl.vacuum()
    assert(ids() == Set(2L, 12L))
    assert(dl.fsck().filter(!col("ok")).count() == 0)
  }

  test("LSH config pin: a second writer with different banding is refused") {
    val root = tmpRoot("pin")
    new DedupLog(spark, root) // stamps numHashes=8 bands=4
    new DedupLog(spark, root) // same config re-opens fine
    val e = intercept[IllegalArgumentException] {
      new DedupLog(spark, root, numHashes = 16, bands = 8)
    }
    assert(e.getMessage.contains("refusing to open"))
  }

  test("checkpoint + vacuum preserve the corpus under prior concurrency") {
    val root = tmpRoot("lifecycle")
    val dl = new DedupLog(spark, root)
    Await.result(Future.sequence((0 until 3).map(w => Future {
      dl.ingest(toDf((0 until 8).map(k =>
        doc(w * 100L + k, s"life-$w-$k"))), w.toLong)
    })), 10.minutes)
    val before = corpusId(dl)
    assert(dl.checkpoint() > 0L)
    dl.vacuum()
    assert(corpusId(dl) == before)
    assert(dl.fsck().filter(!col("ok")).count() == 0)
    // post-vacuum writers keep working against the checkpointed store
    dl.ingest(toDf(Seq(doc(9999L, "post-vacuum"))), 99L)
    assert(corpusId(dl)._1 == before._1 + 1)
  }

  /** a `n`-token text whose tokens no other `tag` shares */
  private def words(tag: String, n: Int): IndexedSeq[String] =
    (0 until n).map(i => s"$tag-$i")

  /** `toks` with the tokens at `at` replaced (by tokens no other text has) */
  private def edit(toks: IndexedSeq[String], tag: String, at: Range): IndexedSeq[String] =
    toks.indices.map(i => if (at.contains(i)) s"$tag-$i" else toks(i))

  private def text(toks: IndexedSeq[String]): String = toks.mkString(" ")

  private def seqDirs(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.matches("s\\d{20}"))

  /** the newest published segment of the store's log */
  private def newestSegment(root: String): java.io.File =
    seqDirs(s"$root/dedup_log").maxBy(_.getName)

  /** the highest seq the log has published, whether or not a vacuum
    * has since folded its segment into a checkpoint */
  private def frontier(root: String): Long =
    (seqDirs(s"$root/dedup_log") ++ seqDirs(s"$root/dedup_log_ckpt"))
      .map(_.getName.drop(1).toLong).maxOption.getOrElse(0L)

  /** the rows (every one, duplicates kept) and `.keys` sidecar of the
    * segment the last commit published */
  private def lastCommit(root: String): (Seq[Seq[Any]], String) = {
    val dir = newestSegment(root)
    val seq = dir.getName.drop(1).toLong
    val rows = spark.read.parquet(dir.toString)
      .select("doc_id", "band", "bkey", "text", "batch", "__op", "__seq")
      .collect().map(_.toSeq).toSeq
    val keys = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      f"$root/dedup_log_claims/s$seq%020d.keys")), java.nio.charset.StandardCharsets.UTF_8)
    (rows, keys)
  }

  /** Ingest `batch` and check its commit against the Spark-side rule over
    * the store as it stood before: re-arrivals dropped by an anti-join
    * with `corpus()`, then [[Dedup.incrementalAdmit]] with the persisted
    * `index()`. The published segment must hold exactly the admitted
    * docs' corpus and signature rows, each once, and the claim's `.keys`
    * sidecar every batch doc's bucket and identity keys. Returns the
    * admitted ids. */
  private def checkIngest(dl: DedupLog, root: String,
      batch: Seq[(Long, String)], batchId: Long, step: String): Set[Long] = {
    val b = toDf(batch)
    val corpus = dl.corpus().select("doc_id", "text")
    val fresh = b.join(corpus.select("doc_id"), Seq("doc_id"), "left_anti")
    val want = Dedup.incrementalAdmit(corpus, fresh, Some(dl.index()))
      .collect().map(_.getLong(0)).toSet
    val sig = Dedup.signatureIndex(b).select("doc_id", "band", "bkey")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val texts = batch.toMap
    val seq = frontier(root) + 1
    dl.ingest(b, batchId)
    assert(frontier(root) == seq, s"$step: expected one new segment")
    val (segment, keys) = lastCommit(root)
    val rows = segment.toSet
    val got = rows.collect { case r if r(1) == DedupLog.CorpusBand => r.head.asInstanceOf[Long] }
    assert(got == want, s"$step: admitted ${got.toSeq.sorted}, the Spark rule " +
      s"admits ${want.toSeq.sorted}")
    val wantRows = want.map(d => Seq[Any](d, DedupLog.CorpusBand, null, texts(d),
        batchId, DedupLog.OpAdmit, seq)) ++
      sig.collect { case (d, band, bkey) if want(d) =>
        Seq[Any](d, band, bkey, null, batchId, DedupLog.OpAdmit, seq) }
    assert(rows == wantRows, s"$step: segment rows differ: missing " +
      s"${wantRows -- rows}, extra ${rows -- wantRows}")
    assert(segment.size == wantRows.size, s"$step: the segment holds " +
      s"${segment.size} rows for ${wantRows.size} distinct ones")
    val wantKeys = (sig.map { case (_, band, bkey) => s"b:$band:$bkey" } ++
      batch.map(d => s"d:${d._1}")).distinct.sorted.mkString("\n")
    assert(keys == wantKeys, s"$step: .keys sidecar differs")
    got
  }

  /** retire `ids` and check the tombstones and `.keys` sidecar against
    * the live rows the Spark-side fold (`corpus()`, `index()`) holds */
  private def checkRetire(dl: DedupLog, root: String, ids: Seq[Long],
      step: String): Unit = {
    val live = dl.corpus().filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), lit(DedupLog.CorpusBand).as("band"),
        lit(null).cast("string").as("bkey"))
      .unionByName(dl.index().filter(col("doc_id").isin(ids: _*)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val seq = frontier(root) + 1
    dl.retire(ids, -7L)
    assert(frontier(root) == seq, s"$step: expected one new segment")
    val (rows, keys) = lastCommit(root)
    assert(rows.sortBy(_.toString) == live.toSeq.map { case (d, band, bkey) =>
      Seq[Any](d, band, bkey, null, -7L, DedupLog.OpRemove, seq) }.sortBy(_.toString),
      s"$step: tombstones differ")
    val wantKeys = live.flatMap { case (d, band, bkey) =>
      Seq(s"d:$d") ++ (if (band >= 0) Seq(s"b:$band:$bkey") else Nil)
    }.distinct.sorted.mkString("\n")
    assert(keys == wantKeys, s"$step: retire .keys sidecar differs")
  }

  /** One seeded script through every admission case, checked step by
    * step against the Spark rule; `maintain` checkpoints and vacuums the
    * store before every step, so every probe reads a checkpoint. */
  private def differential(seed: Long, maintain: Boolean): Unit = {
    val rnd = new scala.util.Random(registerSeed(seed))
    val root = tmpRoot(s"diff-$seed")
    val dl = new DedupLog(spark, root)
    var next = 1000L
    def id(): Long = { next += 1 + rnd.nextInt(3); next }
    def fresh(n: Int): Seq[(Long, String)] =
      Seq.fill(n)(id()).map(i => (i, text(words(s"w$seed-$i", 20 + rnd.nextInt(20)))))
    var stored = Map.empty[Long, String]
    def step(name: String, batch: Seq[(Long, String)], batchId: Long): Set[Long] = {
      if (maintain) { dl.checkpoint(); dl.vacuum() }
      val got = checkIngest(dl, root, batch, batchId, s"seed $seed: $name")
      checkFold(dl, s"seed $seed: $name")
      stored ++= batch.filter(d => got(d._1))
      got
    }
    // short docs and a null text (no signature rows), exact copies and
    // one doc delivered twice, in one batch
    val base = fresh(12)
    val short = Seq((id(), "tiny"), (id(), "two words"), (id(), ""), (id(), null: String))
    val copies = base.take(2).map { case (_, t) => (id(), t) }
    val twice = fresh(1)
    val b0 = step("short docs and intra-batch copies", base ++ short ++ copies ++ twice ++ twice, 0L)
    assert(short.forall(d => b0(d._1)) && copies.forall(d => !b0(d._1)) && b0(twice.head._1))
    val nullText = short.last._1
    assert(dl.corpus().filter(col("doc_id") === nullText).select("text").collect()
      .map(r => Option(r.getString(0))).toSeq == Seq(None))
    assert(dl.index().filter(col("doc_id") === nullText).isEmpty)
    // an intra-batch chain: y is a near-dup of x, z of y but not of x —
    // z matches only a rejected doc and is still rejected
    val x = words(s"x$seed", 30)
    val y = edit(x, s"y$seed", 0 until 6)
    val z = edit(y, s"z$seed", 24 until 30)
    val chain = Seq((id(), text(x)), (id(), text(y)), (id(), text(z)))
    val b1 = step("intra-batch chain", fresh(4) ++ chain, 1L)
    assert(b1(chain(0)._1) && !b1(chain(1)._1) && !b1(chain(2)._1))
    // cross-batch near-duplicates and exact copies of stored docs
    val stor = stored.toSeq.sortBy(_._1)
    val near = stor.take(3).map { case (_, t) =>
      (id(), text(edit(t.split(" ").toIndexedSeq, s"n$seed", 0 until 1))) }
    val clones = stor.slice(3, 5).map { case (_, t) => (id(), t) }
    val b2 = step("cross-batch near-dups", fresh(5) ++ near ++ clones, 2L)
    assert(clones.forall(d => !b2(d._1)) && near.exists(d => !b2(d._1)))
    // a redelivery mixed with fresh docs
    step("redelivery mixed with fresh docs", stor.take(4) ++ fresh(3), 3L)
    // retire, then a clone of the retired doc admits; a retired id is
    // admitted again under its own id
    val (gone, keep) = (stor.head, stor(1))
    if (maintain) { dl.checkpoint(); dl.vacuum() }
    checkRetire(dl, root, Seq(gone._1, keep._1), s"seed $seed: retire")
    checkFold(dl, s"seed $seed: retire")
    val clone = (id(), gone._2)
    val b4 = step("clone of a retired doc", Seq(clone, keep) ++ fresh(2), 4L)
    assert(b4(clone._1) && b4(keep._1))
    step("verbatim redelivery", Seq(clone, keep), 5L)
  }

  test("ingest admits exactly what the Spark-side rule admits") {
    for (seed <- Seq(11L, 12L)) differential(seed, maintain = false)
  }

  test("ingest matches the Spark-side rule on a checkpointed, vacuumed store") {
    differential(13L, maintain = true)
  }

  test("ingest leaves the session shingle cache untouched") {
    val root = tmpRoot("cache")
    val dl = new DedupLog(spark, root)
    // a hot corpus entry, as the dedup gates leave it
    Dedup.withShingles(toDf((0L until 6L).map(i => doc(i, s"hot-$i")))).count()
    val before = Dedup.shingleCacheKeys
    dl.ingest(toDf((0L until 6L).map(i => doc(i, s"cache-$i"))), 0L)
    dl.ingest(toDf((0L until 6L).map(i => doc(i + 10, s"cache-$i"))), 1L)
    assert(Dedup.shingleCacheKeys == before)
  }

  test("ingest, redelivery and retire stay within a fixed job budget") {
    val root = tmpRoot("jobs")
    val dl = new DedupLog(spark, root)
    def batch(from: Long): Seq[(Long, String)] =
      (from until from + 60L).map(i => doc(i, s"jobs-$i"))
    dl.ingest(toDf(batch(0L)), 0L)
    dl.checkpoint()
    dl.vacuum()
    dl.ingest(toDf(batch(100L)), 1L)
    dl.retire(Seq(100L, 101L))
    // the measured batch: fresh docs, clones of stored docs and an
    // intra-batch clone pair, so the probe, the verify and the write run
    val measured = batch(200L).take(50) ++ (0L until 8L).map(i => doc(300L + i, s"jobs-$i")) ++
      Seq(doc(310L, "jobs-250"), doc(311L, "jobs-250"))
    // fresh docs and an intra-batch clone pair: no candidate is a stored
    // doc, so the verify reads no corpus text
    val noStored = (400L until 420L).map(i => doc(i, s"jobs-$i")) ++
      Seq(doc(430L, "jobs-430"), doc(431L, "jobs-430"))
    def jobs(f: => Unit): Int = JobBudget.jobs(spark.sparkContext)(f)
    val ingest = jobs(dl.ingest(toDf(measured), 2L))
    val redeliver = jobs(dl.ingest(toDf(measured), 2L))
    val local = jobs(dl.ingest(toDf(noStored), 3L))
    val retire = jobs(dl.retire(Seq(200L, 201L)))
    val corpus = jobs(dl.corpus().collect())
    // the batch query (its dedup shuffle and the collect), the probe and
    // the corpus side of the verify; the Jaccard and the write run on
    // the driver
    assert(ingest <= 4, s"ingest ran $ingest jobs")
    assert(redeliver <= 4, s"redelivery ran $redeliver jobs")
    assert(local <= 3, s"an ingest with no stored-doc candidates ran $local jobs")
    assert(retire <= 3, s"retire ran $retire jobs")
    assert(corpus <= 2, s"a corpus read ran $corpus jobs")
    val ids = dl.corpus().select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 60L).toSet ++ (102L until 160L) ++ (202L until 250L) + 310L ++
      (400L until 420L) + 430L)
  }

  /** `(MinHash nodes, MinHash nodes inside a lambda body)` in `df`'s
    * optimized plan — a lambda body runs once per array element */
  private def minhashes(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
    def walk(e: Expression, inLambda: Boolean): Seq[Boolean] = e match {
      case m: MinHashExpr => inLambda +: walk(m.child, inLambda)
      case l: LambdaFunction => l.children.flatMap(walk(_, inLambda = true))
      case _ => e.children.flatMap(walk(_, inLambda))
    }
    val found = df.queryExecution.optimizedPlan.collect { case p => p.expressions }
      .flatten.flatMap(walk(_, inLambda = false))
    (found.size, found.count(identity))
  }

  test("the ingest batch query MinHashes each doc once") {
    val dl = new DedupLog(spark, tmpRoot("minhash"))
    val b = toDf((0L until 6L).map(i => doc(i, s"mh-$i")) :+ (9L, "short"))
    assert(minhashes(dl.batchDocs(b)) == (1, 0))
    // control: band keys built by a lambda over the signature pull the
    // MinHash into the lambda body, which the check above refuses (over a
    // shuffle, as in the batch query: a plan over a bare local relation
    // is evaluated by the optimizer and keeps no MinHash at all)
    val lambdaForm = Dedup.shinglesUncached(b.dropDuplicates("doc_id"))
      .select(col("doc_id"), MinHashExpr.minhash(col("shingles"), 8).as("sig"))
      .select(col("doc_id"), expr("transform(sequence(0, 3), b -> concat_ws(',', " +
        "transform(sequence(2 * b, 2 * b + 1), i -> cast(sig[i] as string))))").as("bkeys"))
    assert(minhashes(lambdaForm) == (1, 1))
    // the collected rows: short docs keep a row with null shingles and keys
    val rows = dl.batchDocs(b).collect().map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == (0L until 6L).toSet + 9L)
    assert(rows(9L).isNullAt(2) && rows(9L).isNullAt(3))
    val idx = Dedup.signatureIndex(b).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(rows.values.filterNot(_.isNullAt(3)).flatMap(r =>
      r.getSeq[String](3).zipWithIndex.map { case (k, band) => (r.getLong(0), band, k) })
      .toSet == idx)
  }
}
