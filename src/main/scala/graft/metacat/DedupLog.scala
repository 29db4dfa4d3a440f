package graft.metacat

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.pipeline.Dedup

/** MULTI-WRITER incremental cross-batch dedup, governed by the catalog's
  * OCC log protocol ([[OccLog]]) — the one store behind
  * [[graft.streaming.IncrementalDedupStream]] and the incremental-dedup
  * gates. Real ingest fleets run many streams (per source, per shard)
  * against one logical corpus, so this store makes concurrent admission
  * SERIALIZABLE with the exact per-key conflict rule the dedup semantics
  * induce:
  *
  *  - each ingest batch commits ONE log seq whose declared key footprint
  *    is its docs' LSH bucket keys (`b:<band>:<bkey>`) plus its doc
  *    identities (`d:<doc_id>`);
  *  - a MinHash-LSH near-dup pair by construction shares at least one
  *    (band, bkey) bucket, and a re-arriving doc shares its `d:` key — so
  *    two batches whose footprints are DISJOINT cannot influence each
  *    other's admission verdicts (their probes meet no shared bucket,
  *    their re-arrival checks no shared id). Disjoint commits therefore
  *    commute and [[OccLog.commit]] runs them concurrently; intersecting
  *    commits serialize in claim order, and the LATER one computes its
  *    admissions inside the commit closure, after the earlier's publish —
  *    reading the earlier's admitted docs through [[OccLog.records]].
  *
  * This is exactly the OCC validation rule a lock-based system would
  * approximate with bucket-range locks, derived instead from the
  * admission algebra: admission of doc A depends only on previously
  * admitted docs sharing a bucket with A (candidate generation,
  * [[Dedup.incrementalDedupPairs]]) and on A's own identity (the
  * re-arrival anti-join). Nothing else in the store can change the
  * verdict, so nothing else needs to conflict.
  *
  * AT-LEAST-ONCE delivery converges without partition tricks: a
  * redelivered batch's docs are already corpus members, the re-arrival
  * anti-join empties the batch, and the commit publishes zero rows — the
  * store is append-once per doc no matter how often a batch retries, and
  * a doc redelivered under a new batch id keeps its original `batch`.
  * Each admission is one atomic segment, so there is no window in which
  * a doc's corpus row landed without its index rows.
  *
  * Storage shape: ONE log, rows `(doc_id, band, bkey, text, batch)` —
  * band `-1` is the corpus row (carries text, null bkey), bands `0..b-1`
  * are the signature-index rows (null text), so text is stored once per
  * doc and the narrow index stays index-sized. `batch` is caller
  * provenance (the micro-batch id), not protocol state. Checkpoint +
  * vacuum come FREE from the log ([[checkpoint]]/[[vacuum]] delegate):
  * the standard fold-the-prefix maintenance, safe under concurrent
  * writers, and it keeps every row's `batch`.
  *
  * Scale shape per batch: O(batch) shingling, then a handful of Spark
  * jobs. Before the claim, one job collects the batch's signature rows
  * `(doc_id, band, bkey)` and doc ids; the declared footprint is built
  * from them on the driver — ≤ (bands+1)·|batch| short strings,
  * megabytes for a 100k-doc micro-batch, the same driver-sized protocol
  * metadata every claim marker and transaction intent already is. Inside
  * the commit, ONE narrow scan collects the stored rows in the batch's
  * buckets or under its ids plus every tombstone; liveness, re-arrivals
  * and candidate pairs are worked out from them on the driver (never a
  * corpus rescan, never a driver copy of the index); one verify query
  * reads text only for candidates ([[Dedup.incrementalDedupPairs]]'s
  * contract); one write publishes the admitted rows. The driver holds
  * the batch keys, the probe hits, the tombstones and the candidate
  * pairs.
  *
  * The reference has no multi-writer dedup (its dedup is Postgres-side
  * uniqueness); this extends the LLM-pipeline scope the same way the
  * 4-log catalog extends its metadata scope. */
final class DedupLog(spark: SparkSession, root: String,
    numHashes: Int = 8, bands: Int = 4, threshold: Double = 0.5) {

  import DedupLog._

  private[metacat] val log = new OccLog(spark, root, "dedup_log", Schema,
    Some(OccLog.latestPerKey(Seq("doc_id", "band"))))

  // Pin the LSH configuration to the store: signatures written under one
  // (numHashes, bands) banding are meaningless to a probe using another,
  // and the conflict rule itself keys on the banding — a second writer
  // opening the store with different params would SILENTLY mis-dedup.
  // First open stamps an exclusive marker; every open verifies it.
  locally {
    val p = new org.apache.hadoop.fs.Path(s"$root/dedup_meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val want = s"numHashes=$numHashes\nbands=$bands\nthreshold=$threshold"
    if (!fs.exists(p)) {
      fs.mkdirs(p.getParent)
      try {
        val out = fs.create(p, false) // exclusive: first writer stamps
        try out.write(want.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      } catch { case _: java.io.IOException => () } // racer stamped first
    }
    val in = fs.open(p)
    val got = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    require(got == want,
      s"dedup store at $root was created with [$got]; this writer wants " +
        s"[$want] — mixed LSH configs silently mis-dedup, refusing to open")
  }

  /** Admit one ingest batch of `(doc_id, text)` rows under OCC: probe the
    * published index for the batch's buckets, admit near-dup survivors
    * (the [[Dedup.incrementalAdmit]] rule — chain policy, intra-batch
    * earliest wins), publish their corpus + index rows as one commit. Safe
    * to call concurrently from any number of writers (threads or JVMs
    * sharing the store root); `batchId` is provenance stamped on the
    * admitted rows. */
  def ingest(batch: DataFrame, batchId: Long): Unit = {
    val deduped = batch.select(col("doc_id").cast("long").as("doc_id"),
      col("text").cast("string").as("text")).dropDuplicates("doc_id")
    // the deduplicated batch as a persisted RDD: `.rdd` runs the dedup
    // shuffle once, and each query's first scan fills the cache in that
    // query's own job — a persisted Dataset would add a cache-building
    // job for every scan of it in a plan
    val rows = deduped.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val b = spark.createDataFrame(rows, deduped.schema)
    try {
      // the signature is a pure function of the batch text — collected
      // ONCE here (with the batch ids, in one job), it declares the key
      // footprint, drives the probe and, filtered to the admitted docs,
      // is the index rows, so the commit closure never re-shingles
      val (idRows, sig) = Dedup.bandedKeys(
          Dedup.shinglesUncached(b).select("doc_id", "shingles"), numHashes, bands)
        .select(col("doc_id"), col("band").cast("int").as("band"), col("bkey"))
        .unionByName(b.select(col("doc_id"), lit(CorpusBand).as("band"),
          lit(null).cast("string").as("bkey")))
        .collect().toSeq.map(r => Sig(r.getLong(0), r.getInt(1), r.getString(2)))
        .partition(_.band == CorpusBand)
      val ids = idRows.map(_.doc)
      val keys = (sig.map(s => s"b:${s.band}:${s.bkey}") ++ ids.map(d => s"d:$d"))
        .distinct.toIndexedSeq
      log.commit(() => {
        // published state of every conflicting predecessor (commit has
        // awaited them); disjoint concurrent commits may or may not
        // appear — they commute with this one (scaladoc above)
        val rec = log.records()
        val live = liveRows(rec, sig.map(_.bkey).toSet, ids.toSet)
        // at-least-once / re-arrival: an id already admitted is the same
        // doc, not a near-dup — drop before the probe
        val stored = live.filter(_.band == CorpusBand).map(_.doc).toSet
        val fresh = sig.filterNot(s => stored(s.doc))
        val hits = live.filter(_.band >= 0).groupBy(h => (h.band, h.bkey))
        // cross candidates meet a live index row in a bucket; intra
        // candidates an EARLIER fresh batch doc (doc_b < doc_a)
        val cross = for {
          s <- fresh
          h <- hits.getOrElse((s.band, s.bkey), Nil)
        } yield (s.doc, h.doc, h.seq)
        val intra = fresh.groupBy(s => (s.band, s.bkey)).values.flatMap { g =>
          val docs = g.map(_.doc).distinct
          for (a <- docs; d <- docs if d < a) yield (a, d, BatchSeq)
        }
        val admitted = ids.filterNot(stored).toSet --
          rejected(b, rec, (cross ++ intra).distinct)
        import spark.implicits._
        b.filter(col("doc_id").isInCollection(admitted))
          .select(col("doc_id"), lit(CorpusBand).as("band"),
            lit(null).cast("string").as("bkey"), col("text"),
            lit(batchId).as("batch"))
          .unionByName(sig.filter(s => admitted(s.doc))
            .map(s => (s.doc, s.band, s.bkey, null: String, batchId))
            .toDF("doc_id", "band", "bkey", "text", "batch"))
      }, OpAdmit, Some(keys))
      ()
    } finally { rows.unpersist(); () }
  }

  /** The live `(doc_id, band, bkey, __seq)` rows of `rec` whose `bkey` is
    * in `bkeys` or whose doc is in `ids`, from ONE narrow scan collected
    * to the driver. The scan also returns every tombstone (curation-sized,
    * as [[live]] assumes), folded by [[retiredAt]]. */
  private def liveRows(rec: DataFrame, bkeys: Set[String],
      ids: Set[Long]): Seq[Hit] = {
    val rows = rec
      .filter(col("__op") === OpRemove || col("bkey").isInCollection(bkeys) ||
        col("doc_id").isInCollection(ids))
      .select("doc_id", "band", "bkey", "__op", "__seq").collect()
    val (tombs, recs) = rows.toSeq.partition(_.getString(3) == OpRemove)
    val retired = retiredAt(tombs.map(r => (r.getLong(0), r.getLong(4))))
    recs.collect {
      case r if isLive(retired, r.getLong(0), r.getLong(4)) =>
        Hit(r.getLong(0), r.getInt(1), r.getString(2), r.getLong(4))
    }
  }

  /** The `doc_a`s of candidate pairs `(doc_a, doc_b, seq_b)` whose exact
    * shingle Jaccard reaches the threshold, in one verify query. `doc_a`
    * is a batch doc; `doc_b` is a batch doc when `seq_b` is [[BatchSeq]],
    * else a corpus doc whose live text is its corpus row AT `seq_b` — the
    * seq of its live index hit, since an admission writes a doc's corpus
    * and index rows in one seq. The candidates' shingle sets are one
    * broadcast, probed twice by the pairs (a local relation). */
  private def rejected(b: DataFrame, rec: DataFrame,
      cand: Seq[(Long, Long, Long)]): Set[Long] = {
    if (cand.isEmpty) return Set.empty
    import spark.implicits._
    val batchDocs = cand.flatMap { case (a, d, s) => if (s == BatchSeq) Seq(a, d) else Seq(a) }
    val corpusDocs = cand.collect { case (_, d, s) if s != BatchSeq => (d, s) }
    val texts = b.filter(col("doc_id").isInCollection(batchDocs.toSet))
      .select(col("doc_id"), lit(BatchSeq).as("seq"), col("text"))
      .unionByName(rec
        // the id filter is the one parquet can push down; the id:seq key
        // picks each doc's live generation
        .filter(col("band") === CorpusBand &&
          col("doc_id").isInCollection(corpusDocs.map(_._1).toSet) &&
          concat_ws(":", col("doc_id"), col("__seq"))
            .isInCollection(corpusDocs.map { case (d, s) => s"$d:$s" }.toSet))
        .select(col("doc_id"), col("__seq").as("seq"), col("text")))
    val side = broadcast(Dedup.shinglesUncached(texts)
      .select("doc_id", "seq", "shingles"))
    cand.map { case (a, d, s) => (a, BatchSeq, d, s) }
      .toDF("doc_a", "seq_a", "doc_b", "seq_b")
      .join(side.as("a"), col("doc_a") === col("a.doc_id") && col("seq_a") === col("a.seq"))
      .join(side.as("b"), col("doc_b") === col("b.doc_id") && col("seq_b") === col("b.seq"))
      .filter(Dedup.jaccard(col("a.shingles"), col("b.shingles")) >= threshold)
      .select("doc_a").collect().map(_.getLong(0)).toSet
  }

  /** Retire admitted docs from the store (corpus curation / removal
    * requests): ONE tombstone commit shadows every live `(doc_id, band)`
    * row of the named docs under the per-key fold, so the docs leave the
    * corpus, their index rows stop producing candidates, and a LATER
    * near-duplicate of a retired doc is admissible again.
    *
    * Serialization: the commit declares the retired rows' own bucket
    * keys plus the doc identities — an admission probing any of those
    * buckets intersects and serializes, so its verdict is always
    * computed with the tombstones visible (admit-after-retire admits).
    * The retired row set is read (one narrow probe of the named docs,
    * folded on the driver) BEFORE the claim: admitted rows are
    * immutable, so the tombstones are identical whenever computed, and a
    * doc NOT yet visible to this session is simply not retired (retire
    * what you read; re-run for docs that raced in — their `d:` key
    * serializes this commit against the racing admission either way). */
  def retire(docIds: Seq[Long], batchId: Long = -1L): Unit = {
    val ids = docIds.distinct
    if (ids.isEmpty) return
    import spark.implicits._
    val live = liveRows(log.records(), Set.empty, ids.toSet)
    if (live.isEmpty) return
    val keys = live.flatMap { h =>
      val d = s"d:${h.doc}"
      if (h.band >= 0) Seq(d, s"b:${h.band}:${h.bkey}") else Seq(d)
    }.distinct.toIndexedSeq
    val rows = live.map(h => (h.doc, h.band, h.bkey, null: String, batchId))
    log.commit(() =>
      rows.toDF("doc_id", "band", "bkey", "text", "batch")
        .withColumn("__op", lit(OpRemove)),
      OpRemove, Some(keys))
  }

  /** Live records as a Spark plan — the read side of [[corpus]],
    * [[index]] and [[fsck]]. The tombstones (curation-sized) are
    * collected in one narrow scan and folded on the driver by the rule
    * [[liveRows]] applies ([[retiredAt]], [[isLive]]); the records are
    * then filtered map-side, with no shuffle and no join. Checkpoints
    * apply the full latest-per-key collapse, which physically shadows
    * removed rows under exactly these semantics. */
  private def live(): DataFrame = {
    val rec = log.records()
    val retired = retiredAt(rec.filter(col("__op") === OpRemove)
      .select("doc_id", "__seq").collect().map(r => (r.getLong(0), r.getLong(1))))
    val admitted = rec.filter(col("__op") =!= OpRemove)
    if (retired.isEmpty) admitted
    else admitted.filter(udf((d: Long, s: Long) => isLive(retired, d, s))
      .apply(col("doc_id"), col("__seq")))
  }

  private def corpusOf(rows: DataFrame): DataFrame =
    rows.filter(col("band") === CorpusBand).select("doc_id", "text", "batch")

  private def indexOf(rows: DataFrame): DataFrame =
    rows.filter(col("band") >= 0).select("doc_id", "band", "bkey")

  /** the admitted corpus: one `(doc_id, text, batch)` row per live doc */
  def corpus(): DataFrame = corpusOf(live())

  /** the persisted signature index: `(doc_id, band, bkey)` per band */
  def index(): DataFrame = indexOf(live())

  /** fold the published prefix into one checkpoint dir (read-cost bound;
    * no exclusive window needed — [[OccLog.checkpoint]]) */
  def checkpoint(): Long = log.checkpoint()

  /** drop raw segments + claims the checkpoint covers ([[OccLog.vacuum]]) */
  def vacuum(): Long = log.vacuum()

  /** Audit the corpus↔index invariants; one row per check
    * (`check`, `violations`, `ok`). All-green is the store's healthy
    * state: unique live corpus doc_ids, exactly `bands` index rows per
    * corpus doc, no orphan index rows, unique (doc_id, band), and — the
    * full-strength check — the stored index must EQUAL the index
    * recomputed from the corpus text (O(corpus) shingling; fsck is an
    * audit, not a hot path). */
  def fsck(): DataFrame = {
    import spark.implicits._
    val rows = live()
    val corpus = corpusOf(rows).drop("batch")
    val idx = indexOf(rows)
    val corpusIds = corpus.select("doc_id").persist()
    val nCorpus = corpusIds.count()
    val corpusDup = nCorpus - corpusIds.distinct().count()
    // exactly `bands` index rows per corpus doc (a doc with zero rows is
    // invisible to every future probe; more than `bands` double-counts)
    val perDoc = idx.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val cardinality = corpusIds.distinct()
      .join(perDoc, Seq("doc_id"), "left")
      .filter(coalesce(col("n"), lit(0L)) =!= bands).count()
    // index rows for docs the corpus does not hold (phantom candidates)
    val orphans = idx.select("doc_id").distinct()
      .join(corpusIds.distinct(), Seq("doc_id"), "left_anti").count()
    val bandDup = idx.count() - idx.select("doc_id", "band").distinct().count()
    // full-strength: stored index == index recomputed from corpus text
    val recomputed = Dedup.signatureIndex(corpus, numHashes, bands)
      .select(col("doc_id"), col("band").cast("int").as("band"), col("bkey"))
    val sigDiff = recomputed.exceptAll(idx).count() + idx.exceptAll(recomputed).count()
    corpusIds.unpersist()
    Seq(
      ("corpus_doc_unique", corpusDup),
      ("index_cardinality", cardinality),
      ("index_orphans", orphans),
      ("index_band_unique", bandDup),
      ("index_signature_match", sigDiff)
    ).toDF("check", "violations").withColumn("ok", col("violations") === 0L)
  }
}

object DedupLog {

  /** one signature row of an ingest batch */
  private final case class Sig(doc: Long, band: Int, bkey: String)

  /** one live stored row the probe found */
  private final case class Hit(doc: Long, band: Int, bkey: String, seq: Long)

  /** Each retired doc's highest tombstone seq, from its `(doc_id, __seq)`
    * tombstones. */
  private def retiredAt(tombs: Iterable[(Long, Long)]): Map[Long, Long] =
    tombs.groupMapReduce(_._1)(_._2)(math.max)

  /** THE liveness rule of the store: a record of `doc` at `seq` is live
    * iff no tombstone for its doc has a HIGHER seq. Admit rows are
    * append-once per doc generation and [[DedupLog.retire]] removes
    * whole docs, so a re-admission after retire writes fresh rows above
    * the tombstone and comes back live. */
  private def isLive(retired: Map[Long, Long], doc: Long, seq: Long): Boolean =
    retired.get(doc).forall(seq > _)

  /** `seq_b` of a verify candidate whose `doc_b` is in the batch */
  private val BatchSeq = -1L

  /** band value of the corpus (text-carrying) row — real bands are ≥ 0 */
  val CorpusBand: Int = -1

  val OpAdmit = "admit"

  /** tombstone op: a remove row shadows its `(doc_id, band)` key under
    * the fold and is filtered from every read ([[DedupLog.retire]]) */
  val OpRemove = "remove"

  /** at-rest shape: corpus rows (`band = -1`, text, null bkey) and index
    * rows (`band ∈ [0, bands)`, bkey, null text) share one log so a
    * batch's admission is ONE atomic commit */
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("bkey", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("batch", LongType, nullable = false),
    StructField("__op", StringType, nullable = false),
    StructField("__seq", LongType, nullable = false)))
}
