package graft.metacat

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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
  * Scale shape per batch: Spark runs the batch query and the log scans;
  * every batch-sized step runs on the driver. Before the claim, ONE
  * batch query (the `doc_id` dedup shuffle, shingling and one MinHash
  * per doc on the executors) collects each doc's text, shingle set and
  * band keys; the declared footprint is built from them on the driver.
  * Inside the commit, ONE narrow scan collects the stored rows in the
  * batch's buckets or under its ids plus every tombstone; liveness,
  * re-arrivals and candidate pairs are worked out from them on the
  * driver (never a corpus rescan, never a driver copy of the index). The
  * verify reads corpus text only for candidates that are stored docs
  * ([[Dedup.incrementalDedupPairs]]'s contract) — one more narrow scan,
  * skipped when there are none — and computes Jaccard on the driver. The
  * admitted rows are staged from the driver's copy ([[SegmentIO.stage]]:
  * on the driver up to its row bound). So the driver holds the batch:
  * its text, shingle sets and band keys (measured at 60, 625 and 2,500
  * docs a batch: the catalog benchmark, [[graft.IncrIngestProbe]] on the
  * 5,000-doc sf0.1 corpus and the incremental-dedup gates), plus the
  * probe hits, the tombstones and the candidate pairs.
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
    // the batch's signature is a pure function of its text — collected
    // ONCE here with the text and shingle sets, it declares the key
    // footprint, drives the probe, is the batch side of the verify and,
    // kept for the admitted docs, is the index rows, so the commit
    // closure never re-reads the batch
    val docs = batchDocs(batch).collect().toSeq.map(r => Doc(r.getLong(0),
      r.getString(1), Option(r.getSeq[String](2)),
      Option(r.getSeq[String](3)).getOrElse(Nil)))
    val sig = for (d <- docs; (bkey, band) <- d.bkeys.zipWithIndex)
      yield Sig(d.doc, band, bkey)
    val ids = docs.map(_.doc)
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
        rejected(docs.flatMap(d => d.shingles.map(d.doc -> _)).toMap, rec,
          (cross ++ intra).distinct)
      local(docs.filter(d => admitted(d.doc)).flatMap { d =>
        Row(d.doc, CorpusBand, null, d.text, batchId) +:
          d.bkeys.zipWithIndex.map { case (bkey, band) =>
            Row(d.doc, band, bkey, null, batchId) }
      })
    }, OpAdmit, Some(keys))
  }

  /** The batch query of [[ingest]]: per distinct `doc_id`, its `text`,
    * shingle set and band keys (both null for a doc too short to
    * shingle), from ONE MinHash per doc. The `doc_id` shuffle of the
    * dedup also spreads the shingling across the cores. */
  private[metacat] def batchDocs(batch: DataFrame): DataFrame =
    Dedup.withBandKeys(batch.select(col("doc_id").cast("long").as("doc_id"),
        col("text").cast("string").as("text")).dropDuplicates("doc_id"),
      numHashes, bands)
      .select("doc_id", "text", "shingles", "bkeys")

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
    * shingle Jaccard reaches the threshold. `doc_a` is a batch doc;
    * `doc_b` is a batch doc when `seq_b` is [[BatchSeq]], else a corpus
    * doc whose live text is its corpus row AT `seq_b` — the seq of its
    * live index hit, since an admission writes a doc's corpus and index
    * rows in one seq. Batch-side shingle sets are `shingles`, already on
    * the driver from the ingest's batch query (batch-sized, like its text
    * and band keys); the corpus side is one narrow scan, run only when a
    * candidate is a stored doc, that shingles those rows on the executors
    * and collects them. [[Dedup.jaccard]] then filters a local relation
    * of the pairs, which Catalyst evaluates on the driver (no job). A pair
    * with a side missing is never a rejection. */
  private def rejected(shingles: Map[Long, Seq[String]], rec: DataFrame,
      cand: Seq[(Long, Long, Long)]): Set[Long] = {
    val corpusDocs = cand.collect { case (_, d, s) if s != BatchSeq => (d, s) }.distinct
    val stored: Map[(Long, Long), Seq[String]] =
      if (corpusDocs.isEmpty) Map.empty
      else Dedup.shinglesUncached(rec
          // the id filter is the one parquet can push down; the id:seq
          // key picks each doc's live generation
          .filter(col("band") === CorpusBand &&
            col("doc_id").isInCollection(corpusDocs.map(_._1).toSet) &&
            concat_ws(":", col("doc_id"), col("__seq"))
              .isInCollection(corpusDocs.map { case (d, s) => s"$d:$s" }.toSet))
          .select("doc_id", "__seq", "text"))
        .select("doc_id", "__seq", "shingles").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[String](2)).toMap
    val pairs = for {
      (a, d, s) <- cand
      sa <- shingles.get(a)
      sb <- if (s == BatchSeq) shingles.get(d) else stored.get((d, s))
    } yield (a, sa, sb)
    if (pairs.isEmpty) return Set.empty
    spark.createDataFrame(pairs.map { case (a, sa, sb) => Row(a, sa, sb) }.asJava, Pairs)
      .filter(Dedup.jaccard(col("a"), col("b")) >= threshold)
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
    val live = liveRows(log.records(), Set.empty, ids.toSet)
    if (live.isEmpty) return
    val keys = live.flatMap { h =>
      val d = s"d:${h.doc}"
      if (h.band >= 0) Seq(d, s"b:${h.band}:${h.bkey}") else Seq(d)
    }.distinct.toIndexedSeq
    val rows = live.map(h => Row(h.doc, h.band, h.bkey, null, batchId))
    log.commit(() => local(rows).withColumn("__op", lit(OpRemove)),
      OpRemove, Some(keys))
  }

  /** `(doc_id, band, bkey, text, batch)` rows to commit, as a local
    * relation: [[SegmentIO.stage]] writes it on the driver up to its row
    * bound, by a Spark write above it. Built from [[Row]]s, so no
    * reflection-derived encoder is made per commit. */
  private def local(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Committed)

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

  /** one doc of an ingest batch: its text, shingle set (None when too
    * short to shingle) and band keys (empty then), indexed by band */
  private final case class Doc(doc: Long, text: String,
      shingles: Option[Seq[String]], bkeys: Seq[String])

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

  /** a verify candidate pair with both shingle sets */
  private val Pairs = StructType(Seq(StructField("doc_a", LongType),
    StructField("a", ArrayType(StringType)), StructField("b", ArrayType(StringType))))

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

  /** the columns a commit supplies; the log adds `__op` and `__seq` */
  private val Committed = StructType(Schema.take(5))
}
