package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.metacat.DedupLog

/** STREAMING INCREMENTAL CROSS-BATCH DEDUP — the day-2 ingest loop of
  * [[graft.pipeline.Dedup.incrementalAdmit]] (r12's batch operator),
  * closed over a PERSISTED corpus + signature index: each micro-batch
  * probes the index the previous batches appended, admits its near-dup
  * survivors, and appends their corpus rows and index rows — so batch
  * N+1's probe sees batch N without any O(corpus) work.
  *
  * The store is a [[DedupLog]]: micro-batches commit to one OCC-governed
  * log, so ANY number of concurrent streams (or batch writers, or other
  * JVMs) may share a log root — conflicting admissions serialize on their
  * LSH-bucket key footprints, disjoint ones commute and overlap.
  * At-least-once delivery needs no partition tricks: a redelivered
  * batch's docs are already corpus members and the commit publishes zero
  * rows. Store maintenance is the log's own checkpoint + vacuum, and its
  * audit is [[DedupLog.fsck]]. */
object IncrementalDedupStream {

  /** start the ingest over a streaming frame of documents (doc_id, text)
    * into the store at `logRoot`; the micro-batch id is each admitted
    * row's `batch` */
  def ingest(rows: DataFrame, logRoot: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    val dl = new DedupLog(rows.sparkSession, logRoot)
    val w = rows.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) => dl.ingest(batch, bid) }
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.start()
  }

  /** Gate runner: evens arrive as batch 0 (bootstrap), odds as batch 1
    * (probing the persisted batch-0 index); then batch 1 is REDELIVERED
    * verbatim — the at-least-once case — and the returned corpus must be
    * the exactly-once result. Returns (doc_id, batch) per admitted doc. */
  def runToBatch(spark: SparkSession, docFile: String): DataFrame =
    served(stage(spark, docFile))

  /** Gate runner for the store's lifecycle: the [[runToBatch]] scenario,
    * then the log's own maintenance ([[maintain]]) before the corpus is
    * served, so one gate covers protocol, convergence and maintenance.
    * Output and oracle are identical to [[runToBatch]]'s. */
  def runOccToBatch(spark: SparkSession, docFile: String): DataFrame =
    maintain(stage(spark, docFile))

  /** Run the two-batch streaming ingest plus the verbatim redelivery of
    * batch 1 into a fresh temp store, and return the store. */
  def stage(spark: SparkSession, docFile: String): DedupLog = {
    val docs = spark.read.parquet(docFile).select("doc_id", "text")
    val dir = DedupStream.stageOrderedBatches(spark, Seq(
      "evens" -> docs.filter(col("doc_id") % 2 === 0),
      "odds" -> docs.filter(col("doc_id") % 2 === 1)))
    val out = java.nio.file.Files.createTempDirectory("graft-incr-ingest-")
    graft.TempDirs.register(out)
    val root = s"$out/store"
    val q = ingest(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir), root)
    q.awaitTermination()
    val dl = new DedupLog(spark, root)
    // at-least-once: the whole second batch arrives AGAIN with the same
    // batch id (a retried micro-batch) — the store must publish an empty
    // commit and serve the exactly-once corpus
    dl.ingest(docs.filter(col("doc_id") % 2 === 1), 1L)
    dl
  }

  /** Checkpoint + vacuum the store, audit it (any fsck violation throws)
    * and serve its corpus. A checkpoint keeps each row's `batch`, so the
    * served provenance is unchanged by maintenance. */
  def maintain(dl: DedupLog): DataFrame = {
    dl.checkpoint()
    dl.vacuum()
    audit(dl)
    served(dl)
  }

  private def audit(dl: DedupLog): Unit = {
    val bad = dl.fsck().filter(!col("ok")).collect()
    require(bad.isEmpty, s"dedup-log fsck violations: ${bad.mkString("; ")}")
  }

  private def served(dl: DedupLog): DataFrame =
    dl.corpus().select(col("doc_id"), col("batch"))

  /** Gate runner for RETIREMENT through the store: evens admitted
    * (batch 0), every admitted even with `doc_id % 4 == 0` retired
    * (tombstone commit), then odds (batch 1) probe the CURATED store —
    * an odd whose only near-dup was a retired even must now be admitted,
    * and retired evens must be gone from the served corpus. fsck runs
    * post-retire (the recomputed index must match the folded one). */
  def runOccRetireToBatch(spark: SparkSession, docFile: String): DataFrame = {
    val docs = spark.read.parquet(docFile).select("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-occ-retire-")
    graft.TempDirs.register(out)
    val dl = new DedupLog(spark, s"$out/store")
    dl.ingest(docs.filter(col("doc_id") % 2 === 0), 0L)
    val retireIds = dl.corpus().filter(col("doc_id") % 4 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    dl.retire(retireIds)
    dl.ingest(docs.filter(col("doc_id") % 2 === 1), 1L)
    audit(dl)
    served(dl)
  }
}
