package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.pipeline.Dedup

/** STREAMING INCREMENTAL CROSS-BATCH DEDUP — the day-2 ingest loop of
  * [[Dedup.incrementalAdmit]] (r12's batch operator), closed over a
  * PERSISTED corpus + signature index (r13; r12 verdict Next-round #5):
  * each micro-batch probes the index the previous batches appended,
  * admits its near-dup survivors, and appends their corpus rows and
  * index rows — so batch N+1's probe sees batch N without any
  * O(corpus) work.
  *
  * At-least-once delivery is absorbed by PARTITION-IDEMPOTENT writes,
  * the foreachBatch exactly-once recipe: both tables are partitioned by
  * the micro-batch id and written with dynamic partition overwrite, and
  * the batch's computation reads the store WITHOUT its own partition
  * (`batch <> bid`) — a redelivered batch therefore recomputes exactly
  * what its first attempt computed (same corpus view, same index view)
  * and overwrites its own partitions with identical rows, whether the
  * first attempt finished one write, both, or neither. Cross-batch
  * redelivery (the same doc arriving again in a LATER batch) is dropped
  * by an anti-join on the corpus ids before the probe.
  *
  * Scale shape: per batch this is O(batch) shingling + a narrow-index
  * bucket join ([[Dedup.incrementalDedupPairs]]'s contract — corpus
  * text fetched only for verified candidates); the partition-per-batch
  * layout is the standard streaming-ingest table shape, folded by
  * [[graft.pipeline.DedupStore.compact]] (r14) so probe planning never
  * pays an O(all-batches-ever) listing.
  *
  * CONCURRENCY POSTURE — SINGLE WRITER per store: the corpus/index dirs
  * are bare parquet, and the idempotence argument above assumes the only
  * writer of partition `batch=b` is THIS stream's batch b. Two ingest
  * streams sharing one store would collide on batch ids and race the
  * store reads; run one stream per store (scale inside the stream via
  * partitions), and see [[graft.pipeline.DedupStore]] for the compaction
  * + fsck lifecycle and the offline-maintenance contract. */
object IncrementalDedupStream {

  private def readOr(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p) && fs.listStatus(p).exists(st =>
        !st.getPath.getName.startsWith("_"))) Some(spark.read.parquet(dir))
    else None
  }

  /** One micro-batch of the ingest, exposed for direct redelivery in
    * tests/gates: probe, admit, overwrite this batch's two partitions.
    * MUST be deterministic in (store-without-bid, batch) — see the
    * idempotence contract above. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, bid: Long,
      corpusDir: String, indexDir: String): Unit = {
    val b = batch.dropDuplicates("doc_id").persist()
    try {
      val corpus = readOr(spark, corpusDir)
        .map(_.filter(col("batch") =!= bid).drop("batch"))
      val idx = readOr(spark, indexDir)
        .map(_.filter(col("batch") =!= bid).drop("batch"))
      // cross-batch at-least-once: a doc already admitted by an EARLIER
      // batch re-arriving here is the same doc, not a near-dup — drop it
      // before the probe so it neither self-rejects nor re-admits
      val fresh = corpus match {
        case Some(c) => b.join(c.select("doc_id"), Seq("doc_id"), "left_anti")
        case None => b
      }
      // bootstrap: an absent corpus is an empty one (only intra-batch
      // dedup applies on the first batch)
      val corpusOrEmpty = corpus.getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], b.schema))
      val admitted = fresh.join(
        Dedup.incrementalAdmit(corpusOrEmpty, fresh, idx),
        Seq("doc_id"), "left_semi").persist()
      // the overwrite mode rides on the WRITER, not the session conf —
      // inside foreachBatch the frames belong to the micro-batch's
      // cloned session, so a session-conf set on the outer session never
      // reaches the write (observed: static overwrite truncated the
      // other batches' partitions)
      // batch-sized store writes land as `spark.graft.commit.partitions`
      // part files (local default 1; < 1 disables the coalesce) instead of
      // the session's 32-way partitioning — each batch partition was 32
      // near-empty files that every later probe re-listed (guide §6);
      // deployments with large micro-batches raise the conf
      val parts = spark.conf.get("spark.graft.commit.partitions", "1").toInt
      def sized(df: DataFrame): DataFrame = if (parts >= 1) df.coalesce(parts) else df
      sized(admitted.withColumn("batch", lit(bid)))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(corpusDir)
      // index rows come from signatureIndex(fresh) FILTERED to admitted
      // ids, not signatureIndex(admitted): banded keys are per-doc, so
      // the rows are identical, but the `fresh` plan hits the shingle
      // cache the probe already populated — signatureIndex(admitted) was
      // a different plan and re-shingled + re-MinHashed the whole batch
      sized(Dedup.signatureIndex(fresh)
          .join(admitted.select("doc_id"), Seq("doc_id"), "left_semi")
          .withColumn("batch", lit(bid)))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(indexDir)
      admitted.unpersist()
      ()
    } finally { b.unpersist(); () }
  }

  /** start the ingest over a streaming frame of documents (doc_id, text) */
  def ingest(rows: DataFrame, corpusDir: String, indexDir: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    val spark = rows.sparkSession
    val w = rows.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        ingestBatch(spark, batch, bid, corpusDir, indexDir)
      }
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.start()
  }

  /** Start the OCC-GOVERNED ingest over the same stream surface as
    * [[ingest]]: micro-batches route through
    * [[graft.metacat.DedupLog.ingest]], so ANY number of concurrent
    * streams (or batch writers, or other JVMs) may share `logRoot` —
    * conflicting admissions serialize on their LSH-bucket key footprints,
    * disjoint ones commute and overlap. Redelivery needs no partition
    * tricks here: a redelivered batch's docs are already corpus members
    * and the commit publishes zero rows. */
  def ingestOcc(rows: DataFrame, logRoot: String,
      checkpoint: Option[String] = None): StreamingQuery = {
    val dl = new graft.metacat.DedupLog(rows.sparkSession, logRoot)
    val w = rows.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) => dl.ingest(batch, bid) }
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.start()
  }

  /** Gate runner for the OCC store: the same evens/odds two-batch +
    * verbatim-redelivery scenario as [[runToBatch]], through
    * [[graft.metacat.DedupLog]] — then the log's OWN lifecycle
    * (checkpoint + vacuum) and fsck run before the corpus is served, so
    * one gate covers protocol, convergence and maintenance. Output and
    * oracle are identical to `stream_dedup_incremental` (admission
    * semantics don't change with the governance). */
  def runOccToBatch(spark: SparkSession, docFile: String): DataFrame = {
    val docs = spark.read.parquet(docFile).select("doc_id", "text")
    val dir = DedupStream.stageOrderedBatches(spark, Seq(
      "evens" -> docs.filter(col("doc_id") % 2 === 0),
      "odds" -> docs.filter(col("doc_id") % 2 === 1)))
    val out = java.nio.file.Files.createTempDirectory("graft-occ-dedup-")
    graft.TempDirs.register(out)
    val root = s"$out/store"
    val q = ingestOcc(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir), root)
    q.awaitTermination()
    val dl = new graft.metacat.DedupLog(spark, root)
    // at-least-once: the whole second batch arrives AGAIN — the OCC store
    // must publish an empty commit and serve the exactly-once corpus
    dl.ingest(docs.filter(col("doc_id") % 2 === 1), 1L)
    dl.checkpoint()
    dl.vacuum()
    val bad = dl.fsck().filter(!col("ok")).collect()
    require(bad.isEmpty, s"dedup-log fsck violations: ${bad.mkString("; ")}")
    dl.corpus().select(col("doc_id"), col("batch"))
  }

  /** Gate runner for RETIREMENT through the OCC store: evens admitted
    * (batch 0), every admitted even with `doc_id % 4 == 0` retired
    * (tombstone commit), then odds (batch 1) probe the CURATED store —
    * an odd whose only near-dup was a retired even must now be admitted,
    * and retired evens must be gone from the served corpus. fsck runs
    * post-retire (the recomputed index must match the folded one). */
  def runOccRetireToBatch(spark: SparkSession, docFile: String): DataFrame = {
    val docs = spark.read.parquet(docFile).select("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-occ-retire-")
    graft.TempDirs.register(out)
    val dl = new graft.metacat.DedupLog(spark, s"$out/store")
    dl.ingest(docs.filter(col("doc_id") % 2 === 0), 0L)
    val retireIds = dl.corpus().filter(col("doc_id") % 4 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    dl.retire(retireIds)
    dl.ingest(docs.filter(col("doc_id") % 2 === 1), 1L)
    val bad = dl.fsck().filter(!col("ok")).collect()
    require(bad.isEmpty, s"dedup-log fsck violations: ${bad.mkString("; ")}")
    dl.corpus().select(col("doc_id"), col("batch"))
  }

  /** Gate runner: evens arrive as batch 0 (bootstrap), odds as batch 1
    * (probing the persisted batch-0 index); then batch 1 is REDELIVERED
    * verbatim through [[ingestBatch]] — the at-least-once case — and the
    * returned corpus must be the exactly-once result. Returns
    * (doc_id, batch) per admitted doc. */
  def runToBatch(spark: SparkSession, docFile: String): DataFrame = {
    val (corpusDir, _) = stageStore(spark, docFile)
    spark.read.parquet(corpusDir)
      .select(col("doc_id"), col("batch").cast("long").as("batch"))
  }

  /** Run the full two-batch + redelivery ingest into a fresh temp store
    * and return (corpusDir, indexDir) — the staged input the lifecycle
    * gates ([[graft.pipeline.DedupStore]]) maintain. */
  def stageStore(spark: SparkSession, docFile: String): (String, String) = {
    val docs = spark.read.parquet(docFile).select("doc_id", "text")
    val dir = DedupStream.stageOrderedBatches(spark, Seq(
      "evens" -> docs.filter(col("doc_id") % 2 === 0),
      "odds" -> docs.filter(col("doc_id") % 2 === 1)))
    val out = java.nio.file.Files.createTempDirectory("graft-incr-ingest-")
    graft.TempDirs.register(out)
    val (corpusDir, indexDir) = (s"$out/corpus", s"$out/index")
    val q = ingest(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir),
      corpusDir, indexDir)
    q.awaitTermination()
    // at-least-once: the whole second batch arrives AGAIN with the same
    // batch id (a retried micro-batch) — partition overwrite + the
    // bid-excluding reads make this converge to the identical store
    ingestBatch(spark, docs.filter(col("doc_id") % 2 === 1), 1L,
      corpusDir, indexDir)
    (corpusDir, indexDir)
  }
}
