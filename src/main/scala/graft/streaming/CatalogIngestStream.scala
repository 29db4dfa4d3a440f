package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.metacat.ParquetCatalog

/** Structured-Streaming ingest into the catalog WRITE path — the shape a
  * continuously-crawling pipeline needs: file declarations arrive as a
  * stream (landing-zone parquet, a queue, a CDC feed) and are folded into
  * the catalog per micro-batch, becoming immediately visible to every MQL
  * reader.
  *
  * The reference ingests via synchronous REST declares
  * (`webserver/data_handler.py:631-780`); this is the same contract
  * driven by a stream. Each micro-batch runs the FULL batch declare —
  * category closure, dataset requirements, metadata validation — via
  * `foreachBatch`, with `ignoreExisting = true` so the at-least-once
  * delivery of a restarted stream (a replayed batch after a checkpoint
  * rollback) cannot double-declare: redelivered fids are dropped before
  * any write, making ingest idempotent and the final catalog state
  * independent of batch boundaries and replays.
  *
  * Scale shape: per batch the work is one broadcast-sized anti-join
  * against the live fid set plus the appends the batch itself requires —
  * O(batch) appends and delta-log commits, never a table rewrite; the
  * streaming state is the checkpoint's file ledger only (no Spark state
  * store is involved).
  */
object CatalogIngestStream {

  /** start declaring the streaming `rows` (declare contract columns) into
    * `cat`, optionally attaching every batch to `dataset` */
  def declareStream(rows: DataFrame, cat: ParquetCatalog,
      dataset: Option[(String, String)] = None,
      checkpoint: Option[String] = None): StreamingQuery = {
    val w = rows.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        cat.declareFiles(batch, dataset = dataset, ignoreExisting = true)
      }
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.start()
  }

  /** Watermarked-admission ingest — the always-on composition of the
    * bounded-state streaming dedup
    * ([[DedupStream.dedupByFingerprintWatermarked]]'s
    * `dropDuplicatesWithinWatermark` machinery) IN FRONT of the
    * idempotent declare. Duplicate declarations of one fid within the
    * admission window are suppressed in the STREAM (state evicted past
    * the watermark — bounded by arrival rate × `delay`, not catalog
    * lifetime, so redelivered batches never even reach the write path);
    * duplicates beyond the window are still dropped by
    * `ignoreExisting`'s anti-join at declare time. Rows carry the
    * declare contract plus an `ingest_ts` event-time column. */
  def declareStreamDeduped(rows: DataFrame, cat: ParquetCatalog,
      dataset: Option[(String, String)] = None,
      delay: String = "10 minutes",
      checkpoint: Option[String] = None): StreamingQuery = {
    val admitted = rows
      .withWatermark("ingest_ts", delay)
      .dropDuplicatesWithinWatermark("fid")
      .drop("ingest_ts")
    val w = admitted.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        cat.declareFiles(batch, dataset = dataset, ignoreExisting = true)
      }
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.start()
  }

  /** Gate helper for [[declareStreamDeduped]]: three staged micro-batches
    * — a subset, a FULL redelivery, and the subset AGAIN (a near-window
    * duplicate arriving within the admission delay) — must converge to
    * the same catalog state as one clean declare of every row. */
  def runDedupedDeclareToCatalog(spark: SparkSession, rows: DataFrame,
      subsetFilter: org.apache.spark.sql.Column, cat: ParquetCatalog,
      dataset: (String, String)): Unit = {
    import org.apache.spark.sql.functions._
    // arithmetic event times: every batch inside one admission window
    def stamped(df: DataFrame, t: String) =
      df.withColumn("ingest_ts", to_timestamp(lit(t)))
    val staged = DedupStream.stageOrderedBatches(spark, Seq(
      "b1" -> stamped(rows.filter(subsetFilter), "2026-03-01 00:00:00"),
      "b2" -> stamped(rows, "2026-03-01 00:02:00"),
      "b3" -> stamped(rows.filter(subsetFilter), "2026-03-01 00:04:00")))
    val first = rows.withColumn("ingest_ts",
      to_timestamp(lit("2026-03-01 00:00:00")))
    val src = spark.readStream
      .schema(first.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged)
    val q = declareStreamDeduped(src, cat, dataset = Some(dataset))
    q.awaitTermination()
  }

  /** Gate helper: stage `rows` as overlapping micro-batch files (batch 1 =
    * a strict subset, batch 2 = ALL rows — the overlap simulates an
    * at-least-once redelivery), stream-declare them, and return when the
    * catalog holds the final state. */
  def runDeclareToCatalog(spark: SparkSession, rows: DataFrame,
      subsetFilter: org.apache.spark.sql.Column, cat: ParquetCatalog,
      dataset: (String, String)): Unit = {
    import java.nio.file.Files
    val stage = Files.createTempDirectory("graft-ingest-stage-")
    graft.TempDirs.register(stage)
    // two single-file micro-batches, processed one per trigger in mtime
    // order: the second redelivers every row of the first
    def stageOne(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = Files.createTempDirectory("graft-ingest-tmp-")
      graft.TempDirs.register(tmp)
      df.coalesce(1).write.parquet(s"$tmp/out")
      val part = new java.io.File(s"$tmp/out").listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written under $tmp/out"))
      Files.move(part.toPath, stage.resolve(name))
      stage.resolve(name).toFile.setLastModified(mtime)
      ()
    }
    val t0 = System.currentTimeMillis() - 60000
    stageOne(rows.filter(subsetFilter), "batch_1.parquet", t0)
    stageOne(rows, "batch_2.parquet", t0 + 30000)
    val src = spark.readStream
      .schema(rows.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString)
    val q = declareStream(src, cat, dataset = Some(dataset))
    q.awaitTermination()
  }
}
