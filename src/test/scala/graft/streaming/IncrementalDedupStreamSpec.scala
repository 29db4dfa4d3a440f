package graft.streaming

import graft.mql.SparkTestBase

/** [[IncrementalDedupStream]]: the streaming evens/odds ingest into a
  * [[graft.metacat.DedupLog]] store, with a verbatim redelivery of batch
  * 1, serves the exactly-once corpus — before and after the store's
  * maintenance — and a doc redelivered in a later micro-batch keeps its
  * original batch. */
class IncrementalDedupStreamSpec extends SparkTestBase {

  test("batch N+1 probes batch N's persisted index; clones rejected, fresh admitted") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-incrspec-")
    graft.TempDirs.register(out)
    val file = s"$out/documents.parquet"
    Seq(
      0L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight nine",
      4L -> "red orange yellow green blue indigo violet colors",
      // batch 1: a near-clone of doc 0 (one token changed) + a fresh doc
      1L -> "alpha beta gamma delta epsilon zeta eta iota",
      3L -> "completely different words about storage engines here")
      .toDF("doc_id", "text").write.parquet(file)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((0L, 0L), (2L, 0L), (4L, 0L), (3L, 1L))
    val dl = IncrementalDedupStream.stage(spark, file)
    assert(rows(dl.corpus().select("doc_id", "batch")) == want)
    // the index covers exactly the admitted docs
    assert(dl.index().select("doc_id").distinct().collect().map(_.getLong(0)).toSet ==
      want.map(_._1))
    assert(rows(IncrementalDedupStream.maintain(dl)) == want)
  }

  test("cross-batch redelivery of an already-admitted doc is dropped, not re-admitted") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-incrspec-")
    graft.TempDirs.register(out)
    val b0 = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight nine",
      3L -> "red orange yellow green blue indigo violet colors").toDF("doc_id", "text")
    // doc 2 arrives AGAIN in the next micro-batch (at-least-once, new batch id)
    val dir = DedupStream.stageOrderedBatches(spark, Seq(
      "b0" -> b0, "b1" -> b0.filter($"doc_id" === 2L)))
    val root = s"$out/store"
    IncrementalDedupStream.ingest(
      spark.readStream.schema(b0.schema).option("maxFilesPerTrigger", "1").parquet(dir),
      root, Some(s"$out/checkpoint")).awaitTermination()
    val dl = new graft.metacat.DedupLog(spark, root)
    val rows = dl.corpus().select("doc_id", "batch")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1L, 0L), (2L, 0L), (3L, 0L)),
      s"redelivered doc must stay in its original batch only, got $rows")
    assert(dl.fsck().filter(!$"ok").count() == 0)
  }
}
