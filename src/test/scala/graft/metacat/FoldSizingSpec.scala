package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Size-aware write partitioning for O(log)/O(table) writes (r15): a
  * fixed single-file commit coalesce had leaked onto checkpoint folds and
  * table rewrites — at scale a single task wrote the entire folded log /
  * sorted table. Those paths now size by estimated output bytes
  * ([[OccLog.foldSized]]): mutation-sized folds still land as one file,
  * large folds keep their write parallelism. MergeOnReadSpec continues
  * to pin the single-part layout of mutation-sized commit segments. */
class FoldSizingSpec extends SparkTestBase with OccFailureCapture {

  private def partFiles(dir: java.io.File): Int =
    Option(dir.listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))

  test("foldSized derives the part count from estimated bytes") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-foldsize-")
    graft.TempDirs.register(d)
    // several part files so the scan has >1 partition to coalesce over
    (1 to 4000).toDF("id").repartition(8).write.parquet(s"$d/t")
    val df = spark.read.parquet(s"$d/t")

    // default 128 MiB target: a small frame collapses to ONE partition
    assert(OccLog.foldSized(spark, df).rdd.getNumPartitions == 1)

    // tiny target: the estimate exceeds it and parallelism is KEPT
    spark.conf.set("spark.graft.write.targetFileBytes", "64")
    try assert(OccLog.foldSized(spark, df).rdd.getNumPartitions > 1)
    finally spark.conf.unset("spark.graft.write.targetFileBytes")

    // explicit checkpoint-partitions override wins over the estimate
    spark.conf.set("spark.graft.checkpoint.partitions", "2")
    try assert(OccLog.foldSized(spark, df).rdd.getNumPartitions == 2)
    finally spark.conf.unset("spark.graft.checkpoint.partitions")
  }

  test("a large checkpoint fold writes multiple part files") {
    import spark.implicits._
    val root = registerRoot(
      Files.createTempDirectory("graft-foldsize-ckpt-").toString)
    val schema = Seq(("x", 1L)).toDF("k", "v")
      .withColumn("__op", lit("upsert")).withColumn("__seq", lit(1L)).schema
    val log = new OccLog(spark, root, "tlog", schema,
      Some(OccLog.latestPerKey(Seq("k"))))
    for (i <- 1 to 3)
      log.commit(() => (1 to 2000)
        .map(j => (s"k${i}_$j", j.toLong)).toDF("k", "v"), "upsert")
    // mutation segments stay single-part (the commit-sizing contract)
    val segs = new java.io.File(s"$root/tlog").listFiles()
      .filter(_.getName.matches("s\\d{20}"))
    assert(segs.nonEmpty && segs.forall(partFiles(_) == 1))

    // force the fold over the byte target; AQE's partition coalescing
    // would collapse this tiny shuffle to one partition regardless of
    // the write sizing, so it is off for the assertion window
    spark.conf.set("spark.graft.write.targetFileBytes", "64")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      assert(log.checkpoint() == 3L)
      val ckpt = new java.io.File(s"$root/tlog_ckpt").listFiles()
        .filter(_.getName.matches("s\\d{20}")).head
      assert(partFiles(ckpt) > 1,
        s"large fold landed as ${partFiles(ckpt)} part file(s)")
    } finally {
      spark.conf.unset("spark.graft.write.targetFileBytes")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
    // the fold's content is unchanged by its layout
    assert(log.records().count() == 6000L)
  }

  test("foldParts clamps estimates beyond Long.MaxValue instead of wrapping") {
    val target = 128L * 1024 * 1024
    // Spark reports unknown plan sizes as huge BigInts: converting the
    // quotient to Long before clamping wrapped it negative, which fell
    // back to a single-part write of the largest folds
    assert(OccLog.foldParts(BigInt(Long.MaxValue) * 4, target) == OccLog.MaxFoldParts)
    assert(OccLog.foldParts(BigInt(Long.MaxValue) * BigInt(target), target) ==
      OccLog.MaxFoldParts)
    assert(OccLog.foldParts(BigInt(0), target) == 1)
    assert(OccLog.foldParts(BigInt(3) * target, target) == 4)
    assert(OccLog.foldParts(BigInt(10), 0L) == 11)
  }
}
