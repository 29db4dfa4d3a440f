package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Keyed (conflict-detection) OCC commits (`OccLog.commit(_, _, keys)`):
  * a commit declaring its key footprint waits only for unpublished
  * predecessors whose footprints INTERSECT it — disjoint per-key
  * mutations commute under the latest-wins folds, so their Spark writes
  * overlap instead of queueing (the flat ~2 commits/s ceiling measured
  * through 8 writers was every commit waiting out every predecessor's
  * full compute).
  *
  * Proven here:
  *  - a keyed commit does NOT block behind a disjoint unpublished
  *    predecessor (publishes above the hole; records stay correct; a
  *    later checkpoint stops below the hole until it fills)
  *  - a keyed commit DOES block behind an intersecting predecessor, and
  *    behind an unkeyed (`*`) one — the conservative total order
  *  - catalog level: two writers storming DISJOINT datasets' memberships
  *    converge with every mutation applied (serializable), claims dense
  *  - vacuum removes the key sidecars with their claims */
class KeyedOccSpec extends SparkTestBase with OccFailureCapture {

  private def newRoot(): String =
    registerRoot(Files.createTempDirectory("graft-keyed-").toString)

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType),
    StructField("__op", StringType), StructField("__seq", LongType)))

  private def seqName(s: Long) = f"s$s%020d"

  test("disjoint keyed commit proceeds over an unpublished predecessor; intersecting blocks") {
    import spark.implicits._
    val root = newRoot()
    val log = new OccLog(spark, root, "tlog", schema, Some(OccLog.latestPerKey(Seq("k"))))
    log.commit(() => Seq(("a", 1L)).toDF("k", "v"), "upsert", Some(Seq("a")))
    // simulate a slow writer holding seq 2 with footprint {b}
    val claims = new java.io.File(s"$root/tlog_claims")
    assert(new java.io.File(claims, seqName(2)).createNewFile())
    java.nio.file.Files.write(claims.toPath.resolve(seqName(2) + ".keys"),
      "b".getBytes)

    // a commit on {c} is DISJOINT: must complete without waiting out the
    // 120 s publish timeout (bounded here by the test's own patience)
    val t0 = System.nanoTime()
    log.commit(() => Seq(("c", 3L)).toDF("k", "v"), "upsert", Some(Seq("c")))
    assert((System.nanoTime() - t0) < 30L * 1000 * 1000 * 1000,
      "disjoint commit appears to have blocked on the publish wait")
    assert(new java.io.File(s"$root/tlog/${seqName(3)}").isDirectory,
      "disjoint commit must publish above the hole")

    // reads fold the published state (seq 3 without seq 2 = the
    // serialization where the disjoint commit came first)
    val live = log.records().groupBy("k")
      .agg(max_by(col("v"), col("__seq")).as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(live == Map("a" -> 1L, "c" -> 3L))
    // the checkpoint refuses to fold past the hole
    assert(log.checkpoint() == 1L)

    // an INTERSECTING commit ({b}) must block behind the slow writer —
    // and an UNKEYED one must too
    System.setProperty("graft.occ.publishTimeoutMs", "1500")
    try {
      val e1 = intercept[IllegalStateException](
        log.commit(() => Seq(("b", 9L)).toDF("k", "v"), "upsert", Some(Seq("b"))))
      assert(e1.getMessage.contains("aborted while waiting"))
      // clear the aborted writer's own claim (per the recovery contract)
      val c4 = claims.listFiles().map(_.getName)
        .filter(n => n.matches("s\\d{20}") && n > seqName(3)).sorted.head
      assert(new java.io.File(claims, c4).delete())
      new java.io.File(claims, c4 + ".keys").delete()
      val e2 = intercept[IllegalStateException](
        log.commit(() => Seq(("z", 8L)).toDF("k", "v"), "upsert"))
      assert(e2.getMessage.contains("aborted while waiting"))
    } finally System.clearProperty("graft.occ.publishTimeoutMs")

    // the slow writer finally publishes; the full prefix folds
    Seq(("b", 2L)).toDF("k", "v")
      .withColumn("__op", lit("upsert")).withColumn("__seq", lit(2L))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .write.parquet(s"$root/tlog/${seqName(2)}")
    val after = log.records().groupBy("k")
      .agg(max_by(col("v"), col("__seq")).as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("b") == 2L)
  }

  test("catalog: disjoint-dataset membership storms from two writers all land; sidecars vacuumed") {
    import spark.implicits._
    val root = newRoot()
    val a = new ParquetCatalog(spark, root)
    val b = new ParquetCatalog(spark, root)
    a.createDataset("kds", "da")
    a.createDataset("kds", "db")
    val rows = (0 until 12).map { i =>
      (s"K$i", "alpha", s"k_$i.dat", s"""{"core.run":$i}""", "tester", 100L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-02-01 00:00:00")))
    a.declareFiles(rows)
    def fs(is: Seq[Int]) = is.map(i => s"K$i").toDF("fid")
    // prod the log so adds take the non-empty (keyed-commit) paths
    a.addTo(fs(Seq(11)), "kds", "da"); a.removeFrom(fs(Seq(11)), "kds", "da")
    a.addTo(fs(Seq(11)), "kds", "db"); a.removeFrom(fs(Seq(11)), "kds", "db")

    val perWriter = 5
    def burst(cat: ParquetCatalog, ds: String): Future[Unit] = Future {
      for (k <- 0 until perWriter) {
        cat.addTo(fs(Seq(2 * k, 2 * k + 1)), "kds", ds)
        cat.removeFrom(fs(Seq(2 * k)), "kds", ds)
      }
    }
    Await.result(Future.sequence(Seq(burst(a, "da"), burst(b, "db"))), 10.minutes)
    val fresh = new ParquetCatalog(spark, root)
    val got = fresh.filesDatasets
      .select(concat_ws("|", col("fid"), col("dataset_name")))
      .collect().map(_.getString(0)).sorted.toSeq
    val expect = (for (ds <- Seq("da", "db"); k <- 0 until perWriter)
      yield s"K${2 * k + 1}|$ds").sorted
    assert(got == expect, s"lost membership mutations: $got")
    // protocol clean; vacuum clears claims AND key sidecars
    fresh.checkpointMembersLog()
    fresh.vacuumMembersLog()
    val leftover = new java.io.File(s"$root/members_log_claims").listFiles()
    assert(leftover == null || leftover.isEmpty,
      s"sidecars survived the vacuum: ${leftover.map(_.getName).toSeq}")
    val audit = Fsck.audit(fresh).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit("mor_members_seq_gap") == 0L &&
      audit("mor_members_orphaned_claim") == 0L, s"got $audit")
  }
}
