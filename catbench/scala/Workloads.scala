package catbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.metacat.{DedupLog, MetacatCatalog, ParquetCatalog}
import graft.mql.{Mql, Planner}

/** One schedule line: `phase cls round name args...` (tab-separated).
  * `phase` is `warm` (part of set-up) or `timed`; `cls` is the latency
  * class (read, write, admin, maint); the round is for the checker. */
final case class Op(idx: Int, phase: String, cls: String, name: String,
    args: IndexedSeq[String])

/** A workload seeds a fresh store, executes schedule ops (returning a
  * result string the checker compares with its model) and dumps its
  * final state. Every call into the program goes through `t.span`. */
trait Workload {
  def seed(root: String): Unit
  def exec(op: Op): String
  def dump(dir: String): Unit
  /** logical bytes handed to the program so far (rows as text) */
  def userBytes: Long
  /** store root of the current seed */
  def root: String
  /** delta-log files under the store, for the saw-tooth counter */
  def logFiles(): Long = 0L
  /** bytes the store occupies on disk */
  def storeBytes(): Long = Workloads.duBytes(root)
}

object Workloads {
  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  /** `count:md5` of the sorted ids — the checker computes the same */
  def digest(ids: Seq[String]): String = s"${ids.size}:${md5(ids.sorted.mkString("\n"))}"

  def countFiles(root: String, under: String => Boolean = _ => true): Long = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) return 0L
    val s = java.nio.file.Files.walk(base)
    try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
        under(base.relativize(p).toString)).count()
    finally s.close()
  }

  def duBytes(root: String): Long = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) return 0L
    val s = java.nio.file.Files.walk(base)
    try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  def writeLines(path: String, lines: Iterator[String]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path), UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}

/** Parse → plan → optimize → execute, one span per layer call. */
final class Queries(spark: SparkSession, t: Tracer) {
  import Workloads._

  def run(cat: MetacatCatalog, text: String, mode: String): String = {
    val top = t.span("Mql.parse", "mql")(Mql.parse(text, cat))
    val df = t.span("Planner.plan", "mql")(new Planner(spark, cat).plan(top))
    mode match {
      case "count" =>
        val q = Mql.summaryCount(df)
        t.span("optimize", "spark")(q.queryExecution.executedPlan)
        val r = t.span("collect", "spark")(q.collect()).head
        s"${r.getLong(0)}:${r.getLong(1)}"
      case _ =>
        val q = df.select("fid")
        t.span("optimize", "spark")(q.queryExecution.executedPlan)
        digest(t.span("collect", "spark")(q.collect()).map(_.getString(0)).toSeq)
    }
  }
}

/** `catalog_mutate`: small merge-on-read mutations, read-your-writes
  * queries and op-count-cadenced checkpoint + vacuum. */
final class CatalogMutate(spark: SparkSession, t: Tracer, input: String)
    extends Workload {
  import Workloads._
  import spark.implicits._
  private val queries = new Queries(spark, t)
  private var cat: ParquetCatalog = _
  var root: String = _
  var userBytes = 0L

  /** the seeded catalog: the files of `files.parquet` (inputs.py), all
    * in `dsns:all` */
  def seed(r: String): Unit = {
    root = r
    cat = new ParquetCatalog(spark, s"$r/catalog", mergeOnRead = true)
    val rows = spark.read.parquet(s"$input/files.parquet")
    userBytes = rows.select(sum(length(concat_ws("\t", col("fid"), col("namespace"),
      col("name"), col("metadata_json"))))).head().getLong(0)
    cat.createDataset("dsns", "all")
    cat.declareFiles(rows, dataset = Some(("dsns", "all")))
  }

  private def maintain(): Unit = {
    t.span("checkpoint.files", "metacat")(cat.checkpointFilesLog())
    t.span("vacuum.files", "metacat")(cat.vacuumFilesLog())
    t.span("checkpoint.members", "metacat")(cat.checkpointMembersLog())
    t.span("vacuum.members", "metacat")(cat.vacuumMembersLog())
    t.span("checkpoint.edges", "metacat")(cat.checkpointEdgesLog())
    t.span("vacuum.edges", "metacat")(cat.vacuumEdgesLog())
    t.span("checkpoint.admin", "metacat")(cat.checkpointAdminLog())
    t.span("vacuum.admin", "metacat")(cat.vacuumAdminLog())
  }

  override def logFiles(): Long =
    countFiles(s"$root/catalog", p => Seq("files_log", "members_log",
      "edges_log", "admin_log").exists(l => p.startsWith(l)))

  def dump(dir: String): Unit = {
    writeLines(s"$dir/files.tsv", cat.files.select(col("fid"), col("retired"),
        expr("try_variant_get(metadata, \"$['core.run']\", 'long')"),
        expr("try_variant_get(metadata, \"$['opt.mark']\", 'string')"))
      .collect().iterator.map(r => Seq(r.getString(0), r.getBoolean(1),
        Option(r.get(2)).getOrElse(""), Option(r.get(3)).getOrElse("")).mkString("\t")))
    writeLines(s"$dir/members.tsv", cat.filesDatasets.collect().iterator
      .map(r => s"${r.getString(0)}\t${r.getString(1)}:${r.getString(2)}"))
    writeLines(s"$dir/edges.tsv", cat.parentChild.collect().iterator
      .map(r => s"${r.getAs[String]("parent_fid")}\t${r.getAs[String]("child_fid")}"))
    writeLines(s"$dir/datasets.tsv", cat.datasets.select(col("namespace"),
        col("name"), expr("try_variant_get(metadata, \"$['ds.note']\", 'string')"))
      .collect().iterator.map(r => s"${r.getString(0)}:${r.getString(1)}\t" +
        Option(r.getString(2)).getOrElse("")))
    writeLines(s"$dir/hierarchy.tsv", cat.datasetsParentChild.collect().iterator
      .map(r => s"${r.getAs[String]("parent_namespace")}:${r.getAs[String]("parent_name")}" +
        s"\t${r.getAs[String]("child_namespace")}:${r.getAs[String]("child_name")}"))
    writeLines(s"$dir/queries.tsv", cat.queries.select("namespace", "name", "source")
      .collect().iterator.map(r => s"${r.getString(0)}:${r.getString(1)}\t${r.getString(2)}"))
  }

  private def fids(s: String): Seq[String] = s.split(",").toSeq.filter(_.nonEmpty)
  private def bytes(ss: String*): Unit = userBytes += ss.map(_.length.toLong).sum

  /** rows of a round's declare: keys [k0, k0+n), built on the driver
    * (the checker derives the same rows from the same formula); their
    * user bytes are counted as the seed's are */
  private def declareRows(k0: Long, n: Long): DataFrame = {
    val rows = (k0 until k0 + n).map(k => (f"N$k%08d", "bench", s"n_$k.dat",
      s"""{"core.run":${k % 1000},"core.status":"O","data.tags":["tag${k % 7}"]}""", k * 10))
    bytes(rows.map(r => Seq(r._1, r._2, r._3, r._4).mkString("\t")): _*)
    rows.toDF("fid", "namespace", "name", "metadata_json", "size")
      .withColumn("creator", lit("bench"))
      .withColumn("created_timestamp", to_timestamp(lit("2026-01-01 00:00:00")))
  }

  def exec(op: Op): String = {
    val a = op.args
    op.name match {
      case "query" => queries.run(cat, a(1), a(2))
      case "createDataset" =>
        bytes(a: _*)
        t.span("createDataset", "metacat")(cat.createDataset(a(0), a(1), metadataJson = a(2)))
        "ok"
      case "declareFiles" =>
        val rows = declareRows(a(2).toLong, a(3).toLong)
        t.span("declareFiles", "metacat")(
          cat.declareFiles(rows, dataset = Some((a(0), a(1)))))
        "ok"
      case "addTo" =>
        bytes(a: _*)
        t.span("addTo", "metacat")(cat.addTo(fids(a(2)).toDF("fid"), a(0), a(1)))
        "ok"
      case "removeFrom" =>
        bytes(a: _*)
        t.span("removeFrom", "metacat")(cat.removeFrom(fids(a(2)).toDF("fid"), a(0), a(1)))
        "ok"
      case "retireFiles" =>
        bytes(a: _*)
        t.span("retireFiles", "metacat")(cat.retireFiles(fids(a(0))))
        "ok"
      case "updateFileMeta" =>
        bytes(a: _*)
        t.span("updateFileMeta", "metacat")(cat.updateFileMeta(fids(a(0)), a(1)))
        "ok"
      case "addProvenance" =>
        bytes(a: _*)
        val edges = fids(a(0)).map(_.split(">")).map(e => (e(0), e(1)))
          .toDF("parent_fid", "child_fid")
        t.span("addProvenance", "metacat")(cat.addProvenance(edges))
        "ok"
      case "addDatasetEdge" =>
        bytes(a: _*)
        t.span("addDatasetEdge", "metacat")(cat.addDatasetEdge(a(0), a(1), a(2), a(3)))
        "ok"
      case "saveNamedQuery" =>
        bytes(a: _*)
        t.span("saveNamedQuery", "metacat")(cat.saveNamedQuery(a(0), a(1), a(2)))
        "ok"
      case "updateDataset" =>
        bytes(a: _*)
        t.span("updateDataset", "metacat")(cat.updateDataset(a(0), a(1), Some(a(2))))
        "ok"
      case "maintain" => maintain(); "ok"
    }
  }
}

/** `dedup_ingest`: micro-batches of `documents` through [[DedupLog]]. */
final class DedupIngest(spark: SparkSession, t: Tracer, input: String)
    extends Workload {
  import Workloads._
  import spark.implicits._
  private var log: DedupLog = _
  var root: String = _
  var userBytes = 0L
  private lazy val docs = spark.read.parquet(s"$input/docs.parquet")
  private lazy val batchBytes: Map[Long, Long] =
    docs.groupBy("batch").agg(sum(length(col("text")) + 8).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  private var offered = 0L

  def seed(r: String): Unit = {
    root = r
    log = t.span("DedupLog.open", "dedup")(new DedupLog(spark, s"$r/dedup"))
  }

  def exec(op: Op): String = {
    val a = op.args
    op.name match {
      case "ingest" | "redeliver" =>
        val b = a(0).toLong
        val stamp = a(1).toLong
        val batch = docs.filter(col("batch") === b).select("doc_id", "text")
        userBytes += batchBytes(b)
        offered += a(2).toLong
        t.span("DedupLog.ingest", "dedup")(log.ingest(batch, stamp))
        "ok"
      case "retire" =>
        val ids = a(0).split(",").toSeq.map(_.toLong)
        userBytes += a(0).length
        t.span("DedupLog.retire", "dedup")(log.retire(ids))
        "ok"
      case "corpus" =>
        val q = t.span("DedupLog.corpus", "dedup")(log.corpus().select("doc_id"))
        t.span("optimize", "spark")(q.queryExecution.executedPlan)
        digest(t.span("collect", "spark")(q.collect()).map(_.getLong(0).toString).toSeq)
      case "maintain" =>
        t.span("checkpoint.dedup", "dedup")(log.checkpoint())
        t.span("vacuum.dedup", "dedup")(log.vacuum())
        "ok"
    }
  }

  override def logFiles(): Long = countFiles(s"$root/dedup", _.startsWith("dedup_log"))

  def admitted(): Long = log.corpus().count()
  def offeredDocs: Long = offered

  def dump(dir: String): Unit =
    writeLines(s"$dir/corpus.tsv", log.corpus().select("doc_id", "batch").collect()
      .iterator.map(r => s"${r.getLong(0)}\t${r.getLong(1)}"))
}
