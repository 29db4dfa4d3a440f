package graft.metacat

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import ParquetCatalog._

/** The catalog's four delta logs as driver-side state: each log's
  * [[OccLog.folded]] (the latest record per fold key, maintained
  * incrementally) read into the sets and rows its merge-on-read overlay
  * needs.
  *
  * Every overlay has one shape: the base scan filtered by `InSet` on the
  * keys the log governs, unioned with a `LocalRelation` of the rows that
  * live in the log. No window, aggregate, join or broadcast runs over
  * the log, and the base side is a plain filtered scan — no shuffle, no
  * join. The driver holds the log's KEYS (what the Spark-side overlays
  * used to broadcast) plus, for the small logs, the live rows; file-log
  * payloads stay on the executors (see [[FilesFold.overlay]]).
  *
  * Composite keys are `\u0001`-joined strings (a bare concat could alias
  * across the boundary), on both the driver and the Column side. */
private[metacat] object LogFolds {

  def key(parts: String*): String = parts.mkString("\u0001")
  def keyCol(cols: String*): Column = concat_ws("\u0001", cols.map(col): _*)

  private def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** `base` minus rows whose key columns are in the given sets */
  private def without(base: DataFrame, filters: (Column, Set[String])*): DataFrame =
    filters.filter(_._2.nonEmpty).foldLeft(base) { case (df, (c, keys)) =>
      df.filter(!c.isin(keys.toSeq: _*))
    }

  private def seqOf(r: Row): Long = r.getAs[Long]("__seq")
  private def opOf(r: Row): String = r.getAs[String]("__op")

  // ---- fold specs: each log's latest-wins keys. The members, edges and
  // admin specs keep every column, so they are also those logs'
  // checkpoints (OccLog.checkpoint); the files log's checkpoint collapses
  // by the same `fid` in Spark ----

  val FilesSpec: OccLog.FoldSpec =
    OccLog.FoldSpec(Seq("fid", "__op", "__seq"), r => r.getString(0))

  /** pair records per (fid, dataset); `remove_all` per dataset;
    * `remove_fid` per fid */
  val MembersSpec: OccLog.FoldSpec =
    OccLog.FoldSpec(MembersLogSchema.fieldNames.toSeq, r => r.getString(3) match {
      case MemberRemoveAll => ("w", r.getString(1), r.getString(2))
      case MemberRemoveFid => ("f", r.getString(0))
      case _ => ("p", r.getString(0), r.getString(1), r.getString(2))
    })

  /** pair records per (parent, child); one-side wildcards per side */
  val EdgesSpec: OccLog.FoldSpec =
    OccLog.FoldSpec(EdgesLogSchema.fieldNames.toSeq, r =>
      (Option(r.getString(0)), Option(r.getString(1))) match {
        case (Some(p), Some(c)) => ("p", p, c)
        case (Some(p), None) => ("wp", p)
        case (_, c) => ("wc", c.orNull)
      })

  /** latest record per (table, key) */
  val AdminSpec: OccLog.FoldSpec =
    OccLog.FoldSpec(AdminLogSchema.fieldNames.toSeq, r => (r.getString(0), r.getString(1)))

  /** the files log: latest (op, seq) per fid */
  final class FilesFold(f: OccLog.Folded) {
    private val latest: Map[String, (String, Long)] = f.latest.values.map(r =>
      r.getString(0) -> (opOf(r), seqOf(r))).toMap
    def isEmpty: Boolean = latest.isEmpty
    /** fids whose latest record is a tombstone */
    val dead: Set[String] = latest.collect { case (k, (LogDelete, _)) => k }.toSet
    /** the (fid, seq) of every live upsert */
    private val picks: Map[String, Long] =
      latest.collect { case (k, (LogUpsert, s)) => k -> s }

    /** Base ⊕ log: base rows of every logged fid give way to the fid's
      * latest log record. The live upserts' payloads are read on the
      * executors from the files holding their seqs, keeping exactly the
      * `(fid, __seq)` pairs the fold picked. */
    def overlay(base: DataFrame, storedSchema: StructType): DataFrame =
      if (isEmpty) base
      else {
        val kept = without(base, col("fid") -> latest.keySet)
        if (picks.isEmpty) kept
        else kept.unionByName(f.payload(picks.values.toSet)
          .filter(concat_ws("\u0001", col("fid"), col("__seq").cast("string"))
            .isin(picks.map { case (k, s) => key(k, s.toString) }.toSeq: _*))
          .select(storedSchema.fieldNames.map(col).toIndexedSeq: _*))
      }
  }

  /** the membership log */
  final class MembersFold(f: OccLog.Folded) {
    private val rows = f.latest.values.toSeq
    private val pairs = rows.filter(r => opOf(r) == MemberAdd || opOf(r) == MemberRemove)
    /** latest `remove_all` seq per dataset key */
    private val wild: Map[String, Long] = rows.filter(opOf(_) == MemberRemoveAll)
      .map(r => key(r.getString(1), r.getString(2)) -> seqOf(r)).toMap
    /** latest `remove_fid` seq per fid */
    private val fidWild: Map[String, Long] = rows.filter(opOf(_) == MemberRemoveFid)
      .map(r => r.getString(0) -> seqOf(r)).toMap

    def isEmpty: Boolean = rows.isEmpty
    def wildcarded(ns: String, n: String): Boolean = wild.contains(key(ns, n))

    /** fids whose latest (fid, ns:n) record is a remove */
    def removed(ns: String, n: String): Set[String] = pairs
      .filter(r => opOf(r) == MemberRemove && r.getString(1) == ns && r.getString(2) == n)
      .map(_.getString(0)).toSet

    /** fids a base-appended (fid, ns:n) row would be hidden for, with the
      * pair still dead: a latest remove, or any fid-wide wildcard (base
      * rows carry implicit seq 0) */
    def shadowed(ns: String, n: String): Set[String] = removed(ns, n) ++ fidWild.keySet

    /** pairs live through the log: a latest add above every wildcard
      * governing it */
    private def liveAdds: Seq[Row] = pairs.filter { r =>
      val s = seqOf(r)
      opOf(r) == MemberAdd &&
        wild.get(key(r.getString(1), r.getString(2))).forall(s > _) &&
        fidWild.get(r.getString(0)).forall(s > _)
    }.map(r => Row(r.getString(0), r.getString(1), r.getString(2)))

    /** Base ⊕ log: base rows lose to ANY pair record (the log
      * re-supplies live pairs) and to any wildcard of either kind. */
    def overlay(spark: SparkSession, base: DataFrame): DataFrame =
      if (isEmpty) base
      else without(base,
          keyCol("fid", "dataset_namespace", "dataset_name") ->
            pairs.map(r => key(r.getString(0), r.getString(1), r.getString(2))).toSet,
          keyCol("dataset_namespace", "dataset_name") -> wild.keySet,
          col("fid") -> fidWild.keySet)
        .unionByName(local(spark, liveAdds, FilesDatasetsSchema))
  }

  /** the provenance-edge log */
  final class EdgesFold(f: OccLog.Folded) {
    private val rows = f.latest.values.toSeq
    private val pairs = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    private val pairKeys = pairs.map(r => key(r.getString(0), r.getString(1))).toSet
    /** latest one-side wildcard seq per parent / per child */
    private val wildP: Map[String, Long] = rows.filter(_.isNullAt(1))
      .map(r => r.getString(0) -> seqOf(r)).toMap
    private val wildC: Map[String, Long] = rows.filter(_.isNullAt(0))
      .map(r => r.getString(1) -> seqOf(r)).toMap

    def isEmpty: Boolean = rows.isEmpty

    /** the edges of `edges` (parent_fid, child_fid) any log record
      * governs — a pair record or a wildcard on either endpoint — as
      * \u0001-joined keys; no job when the log has none */
    def governed(edges: DataFrame): Set[String] =
      if (isEmpty) Set.empty
      else {
        var hit = lit(false)
        if (pairKeys.nonEmpty)
          hit = hit || keyCol("parent_fid", "child_fid").isin(pairKeys.toSeq: _*)
        if (wildP.nonEmpty) hit = hit || col("parent_fid").isin(wildP.keys.toSeq: _*)
        if (wildC.nonEmpty) hit = hit || col("child_fid").isin(wildC.keys.toSeq: _*)
        edges.filter(hit).select("parent_fid", "child_fid").collect()
          .map(r => key(r.getString(0), r.getString(1))).toSet
      }

    /** An add at the SAME seq as a wildcard survives it (`>=`): the two
      * are one replace mutation, ordered remove-then-add. */
    private def liveAdds: Seq[Row] = pairs.filter { r =>
      val s = seqOf(r)
      opOf(r) == EdgeAdd && wildP.get(r.getString(0)).forall(s >= _) &&
        wildC.get(r.getString(1)).forall(s >= _)
    }.map(r => Row(r.getString(0), r.getString(1)))

    /** Base ⊕ log: base rows lose to any pair record and to a wildcard on
      * either endpoint. */
    def overlay(spark: SparkSession, base: DataFrame): DataFrame =
      if (isEmpty) base
      else without(base,
          keyCol("parent_fid", "child_fid") -> pairKeys,
          col("parent_fid") -> wildP.keySet,
          col("child_fid") -> wildC.keySet)
        .unionByName(local(spark, liveAdds, ParentChildSchema))
  }

  /** the admin (dimension) log */
  final class AdminFold(f: OccLog.Folded) {
    private val byTable: Map[String, Seq[Row]] =
      f.latest.values.toSeq.groupBy(_.getString(0))

    /** keys of `table` the log governs (upserts and deletes) */
    def keys(table: String): Set[String] =
      byTable.getOrElse(table, Nil).map(_.getString(1)).toSet

    /** the live upserts of `table`, in the table's own row shape */
    def live(table: String): Seq[Row] = {
      val schema = dimSchema(table)
      byTable.getOrElse(table, Nil).filter(opOf(_) == LogUpsert).map(r =>
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          schema.fieldNames.map(n => r.get(r.fieldIndex(n))), schema))
    }

    /** Base ⊕ log: latest record per key wins (upsert replaces, delete
      * kills). */
    def overlay(spark: SparkSession, table: String, base: DataFrame): DataFrame = {
      val ks = keys(table)
      if (ks.isEmpty) base
      else without(base, keyCol(DimKeys(table): _*) -> ks)
        .unionByName(local(spark, live(table), dimSchema(table)))
    }

    private val rowsMemo =
      new java.util.concurrent.ConcurrentHashMap[String, (Seq[Row], Seq[Row])]()

    /** [[overlay]] over collected base rows, on the driver; the same
      * `base` instance returns the same result instance */
    def overlayRows(table: String, base: Seq[Row]): Seq[Row] = {
      val c = rowsMemo.get(table)
      if (c != null && (c._1 eq base)) c._2
      else {
        val ks = keys(table)
        val keyIdx = DimKeys(table).map(dimSchema(table).fieldIndex)
        val out = base.filterNot(r => ks(key(keyIdx.map(r.getString): _*))) ++ live(table)
        rowsMemo.put(table, (base, out))
        out
      }
    }
  }
}
