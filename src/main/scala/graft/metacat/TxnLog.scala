package graft.metacat

import org.apache.spark.sql.DataFrame
import org.apache.hadoop.fs.Path

/** CROSS-LOG ATOMIC TRANSACTIONS over a set of [[OccLog]]s — the
  * replacement for the one property the reference gets from a single
  * Postgres transaction per handler (data_handler.py:631-1263) and a
  * pile of independent delta logs cannot give by themselves: a mutation
  * spanning several logs (removeFiles touches edges ⊕ members ⊕ files;
  * removeDataset touches admin ⊕ members) must be visible ALL-OR-NOTHING
  * to readers, snapshots and crash recovery.
  *
  * Protocol (presumed-abort two-phase commit over rename-atomic files):
  *
  *  1. CLAIM a seq in every participating log ([[OccLog.claimNext]] —
  *     atomic marker create; conflicting successors in each log now
  *     queue behind the legs via the normal keyed awaits).
  *  2. Write the intent marker `_txn/t<id>.preparing` naming every
  *     (log, seq) leg.
  *  3. STAGE each leg's records under `_txn/t<id>/<log>/` — a parquet
  *     write per leg, same cost as a single-log commit's tmp write.
  *     Legs must be STORE-INSENSITIVE (literal rows the caller
  *     pre-computed driver-side, wildcards/tombstones whose fold
  *     semantics are content-independent): staging never awaits
  *     predecessor publishes, so two concurrent transactions can never
  *     deadlock across logs — the latest-wins per-key folds make any
  *     publish interleave collapse to the seq order the claims fixed.
  *     Exception (r13): at most ONE leg may be a store-SENSITIVE
  *     `primary` ([[TxnLog.Leg]]) — it stages LAST, after awaiting its
  *     own log's conflicting predecessors; deadlock-freedom holds
  *     because every primary in the system lives on the same log.
  *  4. COMMIT POINT: rename the marker `.preparing` → `.committed`
  *     (atomic). Before the rename the transaction is invisible (no leg
  *     published) and rolls BACK; after it, the staged legs are the
  *     durable record and the transaction always rolls FORWARD.
  *  5. PUBLISH each staged leg (rename into its log) in leg order;
  *     delete the stage dir; the marker is GARBAGE-COLLECTED only once
  *     every leg is inside its log's DENSE published frontier — until
  *     then [[ParquetCatalog.snapshot]] sees the marker and refuses to
  *     capture a cut that would straddle the transaction.
  *
  * Crash recovery ([[recoverAll]] / [[recoverSeq]], also wired into
  * [[OccLog]]'s publish-timeout path so a successor blocked on a dead
  * transaction heals it instead of failing):
  *
  *  - `.preparing` older than the publish timeout → ABORT: the marker is
  *    renamed `.aborted` first (the rename arbitrates against a slow but
  *    alive writer reaching its commit point — its own `.preparing` →
  *    `.committed` rename then fails and the writer aborts loudly), then
  *    every claimed leg publishes as an empty no-op, keeping all seq
  *    spaces dense. Nothing of the mutation is ever visible.
  *  - `.committed` → ROLL FORWARD: publish every still-staged leg (the
  *    data is complete by definition of the commit point); rename races
  *    with the original writer are benign (first rename wins, the loser
  *    sees the published dir).
  *  - `.aborted` → finish the no-op publishes and delete the marker.
  *
  * The residual crash window is claims taken before the intent marker
  * lands (step 1→2, a few file creates, no Spark job): those claims are
  * indistinguishable from a crashed single-log writer and keep the
  * existing loud-timeout posture.
  *
  * Scale: everything here is O(legs) driver-side file operations plus
  * one mutation-sized parquet write per leg — no base-table I/O, no
  * corpus-sized shuffle; the marker directory is listed only by
  * transactions, snapshots, fsck and stuck-claim recovery, never on the
  * single-log commit hot path. */
private[metacat] final class TxnLog(spark: org.apache.spark.sql.SparkSession,
    root: String, logs: Map[String, OccLog],
    baseDirs: Map[String, String] = Map.empty,
    primaryLog: String = "files_log") {

  private val hconf = spark.sparkContext.hadoopConfiguration

  /** test-only failpoint: the name of the protocol seam to crash at
    * (throws [[TxnLog.TxnKill]] there, once). Seams: `after-claims`,
    * `after-intent`, `after-stage:<log>`, `after-stage:base-<table>`,
    * `after-commit-flip`, `after-publish:<log>`,
    * `after-publish:base-<table>`. */
  @volatile private[metacat] var failpoint: Option[String] = None

  private def boom(at: String): Unit =
    if (failpoint.contains(at)) { failpoint = None; throw new TxnLog.TxnKill(at) }

  private val txnDirPath = new Path(s"$root/_txn")
  private def fs = txnDirPath.getFileSystem(hconf)

  private def markerPath(id: String, state: String) =
    new Path(txnDirPath, s"t$id.$state")
  private def stageDir(id: String) = new Path(txnDirPath, s"t$id")
  private def legStage(id: String, log: String) = new Path(stageDir(id), log)

  private def writeMarker(p: Path, legs: Seq[(String, Long)]): Unit = {
    val out = fs.create(p, true)
    try out.write(legs.map { case (l, s) => s"$l $s" }.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readMarker(p: Path): Seq[(String, Long)] = {
    val in = fs.open(p)
    val content =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    content.split("\n").map(_.trim).filter(_.nonEmpty).toSeq.map { line =>
      val Array(l, s) = line.split(" ")
      (l, s.toLong)
    }
  }

  private def timeoutMs: Long =
    sys.props.getOrElse("graft.occ.publishTimeoutMs", "120000").toLong

  /** Run one atomic multi-log mutation. On return every leg is
    * published; the marker may outlive the call until each leg falls
    * inside its log's dense frontier (snapshot straddle protection) —
    * [[gc]] reaps it. A single-leg call degenerates to the plain
    * single-log commit.
    *
    * `baseLegs` (r13): BASE-TABLE append legs for mutations whose fast
    * path is a direct parquet append rather than a log commit (declare).
    * A base leg stages its rows under the txn dir like any leg; its
    * publish MOVES the staged part files into the table directory with
    * txn-id-prefixed names, so roll-forward recovery is idempotent
    * (a rename that already happened reads as done). Base rows carry no
    * seq — they are visible to EVERY as-of view the moment they land —
    * so [[ParquetCatalog.snapshot]] refuses to capture while a
    * committed base-leg transaction is not yet fully published
    * ([[committedLegs]] reports `basePending`). Base legs publish AFTER
    * every log leg: a reader mid-window sees the log effects (e.g.
    * memberships) without the base rows, which is the invisible
    * direction for a declare — membership pairs without their file rows
    * join to nothing. */
  def run(legs: Seq[TxnLog.Leg],
      baseLegs: Seq[TxnLog.BaseLeg] = Nil): Unit = {
    require(legs.nonEmpty || baseLegs.nonEmpty, "empty transaction")
    require(legs.map(_.log).distinct.size == legs.size,
      "one leg per log: merge same-log records into one mixed-op frame")
    require(baseLegs.map(_.table).distinct.size == baseLegs.size,
      "one base leg per table")
    require(legs.count(_.primary) <= 1,
      "at most one store-sensitive primary leg per transaction")
    // deadlock-freedom leans on "every primary in the system lives on
    // the SAME log" (see the staging contract above) — enforced here,
    // not just documented: a primary on any other log would reintroduce
    // the cross-log circular wait and surface only as a spurious
    // 120 s crashed-writer timeout
    legs.filter(_.primary).foreach(l => require(l.log == primaryLog,
      s"primary legs must live on the designated primary log " +
        s"'$primaryLog' (got '${l.log}')"))
    legs.foreach(l => require(logs.contains(l.log), s"unknown log ${l.log}"))
    baseLegs.foreach(b => require(baseDirs.contains(b.table),
      s"unknown base table ${b.table}"))
    if (legs.size == 1 && baseLegs.isEmpty) {
      val l = legs.head
      logs(l.log).commit(l.mkRows, l.op, l.keys)
      return
    }
    val id = java.util.UUID.randomUUID().toString
    // 1. claim every leg (driver-side file creates, ms — the one
    // pre-marker crash window, documented above)
    val seqs: Seq[(TxnLog.Leg, Long)] =
      legs.map(l => l -> logs(l.log).claimNext(l.keys))
    boom("after-claims")
    // 2. intent marker (base legs recorded as `base-<table> 0`)
    val preparing = markerPath(id, "preparing")
    fs.mkdirs(txnDirPath)
    writeMarker(preparing, seqs.map { case (l, s) => (l.log, s) } ++
      baseLegs.map(b => (s"base-${b.table}", 0L)))
    boom("after-intent")
    // 3. stage every SECONDARY leg — no predecessor awaits
    // (store-insensitive); then the primary, if any: await its log's
    // conflicting predecessors (the normal single-log posture — a
    // predecessor that is itself a dead transaction heals through the
    // publish-timeout recovery hook), THEN compute its fold and stage.
    // A failed await or stage before the commit point is a presumed
    // abort either way.
    try {
      for ((l, s) <- seqs if !l.primary) {
        logs(l.log).stageRows(s, l.mkRows, l.op, legStage(id, l.log))
        boom(s"after-stage:${l.log}")
      }
      for (b <- baseLegs) {
        // the same staging as OccLog.stageRows — small legs on the
        // driver, bulk ones by a Spark write — with the same vacuum-race
        // retry (pre-commit-point, so a partial stage is simply replaced)
        SegmentIO.stage(spark, b.mkRows, legStage(id, s"base-${b.table}"),
          b.partitionCols)
        boom(s"after-stage:base-${b.table}")
      }
      for ((l, s) <- seqs if l.primary) {
        logs(l.log).awaitForStaging(s, l.keys)
        logs(l.log).stageRows(s, l.mkRows, l.op, legStage(id, l.log))
        boom(s"after-stage:${l.log}")
      }
    } catch {
      case e: Throwable =>
        // presumed abort: nothing is visible yet — publish no-ops at
        // every claimed seq so all sequence spaces stay dense, then
        // surface the failure
        try abort(id, seqs.map { case (l, s) => (l.log, s) }, preparing)
        catch { case ae: Throwable => e.addSuppressed(ae) }
        throw e
    }
    // 4. commit point
    if (!fs.rename(preparing, markerPath(id, "committed"))) {
      fs.delete(stageDir(id), true) // our staged legs are dead weight now
      throw new IllegalStateException(
        s"transaction $id lost its commit-point rename — an expiry-based " +
        "recovery aborted it (this writer exceeded the publish timeout); " +
        "the mutation did NOT apply")
    }
    boom("after-commit-flip")
    // 5. publish (lenient: a concurrent recoverer may win a rename).
    // Log legs first, base legs last — see the base-leg visibility note
    for ((l, s) <- seqs) {
      logs(l.log).publishStaged(s, legStage(id, l.log), strict = false)
      boom(s"after-publish:${l.log}")
    }
    for (b <- baseLegs) {
      moveStaged(id, b.table)
      boom(s"after-publish:base-${b.table}")
    }
    fs.delete(stageDir(id), true)
    gcMarker(markerPath(id, "committed"))
  }

  /** Publish a staged base leg: move every staged part file into the
    * table directory under a txn-id-prefixed name. Part-file names are
    * fixed at stage time, so a roll-forward racing the original writer
    * (or another recoverer) is idempotent — a rename whose source is
    * gone and destination present already happened. */
  private def moveStaged(id: String, table: String): Unit = {
    val src = legStage(id, s"base-$table")
    if (!fs.exists(src)) return // already fully published
    val dst = new Path(baseDirs(table))
    // a roll-forward racing the original writer (or another recoverer)
    // may move files — or delete the drained stage dir — under this
    // walk; a vanished source whose target landed is a completed move
    // (RawLocalFileSystem surfaces it as FileNotFoundException from the
    // rename's copy fallback, not as `false`)
    def move(srcDir: Path, dstDir: Path): Unit = {
      fs.mkdirs(dstDir)
      val entries =
        try fs.listStatus(srcDir)
        catch { case _: java.io.FileNotFoundException => return }
      entries.foreach { st =>
        val nm = st.getPath.getName
        if (st.isDirectory) {
          if (!nm.startsWith("_")) move(st.getPath, new Path(dstDir, nm))
        } else if (!nm.startsWith("_") && !nm.startsWith(".")) {
          val target = new Path(dstDir, s"t$id-$nm")
          val renamed =
            try fs.rename(st.getPath, target)
            catch {
              case _: java.io.FileNotFoundException if fs.exists(target) =>
                false
            }
          if (!renamed && !(fs.exists(target) && !fs.exists(st.getPath)))
            throw new java.io.IOException(
              s"txn base publish failed: ${st.getPath} -> $target")
        }
      }
    }
    move(src, dst)
    fs.delete(src, true)
    ()
  }

  private def isBase(tag: String): Boolean = tag.startsWith("base-")
  private def baseTable(tag: String): String = tag.stripPrefix("base-")

  private def abort(id: String, legs: Seq[(String, Long)],
      preparing: Path): Unit = {
    // flip first: the rename arbitrates against a racing commit point
    val aborted = markerPath(id, "aborted")
    if (!fs.rename(preparing, aborted) && !fs.exists(aborted))
      return // someone else owns the marker now (committed) — leave it
    // base legs have no seq to no-op: deleting the stage dir IS their
    // rollback (nothing was moved before the commit point)
    legs.filterNot(l => isBase(l._1))
      .foreach { case (l, s) => logs(l).publishNoop(s) }
    fs.delete(stageDir(id), true)
    fs.delete(aborted, false)
    ()
  }

  /** every pending marker as (path, state, legs) */
  private def pendingMarkers(): Seq[(Path, String, Seq[(String, Long)])] = {
    if (!fs.exists(txnDirPath)) return Nil
    val M = "t[0-9a-f-]+\\.(preparing|committed|aborted)".r
    fs.listStatus(txnDirPath).toSeq.filter(_.isFile).flatMap { st =>
      st.getPath.getName match {
        case M(state) =>
          // a marker can vanish between the listing and the read (its
          // writer finished) — treat as already recovered
          try Some((st.getPath, state, readMarker(st.getPath)))
          catch { case _: java.io.FileNotFoundException => None }
        case _ => None
      }
    }
  }

  /** pending transaction count (fsck) */
  def pendingCount(): Long = pendingMarkers().size.toLong

  /** Legs of transactions that could still STRADDLE a snapshot cut: for
    * each committed-but-not-yet-GC'd marker, its LOG (log, seq) legs
    * plus the base-leg publication state. A `.preparing` transaction has
    * no published leg (every leg is above every dense frontier, no base
    * file moved), so only committed ones matter. Base rows are visible
    * to every as-of view once moved, so a consistent cut over a base-leg
    * transaction needs the base fully moved AND every log leg inside the
    * frontier — anything else straddles ([[ParquetCatalog.snapshot]]
    * resolves by rolling the transaction forward and re-capturing). */
  def committedLegs(): Seq[TxnLog.PendingTxn] =
    pendingMarkers().filter(_._2 == "committed").map { case (p, _, legs) =>
      val id = p.getName.stripPrefix("t").stripSuffix(".committed")
      val (base, logLegs) = legs.partition(l => isBase(l._1))
      TxnLog.PendingTxn(logLegs, hasBase = base.nonEmpty,
        basePending = base.exists(b => fs.exists(legStage(id, b._1))))
    }

  /** GC a committed marker once every log leg is inside its log's dense
    * published frontier and every base leg is fully moved — before
    * that, the marker is the snapshot straddle guard. Returns true when
    * deleted. */
  private def gcMarker(p: Path): Boolean = {
    val legs =
      try readMarker(p)
      catch { case _: java.io.FileNotFoundException => return true }
    val id = p.getName.stripPrefix("t").stripSuffix(".committed")
    val done = legs.forall {
      case (l, _) if isBase(l) => !fs.exists(legStage(id, l))
      case (l, s) => logs(l).densePublishedSeq() >= s
    }
    if (done) fs.delete(p, false)
    done
  }

  /** Recover (or finish) every pending transaction: roll committed ones
    * forward, abort preparing ones older than the publish timeout (or
    * all of them when `force`), finish aborted ones, GC markers whose
    * legs are all dense-published. Returns the number of markers acted
    * on. Safe to run concurrently with live writers — every step is an
    * atomic create/rename arbitrating against the owner. */
  def recoverAll(force: Boolean = false): Int = {
    var acted = 0
    val now = System.currentTimeMillis()
    pendingMarkers().foreach { case (p, state, legs) =>
      state match {
        case "committed" =>
          val id = p.getName.stripPrefix("t").stripSuffix(".committed")
          legs.foreach {
            case (l, _) if isBase(l) => moveStaged(id, baseTable(l))
            case (l, s) =>
              if (!logs(l).isPublished(s))
                logs(l).publishStaged(s, legStage(id, l), strict = false)
          }
          fs.delete(stageDir(id), true)
          if (gcMarker(p)) acted += 1
        case "preparing" =>
          val age = now - fs.getFileStatus(p).getModificationTime
          if (force || age > timeoutMs) {
            val id = p.getName.stripPrefix("t").stripSuffix(".preparing")
            abort(id, legs, p)
            acted += 1
          }
        case "aborted" =>
          legs.filterNot(l => isBase(l._1))
            .foreach { case (l, s) => logs(l).publishNoop(s) }
          val id = p.getName.stripPrefix("t").stripSuffix(".aborted")
          fs.delete(stageDir(id), true)
          fs.delete(p, false)
          acted += 1
        case _ => ()
      }
    }
    acted
  }

  /** Targeted recovery for ONE stuck claim (the [[OccLog]] publish-
    * timeout hook): find the pending transaction owning (log, seq) and
    * roll it forward or back; false when no transaction owns it (a
    * plain crashed single-log writer — keep the loud-timeout posture). */
  def recoverSeq(log: String, seq: Long): Boolean = {
    val owner = pendingMarkers().find(_._3.contains((log, seq)))
    owner match {
      case None => false
      case Some((p, state, legs)) =>
        state match {
          case "committed" =>
            val id = p.getName.stripPrefix("t").stripSuffix(".committed")
            legs.foreach {
              case (l, _) if isBase(l) => moveStaged(id, baseTable(l))
              case (l, s) =>
                if (!logs(l).isPublished(s))
                  logs(l).publishStaged(s, legStage(id, l), strict = false)
            }
            fs.delete(stageDir(id), true)
            gcMarker(p)
            true
          case "preparing" =>
            // the caller already waited out the full publish timeout on
            // this seq, so the owner is presumed dead regardless of the
            // marker's own age
            val id = p.getName.stripPrefix("t").stripSuffix(".preparing")
            abort(id, legs, p)
            true
          case "aborted" =>
            legs.filterNot(l => isBase(l._1))
              .foreach { case (l, s) => logs(l).publishNoop(s) }
            true
          case _ => false
        }
    }
  }
}

private[metacat] object TxnLog {
  /** One transaction leg. `mkRows` MUST be store-insensitive (see
    * [[TxnLog]]'s staging contract) — it is computed without awaiting
    * predecessor publishes — UNLESS `primary = true`: the primary leg is
    * the one store-SENSITIVE leg a transaction may carry (r13, for
    * mutations whose records fold over predecessor state, e.g.
    * updateFile's metadata merge). It awaits its log's conflicting
    * predecessors like a plain single-log commit, stages AFTER every
    * secondary, and the commit point follows its fold. At most one leg
    * per transaction may be primary, and every primary in the system
    * must live on the SAME log (here: files_log) — that keeps the
    * cross-log wait graph well-founded (a primary's await can only block
    * on same-log predecessors, each of which is a bounded single-log
    * commit, an await-free secondary, or a lower-seq primary), so two
    * concurrent transactions can never deadlock across logs. */
  final case class Leg(log: String, op: String, keys: Option[Seq[String]],
      mkRows: () => DataFrame, primary: Boolean = false)

  /** one BASE-TABLE append leg (r13): literal rows staged as parquet,
    * published by idempotent part-file moves into `table`'s directory —
    * see [[TxnLog.run]]'s base-leg notes */
  final case class BaseLeg(table: String, mkRows: () => DataFrame,
      partitionCols: Seq[String] = Nil)

  /** a committed-but-not-GC'd transaction, as the snapshot straddle
    * guard needs it: its log legs, whether it carries base legs, and
    * whether any base leg is still staged (not yet fully moved) */
  final case class PendingTxn(logLegs: Seq[(String, Long)],
      hasBase: Boolean, basePending: Boolean)

  /** test-only failpoint crash */
  final class TxnKill(at: String)
    extends RuntimeException(s"txn failpoint: $at")
}
