package graft.metacat

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path

/** One multi-writer OCC-governed delta log under `root`:
  *
  *  - `<name>/s<seq>/` — published commit segments (one parquet dir per
  *    mutation)
  *  - `<name>_claims/s<seq>` — atomic claim markers
  *  - `<name>_ckpt/s<seq>/` — checkpoints (the folded published prefix)
  *
  * The reference serializes concurrent clients through Postgres
  * transactions (data_handler.py handlers run on one transactional
  * connection each; uniqueness comes from the schema's primary keys).
  * Here the log IS the commit protocol, in the Delta-log shape: each
  * mutation occupies exactly one `__seq`, a seq is CLAIMED by an atomic
  * create-if-absent marker file and PUBLISHED by renaming the written
  * parquet directory to `<name>/s<seq>/`. Claims are dense (next = max
  * claimed + 1) and taken FIRST: the winner of seq s waits for every
  * predecessor's publish and then computes its row versions against
  * exactly the published state of seqs < s — the state they serialize
  * after. Serializable, with one segment write per mutation — on the
  * driver for mutation-sized commits, a Spark write for bulk ones
  * ([[SegmentIO]]); a lost claim race costs a failed file-create, never
  * a recompute (see [[commit]]).
  *
  * Atomicity of the claim: `java.nio.Files.createFile` (O_CREAT|O_EXCL)
  * on local filesystems — Hadoop's RawLocalFileSystem.create is
  * check-then-act, not atomic — and `FileSystem.create(p, overwrite =
  * false)` elsewhere (a single atomic namenode op on HDFS). Object
  * stores without atomic create-if-absent need a CAS-capable commit
  * service, the same caveat Delta documents for S3 multi-writer.
  *
  * Crash window: a writer that dies between claim and publish leaves an
  * orphaned claim; successors block on [[awaitPublished]] and fail
  * loudly after a timeout naming the orphan (Fsck.audit flags the same
  * state). Recovery is manual marker removal — the Delta-equivalent of
  * clearing a stale lock.
  *
  * Checkpoint + vacuum bound the log's read cost WITHOUT an exclusive
  * window: [[checkpoint]] materializes the fold of the published prefix
  * ≤ n into `<name>_ckpt/s<n>/` (tmp write + atomic rename, idempotent —
  * a PURE FUNCTION of already-published commits, so no coordination with
  * writers is needed); [[records]] then reads one checkpoint dir + only
  * the segments ABOVE it; [[vacuum]] deletes the covered raw segments,
  * claim markers, legacy flat files and older checkpoints. The one
  * operation that must not run concurrently is compaction ([[truncate]]
  * callers), which folds the log into its base table and deletes all
  * three directories — it needs an EXCLUSIVE window in every mode.
  *
  * Where the driver fold ([[folded]]) keeps every column of the schema —
  * the catalog's members, edges and admin logs — it already IS the
  * checkpoint's content, so the checkpoint is written from it on the
  * driver ([[SegmentIO.stage]]): no Spark job, and no re-read of the new
  * checkpoint afterwards. The files log's driver fold keeps only
  * `fid`/`__op`/`__seq` (its payloads stay on the executors, and its
  * checkpoint can reach table size), so it and the dedup log checkpoint
  * through their Spark `fold`.
  *
  * @param schema    full at-rest record shape INCLUDING `__op`/`__seq`
  * @param fold      pure latest-wins collapse a Spark checkpoint runs;
  *                  must preserve the read semantics of the prefix it
  *                  replaces. None when `foldSpec` keeps every column:
  *                  the checkpoint is then the driver fold itself
  * @param legacyFlat when true, parquet part files directly under
  *                  `<name>/` (a pre-OCC flat layout) are honored: their
  *                  max `__seq` joins the allocation frontier and they are
  *                  readable until the first vacuum/compaction that covers
  *                  them
  * @param foldSpec  the driver-side fold [[folded]] maintains: which
  *                  columns it keeps and the latest-wins key of a record
  *                  (the same keys `fold` collapses by)
  */
private[metacat] final class OccLog(
    spark: SparkSession, root: String, name: String, schema: StructType,
    fold: Option[DataFrame => DataFrame], legacyFlat: Boolean = false,
    foldSpec: Option[OccLog.FoldSpec] = None) {

  /** true when the driver fold keeps whole records: [[checkpoint]] then
    * writes the fold instead of running `fold` */
  private val driverCheckpoint =
    !legacyFlat && foldSpec.exists(_.cols.toSet == schema.fieldNames.toSet)
  require(driverCheckpoint || fold.nonEmpty,
    s"log $name needs a checkpoint fold: its driver fold does not keep every column")

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def path(t: String) = s"$root/$t"
  private def hPath(t: String) = new Path(path(t))
  private def fsOf(p: Path) = p.getFileSystem(hconf)
  private val claimsT = s"${name}_claims"
  private val ckptT = s"${name}_ckpt"

  /** Cross-log transaction recovery hook (wired by the owning catalog):
    * called at a publish deadline with (logName, stuckSeq); returning
    * true means the stuck claim's owning transaction was rolled forward
    * or back — its seq is now published (as the staged leg or a no-op)
    * and the wait may re-check. Default: no recovery, time out loudly. */
  private[metacat] var stuckClaimRecovery: (String, Long) => Boolean =
    (_, _) => false

  /** Test seam: fires in [[records]], [[folded]] and a driver-written
    * [[checkpoint]] between the pinned segment listing (already
    * re-validated against the checkpoint pointer) and the read of the
    * listed files — `records`' EAGER `spark.read` file-index resolution,
    * the driver reads of the other two — the exact window where a
    * concurrent checkpoint+vacuum deletes just-listed segments and the
    * read throws PATH_NOT_FOUND. */
  private[metacat] var onRecordsPinned: () => Unit = () => ()

  private def align(df: DataFrame): DataFrame =
    df.select(schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)

  private val SeqDirName = "s(\\d{20})".r

  private def seqDirName(s: Long): String = f"s$s%020d"

  /** seq numbers present as `s<20 digits>` children of `t` */
  private def listSeqNames(t: String): Seq[Long] = {
    val p = hPath(t)
    val fs = fsOf(p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
      case SeqDirName(d) => d.toLong
    }
  }

  def rawNonEmpty(): Boolean = {
    val p = hPath(name)
    val fs = fsOf(p)
    fs.exists(p) && fs.getFileStatus(p).isDirectory && fs.listStatus(p).nonEmpty
  }

  /** true iff any UNFOLDED log state exists — raw commit segments or a
    * checkpoint (after [[vacuum]] the raw directory may be empty while
    * the checkpoint still carries every not-yet-compacted mutation) */
  def nonEmpty(): Boolean = rawNonEmpty() || ckptSeq() > 0L

  /** The RAW log as a DataFrame. One commit = one `s<seq>/` parquet
    * directory, so the read recurses; a pre-OCC flat layout's top-level
    * part files are picked up by the same recursive listing. Post-vacuum
    * this holds only segments above the checkpoint horizon — full-log
    * readers go through [[records]]. */
  def readRaw(): DataFrame =
    spark.read.schema(schema).option("recursiveFileLookup", "true")
      .parquet(path(name))

  /** Every unfolded log record, reading the cheapest equivalent source:
    * with a checkpoint at seq c, the checkpoint (`fold` over seqs ≤ c,
    * original `__seq`/`__op` preserved) plus only the raw segments ABOVE
    * c — one small parquet dir instead of c tiny commit dirs, the
    * read-cost bound that keeps an always-on multi-writer catalog
    * O(base + recent commits) instead of O(all commits ever). Latest-wins
    * semantics are unchanged because the checkpoint already IS the fold
    * of its prefix. Falls back to the raw log when legacy flat-layout
    * rows reach above the checkpoint.
    *
    * Concurrency: the segment listing must be CONSISTENT with the
    * checkpoint pointer it was taken against, and any later vacuum must
    * fail the read LOUDLY. Two measures enforce that:
    * (1) the pointer is re-read after the listing — if a concurrent
    *     checkpoint advanced it, segments in (c, c'] may already be
    *     vacuumed out of the listing, so recompute from the new pointer;
    * (2) segments are read via PINNED per-seq paths, never a recursive
    *     directory scan — a directory scan re-lists lazily at action
    *     time, so a vacuum between plan and action SILENTLY drops the
    *     folded-away segments (observed: an existence check inside a
    *     commit read an empty log mid-vacuum and failed a live dataset).
    *     Pinned paths turn that race into FileNotFoundException, which
    *     every materializing caller ([[stageRows]], [[checkpoint]],
    *     retryOnVanish sites) already retries with a fresh plan. */
  def records(): DataFrame = stableRead { c =>
    if (legacyFlatSeq() > c) {
      // pre-OCC flat part files live directly under the log dir — only
      // the recursive listing sees them; flat files are immutable and
      // only vacuumed once a covering checkpoint exists (c >= flat max)
      Some(readRaw())
    } else {
      val above = listSeqNames(name).filter(_ > c).sorted.map(segPath)
      if (ckptSeq() != c) None
      else {
        onRecordsPinned()
        // spark.read.parquet resolves its file index EAGERLY, so a vacuum
        // deleting a just-listed segment (or a superseded checkpoint)
        // between the listing and here throws PATH_NOT_FOUND out of plan
        // CONSTRUCTION — before any caller's materialization retry can
        // see it (observed: an ingest stream's very first mkBatch() in
        // declareFiles, built outside the pin-retry loop, died against an
        // admin loop's vacuum cadence). A fresh listing is always correct
        // (the covering checkpoint carries the vacuumed segments), so
        // [[stableRead]] absorbs the race.
        val ckptDf =
          if (c <= 0L) None else Some(spark.read.schema(schema).parquet(ckptPath(c)))
        val aboveDf =
          if (above.isEmpty) None else Some(spark.read.schema(schema).parquet(above: _*))
        Some((ckptDf ++ aboveDf).reduceOption(_.unionByName(_)).getOrElse(
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)))
      }
    }
  }

  private def segPath(s: Long): String = s"${path(name)}/${seqDirName(s)}"
  private def ckptPath(c: Long): String = s"${path(ckptT)}/${seqDirName(c)}"

  /** The guard [[records]] and [[folded]] share: run `body` against the
    * current checkpoint pointer until it returns a read. `body` returns
    * None when the pointer moved under its listing; a read that finds a
    * listed segment or checkpoint gone (a vacuum in between) is retried
    * with a fresh listing. Running out of attempts throws with the last
    * such failure as the cause: a segment that vanishes on every attempt
    * is vacuum churn or a segment deleted outside the protocol, not a
    * transient race. */
  private def stableRead[T](body: Long => Option[T]): T = {
    var lastVanished: Throwable = null
    var attempt = 0
    while (attempt < OccLog.MaxReadAttempts) {
      attempt += 1
      try body(ckptSeq()) match {
        case Some(t) => return t
        case None => () // a checkpoint landed mid-listing — recompute
      } catch {
        case e: Throwable if OccLog.fileVanished(e) => lastVanished = e
      }
    }
    val why =
      if (lastVanished == null) "the checkpoint pointer moved under every listing"
      else "a listed segment or checkpoint was missing when read — a vacuum " +
        "racing every attempt, or a segment deleted outside the commit " +
        s"protocol (last failure: ${lastVanished.getMessage})"
    throw new IllegalStateException(
      s"reading $root/$name found no stable view after $attempt attempts: $why",
      lastVanished)
  }

  /** Parquet data files of one segment or checkpoint directory, sorted.
    * Spark names part files uniquely per write, so this list identifies
    * the directory's CONTENT: a segment re-published under the same seq
    * after another instance compacted the log lists differently. */
  private def dataFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    fsOf(p).listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.getPath.toString).sorted
  }

  private var foldCache: OccLog.FoldCache = null

  /** the driver reader of the fold's columns, built on first use */
  private lazy val reader =
    new SegmentIO.Reader(spark, schema, foldSpec.get.cols)

  /** The driver-resident fold of this log: the latest record per
    * `foldSpec` key over the checkpoint and every segment above it,
    * projected to `foldSpec.cols` — the collected equivalent of
    * latest-per-key over [[records]].
    *
    * Incremental: each call lists the log once (under the same
    * [[stableRead]] guard as [[records]]) and reads only the segments it
    * has not folded yet, on the driver — nothing when nothing was
    * published since the last call. Published segments are immutable, so
    * a folded segment never needs re-reading. A checkpoint this instance
    * publishes re-keys the cache to itself ([[checkpoint]]); otherwise the
    * cache is dropped when the checkpoint pointer moves, when the
    * checkpoint's data files differ from the cached ones, or when any
    * cached segment is gone or lists different data files: a compaction
    * by another instance (after which seqs restart at 1, see
    * [[truncate]]) can never pass for the segments it replaced. A legacy flat layout above the checkpoint is folded from
    * a full raw read on every call (it exists only until the first
    * covering vacuum). */
  private[metacat] def folded(): OccLog.Folded = synchronized {
    val spec = foldSpec.getOrElse(throw new IllegalStateException(
      s"log $name has no driver fold spec"))
    val cols = spec.cols.map(col)
    def foldRows(into: Map[Any, Row], rows: Iterator[Row]) =
      OccLog.foldInto(spec, into, rows)
    stableRead { c =>
      if (legacyFlatSeq() > c) {
        foldCache = null
        val rows = readRaw().select(cols: _*).collect()
        Some(new OccLog.Folded(OccLog.versions.incrementAndGet(),
          foldRows(Map.empty, rows.iterator), _ => readRaw()))
      } else {
        val above = listSeqNames(name).filter(_ > c).sorted
        if (ckptSeq() != c) None
        else {
          val ckptFiles = if (c > 0L) dataFiles(ckptPath(c)) else Nil
          val segs = above.map(s => s -> dataFiles(segPath(s))).toMap
          val cached = Option(foldCache).filter { k =>
            k.ckpt == c && k.ckptFiles == ckptFiles &&
            k.segs.forall { case (s, fs) => segs.get(s).contains(fs) }
          }
          val fresh = cached.isEmpty
          val newSegs = segs.filter { case (s, _) => fresh || !cached.get.segs.contains(s) }
          val toRead = (if (fresh) ckptFiles else Nil) ++ newSegs.values.flatten
          onRecordsPinned()
          val rows =
            if (toRead.isEmpty) Array.empty[Row]
            else reader(toRead)
          val next = cached match {
            case Some(k) if rows.isEmpty => k.copy(segs = segs)
            case _ => OccLog.FoldCache(c, ckptFiles, segs,
              foldRows(cached.map(_.latest).getOrElse(Map.empty), rows.iterator),
              OccLog.versions.incrementAndGet())
          }
          foldCache = next
          // the payload of a folded record lives in its segment's files,
          // or in the checkpoint's for seqs it covers
          def filesOf(seqs: Set[Long]): Seq[String] =
            (if (seqs.exists(_ <= c)) ckptFiles else Nil) ++
              seqs.toSeq.sorted.flatMap(s => segs.getOrElse(s, Nil))
          Some(new OccLog.Folded(next.version, next.latest, seqs => {
            val files = filesOf(seqs)
            if (files.isEmpty) spark.createDataFrame(
              spark.sparkContext.emptyRDD[Row], schema)
            else spark.read.schema(schema).parquet(files: _*)
          }))
        }
      }
    }
  }

  /** Highest seq of the pre-OCC flat layout (parquet part files directly
    * under `<name>/`). Flat files are immutable once OCC is in force (no
    * new flat writes happen), so the computed value is MEMOIZED — the
    * pre-memo path cost a directory listing plus, when flat files exist,
    * a full Spark aggregate over the raw log PER CLAIM ATTEMPT on the
    * commit hot path. [[truncate]] and [[vacuum]] (the two operations
    * that delete flat files in this instance) invalidate; a concurrent
    * vacuum in ANOTHER instance can leave this memo stale-nonzero, but
    * only after proving `legacyFlatSeq <= ckptSeq`, so every consumer —
    * the allocation frontier (max with ckpt), the awaitPublished filter
    * (> legacy implies > some published prefix) and [[records]]'s
    * `legacy > ckpt` branch test — degrades safely. */
  def legacyFlatSeq(): Long = {
    if (!legacyFlat) return 0L
    val memo = legacyMemo
    if (memo >= 0L) return memo
    val p = hPath(name)
    val fs = fsOf(p)
    val hasFlat = fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val computed =
      if (!hasFlat) 0L
      else readRaw().agg(max(col("__seq"))).collect().head match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    legacyMemo = computed
    computed
  }

  /** -1 = not yet computed */
  @volatile private var legacyMemo: Long = -1L

  /** highest checkpointed seq (0 = no checkpoint). The checkpoint dir
    * name IS the horizon record, so a vacuumed log (claims ≤ horizon
    * removed) still allocates correctly: the frontier never falls below
    * it. */
  def ckptSeq(): Long = (0L +: listSeqNames(ckptT)).max

  /** highest CLAIMED seq — the allocation frontier for the next commit.
    * Includes the checkpoint horizon: vacuum deletes claim markers the
    * checkpoint proves published, and the frontier must survive that. */
  private def maxClaimed(): Long =
    ((0L +: listSeqNames(claimsT)) :+ legacyFlatSeq() :+ ckptSeq()).max

  /** highest PUBLISHED seq — the log's current version number */
  def currentSeq(): Long =
    ((0L +: listSeqNames(name)) :+ legacyFlatSeq() :+ ckptSeq()).max

  /** Write the claimed seq's DECLARED KEY SET beside its marker
    * (`<claims>/s<seq>.keys`): the conflict-detection handshake that
    * lets DISJOINT-key successors compute concurrently instead of
    * serializing behind every predecessor's Spark write (the flat
    * ~2 commits/s ceiling measured through 8 writers). One key per
    * line; the single line `*` means "all keys" (an unkeyed commit —
    * conflicts with everything, the original total order). Written
    * immediately after winning the claim, so a reader finding a marker
    * without keys is either a microsecond-old claim (grace-polled) or a
    * crashed writer (degrades to the conservative full wait). */
  private def writeKeys(s: Long, keys: Option[Seq[String]]): Unit = {
    val p = new Path(path(claimsT), seqDirName(s) + ".keys")
    val fs = fsOf(p)
    val content = keys match {
      case Some(ks) => ks.distinct.sorted.mkString("\n")
      case None => "*"
    }
    // written under a hidden name and renamed into place: a created file
    // is visible before its bytes are, and a successor reading it empty
    // or truncated takes the key sets as DISJOINT and computes
    // concurrently with a conflicting predecessor (observed: both writers
    // of a DedupLogSpec clone storm admitted every clone, seqs 1 and 2
    // publishing together, their sidecars stamped in the same ms)
    val tmp = new Path(path(claimsT),
      s".${seqDirName(s)}.keys.${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"cannot publish key sidecar $p")
    }
  }

  /** the declared key set of claimed seq `s`: Some(keys), or None for
    * "treat as conflicting" (unkeyed `*`, a not-yet-written keys file
    * past the grace, or a pre-keys legacy claim) */
  private def readKeys(s: Long): Option[Set[String]] = {
    val p = new Path(path(claimsT), seqDirName(s) + ".keys")
    val fs = fsOf(p)
    var graceLeft = 40 // ~1 s: the writer stamps keys right after claiming
    while (!fs.exists(p) && graceLeft > 0) {
      if (!fs.exists(new Path(path(claimsT), seqDirName(s)))) return None
      Thread.sleep(25L)
      graceLeft -= 1
    }
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val content =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    if (content.trim == "*") None
    else Some(content.split("\n").map(_.trim).filter(_.nonEmpty).toSet)
  }

  /** atomically claim `s`: create-if-absent on the marker file; false ⇒
    * another writer owns it */
  private def claim(s: Long): Boolean = {
    val marker = new Path(path(claimsT), seqDirName(s))
    val fs = fsOf(marker)
    fs.mkdirs(marker.getParent)
    if (fs.getScheme == "file") {
      try {
        java.nio.file.Files.createFile(java.nio.file.Paths.get(marker.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try { fs.create(marker, false).close(); true }
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }
  }

  /** Block until every claimed seq ≤ `upTo` has published its data dir —
    * under claim-first commits a predecessor holds its claim for its
    * whole compute+publish, so the wait covers the queue of commits
    * ahead (deadline via `graft.occ.publishTimeoutMs`, default 120 s). A
    * claim that never publishes (crashed writer) fails loudly after the
    * timeout. */
  private def awaitPublished(upTo: Long,
      myKeys: Option[Seq[String]] = None): Unit = {
    if (upTo <= 0L) return
    val legacy = legacyFlatSeq()
    val ckpt = ckptSeq() // the checkpoint proves its prefix published
    var pending = listSeqNames(claimsT)
      .filter(s => s <= upTo && s > legacy && s > ckpt)
    // conflict detection: a KEYED commit waits only for predecessors
    // whose declared key sets intersect its own — disjoint mutations
    // commute under the per-key latest-wins folds, so computing against
    // the published state (which can only lack disjoint records) is the
    // same serializable outcome, and the Spark writes overlap instead of
    // queueing. Predecessors with unknown keys conservatively conflict.
    myKeys.foreach { mine =>
      val mineSet = mine.toSet
      val pubFs = fsOf(hPath(name))
      pending = pending.filter { s =>
        // a PUBLISHED predecessor never needs conflict evaluation —
        // claims persist until vacuum, and a claim without a .keys
        // sidecar (pre-keys deployment, or a writer that crashed between
        // claim and writeKeys) would otherwise burn readKeys' full ~1 s
        // grace poll on EVERY keyed commit until a vacuum clears it
        if (pubFs.exists(new Path(path(name), seqDirName(s)))) false
        else readKeys(s) match {
          case Some(theirs) => theirs.exists(mineSet.contains)
          case None => true // unkeyed or unknown: total-order behavior
        }
      }
    }
    if (pending.isEmpty) return
    val fs = fsOf(hPath(name))
    val timeoutMs =
      sys.props.getOrElse("graft.occ.publishTimeoutMs", "120000").toLong
    // the checkpoint frontier is re-listed only every ~250 ms (cached
    // across wait iterations — the pre-cache loop re-listed the ckpt dir
    // every 5 ms, O(listings) growing with commits-since-vacuum), and the
    // sleep backs off exponentially 5 → 80 ms per pending seq
    var cachedCkpt = ckpt
    var nextCkptProbe = System.nanoTime() + 250L * 1000 * 1000
    for (s <- pending.sorted) {
      val dir = new Path(path(name), seqDirName(s))
      val marker = new Path(path(claimsT), seqDirName(s))
      // the deadline is PER pending seq: a queue of k slow predecessors
      // gets k independent windows instead of timing out collectively
      val deadline = System.nanoTime() + timeoutMs * 1000 * 1000
      var sleepMs = 5L
      var waiting = true
      var recoveryTried = false
      while (waiting && !fs.exists(dir)) {
        val now = System.nanoTime()
        if (now > nextCkptProbe) {
          cachedCkpt = ckptSeq()
          nextCkptProbe = now + 250L * 1000 * 1000
        }
        // a concurrent vacuum may retire the claim (and its segment)
        // after we listed it — the checkpoint carries that commit, stop
        // waiting
        if (!fs.exists(marker) || s <= cachedCkpt) waiting = false
        else if (now > deadline && !recoveryTried &&
            stuckClaimRecovery(name, s)) {
          // a cross-log transaction recovery hook rolled the stuck
          // claim's owning transaction forward (published its staged
          // leg) or back (published a no-op) — re-check once
          recoveryTried = true
        }
        else if (now > deadline)
          throw new IllegalStateException(
            s"log seq $s is claimed but never published (crashed writer?); " +
            s"publish an empty no-op commit (mkdir ${path(name)}/${seqDirName(s)}) " +
            s"to recover gap-free, or remove ${path(claimsT)}/${seqDirName(s)} " +
            "(fsck will flag the seq gap)")
        else {
          Thread.sleep(sleepMs)
          sleepMs = math.min(80L, sleepMs * 2L)
        }
      }
    }
  }

  /** Commit one mutation's records under multi-writer OCC — O(rows
    * touched), no base-table I/O beyond the read feeding `mkRows`.
    *
    * CLAIM-FIRST: own the next dense seq before computing, await the
    * predecessors' publishes, then compute the mutation against exactly
    * the state of seqs < s and publish — each mutation writes its
    * segment exactly ONCE. (The original write-first variant computed
    * speculatively and re-computed on every lost claim; at 4 concurrent
    * writers a slow writer burned a full write per collision and starved
    * past the retry cap. Losing a claim-first race costs one failed
    * file-create, ~ms.) The cost is that commits serialize behind each
    * other's computes — the same aggregate throughput write-first
    * delivered under contention, with none of the wasted work.
    *
    * The frame `mkRows` returns carries the record shape minus `__seq`
    * (stamped here); a frame WITHOUT `__op` gets `op` stamped, one WITH
    * it keeps its per-row ops — the one seq then holds a mixed mutation
    * (e.g. a replace = wildcard remove + new rows) that readers see
    * atomically. If the compute/write FAILS, the claimed seq publishes
    * as an EMPTY no-op commit so the sequence space stays dense and
    * successors are never stranded behind the claim. */
  def commit(mkRows: () => DataFrame, op: String): Unit =
    commit(mkRows, op, None)

  /** [[commit]] with a DECLARED KEY FOOTPRINT: the caller contracts that
    * this mutation's reads and records concern only `keys` (under the
    * log's per-key fold — e.g. one dataset's identity on the members
    * log, the touched fids on the edges log). Commits whose footprints
    * are disjoint from every unpublished predecessor skip the publish
    * wait and compute CONCURRENTLY — disjoint per-key mutations commute,
    * so any publish order folds to the same state (a reader may
    * momentarily see seq s without s-1; that is the serialization where
    * s came first). Unkeyed commits keep the total order. */
  def commit(mkRows: () => DataFrame, op: String,
      keys: Option[Seq[String]]): Unit = {
    val fs = fsOf(hPath(name))
    val s = claimNext(keys)
    val dst = new Path(path(name), seqDirName(s))
    // Predecessors may still be computing/publishing: the snapshot for
    // THIS mutation is exactly the published seqs < s. A failure HERE —
    // an unpublished predecessor timing out — must NOT publish this seq
    // as an empty no-op: seq s landing while s-1 is merely slow (any
    // Spark write can exceed the timeout under load) would open a hole
    // BELOW a published seq, and a reader counting published frontiers
    // could mistake the queue for further along than it is. The claim is
    // left in place (it joins the stuck queue behind the orphan, loudly
    // named below); [[checkpoint]] independently refuses to fold past a
    // hole, so even a hand-published no-op above a slow predecessor can
    // never cost that predecessor's eventual commit.
    try awaitPublished(s - 1L, keys)
    catch {
      case e: Throwable =>
        throw new IllegalStateException(
          s"commit of claimed log seq $s in $root/$name aborted while " +
          s"waiting for its predecessors (${e.getMessage}); this claim " +
          s"remains and blocks successors — clear it (remove " +
          s"${path(claimsT)}/${seqDirName(s)}) after recovering the stuck " +
          "predecessor", e)
    }
    try {
      val tmp = new Path(path("_tmp"), s"commit-${java.util.UUID.randomUUID()}")
      stageRows(s, mkRows, op, tmp)
      publishStaged(s, tmp, strict = true)
    } catch {
      case e: Throwable =>
        // keep the protocol dense and successors unblocked: the claimed
        // seq publishes as an empty no-op commit before the failure
        // propagates (readers fold zero rows from it)
        publishNoop(s)
        throw e
    }
  }

  // ---- cross-log transaction primitives (see [[TxnLog]]) ----
  // The single-log [[commit]] is claimNext → awaitPublished → stageRows →
  // publishStaged; a multi-log transaction drives the same primitives
  // across several logs with an intent marker deciding atomicity.

  /** this log's name (the leg tag in transaction markers) */
  private[metacat] def logName: String = name

  /** Await the conflicting predecessors of claimed seq `s` — the
    * [[commit]] posture, exposed for [[TxnLog]]'s store-SENSITIVE
    * primary leg: after this returns, a fold computed from the store
    * reads exactly the published state its keys depend on (seqs < s
    * with intersecting keys are all published; disjoint-key records
    * commute under the per-key folds). */
  private[metacat] def awaitForStaging(s: Long, keys: Option[Seq[String]]): Unit =
    awaitPublished(s - 1L, keys)

  private[metacat] def isPublished(s: Long): Boolean =
    fsOf(hPath(name)).exists(new Path(path(name), seqDirName(s)))

  /** Claim the next dense seq and stamp its key sidecar; returns the seq.
    * The sidecar is an OPTIMIZATION, never a correctness input: a
    * transient FS failure there must not strand the claimed seq with
    * neither a publish nor a no-op (successors would block the full
    * publish timeout for a failure that preceded any work), so it is
    * swallowed — successors finding a sidecar-less claim degrade to the
    * conservative total-order wait, and the awaitPublished published-dir
    * short-circuit bounds that degradation to this commit's own
    * in-flight window. */
  private[metacat] def claimNext(keys: Option[Seq[String]]): Long = {
    var attempt = 0
    var s = 0L
    // ONE listing anchors the walk; collisions probe FORWARD with atomic
    // create attempts instead of re-listing. A failed claim proves that
    // seq was just taken by another writer (markers only appear, never
    // move), so the next candidate is simply +1 — each failure is
    // global progress, which makes the walk lock-free and starvation-free.
    // The old list-per-collision loop cost O(writers) listings per commit
    // under contention (measured: listings/commit 6.5 → 11.8 → 20.2 at
    // 8/16/32 writers, max single commit 18.5 s — re-listing writers
    // stampeded the same minimum free seq every round); the walk restores
    // the flat ~5 listings/commit of the uncontended path at any writer
    // count, with a jittered periodic resync in case a checkpoint
    // advanced the frontier past the walk.
    var candidate = maxClaimed() + 1L
    while (s == 0L) {
      if (claim(candidate)) {
        // Claim/vacuum TOCTOU guard: between resyncs a concurrent
        // checkpoint+vacuum may have advanced past `candidate` and
        // deleted its (published) marker — this claim then recreated a
        // marker BELOW the checkpoint horizon. Publishing there would be
        // a silent loss: records() folds ckpt + segments > ckpt, so the
        // commit is never read and the next vacuum deletes it. One
        // ckptSeq() listing per WON claim (the uncontended cost shape)
        // closes the window: a checkpoint covering s is proof s was
        // already published by someone else, so our fresh marker is
        // bogus — release it and resync above the horizon.
        if (candidate > ckptSeq()) s = candidate
        else {
          val fs = fsOf(hPath(claimsT))
          fs.delete(new Path(path(claimsT), seqDirName(candidate)), false)
          candidate = math.max(candidate + 1L, maxClaimed() + 1L)
        }
      } else {
        attempt += 1
        if (attempt >= 10000)
          throw new IllegalStateException(
            s"gave up claiming a seq in $root/$name after $attempt collisions")
        candidate += 1L
        if (attempt % 64 == 0) {
          Thread.sleep(1L +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(20L))
          candidate = math.max(candidate, maxClaimed() + 1L)
        }
      }
    }
    try writeKeys(s, keys)
    catch { case _: Throwable => () }
    s
  }

  /** Compute and write claimed seq `s`'s records to `tmp` (not yet
    * published), through [[SegmentIO.stage]]: on the driver when the
    * mutation is small, by a Spark write otherwise. Retries the write when
    * its file listing raced a concurrent vacuum — the checkpoint now
    * carries the deleted segments, so a FRESH plan from `mkRows` is
    * correct (the same remedy Delta prescribes for reads racing VACUUM). */
  private[metacat] def stageRows(s: Long, mkRows: () => DataFrame,
      op: String, tmp: Path): Unit =
    SegmentIO.stage(spark, { () =>
      val rows = mkRows()
      align((if (rows.columns.contains("__op")) rows
          else rows.withColumn("__op", lit(op)))
          .withColumn("__seq", lit(s)))
    }, tmp)

  /** Publish claimed seq `s` by renaming `tmp` into the log. `strict`
    * (single-log commits) throws when the rename fails; lenient callers
    * (transaction roll-forward, where a racing recoverer may have
    * published the same staged leg first) accept an already-published
    * destination. */
  private[metacat] def publishStaged(s: Long, tmp: Path,
      strict: Boolean): Unit = {
    val fs = fsOf(hPath(name))
    val dst = new Path(path(name), seqDirName(s))
    fs.mkdirs(dst.getParent)
    // The lenient race has TWO shapes, not one: a recoverer that won the
    // publish leaves dst in place (rename returns false), but a
    // recoverer that ALSO finished its stage-dir cleanup leaves tmp
    // GONE — and RawLocalFileSystem.rename surfaces a vanished source as
    // FileNotFoundException from its copy fallback rather than `false`
    // (the r12 one-in-N TxnSpec flake: a snapshot's GC pass rolled the
    // txn forward and deleted the stage dir mid-race; the writer's own
    // publish then threw here). Either way, dst published == success.
    val renamed =
      try fs.rename(tmp, dst)
      catch {
        case _: java.io.FileNotFoundException if !strict && fs.exists(dst) =>
          false
      }
    if (!renamed) {
      if (strict || !fs.exists(dst))
        throw new IllegalStateException(
          s"publish of claimed log seq $s failed: $tmp -> $dst")
      fs.delete(tmp, true) // a recoverer won the race — ours is surplus
    }
  }

  /** publish claimed seq `s` as an EMPTY no-op commit (readers fold zero
    * rows from it) — the rollback/compute-failure path that keeps the
    * sequence space dense and successors unblocked */
  private[metacat] def publishNoop(s: Long): Unit = {
    val fs = fsOf(hPath(name))
    val dst = new Path(path(name), seqDirName(s))
    if (!fs.exists(dst)) { fs.mkdirs(dst); () }
  }

  /** the vacuum horizon: 0 while the raw segments still cover the
    * checkpointed prefix (checkpoint taken, nothing vacuumed yet — full
    * per-seq history remains readable); the checkpoint seq once
    * [[vacuum]] has dropped the prefix (snapshots below it are gone,
    * exactly like `VERSION AS OF` below a Delta VACUUM boundary) */
  def vacuumHorizon(): Long = {
    val c = ckptSeq()
    if (c > 0L && legacyFlatSeq() == 0L &&
        !listSeqNames(name).exists(_ <= c)) c
    else 0L
  }

  /** Highest seq `n` such that EVERY seq in 1..n is published (or proven
    * published by the legacy/checkpoint floor) — the only prefix a
    * checkpoint may fold. Folding up to the raw maximum instead would be
    * unsafe: with seq s published while s-1 is still in flight (a
    * hand-published recovery no-op, or any protocol deviation), a fold
    * bounded at s would cover the hole, and when the slow-but-alive
    * writer later publishes s-1 BELOW the checkpoint, [[records]] would
    * never read it and [[vacuum]] would delete it — a commit that
    * returned success, silently lost. */
  def densePublishedSeq(): Long = {
    val floor = math.max(ckptSeq(), legacyFlatSeq())
    val published = listSeqNames(name).filter(_ > floor).toSet
    var n = floor
    while (published(n + 1L)) n += 1L
    n
  }

  /** Materialize the published prefix into a checkpoint; returns its seq
    * (0 = empty log, nothing to do). Safe under concurrent writers; must
    * not race compaction (it truncates what the checkpoint reads). The
    * fold is bounded at the DENSE published prefix ([[densePublishedSeq]])
    * — never past a hole a slow predecessor may still fill — and its read
    * retries when its file listing races a concurrent [[vacuum]] (same
    * remedy as [[commit]]'s snapshot writes; the two are advertised
    * concurrent-safe and run together by maintenance CLIs).
    *
    * A driver fold is brought up to date before n is picked (so its view
    * usually ends at n) and re-keyed to the new checkpoint afterwards, so
    * the next [[folded]] reads only segments published since — never the
    * checkpoint it already holds. */
  def checkpoint(): Long = {
    // a log checkpointed in Spark refreshes only a fold this instance
    // already keeps: a maintenance-only process never builds one
    if (driverCheckpoint || synchronized(foldCache) != null) folded()
    val n = densePublishedSeq()
    if (n <= 0L) return 0L
    if (ckptSeq() >= n) return ckptSeq() // already covered
    val fs = fsOf(hPath(ckptT))
    val tmp = new Path(path("_tmp"), s"ckpt-${java.util.UUID.randomUUID()}")
    if (driverCheckpoint) {
      val latest = latestThrough(n) match {
        case Some(rows) => rows
        case None => return ckptSeq()
      }
      import scala.jdk.CollectionConverters._
      SegmentIO.stage(spark, () => align(spark.createDataFrame(
        latest.toSeq.asJava, StructType(foldSpec.get.cols.map(schema(_))))), tmp)
    } else {
      var wrote = false
      var attempt = 0
      while (!wrote) {
        try {
          val merged = fold.get(records()
            .filter(col("__seq") <= n)) // guard: a commit may publish mid-write
          // the fold covers the ENTIRE published log state — size its
          // write by estimated bytes, not the mutation-commit conf (a fixed
          // coalesce(1) here is a single-task write of the whole log at scale)
          OccLog.foldSized(spark, align(merged))
            .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          wrote = true
        } catch {
          case e: Throwable if OccLog.fileVanished(e) && attempt < 5 =>
            attempt += 1
            fs.delete(tmp, true)
            Thread.sleep(10L * attempt)
        }
      }
    }
    val dst = new Path(path(ckptT), seqDirName(n))
    fs.mkdirs(dst.getParent)
    if (!fs.rename(tmp, dst)) {
      // a concurrent checkpointer won the rename — theirs is equivalent
      fs.delete(tmp, true)
      if (!fs.exists(dst))
        throw new IllegalStateException(s"checkpoint publish failed: $tmp -> $dst")
    }
    rekey(n)
    n
  }

  /** The latest record per fold key over every record with seq ≤ `n`:
    * the cached fold when its view ends at `n`, else a driver read of the
    * checkpoint and the segments ≤ `n` under the [[stableRead]] guard.
    * None when a concurrent checkpoint already covers `n`. A segment ≤ `n`
    * missing from the listing while the pointer stands still was deleted
    * outside the protocol; it fails the attempt as a vanished file, so the
    * checkpoint is never written from a partial prefix. */
  private def latestThrough(n: Long): Option[Iterable[Row]] = {
    val k = synchronized(foldCache)
    if (k != null && k.covers(n) && k.segs.keys.forall(_ <= n)) Some(k.latest.values)
    else stableRead { c =>
      if (c >= n) Some(None)
      else {
        val segs = listSeqNames(name).filter(s => s > c && s <= n).toSet
        if (ckptSeq() != c) None
        else {
          (c + 1L to n).find(!segs(_)).foreach { s =>
            throw new java.io.FileNotFoundException(
              s"published segment ${segPath(s)} is missing from its listing")
          }
          val files = (if (c > 0L) dataFiles(ckptPath(c)) else Nil) ++
            segs.toSeq.sorted.flatMap(s => dataFiles(segPath(s)))
          onRecordsPinned()
          Some(Some(OccLog.foldInto(foldSpec.get, Map.empty, reader(files).iterator).values))
        }
      }
    }
  }

  /** After checkpoint `n` is published: a cached fold covering every seq
    * ≤ `n` is the fold of that checkpoint plus its cached segments above
    * `n` (latest-per-key is associative), so it is kept under the new
    * checkpoint's files instead of being dropped. Its version still
    * changes: [[Folded.payload]] pins file names the next vacuum deletes. */
  private def rekey(n: Long): Unit = synchronized {
    val k = foldCache
    if (k != null && k.covers(n)) {
      val files =
        try Some(dataFiles(ckptPath(n)))
        catch { case e: Throwable if OccLog.fileVanished(e) => None }
      foldCache = files.map(OccLog.FoldCache(n, _, k.segs.filter(_._1 > n),
        k.latest, OccLog.versions.incrementAndGet())).orNull
    }
  }

  /** Drop the raw log prefix the newest checkpoint covers; returns the
    * vacuum horizon (0 = no checkpoint, nothing vacuumed). Concurrent
    * with writers; historical reads racing this degrade to the horizon
    * (the Delta `VERSION AS OF` vs VACUUM race). Deletion order (claims
    * first, then segments, older checkpoints last) keeps concurrent
    * commit allocation safe: the frontier reads max(claims, checkpoint),
    * and the checkpoint dir landed before any claim it supersedes is
    * removed. */
  def vacuum(): Long = {
    val c = ckptSeq()
    if (c <= 0L) return 0L
    val fs = fsOf(hPath(name))
    // claims first: a lingering claim whose segment is gone would strand
    // awaitPublished; a gone claim with a lingering segment is inert.
    // Key sidecars go with their claims (an orphaned sidecar is inert
    // but would accumulate).
    listSeqNames(claimsT).filter(_ <= c).foreach { s =>
      fs.delete(new Path(path(claimsT), seqDirName(s)), false)
      fs.delete(new Path(path(claimsT), seqDirName(s) + ".keys"), false)
    }
    listSeqNames(name).filter(_ <= c).foreach { s =>
      fs.delete(new Path(path(name), seqDirName(s)), true)
    }
    // legacy flat part files: deletable only when the checkpoint covers
    // their max seq (always true for checkpoints this class wrote —
    // records() refuses a ckpt below the flat max, so never strand them)
    val logDir = hPath(name)
    if (legacyFlatSeq() <= c && fs.exists(logDir))
      fs.listStatus(logDir).filter(st => st.isFile &&
          !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        .foreach(st => fs.delete(st.getPath, false))
    listSeqNames(ckptT).filter(_ < c).foreach { s =>
      fs.delete(new Path(path(ckptT), seqDirName(s)), true)
    }
    legacyMemo = -1L // flat files may be gone — recompute on next use
    c
  }

  /** Delete the log, its claims and its checkpoints together — the final
    * step of COMPACTION (exclusive window required): post-compaction
    * sequences restart at 1 everywhere (allocation reads the store, never
    * a live counter). A surviving checkpoint would be poison — its records
    * are already folded into the base, but its seq would push the
    * allocation frontier past the restart. */
  def truncate(): Unit = {
    fsOf(hPath(name)).delete(hPath(name), true)
    fsOf(hPath(claimsT)).delete(hPath(claimsT), true)
    fsOf(hPath(ckptT)).delete(hPath(ckptT), true)
    legacyMemo = -1L // compaction removed the flat layout for good
    ()
  }

  /** protocol integrity counters for Fsck: (seq gaps, orphaned claims,
    * unclaimed publishes). Seqs the vacuumed checkpoint covers are
    * PRESENT by proof (the ckpt is their fold); pre-vacuum the raw
    * segments must still be dense, so the horizon contributes nothing
    * and a deleted commit stays visible. */
  def protocolAudit(): (Long, Long, Long) = {
    val published = listSeqNames(name)
    val claims = listSeqNames(claimsT)
    val legacy = legacyFlatSeq()
    val horizon = vacuumHorizon()
    val present = (1L to legacy).toSet ++ (1L to horizon) ++ published
    val maxSeq = ((0L +: published.toList) :+ legacy :+ ckptSeq()).max
    // Under KEYED commits a disjoint successor publishing above a
    // still-computing predecessor is a NORMAL transient state, not a
    // crashed writer: an unpublished seq whose claim marker is younger
    // than the publish timeout is IN FLIGHT — counted as neither a seq
    // gap nor an orphaned claim (it either publishes, or ages past the
    // timeout and then surfaces as both).
    val timeoutMs =
      sys.props.getOrElse("graft.occ.publishTimeoutMs", "120000").toLong
    val now = System.currentTimeMillis()
    val cfs = fsOf(hPath(claimsT))
    def inFlight(s: Long): Boolean = {
      val m = new Path(path(claimsT), seqDirName(s))
      try cfs.exists(m) &&
        now - cfs.getFileStatus(m).getModificationTime < timeoutMs
      catch { case _: java.io.FileNotFoundException => false }
    }
    ((1L to maxSeq).count(s => !present(s) && !inFlight(s)).toLong,
      claims.count(s => s > legacy && !present(s) && !inFlight(s)).toLong,
      published.count(s => s > legacy && !claims.contains(s)).toLong)
  }
}

private[graft] object OccLog {
  /** Size-DERIVED output partitioning for O(log)/O(table) writes —
    * checkpoint folds, full-table rewrites, compaction's partition
    * rewrites, and commits too large for the driver ([[SegmentIO]]'s
    * bulk path). The r14 commit sizing (fixed coalesce(1)) leaked onto
    * these paths, and coalesce has no shuffle barrier: at scale the
    * ENTIRE fold/sort/write stage collapsed to one task. Parts here = ceil(optimized-plan size
    * estimate / `spark.graft.write.targetFileBytes`, default 128 MiB,
    * guide §6's output-file floor), floor 1 — a mutation-sized fold still
    * lands as one file while a 100 GB fold keeps hundreds of write tasks.
    * coalesce never RAISES partition counts, so the result is naturally
    * capped by the plan's own parallelism. `spark.graft.checkpoint.partitions`
    * (>= 1) overrides outright; < 1 disables the coalesce. */
  private[graft] def foldSized(spark: SparkSession, df: DataFrame): DataFrame = {
    val conf = spark.conf.get("spark.graft.checkpoint.partitions", "")
    if (conf.nonEmpty) {
      val n = conf.toInt
      return if (n >= 1) df.coalesce(n) else df
    }
    val target = spark.conf
      .get("spark.graft.write.targetFileBytes", (128L * 1024 * 1024).toString)
      .toLong
    // upper-bound estimate (filters keep their child's size without CBO);
    // only the order of magnitude matters for a file-count choice
    df.coalesce(foldParts(df.queryExecution.optimizedPlan.stats.sizeInBytes, target))
  }

  /** cap on [[foldSized]]'s part count */
  private[graft] val MaxFoldParts = 1 << 20

  /** ceil-ish(`bytes` / `target`) clamped to [1, [[MaxFoldParts]]],
    * computed in BigInt: a plan estimate can exceed Long.MaxValue (Spark
    * reports unknown sizes as huge BigInts), and converting before the
    * clamp wrapped such estimates negative — to a single-part write of
    * the largest folds. */
  private[graft] def foldParts(bytes: BigInt, target: Long): Int =
    (bytes / BigInt(math.max(target, 1L)) + 1)
      .max(BigInt(1)).min(BigInt(MaxFoldParts)).toInt

  /** true when any cause in the chain is a missing-file read failure —
    * the signature of a snapshot listing racing [[OccLog.vacuum]] */
  def fileVanished(e: Throwable): Boolean = {
    var t: Throwable = e
    var depth = 0
    while (t != null && depth < 12) {
      if (t.isInstanceOf[java.io.FileNotFoundException]) return true
      val m = t.getMessage
      // execution-time miss (task read; Spark 4 surfaces it as
      // FAILED_READ_FILE.FILE_NOT_EXIST) or plan-time miss (the listing
      // saw a segment a vacuum then deleted before spark.read opened it)
      if (m != null && (m.contains("FileNotFoundException") ||
          m.contains("PATH_NOT_FOUND") || m.contains("Path does not exist") ||
          m.contains("FILE_NOT_EXIST") || m.contains("File does not exist")))
        return true
      t = t.getCause
      depth += 1
    }
    false
  }

  /** attempts [[OccLog.records]] and [[OccLog.folded]] make before failing */
  private[metacat] val MaxReadAttempts = 51

  /** source of [[Folded.version]]s: process-wide, so a version is never
    * reused, not even across a dropped and rebuilt fold */
  private val versions = new java.util.concurrent.atomic.AtomicLong(0L)

  /** what [[OccLog.folded]] keeps between calls: the latest record per
    * fold key over checkpoint `ckpt` (its data files `ckptFiles`) plus
    * the segments in `segs` (seq -> data files) */
  private final case class FoldCache(ckpt: Long, ckptFiles: Seq[String],
      segs: Map[Long, Seq[String]], latest: Map[Any, Row], version: Long) {
    /** true when this fold holds every seq ≤ `n` and `n` is above its
      * checkpoint */
    def covers(n: Long): Boolean = ckpt < n && (ckpt + 1L to n).forall(segs.contains)
  }

  /** What a log's driver fold keeps: `cols` (must include `__seq`) of
    * each record, latest per `key`. */
  private[metacat] final case class FoldSpec(cols: Seq[String], key: Row => Any)

  /** One call's view of a log's driver fold. `latest` maps each fold key
    * to its latest record, projected to the spec's columns. `version`
    * changes whenever the folded content may have changed, so driver
    * state derived from the fold can be memoized on it. `payload(seqs)`
    * scans the full at-rest records of the given seqs from exactly the
    * files this view was folded from (pinned: a later vacuum fails it
    * loudly, never silently). */
  private[metacat] final class Folded(val version: Long,
      val latest: Map[Any, Row], val payload: Set[Long] => DataFrame)

  /** fold `rows` into `into`, latest `__seq` per `spec` key winning (an
    * equal seq keeps the record already there) */
  private[metacat] def foldInto(spec: FoldSpec, into: Map[Any, Row],
      rows: Iterator[Row]): Map[Any, Row] =
    rows.foldLeft(into) { (m, r) =>
      val k = spec.key(r)
      m.get(k) match {
        case Some(old) if old.getAs[Long]("__seq") >= r.getAs[Long]("__seq") => m
        case _ => m.updated(k, r)
      }
    }

  /** A one-off [[Folded]] over `source` (no cache): collects `spec`'s
    * columns and folds them on the driver; `payload` re-reads `source`. */
  private[metacat] def foldOf(spec: FoldSpec, source: DataFrame): Folded =
    new Folded(versions.incrementAndGet(),
      foldInto(spec, Map.empty, source.select(spec.cols.map(col): _*).collect().iterator),
      _ => source)

  /** the standard checkpoint fold: latest record per key, original
    * `__seq`/`__op` preserved */
  def latestPerKey(keys: Seq[String])(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(col("__seq").desc)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
