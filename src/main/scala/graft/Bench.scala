package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark main: runs every `SparkEntry.queries` entry against
  * `SPARK_GRAFT_SF_DIR` and prints exactly ONE machine-readable JSON line.
  *
  * The derived-catalog materialization (parse + shred + persist of the
  * files table, a one-time cost a real deployment pays at ingest, not per
  * query) is timed separately as `"catalog_init"` and warmed before the
  * query loop, so per-query timings measure the queries themselves.
  *
  * The stdout line carries only the totals — a log-tail capture holds it
  * whole; the full per-query map lives in `bench_last.json` on disk,
  * together with each gate's Spark jobs and driver gap per timed run.
  * Gate names as arguments run only those gates.
  * `SPARK_GRAFT_BENCH_N` (default 3) repeats each query n times and
  * reports the per-query MEDIAN (middle-pair average for even n), making
  * small deltas measurable against run-to-run noise; since the cold
  * first-touch run is usually the sample max, the n=3 median also
  * measures the PLAN rather than scheduling order. Failed runs are
  * dropped from the sample and surfaced as `failed_runs`.
  * `SPARK_GRAFT_BENCH_WARMUP` (default 1) adds untimed warmup
  * executions per query for full isolation from first-touch effects —
  * on by default so the driver's default-env artifact carries the same
  * methodology the docs describe (timed samples measure the plan, not
  * run-order cold-touch). */
object Bench {
  /** Contention gate (r13): three rounds in a row the driver's official
    * artifact was produced on a loaded machine (load_before 3.9–5.0,
    * calibration probes 1.4–1.9× history) and only the COMPARISON side
    * (tools/bench_diff.py) knew to distrust it. The run side now refuses
    * to measure blind: wait for the load to clear (bounded), and if the
    * measured probes still deviate, stamp the artifact
    * `"contaminated":true` so no downstream reader can take it at face
    * value. Pure functions so the gate itself is unit-testable. */
  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Decide contamination from the measured signals. `None` = clean.
    * History medians need >= 3 samples to be trusted (same abstention
    * rule as tools/bench_diff.py); with fewer, only the load signal
    * gates. A probe that failed to run (-1) never triggers the gate. */
  private[graft] def contaminationReason(loadBefore: Double, calibSec: Double,
      calibIoSec: Double, histCalib: Seq[Double], histCalibIo: Seq[Double],
      loadMax: Double, calibFactor: Double): Option[String] = {
    if (loadBefore > loadMax)
      return Some(f"load_before $loadBefore%.2f > $loadMax%.1f after wait budget")
    if (histCalib.size >= 3 && calibSec > 0 && calibSec > calibFactor * median(histCalib))
      return Some(f"calib_sec $calibSec%.3f > ${calibFactor}%.1fx history median ${median(histCalib)}%.3f")
    if (histCalibIo.size >= 3 && calibIoSec > 0 && calibIoSec > calibFactor * median(histCalibIo))
      return Some(f"calib_io_sec $calibIoSec%.3f > ${calibFactor}%.1fx history median ${median(histCalibIo)}%.3f")
    None
  }

  /** Pull this sf's calibration history out of bench_history.jsonl (one
    * JSON object per line; regex extraction keeps this dependency-free).
    * Only same-sf lines count — probe cost is sf-independent by design,
    * but keeping the filter means a future sf-dependent probe can't
    * silently cross-contaminate. Lines from contaminated or loaded runs
    * are excluded (mirroring tools/bench_diff.py's `loaded_run`):
    * every artifact is appended to the history regardless of verdict, so
    * without this filter repeated contaminated runs would inflate the
    * history medians and progressively weaken the gate's own 2x bar. */
  private[graft] def calibHistory(lines: Seq[String], sfDir: String,
      field: String, loadMax: Double = 1.0): Seq[Double] = {
    val f = (s"""\"$field\":(-?[0-9.]+)""").r
    val sf = ("\"sf\":\"" + java.util.regex.Pattern.quote(sfDir) + "\"").r
    val lb = """"load_before":(-?[0-9.]+)""".r
    def loadedRun(l: String): Boolean =
      l.contains("\"contaminated\":true") ||
        lb.findFirstMatchIn(l).exists(_.group(1).toDouble > loadMax)
    lines.filter(l => sf.findFirstIn(l).isDefined && !loadedRun(l))
      .flatMap(l => f.findFirstMatchIn(l).map(_.group(1).toDouble))
      .filter(_ > 0)
  }

  /** Post-run drift verdict (r13 hole: the 463.7 s official artifact
    * probed clean at 14:04Z, then the machine degraded MID-run — untouched
    * queries read 8x — and the artifact still self-certified clean because
    * the gate only ever looked before the first query). A run whose
    * post-run re-probe reads > factor x its own pre-run probe was not
    * measured under the conditions it certified. Failed probes (-1)
    * abstain. */
  private[graft] def postRunDrift(calibBefore: Double, calibAfter: Double,
      calibIoBefore: Double, calibIoAfter: Double,
      factor: Double): Option[String] = {
    if (calibBefore > 0 && calibAfter > 0 && calibAfter > factor * calibBefore)
      return Some(f"calib_after $calibAfter%.3f > ${factor}%.1fx pre-run $calibBefore%.3f")
    if (calibIoBefore > 0 && calibIoAfter > 0 && calibIoAfter > factor * calibIoBefore)
      return Some(f"calib_io_after $calibIoAfter%.3f > ${factor}%.1fx pre-run $calibIoBefore%.3f")
    None
  }

  /** One finished Spark job: the gate named by its local property (null
    * when untagged) and its start→end wall in ms. */
  private[graft] final case class Job(gate: String, wallMs: Long)

  /** A gate's timed runs: Spark jobs per run, and driver gap per run —
    * the run's wall minus its jobs' summed wall, i.e. the driver-side
    * planning and scheduling between (sequential) jobs. */
  private[graft] final case class GateJobs(jobs: Seq[Int], gapSec: Seq[Double])

  /** `runs` holds each timed run's wall (s) and the jobs that ended during
    * it; a job counts for `gate` only when tagged with its name, so
    * untagged jobs (warmups, calibration) and a straggler of another
    * gate are ignored. */
  private[graft] def gateJobs(gate: String, runs: Seq[(Double, Seq[Job])]): GateJobs = {
    val mine = runs.map { case (wall, js) => (wall, js.filter(_.gate == gate)) }
    GateJobs(mine.map(_._2.size),
      mine.map { case (wall, js) => math.rint((wall - js.map(_.wallMs).sum / 1e3) * 1e3) / 1e3 })
  }

  /** Each family's timed-run jobs: the sum over its gates' runs. */
  private[graft] def familyJobs(gates: Map[String, GateJobs],
      familyOf: String => String): Map[String, Int] =
    gates.toSeq.groupMapReduce { case (g, _) => familyOf(g) } (_._2.jobs.sum)(_ + _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def secs(t0: Long): Double = math.rint((System.nanoTime() - t0) / 1e6) / 1e3

    // ---- contention guard (r10: a loaded machine inflated the driver's
    // artifact 2.4x over the same-code clean run, and nothing in the
    // artifact flagged it). Two independent signals, recorded so
    // tools/bench_diff.py can refuse to regress-flag a contaminated run:
    //  - /proc/loadavg before/after (machine-wide, catches OTHER procs)
    //  - a fixed calibration query (constant work, SF-independent): its
    //    median run time moves only with machine conditions, never with
    //    engine changes
    def loadAvg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // Wait-and-retry: don't START measuring while the machine is loaded.
    // Poll every 10 s up to SPARK_GRAFT_BENCH_WAIT_S (default 300); if
    // the load never clears, the run proceeds but self-marks below.
    val loadMax = sys.env.get("SPARK_GRAFT_BENCH_LOAD_MAX")
      .flatMap(_.toDoubleOption).getOrElse(1.0)
    val waitBudgetS = sys.env.get("SPARK_GRAFT_BENCH_WAIT_S")
      .flatMap(_.toIntOption).getOrElse(300)
    val waitT0 = System.nanoTime()
    var waitedSec = 0.0
    while (loadAvg() > loadMax && waitedSec < waitBudgetS) {
      System.err.println(f"[bench] load ${loadAvg()}%.2f > $loadMax%.1f — " +
        f"waiting (${waitedSec}%.0f/${waitBudgetS}s)")
      Thread.sleep(10000L)
      waitedSec = (System.nanoTime() - waitT0) / 1e9
    }
    val loadBefore = loadAvg()
    def calibrate(): Double = {
      import org.apache.spark.sql.functions._
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(10L * 1000 * 1000)
          .select(max(xxhash64(col("id")))).collect() // max: no ANSI overflow
        secs(t0)
      }.sorted
      runs(1) // median of 3
    }
    val calibSec = try calibrate() catch { case _: Throwable => -1.0 }
    // I/O calibration: fixed parquet write+read round trip. Two
    // same-code full runs measured 215 vs 242 s with IDENTICAL CPU
    // calibration — the drift lived in disk-heavy (write-path) queries,
    // which a CPU-bound probe cannot see. A run is contaminated when
    // EITHER probe deviates from its history median.
    def calibrateIo(): Double = {
      import org.apache.spark.sql.functions._
      val runs = (1 to 3).map { _ =>
        val dir = java.nio.file.Files.createTempDirectory("graft_calib_io_")
        val t0 = System.nanoTime()
        spark.range(2L * 1000 * 1000)
          .select(col("id"), md5(col("id").cast("string")).as("h"))
          .write.mode("overwrite").parquet(s"$dir/t")
        spark.read.parquet(s"$dir/t").count()
        val s = secs(t0)
        try org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
        catch { case _: Throwable => () }
        s
      }.sorted
      runs(1)
    }
    var calibIoSec = try calibrateIo() catch { case _: Throwable => -1.0 }
    var calibSecFinal = calibSec

    // Contamination verdict: load after the wait budget, or either calib
    // probe >2x its same-sf history median (>=3 samples, else abstain).
    // A calib deviation gets ONE 30 s backoff + re-probe before the run
    // self-marks — transient spikes clear, a busy neighbor doesn't.
    val histLines =
      try java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("bench_history.jsonl")).asScala.toSeq
      catch { case _: Throwable => Seq.empty[String] }
    val histCalib = calibHistory(histLines, sfDir, "calib_sec", loadMax)
    val histCalibIo = calibHistory(histLines, sfDir, "calib_io_sec", loadMax)
    var contaminatedReason = contaminationReason(loadBefore, calibSecFinal,
      calibIoSec, histCalib, histCalibIo, loadMax, 2.0)
    if (contaminatedReason.exists(_.startsWith("calib"))) {
      System.err.println(s"[bench] ${contaminatedReason.get} — backing off 30 s and re-probing")
      Thread.sleep(30000L)
      calibSecFinal = try calibrate() catch { case _: Throwable => -1.0 }
      calibIoSec = try calibrateIo() catch { case _: Throwable => -1.0 }
      // re-check with the PRE-RUN load signal: the calibration probes'
      // own 32-thread bursts inflate the instantaneous 1-min average
      // (observed 0.94 -> 2.61 with nothing else running), and only
      // load_BEFORE can gate contamination
      contaminatedReason = contaminationReason(loadBefore, calibSecFinal,
        calibIoSec, histCalib, histCalibIo, loadMax, 2.0)
    }
    contaminatedReason.foreach(r =>
      System.err.println(s"[bench] CONTAMINATED artifact (pre-run): $r"))

    // catalog_init = open the stored catalog + first scan. When the
    // shredded store is cold this includes the one-time ingest (JSON →
    // Variant + shred columns, persisted); catalog_ingest reports that
    // portion so warm sessions (ingest 0) are distinguishable in the
    // artifact itself.
    val tInit = System.nanoTime()
    val catalogInit =
      try { new graft.metacat.DerivedCatalog(spark, sfDir).files.count(); secs(tInit) }
      catch { case _: Throwable => -1.0 }
    val catalogIngest = graft.metacat.DerivedCatalog.lastIngestSecs

    // optional args = subset of query names (dev loop); default all.
    // a failed query reports -1, never a bogus elapsed time
    val selected =
      if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.toSet).toMap
      else SparkEntry.queries
    val n = sys.env.get("SPARK_GRAFT_BENCH_N").flatMap(_.toIntOption)
      .filter(_ >= 1).getOrElse(3)
    val warmup = sys.env.get("SPARK_GRAFT_BENCH_WARMUP").flatMap(_.toIntOption)
      .filter(_ >= 0).getOrElse(1)
    var failedRuns = 0
    // query family = the module that registers the query
    val familyOf: Map[String, String] =
      Seq("relational" -> graft.queries.RelationalQueries.all,
        "mql" -> graft.queries.MqlQueries.all,
        "pipeline" -> graft.queries.PipelineQueries.all,
        "streaming" -> graft.queries.StreamingQueries.all,
        "write_path" -> graft.queries.WritePathQueries.all)
        .flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap
    // Spark jobs of the timed runs, tagged with the gate through a local
    // property, which the threads a query starts (stream executions)
    // inherit. Each run drains the listener bus before taking the jobs
    // that ended, so the counts do not depend on event delivery timing.
    val GateKey = "graft.bench.gate"
    val started = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.put(e.jobId, (Option(e.properties).map(_.getProperty(GateKey)).orNull, e.time))
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(started.remove(e.jobId)).foreach { case (g, t0) => ended.add(Job(g, e.time - t0)) }
    })
    def endedJobs(): Seq[Job] = {
      try org.apache.spark.sql.GraftShim.drainListenerBus(spark, 60000L)
      catch { case _: java.util.concurrent.TimeoutException => () } // counts what arrived
      Iterator.continually(ended.poll()).takeWhile(_ != null).toSeq
    }
    val gates = scala.collection.mutable.Map[String, GateJobs]()
    // per-query loadavg samples: informational forensics (a mid-run
    // contention window shows WHICH queries it hit), never a gate — the
    // bench's own 32-thread bursts keep the 1-min average elevated, so
    // only the calibration re-probe below can stamp mid-run drift
    val loadPerQuery = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = selected.map { case (name, fn) =>
      (1 to warmup).foreach { _ =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
      spark.sparkContext.setLocalProperty(GateKey, name)
      val timed =
        try (1 to n).map { _ =>
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true } catch { case _: Throwable => false }
          val wall = secs(t0)
          (if (ok) wall else -1.0, wall, endedJobs())
        }
        finally spark.sparkContext.setLocalProperty(GateKey, null)
      gates(name) = gateJobs(name, timed.map { case (_, wall, js) => (wall, js) })
      val runs = timed.map(_._1)
      loadPerQuery(name) = loadAvg()
      val ok = runs.filter(_ >= 0).sorted
      failedRuns += runs.size - ok.size
      val med =
        if (ok.isEmpty) -1.0
        else if (ok.size % 2 == 1) ok(ok.size / 2)
        else math.rint((ok(ok.size / 2 - 1) + ok(ok.size / 2)) * 5e2) / 1e3
      // min-of-runs alongside the median: same-code sf0.1 totals were
      // measured 23% apart 33 min apart (r7) — the min is the
      // scheduling-noise-free floor a regression gate can trust when a
      // single median run swings
      name -> (med, if (ok.isEmpty) -1.0 else ok.head)
    }
    // post-run re-probe (r14): re-measure both calibrations AFTER the last
    // query and stamp contaminated when they disagree >1.4x with the
    // pre-run values — closing the mid-run-drift hole that let the 463.7 s
    // r13 artifact self-certify clean after the machine degraded mid-run.
    val calibAfter = try calibrate() catch { case _: Throwable => -1.0 }
    val calibIoAfter = try calibrateIo() catch { case _: Throwable => -1.0 }
    val driftReason = postRunDrift(calibSecFinal, calibAfter, calibIoSec,
      calibIoAfter, 1.4)
    driftReason.foreach(r =>
      System.err.println(s"[bench] CONTAMINATED artifact (mid-run drift): $r"))
    contaminatedReason = contaminatedReason.orElse(driftReason)
    val contaminated = contaminatedReason.isDefined
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v._1 }
      .mkString("{", ",", "}")
    val qsMin = results.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + v._2 }
      .mkString("{", ",", "}")
    val total = math.rint(results.values.map(_._1).filter(_ >= 0).sum * 1e3) / 1e3
    def r3(x: Double) = math.rint(x * 1e3) / 1e3
    // per-family subtotals (median and min-of-runs seconds, query count)
    // and timed-run job counts: the compact view of the per-query maps
    val jobsOf = familyJobs(gates.toMap, familyOf.getOrElse(_, "other"))
    val families = results.toSeq.groupBy { case (k, _) => familyOf.getOrElse(k, "other") }
      .toSeq.sortBy(_._1).map { case (f, rs) =>
        val ok = rs.map(_._2).filter(_._1 >= 0)
        s""""$f":{"sec":${r3(ok.map(_._1).sum)},"min_sec":${r3(ok.map(_._2).sum)},""" +
          s""""n":${rs.size},"failed":${rs.size - ok.size},"jobs":${jobsOf.getOrElse(f, 0)}}"""
      }.mkString("{", ",", "}")
    val gatesJson = gates.toSeq.sortBy(_._1).map { case (g, j) =>
      s""""$g":{"jobs":${j.jobs.mkString("[", ",", "]")},"gap_sec":${j.gapSec.mkString("[", ",", "]")}}"""
    }.mkString("{", ",", "}")
    val loadAfter = loadAvg()
    val contamJson = s""""contaminated":$contaminated,"contaminated_reason":${
      contaminatedReason.map("\"" + _ + "\"").getOrElse("null")},"waited_sec":${math.rint(waitedSec)}"""
    val loadQs = loadPerQuery.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val head =
      s"""{"metric":"total","value":$total,"unit":"sec","catalog_init":$catalogInit,"catalog_ingest":$catalogIngest,"runs":$n,"warmup":$warmup,"failed_runs":$failedRuns,"load_before":$loadBefore,"load_after":$loadAfter,"calib_sec":$calibSecFinal,"calib_io_sec":$calibIoSec,"calib_after":$calibAfter,"calib_io_after":$calibIoAfter,$contamJson,"nqueries":${results.size},"families":$families"""
    // the full artifact, with the per-query maps, goes to disk:
    // bench_last.json (overwritten per run) and bench_history.jsonl
    // (append-only, git-retained — r6 postmortem: when the round total
    // tripled there was no committed per-query map to diff against)
    val full = s"""$head,"queries":$qs,"queries_min":$qsMin,"gates":$gatesJson,"load_per_query":$loadQs,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_last.json"), full + "\n")
    catch { case _: Throwable => () }
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_history.jsonl"),
      s"""{"at":"${java.time.Instant.now()}",""" + full.drop(1) + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () }
    // the stdout line is the compact form (total, probes, per-family
    // subtotals and job counts, well under 1.5 KB): a capture that keeps
    // only the last 2000 characters of output must still hold all of it.
    // The per-query maps stay in the files above (tools/bench_diff.py
    // --history reads them).
    println(s"""$head,"queries_file":"bench_last.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
