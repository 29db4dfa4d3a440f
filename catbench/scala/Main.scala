package catbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Executes one workload's schedule against the graft engine and writes
  * what it measured for `catbench/run.py` to check and report.
  *
  * {{{
  *   catbench.Main --workload W --schedule F --input DIR --run-dir DIR
  *                 --setup-reps N --cores C
  * }}}
  *
  * Phases: `setup-reps` fresh seeds (each timed; the last is kept), the
  * schedule's `warm` ops once, then the rest in order. Ops marked
  * `traced` (present only in a traced run) get spans around each call
  * into a layer, plus jobs and stages from [[JobListener]]; the JVM and
  * OS counters cover the whole phase after the warm-up. Outputs under
  * `run-dir/out/`: `ops.tsv` (one line per op), `summary.json`,
  * `trace.jsonl`, `counters.tsv` and the workload's final-state dump. */
object Main {
  /** `busy` and `steal`: host-wide jiffies the guest ran, and had
    * stolen by the hypervisor, during the op */
  final case class OpRec(op: Op, startMs: Long, endMs: Long, ns: Long,
      traced: Boolean, result: String, error: String, busy: Long, steal: Long)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = o("workload")
    val runDir = o("run-dir")
    val out = s"$runDir/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val ops = scala.io.Source.fromFile(o("schedule"), "UTF-8").getLines()
      .zipWithIndex.map { case (l, i) =>
        val f = l.split("\t", -1)
        Op(i, f(0), f(1), f(3), f.drop(4).toIndexedSeq)
      }.toIndexedSeq
    val trace = ops.exists(_.phase == "traced")

    val jvmS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${o("cores")}]")
      .appName("catbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", o("cores"))
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext
    val listener = new JobListener
    if (trace) sc.addSparkListener(listener)
    val tracer = new Tracer(trace)
    val input = o("input")
    val w: Workload = workload match {
      case "catalog_mutate" => new CatalogMutate(spark, tracer, input)
      case "dedup_ingest" => new DedupIngest(spark, tracer, input)
    }

    val recs = new ArrayBuffer[OpRec]()
    val logFiles = new ArrayBuffer[Long]()
    var loadMax = 0.0
    def run(op: Op, traced: Boolean): OpRec = {
      if (traced) sc.setLocalProperty(JobListener.OpKey, op.idx.toString)
      tracer.beginOp(if (traced) op.idx else -1)
      val st0 = Proc.cpuStat()
      val wall0 = System.currentTimeMillis()
      val s = System.nanoTime()
      val (res, err) =
        try (tracer.span(op.name, "op")(w.exec(op)), "")
        catch { case e: Throwable =>
          ("", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
      val ns = System.nanoTime() - s
      val wall1 = System.currentTimeMillis()
      val (busy, steal) = Proc.busySteal(st0, Proc.cpuStat())
      tracer.endOp()
      sc.setLocalProperty(JobListener.OpKey, null)
      OpRec(op, wall0, wall1, ns, traced, res, err, busy, steal)
    }

    // ---- set-up: `reps` fresh seeds (the last one is kept), then the
    // schedule's warm ops once; setup_s = session + median seed + warm-up
    val reps = o("setup-reps").toInt
    val seedS = (0 until reps).map { rep =>
      val s = System.nanoTime()
      w.seed(s"$runDir/store$rep")
      if (rep < reps - 1) Dirs.delete(s"$runDir/store$rep")
      (System.nanoTime() - s) / 1e9
    }
    val warmStart = System.nanoTime()
    ops.filter(_.phase == "warm").foreach(op => recs += run(op, traced = false))
    val warmS = (System.nanoTime() - warmStart) / 1e9
    val setupS = seedS.map(_ + sessionS + warmS)

    // ---- timed phase: `timed` ops, and in a traced run `traced` ops
    // between them
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    def gcCount = gcBeans.map(_.getCollectionCount).sum
    val jit = ManagementFactory.getCompilationMXBean
    val osb = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val gc0 = gcMs; val gcn0 = gcCount; val jit0 = jit.getTotalCompilationTime
    val cpu0 = osb.getProcessCpuTime; val io0 = Proc.wchar(); val st0 = Proc.cpuStat()
    val ub0 = w.userBytes
    val start = System.nanoTime()
    ops.filter(_.phase != "warm").foreach { op =>
      val traced = op.phase == "traced"
      recs += run(op, traced)
      if (traced) logFiles += w.logFiles()
      loadMax = math.max(loadMax, Proc.loadavg1())
    }
    val wallS = (System.nanoTime() - start) / 1e9
    val phaseUserBytes = w.userBytes - ub0
    val gcMsD = gcMs - gc0; val gcnD = gcCount - gcn0
    val jitD = jit.getTotalCompilationTime - jit0
    val cpuMs = (osb.getProcessCpuTime - cpu0) / 1e6
    val ioD = Proc.wchar() - io0
    val st1 = Proc.cpuStat()
    // twice, with a pause, so objects the first collection hands to
    // Spark's cleaner threads are gone before the second
    System.gc(); Thread.sleep(500); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // ---- final state, space, trace ----
    val finish0 = System.nanoTime()
    w.dump(out)
    val storeBytes = w.storeBytes()
    val storeFiles = Workloads.countFiles(w.root)
    val extra = w match {
      case d: DedupIngest => Seq("admitted" -> d.admitted().toDouble,
        "offered" -> d.offeredDocs.toDouble)
      case _ => Nil
    }
    if (trace) org.apache.spark.CatbenchBus.drain(sc)

    val measured = recs.filter(_.op.phase != "warm")
    Workloads.writeLines(s"$out/ops.tsv", recs.iterator.map(r =>
      Seq(r.op.idx, r.op.phase, r.op.cls, r.op.name, r.ns / 1e6, r.traced,
        r.result, r.error.replace('\t', ' ').replace('\n', ' '), r.busy, r.steal)
        .mkString("\t")))
    val layer = if (trace) Layers.summarize(tracer, listener, measured.filter(_.traced).toSeq,
      logFiles.toSeq) else Map.empty[String, Double]
    if (trace) {
      Layers.writeTrace(s"$out/trace.jsonl", tracer, listener)
      Workloads.writeLines(s"$out/counters.tsv", Layers.opCounters(listener, measured.toSeq))
    }
    val steal = {
      val d = st1.zip(st0).map { case (a, b) => a - b }
      if (d.isEmpty || d.sum <= 0) 0.0 else 100.0 * d.last / d.sum
    }
    val nMeasured = math.max(1, measured.size)
    val summary = Map(
      "jvm_start_s" -> jvmS,
      "finish_s" -> (System.nanoTime() - finish0) / 1e9,
      "session_s" -> sessionS,
      "setup_s" -> setupS.sorted.apply(setupS.size / 2),
      "setup.seed_s" -> seedS.sorted.apply(seedS.size / 2),
      "setup.warm_s" -> warmS,
      "timed_wall_s" -> wallS,
      "retained_heap_mb" -> heapMb,
      "store_bytes" -> storeBytes.toDouble,
      "store_files" -> storeFiles.toDouble,
      "user_bytes" -> w.userBytes.toDouble,
      "jvm.gc_ms" -> gcMsD.toDouble,
      "jvm.gc_count" -> gcnD.toDouble,
      "jvm.jit_ms" -> jitD.toDouble,
      "proc.cpu_ms_per_op" -> cpuMs / nMeasured,
      "os.write_bytes_per_user_byte" -> ioD.toDouble / math.max(1L, phaseUserBytes),
      "os.loadavg_max" -> loadMax,
      "os.steal_pct" -> steal) ++ extra ++ layer
    val setupList = setupS.map(s => f"$s%.6f").mkString("[", ",", "]")
    Workloads.writeLines(s"$out/summary.json", Iterator(summary.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${if (v.isNaN || v.isInfinite) 0.0 else v}""" }
      .mkString("{", ", ", s""", "setup_reps_s": $setupList}""")))
    spark.stop()
  }
}

object Dirs {
  /** drop a seed that set-up measured but does not keep */
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
  }
}

/** Linux process/host counters. */
object Proc {
  private def read(p: String): Seq[String] =
    try scala.io.Source.fromFile(p).getLines().toList catch { case _: Throwable => Nil }
  def wchar(): Long = read("/proc/self/io").find(_.startsWith("wchar:"))
    .map(_.split(":")(1).trim.toLong).getOrElse(0L)
  def loadavg1(): Double = read("/proc/loadavg").headOption
    .map(_.split(" ")(0).toDouble).getOrElse(0.0)
  /** user nice system idle iowait irq softirq steal */
  def cpuStat(): Seq[Long] = read("/proc/stat").find(_.startsWith("cpu "))
    .map(_.split("\\s+").slice(1, 9).map(_.toLong).toSeq).getOrElse(Nil)
  /** jiffies between two [[cpuStat]]s that the guest's CPUs ran (user,
    * nice, system, irq, softirq) and that the host stole from them */
  def busySteal(a: Seq[Long], b: Seq[Long]): (Long, Long) =
    if (a.size < 8 || b.size < 8) (0L, 0L)
    else {
      val d = b.zip(a).map { case (x, y) => x - y }
      (d(0) + d(1) + d(2) + d(5) + d(6), d(7))
    }
}
