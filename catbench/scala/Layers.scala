package catbench

import scala.jdk.CollectionConverters._

/** Per-layer numbers from one traced run: span self times, and Spark
  * jobs, tasks and bytes per op class. */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** length of the union of [a, b) intervals */
  private def covered(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((tot, end), (a, b)) =>
      if (b <= end) (tot, end)
      else (tot + b - math.max(a, end), b)
    }._1

  /** span name → per-layer metric name */
  private def metricOf(s: Span): Option[String] = (s.layer, s.name) match {
    case ("mql", "Mql.parse") => Some("mql.parse_ms")
    case ("mql", "Planner.plan") => Some("mql.plan_ms")
    case ("spark", "optimize") => Some("spark.optimize_ms")
    case ("spark", "collect") => Some("spark.exec_ms")
    case ("metacat", n) if n.startsWith("checkpoint.") =>
      Some(s"metacat.checkpoint_ms.${n.stripPrefix("checkpoint.")}")
    case ("metacat", n) if n.startsWith("vacuum.") =>
      Some(s"metacat.vacuum_ms.${n.stripPrefix("vacuum.")}")
    case ("metacat", n) => Some(s"metacat.${n}_ms")
    case ("dedup", "DedupLog.ingest") => Some("dedup.ingest_ms")
    case ("dedup", "DedupLog.corpus") => Some("dedup.corpus_plan_ms")
    case ("dedup", n) if n.endsWith(".dedup") =>
      Some(s"dedup.${n.stripSuffix(".dedup")}_ms")
    case ("dedup", n) => Some(s"dedup.${n.stripPrefix("DedupLog.")}_ms")
    case _ => None
  }

  def summarize(t: Tracer, l: JobListener, recs: Seq[Main.OpRec],
      logFiles: Seq[Long]): Map[String, Double] = {
    val traced = recs.filter(_.traced)
    val byOp = traced.map(r => r.op.idx -> r).toMap
    val jobs = l.jobs.values.asScala.toSeq.filter(j => byOp.contains(j.op))
    val stages = l.stages.asScala.toSeq.filter(s => byOp.contains(s.op))
    val jobsOf = jobs.groupBy(_.op)
    val stagesOf = stages.groupBy(_.op)
    val spans = t.spans.toSeq.filter(s => byOp.contains(s.op))

    val spanMetrics = spans.flatMap(s => metricOf(s).map(_ -> s.ms))
      .groupBy(_._1).map { case (k, v) => k -> median(v.map(_._2)) }

    val perClass = traced.groupBy(_.op.cls).toSeq.flatMap { case (cls, rs) =>
      def per(f: Main.OpRec => Double) = mean(rs.map(f))
      val gap = per { r =>
        val iv = jobsOf.getOrElse(r.op.idx, Nil).filter(_.endMs >= 0)
          .map(j => (math.max(j.startMs, r.startMs), math.min(j.endMs, r.endMs)))
          .filter { case (a, b) => b > a }
        (r.endMs - r.startMs - covered(iv)).toDouble
      }
      def stageSum(f: StageRec => Long) =
        per(r => stagesOf.getOrElse(r.op.idx, Nil).map(f).sum.toDouble)
      Seq(
        s"spark.jobs_per_op.$cls" -> per(r => jobsOf.getOrElse(r.op.idx, Nil).size.toDouble),
        s"spark.tasks_per_op.$cls" -> stageSum(_.tasks.toLong),
        s"spark.input_mb_per_op.$cls" -> stageSum(_.inputBytes) / 1048576.0,
        s"spark.shuffle_mb_per_op.$cls" ->
          stageSum(s => s.shuffleWriteBytes) / 1048576.0,
        s"spark.driver_gap_ms_per_op.$cls" -> gap)
    }

    // self time: a span's duration minus what its child spans cover
    val childMs = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.ms).sum }
    def selfMs(ss: Seq[Span]) =
      ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum / math.max(1, traced.size)
    val selfByLayer = spans.groupBy(s => if (s.layer == "op") "client" else s.layer)
      .map { case (layer, ss) => s"self_ms_per_op.$layer" -> selfMs(ss) }
    // the graft layers together: mql + metacat on catalog_mutate, dedup on dedup_ingest
    val engine = selfMs(spans.filter(s => Set("mql", "metacat", "dedup")(s.layer)))

    spanMetrics ++ perClass ++ selfByLayer ++ Map(
      "self_ms_per_op.engine" -> engine,
      "store.log_files" -> mean(logFiles.map(_.toDouble)))
  }

  /** per-op counters (for the repeatability report) */
  def opCounters(l: JobListener, recs: Seq[Main.OpRec]): Iterator[String] = {
    val jobsOf = l.jobs.values.asScala.toSeq.groupBy(_.op)
    val stagesOf = l.stages.asScala.toSeq.groupBy(_.op)
    recs.iterator.filter(_.traced).map { r =>
      val j = jobsOf.getOrElse(r.op.idx, Nil).size
      val tk = stagesOf.getOrElse(r.op.idx, Nil).map(_.tasks).sum
      s"${r.op.idx}\t${r.op.name}\t$j\t$tk"
    }
  }

  def writeTrace(path: String, t: Tracer, l: JobListener): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spans = t.spans.iterator.map(s =>
      s"""{"kind":"span","id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${q(s.name)},"layer":${q(s.layer)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    val jobs = l.jobs.values.asScala.toSeq.sortBy(_.jobId).iterator.map(j =>
      s"""{"kind":"job","id":${j.jobId},"op":${j.op},"start_ms":${j.startMs},""" +
        s""""end_ms":${j.endMs},"stages":${j.stages.mkString("[", ",", "]")}}""")
    val stages = l.stages.asScala.toSeq.sortBy(_.stageId).iterator.map(s =>
      s"""{"kind":"stage","id":${s.stageId},"op":${s.op},"tasks":${s.tasks},""" +
        s""""input_bytes":${s.inputBytes},"shuffle_read_bytes":${s.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${s.shuffleWriteBytes}}""")
    Workloads.writeLines(path, spans ++ jobs ++ stages)
  }
}
