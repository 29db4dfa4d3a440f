package graft.metacat

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.util.Random

/** Differential fuzz of the catalog write path: a random sequence of
  * mutations (declare / add_to / remove_from / retire / update-meta /
  * move-namespace) is applied BOTH to a ParquetCatalog and to a trivial
  * in-memory model; after every few steps the visible state (live file
  * rows + dataset memberships) must coincide. Complements the 3 query-side
  * fuzzers — this one hunts ordering/compaction bugs in the
  * rewrite-and-swap storage path. */
class WritePathFuzzSpec extends SparkTestBase with OccFailureCapture {

  // in-memory model of the catalog's visible state
  private case class MFile(fid: String, var namespace: String, var run: Long,
      var mark: Option[String], var retired: Boolean)

  private def freshCatalog(): (ParquetCatalog, String) = {
    val root = registerRoot(Files.createTempDirectory("graft-fuzz-cat-").toString)
    (new ParquetCatalog(spark, root), root)
  }

  private def declareDf(ids: Seq[Int]) = {
    import spark.implicits._
    ids.map { i =>
      (f"Z$i%08d", s"zns${i % 3}", s"z_$i.dat", s"""{"core.run":$i}""",
        "fuzzer", 100L + i)
    }.toDF("fid", "namespace", "name", "metadata_json", "creator", "size")
      .withColumn("created_timestamp", to_timestamp(lit("2026-03-01 00:00:00")))
  }

  private def fidDf(fids: Seq[String]) = {
    import spark.implicits._
    fids.toDF("fid")
  }

  test("random mutation sequences match the model") {
    val rnd = new Random(registerSeed(sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(42L)))
    val rounds = sys.env.get("GRAFT_FUZZ_N").map(_.toInt / 40 max 2).getOrElse(3)

    for (round <- 0 until rounds) {
      val (cat, _) = freshCatalog()
      cat.createDataset("zds", "a")
      cat.createDataset("zds", "b")
      val model = scala.collection.mutable.LinkedHashMap.empty[String, MFile]
      val members = Map("a" -> scala.collection.mutable.Set.empty[String],
        "b" -> scala.collection.mutable.Set.empty[String])
      var nextId = 0

      def randomLive(n: Int): Seq[String] =
        rnd.shuffle(model.values.filterNot(_.retired).map(_.fid).toSeq).take(n)

      for (step <- 0 until 12) {
        rnd.nextInt(7) match {
          case 0 => // declare a fresh batch, optionally straight into a dataset
            val ids = (nextId until nextId + 1 + rnd.nextInt(8))
            nextId = ids.last + 1
            val intoDs = if (rnd.nextBoolean()) Some("a") else None
            cat.declareFiles(declareDf(ids),
              dataset = intoDs.map(d => ("zds", d)))
            ids.foreach { i =>
              val fid = f"Z$i%08d"
              model(fid) = MFile(fid, s"zns${i % 3}", i.toLong, None, retired = false)
              intoDs.foreach(d => members(d) += fid)
            }
          case 1 => // add a random live subset to a dataset
            val ds = if (rnd.nextBoolean()) "a" else "b"
            val picks = randomLive(1 + rnd.nextInt(5))
            if (picks.nonEmpty) {
              cat.addTo(fidDf(picks), "zds", ds)
              members(ds) ++= picks
            }
          case 2 => // remove a random subset from a dataset
            val ds = if (rnd.nextBoolean()) "a" else "b"
            val picks = rnd.shuffle(members(ds).toSeq).take(1 + rnd.nextInt(4))
            if (picks.nonEmpty) {
              cat.removeFrom(fidDf(picks), "zds", ds)
              members(ds) --= picks
            }
          case 3 => // retire a few files
            val picks = randomLive(1 + rnd.nextInt(3))
            if (picks.nonEmpty) {
              cat.retireFiles(picks)
              picks.foreach(model(_).retired = true)
            }
          case 4 => // metadata patch: run := 9000+step, mark := "s<step>"
            val picks = randomLive(1 + rnd.nextInt(4))
            if (picks.nonEmpty) {
              cat.updateFileMeta(picks,
                s"""{"core.run":${9000 + step},"opt.mark":"s$step"}""")
              picks.foreach { f =>
                model(f).run = 9000 + step
                model(f).mark = Some(s"s$step")
              }
            }
          case 5 => // move a few files to a new namespace
            val picks = randomLive(1 + rnd.nextInt(3))
            if (picks.nonEmpty) {
              cat.moveNamespace(picks, s"moved$step")
              picks.foreach(model(_).namespace = s"moved$step")
            }
          case 6 => // hard delete: file rows, memberships, provenance
            val picks = randomLive(1 + rnd.nextInt(3))
            if (picks.nonEmpty) {
              cat.removeFiles(picks)
              picks.foreach { f =>
                model.remove(f)
                members.values.foreach(_ -= f)
              }
            }
        }

        if (step % 4 == 3 || step == 11) {
          // visible files: fid -> (namespace, run, mark, retired)
          val got = cat.files
            .select(col("fid"), col("namespace"),
              expr("try_variant_get(metadata, \"$['core.run']\", 'long')").as("run"),
              expr("try_variant_get(metadata, \"$['opt.mark']\", 'string')").as("mark"),
              col("retired"))
            .collect()
            .map(r => r.getString(0) ->
              ((r.getString(1), r.getLong(2), Option(r.getString(3)), r.getBoolean(4))))
            .toMap
          val want = model.map { case (fid, m) =>
            fid -> ((m.namespace, m.run, m.mark, m.retired))
          }.toMap
          assert(got == want,
            s"round $round step $step files diverged: " +
              s"onlyGot=${(got.toSet -- want.toSet).take(3)} onlyWant=${(want.toSet -- got.toSet).take(3)}")

          for (ds <- Seq("a", "b")) {
            val gotM = cat.filesDatasets
              .filter(col("dataset_name") === ds)
              .select("fid").collect().map(_.getString(0)).toSet
            assert(gotM == members(ds).toSet,
              s"round $round step $step membership $ds diverged")
          }
        }
      }
    }
  }

  // ---- merge-on-read time-travel fuzz ----

  /** one logged record in the model journal: Some(state) = upsert row
    * version, None = tombstone */
  private type State = (String, Long, Option[String], Boolean) // ns, run, mark, retired

  test("random MOR histories: filesAsOf replays every recorded sequence") {
    val rnd = new Random(registerSeed(sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong + 7).getOrElse(49L)))
    val rounds = sys.env.get("GRAFT_FUZZ_N").map(_.toInt / 40 max 2).getOrElse(2)

    for (round <- 0 until rounds) {
      val root = registerRoot(Files.createTempDirectory("graft-fuzz-tt-").toString)
      val cat = new ParquetCatalog(spark, root)
      // declare-time attrs per fid (the base row MOR never rewrites
      // between compactions) + the mutation journal the engine's log
      // must mirror
      val declared = scala.collection.mutable.LinkedHashMap.empty[String, State]
      val journal = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Option[State])]
      var modelSeq = 0L
      var nextId = 0

      def stateAsOf(s: Long): Map[String, State] =
        declared.flatMap { case (fid, init) =>
          journal.filter(r => r._2 == fid && r._1 <= s).lastOption match {
            case Some((_, _, None)) => None
            case Some((_, _, Some(st))) => Some(fid -> st)
            case None => Some(fid -> init)
          }
        }.toMap

      def current: Map[String, State] = stateAsOf(Long.MaxValue)
      def randomLive(n: Int): Seq[String] =
        rnd.shuffle(current.collect { case (f, st) if !st._4 => f }.toSeq).take(n)
      def logBatch(fids: Seq[String], f: State => Option[State]): Unit = {
        modelSeq += 1
        fids.foreach { fid => journal += ((modelSeq, fid, f(current(fid)))) }
      }

      def readAsOf(s: Long): Map[String, State] =
        cat.filesAsOf(s)
          .select(col("fid"), col("namespace"),
            expr("try_variant_get(metadata, \"$['core.run']\", 'long')").as("run"),
            expr("try_variant_get(metadata, \"$['opt.mark']\", 'string')").as("mark"),
            col("retired"))
          .collect()
          .map(r => r.getString(0) ->
            ((r.getString(1), r.getLong(2), Option(r.getString(3)), r.getBoolean(4))))
          .toMap

      for (step <- 0 until 12) {
        rnd.nextInt(6) match {
          case 0 => // declare fresh ids: base append, invisible to the log
            val ids = (nextId until nextId + 1 + rnd.nextInt(6))
            nextId = ids.last + 1
            cat.declareFiles(declareDf(ids))
            ids.foreach { i =>
              declared(f"Z$i%08d") = ((s"zns${i % 3}", i.toLong, None, false))
            }
          case 1 =>
            val picks = randomLive(1 + rnd.nextInt(3))
            if (picks.nonEmpty) {
              cat.retireFiles(picks)
              logBatch(picks, st => Some((st._1, st._2, st._3, true)))
            }
          case 2 =>
            val picks = randomLive(1 + rnd.nextInt(4))
            if (picks.nonEmpty) {
              cat.updateFileMeta(picks,
                s"""{"core.run":${9000 + step},"opt.mark":"s$step"}""")
              logBatch(picks, st => Some((st._1, 9000L + step, Some(s"s$step"), st._4)))
            }
          case 3 =>
            val picks = randomLive(1 + rnd.nextInt(3))
            if (picks.nonEmpty) {
              cat.moveNamespace(picks, s"moved$step")
              logBatch(picks, st => Some((s"moved$step", st._2, st._3, st._4)))
            }
          case 4 =>
            val picks = randomLive(1 + rnd.nextInt(2))
            if (picks.nonEmpty) {
              cat.removeFiles(picks)
              logBatch(picks, _ => None)
            }
          case 5 if journal.nonEmpty => // fold: truncates reachable history
            cat.compactFilesLog()
            val folded = current
            declared.clear(); declared ++= folded
            journal.clear(); modelSeq = 0L
          case _ => ()
        }

        assert(cat.currentLogSeq() == modelSeq,
          s"round $round step $step seq drift: engine ${cat.currentLogSeq()} model $modelSeq")
        // replay EVERY reachable sequence (0 = post-compaction base)
        // every few steps, and always the endpoints
        val seqs = if (step % 3 == 2) 0L to modelSeq
          else Seq(0L, modelSeq).distinct
        for (s <- seqs)
          assert(readAsOf(s) == stateAsOf(s),
            s"round $round step $step asOf($s) diverged")
      }
    }
  }

  test("MOR reads interleaved DURING a compaction swap stay consistent") {
    val rnd = new Random(registerSeed(sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong + 13).getOrElse(55L)))
    val rounds = sys.env.get("GRAFT_FUZZ_N").map(_.toInt / 40 max 2).getOrElse(2)

    for (round <- 0 until rounds) {
      val root = registerRoot(Files.createTempDirectory("graft-fuzz-mc-").toString)
      val cat = new ParquetCatalog(spark, root)
      val model = scala.collection.mutable.LinkedHashMap.empty[String, State]
      var nextId = 0

      def readView(df: org.apache.spark.sql.DataFrame): Map[String, State] =
        df.select(col("fid"), col("namespace"),
            expr("try_variant_get(metadata, \"$['core.run']\", 'long')").as("run"),
            expr("try_variant_get(metadata, \"$['opt.mark']\", 'string')").as("mark"),
            col("retired"))
          .collect()
          .map(r => r.getString(0) ->
            ((r.getString(1), r.getLong(2), Option(r.getString(3)), r.getBoolean(4))))
          .toMap

      // guaranteed multi-version prologue: one fid mutated at two
      // sequences, so the log is never empty regardless of the random
      // burst below (a lucky seed once produced declares only)
      val pids = (nextId until nextId + 3)
      nextId = pids.last + 1
      cat.declareFiles(declareDf(pids))
      pids.foreach(i => model(f"Z$i%08d") = ((s"zns${i % 3}", i.toLong, None, false)))
      val p0 = f"Z${pids.head}%08d"
      cat.updateFileMeta(Seq(p0), """{"core.run":7001,"opt.mark":"p1"}""")
      model(p0) = ((model(p0)._1, 7001L, Some("p1"), false))
      cat.updateFileMeta(Seq(p0), """{"core.run":7002,"opt.mark":"p2"}""")
      model(p0) = ((model(p0)._1, 7002L, Some("p2"), false))

      // a random mutation burst so the log holds multi-version fids
      // (the same fid mutated at several sequences) before compacting
      for (step <- 0 until 6) {
        rnd.nextInt(4) match {
          case 0 =>
            val ids = (nextId until nextId + 2 + rnd.nextInt(5))
            nextId = ids.last + 1
            cat.declareFiles(declareDf(ids))
            ids.foreach(i =>
              model(f"Z$i%08d") = ((s"zns${i % 3}", i.toLong, None, false)))
          case 1 =>
            val picks = rnd.shuffle(model.collect {
              case (f, st) if !st._4 => f }.toSeq).take(1 + rnd.nextInt(3))
            if (picks.nonEmpty) {
              cat.updateFileMeta(picks,
                s"""{"core.run":${9000 + step},"opt.mark":"s$step"}""")
              picks.foreach(f => model(f) =
                ((model(f)._1, 9000L + step, Some(s"s$step"), model(f)._4)))
            }
          case 2 =>
            val picks = rnd.shuffle(model.collect {
              case (f, st) if !st._4 => f }.toSeq).take(1 + rnd.nextInt(2))
            if (picks.nonEmpty) {
              cat.retireFiles(picks)
              picks.foreach(f => model(f) =
                ((model(f)._1, model(f)._2, model(f)._3, true)))
            }
          case 3 =>
            val picks = rnd.shuffle(model.keys.toSeq).take(1)
            if (picks.nonEmpty && !model(picks.head)._4) {
              cat.moveNamespace(picks, s"mved$step")
              picks.foreach(f => model(f) =
                ((s"mved$step", model(f)._2, model(f)._3, model(f)._4)))
            }
        }
      }
      val preSeq = cat.currentLogSeq()
      assert(preSeq > 0, "burst produced no log records; fuzz arm is vacuous")

      // interleave reads at the EXACT midpoint: base swapped, log not yet
      // truncated. Guarantees asserted: (1) the LIVE view is torn-free and
      // equals the model; (2) as-of the newest sequence equals the live
      // view; (3) as-of 0 (the post-compaction boundary these snapshots
      // are being folded INTO) equals the live view for already-folded
      // state — the documented VACUUM-race degradation, never a torn mix.
      var midpointRan = false
      cat.onCompactMidpoint = () => {
        midpointRan = true
        assert(readView(cat.files) == model.toMap,
          s"round $round live view torn mid-compaction")
        assert(readView(cat.filesAsOf(preSeq)) == model.toMap,
          s"round $round asOf(latest) torn mid-compaction")
        assert(readView(cat.filesAsOf(0L)) == model.toMap,
          s"round $round asOf(0) mid-compaction not at the fold boundary")
      }
      try cat.compactFilesLog()
      finally cat.onCompactMidpoint = () => ()
      assert(midpointRan, "compaction never reached the midpoint seam")
      // and the post-compaction state is the same fold
      assert(cat.currentLogSeq() == 0L)
      assert(readView(cat.files) == model.toMap,
        s"round $round post-compaction view diverged")
      assert(readView(cat.filesAsOf(0L)) == model.toMap)
    }
  }
}
