package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines, over
  * the driver's `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Scale design:
  *  - exact dedup is one hash-groupBy (single shuffle on the fingerprint);
  *  - MinHash+LSH is the linear-cost near-dup path: shingle → k minhashes
  *    → band buckets → candidate join inside buckets only → exact-Jaccard
  *    verify on candidates. No O(n²) stage; the band join shuffles on the
  *    band key.
  *  - the exact shingle-Jaccard join (inverted index on shingles) is kept
  *    as the verification oracle; at 100 TB you'd cap/drop ultra-frequent
  *    shingles (or go straight to MinHash) to bound the hot-key join.
  *
  * All hashes are md5-based (first 15 hex digits → 60-bit long) so results
  * are portable across engines — the DuckDB oracle reproduces them exactly.
  */
object Dedup {

  /** first 15 md5 hex digits as a 60-bit non-negative long — portable */
  def hex60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private val toks: Column = split(lower(col("text")), " ")

  /** distinct word 3-grams */
  val shingleExpr: String =
    "array_distinct(transform(sequence(0, size(__t) - 3), i -> " +
      "concat_ws(' ', __t[i], __t[i+1], __t[i+2])))"

  /** Session-scoped cache of extracted shingle sets, keyed by the source
    * plan's semantic hash: signatures, the LSH band join, exact-Jaccard
    * verification and the corpus-clean composition all reuse ONE
    * extraction pass — the same materialize-the-hot-intermediate posture
    * as the catalog's files cache (at cluster scale this would be a
    * persisted/bucketed table, not an in-memory cache).
    *
    * Bounded: LRU-evicts (and unpersists) beyond [[ShingleCacheMax]]
    * entries so long-lived sessions don't pin storage forever. LRU, not
    * FIFO: the full-corpus entry is re-read by nearly every dedup query,
    * while derived plans (a batch filter, a suffixed variant) are used by
    * one query and never again — insertion-order eviction let two such
    * one-shot entries push the hot corpus entry out mid-bench, and the
    * next containment query paid a full re-extraction (measured at 10×:
    * containment pairs 10.3→26.8 s / stratified 15.6→29.1 s in-session
    * when the incremental-dedup gates landed ahead of them; access-order
    * eviction keeps the re-accessed entry and ages out the one-shots).
    * Assumes source files are immutable for the session (true of ingested
    * corpus shards; re-writing a file under a cached plan would serve
    * stale rows — same contract as any Spark persist over a mutated
    * path). */
  private val ShingleCacheMax = 8
  private val shingleCache = new java.util.LinkedHashMap[
    (String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan), DataFrame](
    16, 0.75f, /* accessOrder = LRU */ true)

  /** [[withShingles]] minus the session cache/persist — for one-shot
    * query-specific plans (e.g. a survivors-only candidate fetch). The
    * LRU cache would survive the churn, but caching a plan that is never
    * read twice still pins a persist slot and evicts an entry that might
    * be — one-shot plans simply don't belong in the cache. */
  private[graft] def shinglesUncached(docs: DataFrame): DataFrame =
    docs.withColumn("__t", toks)
      .filter(size(col("__t")) >= 3)
      .withColumn("shingles", expr(shingleExpr))
      .drop("__t")

  def withShingles(docs: DataFrame): DataFrame = shingleCache.synchronized {
    // keyed by a stable session id + the canonicalized plan OBJECT —
    // structural equality, which for file relations includes the root
    // paths. (Round 2 used identityHashCode + a 32-bit semanticHash, which
    // can collide; a plan STRING would be worse — file relations print
    // without their location, so two different corpora read through the
    // same schema would share one string.)
    val key = (docs.sparkSession.sparkContext.applicationId +
      "#" + docs.sparkSession.hashCode(),
      docs.queryExecution.analyzed.canonicalized)
    Option(shingleCache.get(key)).getOrElse {
      // the documents table arrives as a single parquet file = one input
      // split; spread the (CPU-heavy) shingle extraction over the cluster
      val spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      val built = spread.withColumn("__t", toks)
        .filter(size(col("__t")) >= 3)
        .withColumn("shingles", expr(shingleExpr))
        .drop("__t")
        .persist()
      shingleCache.put(key, built)
      val it = shingleCache.entrySet().iterator()
      while (shingleCache.size() > ShingleCacheMax && it.hasNext) {
        // evicted entry may belong to an already-stopped session —
        // unpersist is best-effort, never fails the live query
        scala.util.Try(it.next().getValue.unpersist())
        it.remove()
      }
      built
    }
  }

  /** the session cache's current keys, in LRU order */
  private[graft] def shingleCacheKeys: Seq[Any] = shingleCache.synchronized {
    import scala.jdk.CollectionConverters._
    shingleCache.keySet().asScala.toList
  }

  /** exact Jaccard of two distinct-shingle arrays */
  private[graft] def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** exact duplicate detection: md5 fingerprint of the raw text; the first
    * doc_id in each group is canonical, the rest are flagged. */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("is_dup", row_number().over(w) > 1)
  }

  /** per-document MinHash signature (numHashes portable min-hashes over
    * the shingle set, via the codegen'd [[graft.functions.MinHashExpr]]
    * kernel), emitted as a comma-joined string for stable cross-engine
    * comparison. */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 8): DataFrame =
    withShingles(docs).select(
      col("doc_id"),
      concat_ws(",",
        graft.functions.MinHashExpr.minhash(col("shingles"), numHashes)
          .cast("array<string>")).as("sig"))

  /** LSH band keys per document: MinHash the shingle array, then emit one
    * (doc_id, band, bkey) row per band — bands carry only narrow keys, so
    * the bucket join downstream never shuffles shingle arrays. Shared by
    * same-corpus pair mining ([[minhashPairs]]) and cross-corpus fuzzy
    * decontamination ([[Decontam.fuzzyOverlap]]). */
  private[graft] def bandedKeys(sh: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    sh.select(
      col("doc_id"),
      graft.functions.MinHashExpr.minhash(col("shingles"), numHashes).as("sig"))
      .select(col("doc_id"),
        posexplode(bandKeys(col("sig"), numHashes, bands)).as(Seq("band", "bkey")))

  /** The LSH band keys of a MinHash signature, as an array indexed by
    * band: band b joins slots r·b … r·b+r−1 (r = numHashes/bands) with
    * ','. Spelled out slot by slot, with no lambda over `sig`: a
    * signature projected beneath this is referenced once per slot, so
    * Catalyst keeps its MinHash in its own projection, one evaluation per
    * row. (A `transform` lambda references it once, and CollapseProject
    * then inlines the MinHash into the lambda body — one evaluation per
    * band.) */
  private[graft] def bandKeys(sig: Column, numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    array((0 until bands).map(b =>
      concat_ws(",", (b * r until b * r + r).map(i => sig(i).cast("string")): _*)): _*)
  }

  /** `docs` plus each doc's distinct shingle set (`shingles`) and LSH
    * band keys (`bkeys`, [[bandKeys]]) — both null for a doc too short to
    * shingle, which stays in the frame. One MinHash per doc. */
  private[graft] def withBandKeys(docs: DataFrame, numHashes: Int,
      bands: Int): DataFrame =
    docs.withColumn("__t", toks)
      .withColumn("shingles", when(size(col("__t")) >= 3, expr(shingleExpr)))
      .drop("__t")
      .withColumn("__sig", graft.functions.MinHashExpr.minhash(col("shingles"), numHashes))
      .withColumn("bkeys", when(col("shingles").isNotNull,
        bandKeys(col("__sig"), numHashes, bands)))
      .drop("__sig")

  /** Threshold-driven (numHashes, bands) sizing for MinHash banding — the
    * AND-OR identity specialized to MinHash, where one signature row
    * collides with probability J itself: a Jaccard-`threshold` pair needs
    * b(r) = ⌈ln(1−recall)/ln(1−t^r)⌉ bands of r rows. Returns the
    * LARGEST r (most selective per band — fewest false candidates) whose
    * total budget r·b(r) fits `maxHashes`, as (numHashes = r·b, bands = b).
    *
    * The oracle gates pin (8, 4) — r=2, recall 0.68 at t=0.5, adequate for
    * the planted-dup corpora they verify; this sizing is for ad-hoc
    * thresholds, e.g. t=0.5 at 0.9 recall → (54, 18) (r=3), t=0.8 →
    * (48, 8) (r=6). The same identity the embedding-side
    * [[Similarity.lshPickParams]] uses, without the occupancy sample —
    * MinHash collision probability is exactly J, no geometry estimate
    * needed. */
  def minhashParamsFor(threshold: Double, recallTarget: Double = 0.9,
      maxHashes: Int = 64, requireFeasible: Boolean = true): (Int, Int) = {
    require(threshold > 0 && threshold < 1, "minhashParamsFor: t in (0,1)")
    def bFor(r: Int): Long = {
      val p = math.pow(threshold, r)
      if (p < 1e-9) Long.MaxValue
      else math.ceil(math.log(1.0 - recallTarget) / math.log(1.0 - p)).toLong.max(1L)
    }
    val r = (maxHashes to 1 by -1)
      .find(r => bFor(r) <= (maxHashes / r).toLong).getOrElse(1)
    val b = math.min(maxHashes / r, bFor(r)).toInt
    // an infeasible combination (even r=1 can't reach the target within
    // the budget, e.g. t=0.01 at 0.9) must not DEGRADE silently — the
    // caller asked for a recall contract; fail with the achievable number
    // unless they opt into best-effort explicitly
    val achieved = 1.0 - math.pow(1.0 - math.pow(threshold, r), b.toDouble)
    require(!requireFeasible || achieved >= recallTarget - 1e-9,
      f"minhashParamsFor: recallTarget=$recallTarget unreachable at " +
      f"threshold=$threshold within maxHashes=$maxHashes — best " +
      f"(numHashes=${r * b}, bands=$b) achieves recall $achieved%.3f; raise " +
      "maxHashes, lower the target, or pass requireFeasible=false")
    (r * b, b)
  }

  /** MinHash-LSH near-duplicate pairs: band the signature (rows per band =
    * numHashes/bands), bucket-join, then verify candidates with exact
    * shingle Jaccard >= threshold. Deterministic: banding may miss
    * borderline pairs (recall 1-(1-j^r)^b) but never invents them.
    *
    * `numHashes = 0` (the default) sizes BOTH knobs from the threshold via
    * [[minhashParamsFor]] (0.9-recall contract — e.g. t=0.5 → (54, 18)),
    * so a bare call carries a recall guarantee instead of an arbitrary
    * constant; the oracle gates pin (8, 4) explicitly, keeping their
    * candidate sets — and hashes-per-doc cost — byte-identical. */
  def minhashPairs(docs: DataFrame, numHashes: Int = 0, bands: Int = 0,
      threshold: Double = 0.5): DataFrame = {
    require((numHashes > 0) == (bands > 0),
      "minhashPairs: pass numHashes and bands together, or neither (auto)")
    val (nh, nb) =
      if (numHashes > 0) (numHashes, bands)
      else minhashParamsFor(threshold)
    minhashPairsPinned(docs, nh, nb, threshold)
  }

  private def minhashPairsPinned(docs: DataFrame, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    // the shingle sets feed signature generation AND candidate
    // verification — both read the shared withShingles cache
    val sh = withShingles(docs)
      .select(col("doc_id"), col("shingles"))
    val banded = bandedKeys(sh, numHashes, bands)
    val cand = banded.select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
        Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .withColumn("jac",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
  }

  /** exact n-gram (3-shingle) Jaccard pairs with PREFIX FILTERING
    * (ppjoin-style): index only each document's (n - ceil(t·n) + 1) rarest
    * shingles under a global (document-frequency, shingle) total order —
    * any pair with jaccard >= t must share an indexed shingle, so
    * candidates collapse from "share any shingle" (quadratic under hot
    * shingles) to "share a rare shingle", with a length-ratio filter on
    * top. Exact: candidate generation has no false negatives, and every
    * candidate is verified with the true jaccard. The DF table is
    * dimension-sized (distinct shingles) and broadcast. */
  def jaccardPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // reused by the frequency pass, the prefix index and both verify joins
    // — all read the session shingle cache (withShingles persists the
    // extraction; re-deriving size() over cached rows is free). Round 2
    // stacked a second never-unpersisted persist() here, pinning executor
    // storage per invocation in long-lived sessions.
    val sh = withShingles(docs)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
    val freq = sh.select(explode(col("shingles")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val exploded = sh.select(col("doc_id"), col("n"), explode(col("shingles")).as("s"))
      .join(broadcast(freq), Seq("s"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefix = exploded
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= col("n") - ceil(col("n") * threshold) + 1)
      .select(col("s"), col("doc_id"), col("n"), col("rn"))
    val cand = prefix.select(col("s"), col("doc_id").as("doc_a"),
        col("n").as("n_a"), col("rn").as("rn_a"))
      .join(prefix.select(col("s"), col("doc_id").as("doc_b"),
        col("n").as("n_b"), col("rn").as("rn_b")), Seq("s"))
      .filter(col("doc_a") < col("doc_b") &&
        col("n_b") >= ceil(col("n_a") * threshold) &&
        col("n_b") <= floor(col("n_a") / threshold) &&
        // ppjoin positional filter: overlap from this match position on is
        // at most 1 + min(remaining a, remaining b); jac >= t needs
        // overlap >= t/(1+t) * (n_a + n_b)
        (lit(1) + least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b"))) >=
          ceil((col("n_a") + col("n_b")) * (threshold / (1 + threshold)) - 1e-9))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .withColumn("jac",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
  }

  /** Exact DIRECTED containment pairs: |A ∩ B| / |A| ≥ t over shingle
    * sets — "doc A is mostly inside doc B", the asymmetric relation
    * Jaccard misses when sizes differ (quote farms, article+boilerplate
    * wrappers, subset scrapes; C4/RealNews-style cleanup drops the
    * contained side). Emits one row per direction that clears t.
    *
    * Candidate generation is the containment prefix filter: if
    * |A∩B| ≥ t·|A| then at most (1−t)·|A| of A's shingles miss B, so
    * among A's ⌊(1−t)·n_a⌋+1 RAREST shingles (the same global
    * document-frequency order [[jaccardPairs]] uses) at least one is in
    * B — A's prefix joins against the full index, candidates collapse to
    * "B shares one of A's rare shingles". No false negatives; every
    * candidate verified with the true intersection. The size filter
    * n_b ≥ ⌈t·n_a⌉ prunes the impossible before the verify join.
    *
    * Scale shape: identical to [[jaccardPairs]] — broadcast DF table,
    * prefix explode bounded per doc, verify join moves each shingle set
    * once per surviving candidate side. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.6): DataFrame = {
    val sh = withShingles(docs)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
    val freq = sh.select(explode(col("shingles")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val exploded = sh.select(col("doc_id"), col("n"), explode(col("shingles")).as("s"))
      .join(broadcast(freq), Seq("s"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val prefix = exploded
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= col("n") - ceil(col("n") * threshold) + 1)
      .select(col("s"), col("doc_id").as("doc_a"), col("n").as("n_a"))
    val full = sh.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
      explode(col("shingles")).as("s"))
    val cand = prefix.join(full, Seq("s"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("n_b") >= ceil(col("n_a") * threshold))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("containment"), 4).as("containment"))
  }

  /** Rows-per-band for one stratum PAIRING of
    * [[containmentPairsStratified]] — the LSH-Ensemble sizing rule (Zhu
    * et al., VLDB 2016): a containment-t pair with n_a ∈ [2^ga, 2^(ga+1))
    * and n_b ∈ [2^gb, 2^(gb+1)) has Jaccard at least
    * J* = t·2^ga / (2^ga + 2^(gb+1) − 1 − t·2^ga), so the pairing can
    * band as selectively as J* allows: the LARGEST r (most selective,
    * fewest false candidates) whose banding recall 1−(1−J*^r)^(k/r)
    * still clears 0.9. Returns 0 when containment is impossible for the
    * whole pairing (every B smaller than t·A); falls back to r=1
    * (pure-OR, maximal recall) when even that cannot reach the target —
    * the extreme small-in-large regime where recall is bounded by
    * 1−(1−J*)^k and k is the knob. Deterministic: the oracle SQL is
    * GENERATED from this same function, so engine and oracle band
    * identically. */
  private[graft] def stratumRows(ga: Int, gb: Int, threshold: Double, k: Int): Int =
    stratumShape(ga, gb, threshold, k).map(_._1).getOrElse(0)

  /** The (rowsPerBand, bands) shape for one stratum pairing, or None when
    * the pairing is cut — either infeasible (every B smaller than t·A) or
    * hopeless (even pure-OR over all k hashes recalls < 0.3 at the
    * pairing's worst-case J*; the extreme small-in-large regime where k
    * is the knob, the LSH-Ensemble coverage boundary).
    *
    * r is the LARGEST rows-per-band whose banding can still reach the
    * 0.9 recall target within k hashes; b is then trimmed to EXACTLY the
    * bands that target needs — ceil(ln(1−0.9)/ln(1−J*^r)) — never a
    * blanket k/r. The trim is the candidate-volume control: measured at
    * 10×, all-64-band pure-OR keying produced 177 s of bucket flood;
    * recall-sized bands (9–16 near the diagonal) collapse it while
    * keeping the same per-pairing recall floor. */
  private[graft] def stratumShape(ga: Int, gb: Int, threshold: Double,
      k: Int): Option[(Int, Int)] = {
    val naMin = math.pow(2.0, ga)
    val nbMax = math.pow(2.0, gb + 1.0) - 1.0
    if (nbMax < threshold * naMin) return None
    val jstar = threshold * naMin / (naMin + nbMax - threshold * naMin)
    def bandsFor(r: Int): Int = {
      val p = math.pow(jstar, r)
      if (p >= 1.0) 1
      else if (p < 1e-9) Int.MaxValue // underflow: log(1-p) -> -p -> 0
      else math.ceil(math.log(1.0 - 0.9) / math.log(1.0 - p)).toInt
    }
    val r = (k to 1 by -1).find(r => bandsFor(r) <= k / r).getOrElse(1)
    val b = math.min(k / r, bandsFor(r))
    val recall = 1.0 - math.pow(1.0 - math.pow(jstar, r), b.toDouble)
    if (recall < 0.3) None else Some((r, b))
  }

  /** The allowed stratum pairings with their banding shape:
    * (ga, gb, rowsPerBand, bands). Shared by the engine operator and the
    * generated oracle SQL. */
  private[graft] def stratumPairings(threshold: Double, k: Int,
      maxStratum: Int): Seq[(Int, Int, Int, Int)] =
    for {
      ga <- 0 to maxStratum
      gb <- 0 to maxStratum
      shape <- stratumShape(ga, gb, threshold, k).toSeq
    } yield (ga, gb, shape._1, shape._2)

  /** SIZE-STRATIFIED MinHash containment pairs — the bounded-candidate
    * scale path for [[containmentPairs]] (whose exact prefix filter is
    * candidate-volume-bound on dense corpora): the LSH-Ensemble design.
    * Documents are stratified by shingle-set size (g = ⌊log2 n⌋, computed
    * exactly via the binary-digit count, never floating log); each
    * feasible stratum pairing bands the shared k-hash MinHash signature
    * with its own rows-per-band from [[stratumRows]] — selective where
    * sizes are close (J* high), OR-heavy where a small A probes a large
    * B stratum. Candidates meet in (pairing, band, key) buckets; every
    * candidate is verified with the TRUE intersection, so precision is
    * exact and only recall is probabilistic (≥0.9 per pairing wherever
    * k admits it).
    *
    * Scale shape: per-document work is one compiled k-hash MinHash pass
    * plus ≤ Σ bands(pairings touching its stratum) narrow key rows —
    * linear, size-independent of the corpus; the bucket join carries
    * (pairing, band, key, doc) only; shingle sets move once per verified
    * candidate side. Nothing is all-pairs and no document-frequency
    * table is needed (the exact path's broadcast `freq` is the other
    * scale ceiling this variant removes). */
  def containmentPairsStratified(docs: DataFrame, threshold: Double = 0.6,
      numHashes: Int = 64, maxStratum: Int = 20, maxBucket: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = withShingles(docs)
      .select(col("doc_id"), col("shingles"), size(col("shingles")).as("n"))
      .filter(col("n") > 0)
    // exact floor(log2 n): binary digit count − 1 (log(2, n) rounds wrong
    // at exact powers in IEEE — log2(8) = 2.999… in both engines)
    val sig = sh.select(col("doc_id"), col("n"),
        (length(conv(col("n"), 10, 2)) - 1).cast("int").as("g"),
        graft.functions.MinHashExpr.minhash(col("shingles"), numHashes).as("sig"))
      .localCheckpoint()
    val pr = stratumPairings(threshold, numHashes, maxStratum)
      .toDF("pga", "pgb", "prr", "pb")
    val keyExpr = expr(
      "transform(sequence(0, pb - 1), bd -> concat_ws(',', " +
        "transform(sequence(bd * prr, bd * prr + prr - 1), i -> cast(sig[i] as string))))")
    val aK = sig.join(broadcast(pr), col("g") === col("pga"))
      .select(col("doc_id").as("doc_a"), col("pga"), col("pgb"),
        posexplode(keyExpr).as(Seq("band", "bkey")))
    val bK = sig.join(broadcast(pr), col("g") === col("pgb"))
      .select(col("doc_id").as("doc_b"), col("pga"), col("pgb"),
        posexplode(keyExpr).as(Seq("band", "bkey")))
    // hot-bucket guard (the frameJaccardPairs posture): an r=1 pairing
    // buckets by a SINGLE minhash value, and a corpus-common rare
    // shingle pulls every doc sharing it into one bucket — an m² pair
    // task (measured: the 10× dense corpus ran 52 s with this flood,
    // 21 s with it cut). Keys whose index-side occupancy exceeds
    // `maxBucket` are dropped from BOTH sides; each pairing still has
    // b−1 other bands to catch the pair, and the hot list is
    // ≤ keys/maxBucket entries, so the broadcast stays bounded.
    val hot = bK.groupBy("pga", "pgb", "band", "bkey")
      .agg(count(lit(1)).as("occ")).filter(col("occ") > maxBucket)
      .select("pga", "pgb", "band", "bkey")
    val cand = aK.join(broadcast(hot), Seq("pga", "pgb", "band", "bkey"), "left_anti")
      .join(bK.join(broadcast(hot), Seq("pga", "pgb", "band", "bkey"), "left_anti"),
        Seq("pga", "pgb", "band", "bkey"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").dropDuplicates()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"),
        col("n").as("n_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), Seq("doc_b"))
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("containment"), 4).as("containment"))
  }

  /** Exact duplicated-span detection (substring-level dedup — the
    * granularity below document-level `exact`/`minhashPairs`): fingerprint
    * every `l`-token window (md5 of the space-joined window), count corpus-
    * wide occurrences per fingerprint, and report per document how many of
    * its windows lie inside a span that occurs ≥2 times anywhere (including
    * within-document repeats). This is the Spark-shaped analog of
    * suffix-array substring dedup: the suffix array's "find repeated
    * substrings of length ≥ L" phase becomes one hash-shuffle on the
    * window fingerprint.
    *
    * Scale shape: only (doc_id, fp) ever crosses a shuffle — the window
    * explode is computed per row and immediately hashed; the fingerprint
    * count aggregates with map-side combine; the dup-marking is a
    * semi-join back on fp whose per-doc rollup ALSO recovers n_windows
    * (count of the left-marked rows), so the tokenize+hash projection
    * runs twice (once under each exchange), never three times, and the
    * corpus-tokens-sized intermediate is never materialized — at 100 TB
    * recomputing a projection beats checkpointing it. Window count per
    * doc is n_tokens − l + 1, so exploded volume is O(corpus tokens). */
  def duplicatedSpans(docs: DataFrame, l: Int = 8): DataFrame = {
    // slice() is 1-based; each window is hashed before leaving the row
    val wins = docs
      .withColumn("__t", toks)
      .withColumn("__nw", greatest(size(col("__t")) - (l - 1), lit(0)).cast("long"))
      .filter(col("__nw") > 0)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, cast(__nw as int)), i -> " +
          s"md5(array_join(slice(__t, i, $l), ' ')))")).as("fp"))
    val dupFp = wins.groupBy("fp")
      .agg(count(lit(1)).as("occ")).filter(col("occ") >= 2).select("fp")
    wins.join(dupFp.withColumn("__dup", lit(1)), Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__dup"), lit(0))).cast("long").as("dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("dup_windows"),
        round(col("dup_windows").cast("double") / col("n_windows"), 4).as("dup_frac"))
  }

  // ---- shared segmentation arithmetic (batch operators + streaming
  // twins + the DuckDB oracles must all agree on it, so it lives ONCE) ----

  private def segSeq(segTokens: Int): String =
    s"sequence(0, cast(ceil(size(__t) / ${segTokens}.0) as int) - 1)"
  private def segJoin(segTokens: Int): String =
    s"array_join(slice(__t, i * $segTokens + 1, $segTokens), ' ')"

  /** consecutive non-overlapping `segTokens`-token segments of a pre-split
    * `__t` token array, as a plain string array — the streaming twins'
    * form (no seg_idx) */
  private[graft] def segListExpr(segTokens: Int): String =
    s"transform(${segSeq(segTokens)}, i -> ${segJoin(segTokens)})"

  /** same segmentation as (seg_idx, seg) structs — the batch operators'
    * form (the rebuild needs positions) */
  private[graft] def segStructsExpr(segTokens: Int): String =
    s"transform(${segSeq(segTokens)}, i -> struct(cast(i as bigint) as seg_idx, " +
    s"${segJoin(segTokens)} as seg))"

  /** (doc_id, seg_idx, seg) rows — the one explode both segment operators
    * build on */
  private def explodeSegments(docs: DataFrame, segTokens: Int): DataFrame =
    docs
      .withColumn("__t", toks)
      .select(col("doc_id"), explode(expr(segStructsExpr(segTokens))).as("s"))
      .select(col("doc_id"), col("s.seg_idx").as("seg_idx"), col("s.seg").as("seg"))

  /** content key for the segment shuffles: raw text for short segments;
    * md5 fingerprints (`keyByFingerprint`) so long-segment corpora shuffle
    * fixed-width 32-char keys instead of the text itself */
  private def segKey(keyByFingerprint: Boolean): Column =
    if (keyByFingerprint) md5(col("seg")) else col("seg")

  /** per-doc rebuild shared by the segment operators: count, drop-count
    * (named `dropName`), and the text reassembled from kept segments in
    * seg_idx order */
  private def rebuildDocs(marked: DataFrame, dropName: String): DataFrame =
    marked.groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("keep"), 0L).otherwise(1L)).as(dropName),
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN keep THEN struct(seg_idx, seg) END)), x -> x.seg), ' ')")
          .as("clean_text"))
      .select(col("doc_id"), col("n_segments"),
        col(dropName).cast("long").as(dropName), col("clean_text"))

  /** C4/RefinedWeb-style GLOBAL segment dedup with text REBUILD: split
    * every document into consecutive non-overlapping `segTokens`-token
    * segments (the flat-text analog of C4's three-sentence granularity),
    * keep only each distinct segment's FIRST global occurrence (ordered
    * by (doc_id, seg_idx)), drop every later instance, and reassemble
    * each document from its surviving segments — boilerplate (shared
    * headers, injected banners) survives in exactly one document
    * corpus-wide. Emits (doc_id, n_segments, n_dropped, clean_text).
    *
    * Scale shape: one shuffle keyed by segment content for the
    * first-occurrence argmin (groupBy + min(struct) — PARTIAL-aggregated,
    * so a boilerplate segment present in every document combines
    * map-side instead of landing on a single reducer the way a
    * corpus-wide row_number window would), one shuffle by doc_id for the
    * rebuild (per-doc bounded). Segments here are short; for
    * long-segment corpora set `keyByFingerprint`: the argmin aggregate and
    * the mark-join key become md5(seg) (the [[duplicatedSpans]] posture) —
    * the argmin exchange then carries only 32-char fingerprints (column
    * pruning drops the text under it) instead of arbitrarily long segment
    * text. Output is identical either way (md5 collisions aside) —
    * spec-pinned by `SegmentFuzzSpec`. */
  def dedupSegments(docs: DataFrame, segTokens: Int = 10,
      keyByFingerprint: Boolean = false): DataFrame = {
    val segs = explodeSegments(docs, segTokens)
      .withColumn("__k", segKey(keyByFingerprint))
    val first = segs.groupBy("__k")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("f"))
    val marked = segs.join(first, Seq("__k"))
      .withColumn("keep",
        col("f.doc_id") === col("doc_id") && col("f.seg_idx") === col("seg_idx"))
    rebuildDocs(marked, "n_dropped")
  }

  /** Document-frequency boilerplate STRIP — the RefinedWeb/CCNet rule
    * [[dedupSegments]]'s first-occurrence policy doesn't express: a
    * segment present in ≥ `maxDocFreq` DISTINCT documents is boilerplate
    * (site chrome, license banners) and is removed from EVERY document,
    * first occurrence included. Emits
    * (doc_id, n_segments, n_boiler, clean_text).
    *
    * Scale shape: the doc-frequency table is one distinct + one counted
    * groupBy on segment content (both partial-aggregated); the boiler
    * set is ≤ segments/maxDocFreq entries by construction, and the
    * rebuild is the same per-doc bounded groupBy as [[dedupSegments]].
    * `keyByFingerprint` keys the df-count and the mark-join by md5(seg)
    * for long-segment corpora, exactly as in [[dedupSegments]]. */
  def stripBoilerplate(docs: DataFrame, segTokens: Int = 10,
      maxDocFreq: Int = 2, keyByFingerprint: Boolean = false): DataFrame = {
    val segs = explodeSegments(docs, segTokens)
      .withColumn("__k", segKey(keyByFingerprint))
    val boiler = segs.select("__k", "doc_id").distinct()
      .groupBy("__k").agg(count(lit(1)).as("df"))
      .filter(col("df") >= maxDocFreq).select("__k")
    val marked = segs.join(boiler.withColumn("__b", lit(1)), Seq("__k"), "left")
      .withColumn("keep", col("__b").isNull)
    rebuildDocs(marked, "n_boiler")
  }

  /** 60-bit SimHash over the token stream (term-frequency weighted):
    * bit j is set iff the sum over tokens of ±1 (by bit j of the token's
    * portable hash) is positive. Near-dups have small Hamming distance.
    *
    * The signature is computed by the codegen'd
    * [[graft.functions.SimHash60Expr]] (one compiled pass per document;
    * the previous composable-HOF form ran 60 interpreted folds per doc and
    * was the bench's worst query), over an input spread across the cluster
    * — the raw documents table is one parquet file = one input split, and
    * without the repartition the whole CPU-heavy signature pass runs in a
    * single task (r6 postmortem: 1-2 of 32 cores busy). */
  def simhash(docs: DataFrame): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        graft.functions.SimHash60Expr.simhash60(split(lower(col("text")), " "))
          .as("simhash"))

  /** SimHash near-duplicate pairs via the PIGEONHOLE block join — the
    * second linear-cost dedup path beside MinHash-LSH, with a stronger
    * guarantee: splitting the 60-bit signature into `maxHamming + 1`
    * equal blocks, any two signatures within `maxHamming` bits must agree
    * EXACTLY on at least one block (pigeonhole — ≤ maxHamming flipped bits
    * cannot touch every block). So the block-bucket join is a complete
    * candidate generator, not a probabilistic one: output is exactly
    * every pair at hamming ≤ maxHamming. (The Google/Manku-Jain-Sarma
    * near-dup crawl design.)
    *
    * Scale shape: the explode carries (doc_id, block_idx, block_value) —
    * narrow keys, never text; candidates equi-join per block bucket and
    * the exact hamming check runs once per distinct candidate pair via
    * the signature join-back. Block width shrinks as maxHamming grows
    * (60/(k+1) bits ⇒ coarser buckets, more candidates) — the precision
    * knob, same occupancy story as the LSH rowsPerBand sizing. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      hotBucketCap: Int = 256): DataFrame =
    hammingPairs(simhash(docs).localCheckpoint(), "simhash", 60,
      maxHamming, hotBucketCap)

  /** Perceptual image near-duplicate pairs: hamming join over the 64-bit
    * aHash fingerprints [[Multimodal.decodeImage]] emits — the standard
    * image-dedup pass of a multimodal corpus (re-encoded, resized or
    * brightness-shifted copies of a picture land within a few bits; see
    * the aHash invariance pinned in the decode spec). Same pigeonhole
    * machinery as [[simhashPairs]], over 64 bits. */
  def ahashPairs(decoded: DataFrame, maxHamming: Int = 7,
      hotBucketCap: Int = 256): DataFrame =
    hammingPairs(
      decoded.select(col("doc_id"),
        col("ahash_lo").bitwiseOR(shiftleft(col("ahash_hi"), 32)).as("ahash"))
        .localCheckpoint(),
      "ahash", 64, maxHamming, hotBucketCap)

  /** Pigeonhole hamming-pair join over any integer signature: maxHamming+1
    * signature blocks guarantee every pair within maxHamming bits agrees
    * exactly on one block, so the bucket join is a COMPLETE candidate
    * generator; every candidate is verified with the true bit_count.
    * Shared by text SimHash (60-bit) and image aHash (64-bit). */
  private[pipeline] def hammingPairs(sigs: DataFrame, sigCol: String,
      sigBits: Int, maxHamming: Int, hotBucketCap: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    require(nBlocks > 0 && sigBits % nBlocks == 0,
      s"hammingPairs: maxHamming + 1 must divide $sigBits (got $maxHamming)")
    val blockBits = sigBits / nBlocks
    val keyed = sigs.select(col("doc_id"),
      explode(array((0 until nBlocks).map(i => struct(lit(i).as("blk"),
        shiftright(col(sigCol), i * blockBits)
          .bitwiseAND(lit((1L << blockBits) - 1)).as("bval"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.blk").as("blk"), col("bk.bval").as("bval"))
    // Hot-bucket guard: a regular corpus concentrates docs on few block
    // values (measured r6: one bucket held 269 of 5,000 docs — and skew
    // grows with corpus regularity), and an m-doc bucket is an m² pair
    // task. Sub-split buckets above `hotBucketCap`: the probe side salts
    // by hash(doc_id) mod nsplit, the build side replicates across the
    // nsplit sub-buckets, so each pair still meets in EXACTLY one
    // (blk, bval, sub) bucket — completeness intact, the monster task
    // spread over nsplit tasks. The hot list is ≤ rows/cap entries by
    // construction, so the broadcast stays bounded at any corpus size.
    val hot = keyed.groupBy(col("blk"), col("bval"))
      .agg(count(lit(1)).as("bsz")).filter(col("bsz") > hotBucketCap)
      .withColumn("nsplit", ceil(col("bsz") / hotBucketCap).cast("int"))
      .select("blk", "bval", "nsplit")
    val salted = keyed.join(broadcast(hot), Seq("blk", "bval"), "left")
      .withColumn("nsplit", coalesce(col("nsplit"), lit(1)))
    val probe = salted.select(col("blk"), col("bval"),
      pmod(hash(col("doc_id")), col("nsplit")).as("sub"), col("doc_id").as("doc_a"))
    val build = salted.select(col("blk"), col("bval"),
      explode(expr("sequence(0, nsplit - 1)")).as("sub"), col("doc_id").as("doc_b"))
    val cand = probe.join(build, Seq("blk", "bval", "sub"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col(sigCol).as("__sa")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col(sigCol).as("__sb")), Seq("doc_b"))
      .withColumn("hamming",
        expr("bit_count(__sa ^ __sb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** The persisted LSH signature index of a corpus: one narrow
    * (doc_id, band, bkey) row per band per document — the artifact an
    * INCREMENTAL dedup pipeline maintains so that admitting a new batch
    * never re-reads (or re-shingles) the corpus it already ingested. At
    * cluster scale this is a parquet table bucketed by `bkey` (the probe
    * join's shuffle key), appended per admitted batch and compacted with
    * the usual small-file maintenance; rows are ~3 narrow columns, so
    * the index is orders of magnitude smaller than the text it covers. */
  def signatureIndex(docs: DataFrame, numHashes: Int = 8,
      bands: Int = 4): DataFrame =
    bandedKeys(withShingles(docs).select(col("doc_id"), col("shingles")),
      numHashes, bands)

  /** INCREMENTAL cross-batch near-duplicate detection — the shape a
    * continuously-ingesting 100 TB pipeline actually runs: dedup cost per
    * day must be O(batch), not O(corpus), so the corpus side is probed
    * through its [[signatureIndex]] and its text is touched ONLY for
    * verified candidates.
    *
    * Returns one row per (batch doc, matched doc) pair with exact shingle
    * Jaccard >= `threshold` and `src` saying whether the match is an
    * already-ingested corpus doc or an EARLIER doc of the same batch
    * (doc_b < doc_a — k copies inside one batch resolve to the earliest,
    * so exactly one is admitted).
    *
    * Scale shape: the batch is shingled and MinHashed once (O(batch));
    * candidates meet in (band, bkey) buckets against the narrow index —
    * a shuffle on band keys, never on text; verification fetches corpus
    * shingle sets ONLY for candidate doc_ids (semi-join BEFORE the
    * shingle projection — the survivors-only re-read posture of
    * [[Decontam]]'s exact-confirm). Nothing rescans the ingested corpus.
    * (Storing the full k-hash signature in the index would allow
    * estimated-Jaccard verification with zero corpus reads, at the cost
    * of false positives; exact verify is chosen so precision is exact
    * and the DuckDB oracle can replay it.)
    *
    * Contract: corpus and batch doc_ids are disjoint (an id in both
    * would double its verification row). `index` — pass the PERSISTED
    * index when you have one; default rebuilds it from `corpus` (the
    * bootstrap / testing path). Banding recall per pair is the usual
    * 1-(1-j^r)^b; candidates are verified exactly, so false positives
    * are impossible. */
  def incrementalDedupPairs(corpus: DataFrame, batch: DataFrame,
      index: Option[DataFrame] = None, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val bsh = withShingles(batch).select(col("doc_id"), col("shingles"))
    val bKeys = bandedKeys(bsh, numHashes, bands)
    val idx = index.getOrElse(signatureIndex(corpus, numHashes, bands))
    val probe = bKeys.select(col("band"), col("bkey"), col("doc_id").as("doc_a"))
    val cross = probe.join(
      idx.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
      Seq("band", "bkey"))
    val intra = probe.join(
      bKeys.select(col("band"), col("bkey"), col("doc_id").as("doc_b")),
      Seq("band", "bkey"))
      .filter(col("doc_b") < col("doc_a"))
    val cand = cross.unionByName(intra)
      .select("doc_a", "doc_b").dropDuplicates()
    // corpus text is read back ONLY for matched candidate ids — the
    // semi-join runs below the shingle projection, so at scale it is a
    // pushed-down id filter on the corpus table, not a corpus scan
    val candIds = cand.select(col("doc_b").as("doc_id")).distinct()
    val corpusSide = shinglesUncached(
        corpus.join(candIds, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("shingles"), lit("corpus").as("src"))
    val side = corpusSide.unionByName(
      bsh.join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("shingles"), lit("batch").as("src")))
    cand
      .join(bsh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")),
        Seq("doc_a"))
      .join(side.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b"),
        col("src")), Seq("doc_b"))
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"),
        col("src"))
  }

  /** The ADMITTED subset of an incremental batch: batch docs with no
    * verified match in the corpus index or among earlier batch docs
    * ([[incrementalDedupPairs]]). Conservative policy: a doc that matches
    * a REJECTED earlier doc is still rejected (near-dup chains admit only
    * their head) — the standard posture, since admitting chain members
    * would re-introduce the near-dup mass dedup exists to remove. The
    * admitted docs' [[signatureIndex]] rows are what an ingest appends to
    * the persisted index before the next batch. */
  def incrementalAdmit(corpus: DataFrame, batch: DataFrame,
      index: Option[DataFrame] = None, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.5): DataFrame =
    batch.select("doc_id").join(
      incrementalDedupPairs(corpus, batch, index, numHashes, bands, threshold)
        .select(col("doc_a").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
}
