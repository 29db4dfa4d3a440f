package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table
  * (vec_id, embedding: array<float>[64], label).
  *
  * Scale design: brute-force cosine is the correctness baseline — a
  * broadcast of the (small) query set against the full table, one codegen'd
  * pass, no shuffle beyond the final top-k. The scale path is LSH
  * bucketing (sign-random-projection): candidates only join within a
  * bucket, turning O(n·q) into O(n + collisions). An IVF variant would
  * replace the bucket key with a learned-centroid assignment — same plan
  * shape (bucket key join), different key function.
  *
  * Dot products run in doubles with a fixed left-to-right fold so the
  * DuckDB oracle (same fold order) reproduces them bit-for-bit; ranking
  * uses the 6-decimal rounding + vec_id tiebreak to be engine-stable.
  * All inner loops go through the native codegen'd
  * [[graft.functions.DotProductExpr]] (same summation order as the
  * composable `aggregate(zip_with(...))` form, ~10× less per-pair cost).
  */
object Similarity {

  import graft.functions.DotProductExpr.dotProduct

  private[graft] def norm(e: Column): Column = sqrt(dotProduct(e, e))

  /** exact top-k cosine neighbors for query vectors (vec_id < nQueries),
    * excluding self-matches.
    *
    * The row_number-over-window + `rk <= k` shape is deliberate: Catalyst's
    * InferWindowGroupLimit rewrites it into a partial WindowGroupLimit
    * BEFORE the exchange (verified via PlanDump — Sort+WindowGroupLimit,
    * Exchange, WindowGroupLimit(Final)), so each map task ships only its
    * local top-k per query instead of all n·q scored rows. A hand-written
    * bounded-heap aggregate would reproduce exactly this plan. */
  def bruteCosineTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame = {
    val withNorm = emb.withColumn("norm", norm(col("embedding")))
    val queries = withNorm.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val joined = withNorm.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", dotProduct(col("q_emb"), col("embedding")) / (col("norm") * col("q_norm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("sim"), 6).desc, col("vec_id"))
    joined.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("sim"), 4).as("sim"), col("rk").cast("long").as("rk"))
  }

  /** Seeded random hyperplanes for sign-projection LSH, derived from md5
    * so any engine (including the test oracle) can re-derive them exactly:
    * coefficient (p, i) = int32(first 4 bytes of md5("seed:p:i")) / 2^31
    * ∈ [-1, 1). The planes fold into plan-time literals — zero per-row
    * hashing cost. */
  def randomPlanes(seed: Long, planes: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dim) { (p, i) =>
      val d = md.digest(s"$seed:$p:$i".getBytes("UTF-8"))
      val x = ((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) |
        ((d(2) & 0xff) << 8) | (d(3) & 0xff)
      x / 2147483648.0
    }
  }

  val LshSeed = 7L
  val LshBands = 8
  val LshRowsPerBand = 4
  val EmbDim = 64

  /** Bucket-granularity sizing for [[lshCosinePairs]] — the ONE knob that
    * must track corpus size: buckets-per-band is 2^rowsPerBand, so at a
    * fixed r the expected bucket occupancy (and with it the within-bucket
    * candidate join) grows quadratically with n. Pick r so that
    * 2^r ≈ n / targetPerBucket. Measured on the real 10× corpus
    * (PERFORMANCE.md, Round 5, "Real 10× corpus"): r=4 22-25 s, r=8
    * ~3 s at 20k vectors, candidate-driven — the cost stands even when
    * the verified pair output is EMPTY. Raising r tightens per-band precision, so recall
    * at a given threshold is restored by raising `bands` alongside
    * (the standard AND-OR tradeoff); the correctness gates pin (r=4, b=8)
    * for the 2k-vector base corpus. */
  def lshRowsPerBandFor(n: Long, targetPerBucket: Int = 64): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetPerBucket)) / math.log(2.0)).toInt
    math.max(LshRowsPerBand, math.min(24, needed))
  }

  /** Density-adaptive (rowsPerBand, bands) — the occupancy-SAMPLED
    * refinement of [[lshRowsPerBandFor]]'s uniform rule, recall-aware:
    * real corpora cluster, so bucket occupancy (and with it candidate
    * volume) is skewed far above the n/2^r uniform estimate, but raising
    * r alone collapses recall (per-band collision prob is p1^r with
    * p1 = 1 − arccos(t)/π — measured on the 10× corpus, r 4→11 at fixed
    * b=8 dropped verified pairs 13,440 → 1,290). So the pick is JOINT:
    * for each r, the bands needed to hold `recallTarget` at the threshold
    * is b(r) = ln(1−recall)/ln(1−p1^r) (the standard AND-OR identity),
    * and the estimated candidate volume is b(r) × Σ_b C(c_b,2) × (n/s)²
    * from a bounded deterministic sample (`sampleSize` vectors,
    * driver-side, ~1 MB at dim 64) keyed by the SAME seeded planes the
    * operator will use — the sample's own skew carries into the estimate.
    * Returns the (r, b) minimizing estimated volume with minBands ≤ b ≤
    * `maxBands` (past which hashing cost dominates and deeper r stops
    * paying).
    *
    * `recallTarget` defaults to 0.7 — the MEASURED recall of the pinned
    * (r=4, b=8) config at the default threshold 0.35 — so a corpus growing
    * past the 2×sampleSize cutover keeps the same expected recall under
    * identical calls instead of silently dropping to a lower target; the
    * cutover changes candidate volume (and wall-clock), never the recall
    * contract.
    *
    * Cost: one count + one bounded collect + O(sampleSize·r·dim) driver
    * arithmetic — negligible against the pair join it sizes. The oracle
    * gates pin (r=4, b=8) and never take this path. */
  def lshPickParams(emb: DataFrame, threshold: Double = 0.35,
      recallTarget: Double = 0.7, maxBands: Int = 64, seed: Long = LshSeed,
      dim: Int = EmbDim, sampleSize: Int = 2048,
      minBands: Int = LshBands): (Int, Int) = {
    val n = emb.count()
    if (n <= sampleSize * 2) return (LshRowsPerBand, math.max(minBands, LshBands))
    val m = math.max(1L, n / sampleSize)
    val sample = emb
      .filter(pmod(xxhash64(lit(seed), col("vec_id")), lit(m)) === 0)
      .select(col("embedding")).collect()
      .map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    val s = sample.length.toLong
    if (s < 32) return (lshRowsPerBandFor(n), math.max(minBands, LshBands))
    val p1 = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val scale = (n.toDouble / s) * (n.toDouble / s)
    var best = (LshRowsPerBand, math.max(minBands, LshBands))
    var bestCost = Double.MaxValue
    var r = LshRowsPerBand
    while (r <= 16) {
      val bNeeded = math.ceil(
        math.log(1.0 - recallTarget) / math.log(1.0 - math.pow(p1, r))).toInt
      if (bNeeded <= maxBands) {
        val b = math.max(math.max(minBands, LshBands), bNeeded)
        val planes = randomPlanes(seed, b * r, dim)
        val occ = new java.util.HashMap[Int, Long]()
        sample.foreach { v =>
          var key = 0
          var j = 0
          while (j < r) {
            val p = planes(j)
            var d = 0.0
            var i = 0
            while (i < math.min(dim, v.length)) { d += p(i) * v(i); i += 1 }
            if (d > 0) key |= 1 << j
            j += 1
          }
          occ.merge(key, 1L, _ + _)
        }
        var pairs = 0.0
        occ.values.forEach(c => pairs += c.toDouble * (c - 1) / 2)
        val cost = pairs * scale * b
        if (cost < bestCost) { bestCost = cost; best = (r, b) }
      }
      r += 1
    }
    best
  }

  /** Banded SRP-LSH near-neighbor pairs (the scale path for similarity
    * search): `bands`×`rowsPerBand` seeded random hyperplanes; a vector's
    * key in band t is the `rowsPerBand` sign bits of that band's planes;
    * candidates are pairs sharing a (band, key) bucket — the standard
    * AND-OR construction (AND within a band for precision, OR across
    * bands for recall), the same shape as the MinHash band join.
    *
    * Scale shape: the band explode carries only (vec_id, band, key); the
    * bucket join and the pair-dedup shuffle never move embeddings. Exact
    * cosines are computed once per distinct candidate pair by joining the
    * embedding table back on each side. No O(n²) stage anywhere.
    *
    * `rowsPerBand = 0` (the default) picks BOTH r and the band count
    * density-adaptively via [[lshPickParams]] — the passed `bands` is the
    * FLOOR of the pick (and raises its cap when above it), so an explicit
    * bands argument is never silently ignored. On corpora small enough to
    * brute the sample (≤2× the sample size) the pick resolves to
    * ([[LshRowsPerBand]], max(bands, [[LshBands]])), so the oracle gates
    * (which also pin r explicitly) see identical plans; at scale the
    * knobs track measured occupancy and the threshold's AND-OR recall
    * identity instead of constants. */
  def lshCosinePairs(emb: DataFrame, bands: Int = LshBands,
      rowsPerBand: Int = 0, threshold: Double = 0.35,
      seed: Long = LshSeed, dim: Int = EmbDim): DataFrame = {
    val (r, b) = if (rowsPerBand > 0) (rowsPerBand, bands)
      else lshPickParams(emb, threshold, seed = seed, dim = dim,
        minBands = bands, maxBands = math.max(bands, 64))
    val planes = randomPlanes(seed, b * r, dim)
    def bandKey(t: Int): Column =
      (0 until r).map { j =>
        when(dotProduct(typedLit(planes(t * r + j).toSeq),
          col("embedding")) > 0d, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ + _)

    val keyed = emb.select(col("vec_id"),
      explode(array((0 until b).map(t =>
        struct(lit(t).as("band"), bandKey(t).as("key"))): _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = keyed.select(col("band"), col("key"), col("vec_id").as("id_a"))
      .join(keyed.select(col("band"), col("key"), col("vec_id").as("id_b")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    val withNorm = emb.withColumn("norm", norm(col("embedding")))
    cand
      .join(withNorm.select(col("vec_id").as("id_a"), col("embedding").as("q_emb"),
        col("norm").as("norm_a")), Seq("id_a"))
      .join(withNorm.select(col("vec_id").as("id_b"), col("embedding"),
        col("norm").as("norm_b")), Seq("id_b"))
      .withColumn("sim", dotProduct(col("q_emb"), col("embedding")) / (col("norm_a") * col("norm_b")))
      .filter(round(col("sim"), 6) >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** IVF (inverted-file) approximate top-k — the centroid-bucketed scale
    * path for similarity search, complementing [[lshCosinePairs]]:
    *
    *  1. "train": pick `nCentroids` vectors as centroids — the ids with
    *     the smallest md5("seed:vec_id") (a portable deterministic sample;
    *     production would run k-means, which only changes this step);
    *     centroids are collected to the driver (C×dim doubles — tiny at
    *     any scale) and folded into plan-time literals;
    *  2. assign: every vector goes to its max-cosine centroid — one
    *     narrow pass, no shuffle (centroids are literals);
    *  3. probe: each query scans only the `nProbe` buckets whose
    *     centroids are closest to it, so the exact-cosine work drops from
    *     O(n·q) to O(n·q·nProbe/C) — the candidate join shuffles on the
    *     bucket id, embeddings never fan out.
    *
    * Ties everywhere break by id; sims compare 6-decimal-rounded — both
    * pinned so any engine reproduces the same buckets and ranks. */
  /** `nCentroids = 0` (the default) applies [[centroidsForCorpus]] —
    * FAISS-posture nlist tracking the corpus; past [[LiteralAssignCap]]
    * both the corpus assignment and the query probe ride the broadcast
    * centroid table. At the oracle-gate corpus it resolves to the pinned
    * 16 (gates also pin it explicitly). */
  def ivfCosineTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nCentroids: Int = 0, nProbe: Int = 4, seed: Long = LshSeed): DataFrame = {
    val c = if (nCentroids > 0) nCentroids else centroidsForCorpus(emb.count())
    probeTopK(emb, centroidVectors(emb, c, seed), nQueries, k, nProbe)
  }

  /** IVF with Lloyd-refined centroids ([[kmeansCentroids]]) — closes the
    * "production would run k-means" caveat of [[ivfCosineTopK]]'s sampled
    * training while keeping the identical probe plan. */
  def ivfKmeansTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nCentroids: Int = 0, nProbe: Int = 4, iters: Int = 2,
      seed: Long = LshSeed): DataFrame = {
    val c = if (nCentroids > 0) nCentroids else centroidsForCorpus(emb.count())
    probeTopK(emb, kmeansCentroids(emb, c, iters, seed), nQueries, k, nProbe)
  }

  /** argmax over centroid cosines via array_max on (rounded sim, -cid)
    * structs: lexicographic struct comparison gives max sim with ties to
    * the LOWEST cid, in a linear-size expression (a when-chain fold here
    * re-embeds the accumulator per level — exponential codegen).
    * cosine = dot / (vec_norm * centroid_norm) — the dot's summation
    * order is pinned (ascending), the norms' multiplication order is
    * irrelevant (IEEE multiplication commutes), so any engine derives
    * identical buckets. Expects a `norm` column on the input. */
  private[graft] def bestCentroidExpr(centroids: Seq[(Long, Array[Double], Double)]): Column = {
    val scored = centroids.map { case (cid, vec, cn) =>
      struct(round(dotProduct(typedLit(vec.toSeq), col("embedding")) /
        (col("norm") * cn), 6).as("sim"), lit(-cid).as("negCid"))
    }
    -array_max(array(scored: _*)).getField("negCid")
  }

  /** How many centroids ride the plan as an [[bestCentroidExpr]] literal
    * argmax before assignment switches to the broadcast-join shape —
    * array_max over k structs is codegen-flat but plan SIZE is O(k·dim)
    * literals, and the raw-sim recovery when-chain nests k deep (past
    * ~64 levels codegen falls back to interpreted eval: measured at 10×,
    * k=156 literal 27.6 s vs join 18.2 s for the same semanticDedup). */
  val LiteralAssignCap = 64

  /** Join-based centroid assignment — the production shape past
    * [[LiteralAssignCap]]: centroids as a broadcast TABLE, one cosine per
    * (vector, centroid) row via a broadcast nested-loop join, argmax per
    * vector under the same (6-dec rounding, ties to lowest cid) rule as
    * [[bestCentroidExpr]] — output-identical (spec-asserted), but the
    * plan stays O(1) in k, so `centroidsForCorpus` can track the corpus
    * into the thousands (FAISS-posture nlist) without exploding plan
    * serialization or codegen. Emits (vec_id, bucket, __rsim) where
    * `__rsim` is the winner's RAW cosine. */
  private[pipeline] def assignByJoin(emb: DataFrame,
      centroids: Seq[(Long, Array[Double], Double)]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centDf = centroids.map { case (cid, v, cn) => (cid, v.toSeq, cn) }
      .toDF("__cid", "__cvec", "__cnorm")
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("norm", norm(col("embedding")))
      .crossJoin(broadcast(centDf))
      .withColumn("__sim", dotProduct(col("__cvec"), col("embedding")) /
        (col("norm") * col("__cnorm")))
      .groupBy("vec_id")
      .agg(max_by(
        struct(col("__cid").as("bucket"), col("__sim").as("__rsim")),
        struct(round(col("__sim"), 6).as("s"), (-col("__cid")).as("nc"))).as("w"))
      .select(col("vec_id"), col("w.bucket").as("bucket"),
        col("w.__rsim").as("__rsim"))
  }

  /** per query: rank centroids by cosine (6-dec rounding, ties to lowest
    * cid — the same rule everywhere), keep the nProbe closest buckets.
    * Expects (query_id, q_emb, q_norm); emits one row per probed bucket.
    * Past [[LiteralAssignCap]] the centroid explode rides a broadcast
    * centroid TABLE instead of plan literals (same rank rule, O(1) plan
    * size at any nlist). */
  private[pipeline] def probeBuckets(queries: DataFrame,
      centroids: Seq[(Long, Array[Double], Double)], nProbe: Int): DataFrame = {
    val scored =
      if (centroids.size > LiteralAssignCap) {
        val spark = queries.sparkSession
        import spark.implicits._
        val centDf = centroids.map { case (cid, v, cn) => (cid, v.toSeq, cn) }
          .toDF("bucket", "__cvec", "__cnorm")
        queries.crossJoin(broadcast(centDf))
          .withColumn("csim", dotProduct(col("__cvec"), col("q_emb")) /
            (col("q_norm") * col("__cnorm")))
          .select(col("query_id"), col("q_emb"), col("q_norm"),
            col("bucket"), col("csim"))
      } else
        queries.select(col("query_id"), col("q_emb"), col("q_norm"),
          explode(array(centroids.map { case (cid, vec, n) =>
            struct(lit(cid).as("bucket"),
              (dotProduct(typedLit(vec.toSeq), col("q_emb")) / (col("q_norm") * n)).as("csim"))
          }: _*)).as("p"))
          .select(col("query_id"), col("q_emb"), col("q_norm"),
            col("p.bucket").as("bucket"), col("p.csim").as("csim"))
    scored
      .withColumn("prk", row_number().over(
        Window.partitionBy("query_id").orderBy(round(col("csim"), 6).desc, col("bucket"))))
      .filter(col("prk") <= nProbe)
      .select("query_id", "q_emb", "q_norm", "bucket")
  }

  private def probeTopK(emb: DataFrame, centroids: Seq[(Long, Array[Double], Double)],
      nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    val withNorm = emb.withColumn("norm", norm(col("embedding")))
    val assigned =
      if (centroids.size > LiteralAssignCap)
        withNorm.join(assignByJoin(emb, centroids).select("vec_id", "bucket"),
          Seq("vec_id"))
      else withNorm.withColumn("bucket", bestCentroidExpr(centroids))

    val queries = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("norm").as("q_norm"))
    val probes = probeBuckets(queries, centroids, nProbe)

    val cand = probes.join(assigned, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", dotProduct(col("q_emb"), col("embedding")) /
        (col("norm") * col("q_norm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("sim"), 6).desc, col("vec_id"))
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("sim"), 4).as("sim"), col("rk").cast("long").as("rk"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, find
    * near-duplicate pairs ONLY within clusters, contract them into
    * groups, and keep one representative per group — the member with the
    * LOWEST cosine to its cluster centroid (SemDeDup's diversity rule:
    * edge examples survive, redundant center mass is dropped). This is
    * the embedding-space analog of MinHash dedup for paraphrase-level
    * redundancy that token shingles cannot see.
    *
    * Scale shape: the centroid assignment is a narrow pass over plan-time
    * centroid literals (no shuffle); the pair join shuffles on the bucket
    * id so the quadratic is PER CLUSTER — production scales nCentroids
    * with the corpus (FAISS posture) to hold cluster size constant, which
    * is exactly the knob exposed here. The CC contraction runs on the
    * near-dup edge set (pair-sized, not corpus-sized).
    *
    * Determinism: assignment ties and rank ties break by id; sims compare
    * 6-dec-rounded; the keep rule ranks by round(sim, 6) and emits
    * round(sim, 4) — both from the raw value. */
  /** every vector with its assigned bucket and the RAW cosine to that
    * centroid (`__rsim`): bucket via the shared rounded argmax, then a
    * linear when-chain recovers the unrounded sim for the winning cid —
    * shared by [[semanticDedup]] and [[embeddingOutliers]] */
  private def assignWithCentroidSim(emb: DataFrame,
      cents: Seq[(Long, Array[Double], Double)]): DataFrame = {
    if (cents.size > LiteralAssignCap)
      return emb.withColumn("norm", norm(col("embedding")))
        .join(assignByJoin(emb, cents), Seq("vec_id"))
    val rawSim = cents.foldLeft(lit(null).cast("double")) {
      case (acc, (cid, vec, cn)) =>
        when(col("bucket") === cid,
          dotProduct(typedLit(vec.toSeq), col("embedding")) / (col("norm") * cn))
          .otherwise(acc)
    }
    emb.withColumn("norm", norm(col("embedding")))
      .withColumn("bucket", bestCentroidExpr(cents))
      .withColumn("__rsim", rawSim)
  }

  /** FAISS-posture centroid sizing: hold the EXPECTED CLUSTER SIZE
    * constant as the corpus grows (k ≈ n / targetPerCluster), because the
    * within-cluster pair join is quadratic in cluster size — a fixed k
    * makes SemDeDup's per-cluster cost grow as (n/k)². Assignment rides
    * plan literals up to [[LiteralAssignCap]] centroids and the
    * broadcast-join shape ([[assignByJoin]]) beyond it, so `maxK` is
    * bounded only by what a k×dim centroid table can broadcast
    * (4096 × 64 doubles ≈ 2 MB — far under any broadcast limit). */
  def centroidsForCorpus(n: Long, targetPerCluster: Int = 128,
      minK: Int = 16, maxK: Int = 4096): Int =
    math.max(minK, math.min(maxK.toLong,
      n / math.max(1, targetPerCluster)).toInt)

  /** `nCentroids = 0` (the default) applies [[centroidsForCorpus]] — at
    * the oracle-gate corpus (2k vectors) that resolves to the pinned 16,
    * so gates (which also pin k explicitly) see identical plans; at scale
    * k tracks the corpus and per-cluster cost stays flat. */
  def semanticDedup(emb: DataFrame, threshold: Double = 0.45,
      nCentroids: Int = 0, iters: Int = 2, seed: Long = LshSeed): DataFrame = {
    val k = if (nCentroids > 0) nCentroids else centroidsForCorpus(emb.count())
    val cents = kmeansCentroids(emb, k, iters, seed)
    val assigned = assignWithCentroidSim(emb, cents).localCheckpoint()
    val a = assigned.select(col("bucket"), col("vec_id").as("id_a"),
      col("embedding").as("ea"), col("norm").as("na"))
    val b = assigned.select(col("bucket"), col("vec_id").as("id_b"),
      col("embedding").as("eb"), col("norm").as("nb"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(dotProduct(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
        >= threshold)
      .select("id_a", "id_b")
    val groups = ConnectedComponents.clusters(pairs, aCol = "id_a", bCol = "id_b")
      .withColumnRenamed("doc_id", "vec_id").withColumnRenamed("cluster_id", "__cc")
    val w = Window.partitionBy("group_id")
      .orderBy(round(col("__rsim"), 6).asc, col("vec_id").asc)
    assigned.join(groups, Seq("vec_id"), "left")
      .withColumn("group_id", coalesce(col("__cc"), col("vec_id")))
      .withColumn("__rk", row_number().over(w))
      .select(col("vec_id"), col("bucket").as("cent_id"),
        round(col("__rsim"), 4).as("cent_sim"), col("group_id"),
        (col("__rk") === 1).as("keep"))
  }

  /** Embedding-space outlier flagging — the data-quality sweep that
    * catches encoding junk, wrong-modality payloads and adversarial
    * noise BEFORE they poison training: a vector whose cosine to its own
    * (nearest) k-means centroid falls below the corpus's q-th percentile
    * sits far from every density mass and is flagged. Centroid
    * assignment is the same narrow literal pass as the IVF index, the
    * cutoff is one interpolated percentile over the sim column
    * (engine-exact, the q_percentile discipline), and the verdict is a
    * pure per-row comparison — no shuffle beyond the percentile agg.
    * Production keeps the flag as a column and filters downstream, which
    * is exactly the emitted shape. */
  def embeddingOutliers(emb: DataFrame, q: Double = 0.05,
      nCentroids: Int = 16, iters: Int = 2, seed: Long = LshSeed): DataFrame = {
    val cents = kmeansCentroids(emb, nCentroids, iters, seed)
    val assigned = assignWithCentroidSim(emb, cents).localCheckpoint()
    val cut = assigned.agg(expr(s"percentile(__rsim, $q)")).head().getDouble(0)
    assigned.select(col("vec_id"), col("bucket").as("cent_id"),
      round(col("__rsim"), 4).as("cent_sim"),
      round(lit(cut), 6).as("cutoff6"),
      (col("__rsim") < cut).as("is_outlier"))
  }

  /** Recall@k of the k-means IVF index against exact brute force — the
    * "measure, don't guess" gate for the approximate path: per query, the
    * fraction of the true top-k that the probed search returns. Tuning
    * nProbe/nCentroids without this number is blind; at scale this runs on
    * a query sample while the index serves the full corpus.
    *
    * Shape: both sides end as tiny (nQueries·k)-row frames, so the hit
    * join and the per-query rollup are negligible next to the two scans
    * that produce them; nothing here adds a corpus-sized stage. */
  def recallAtK(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame =
    recallVs(emb, ivfKmeansTopK(emb, nQueries, k, nCentroids = 16), nQueries, k)

  /** Recall@k of ANY approximate top-k result against exact brute force —
    * the same rollup as [[recallAtK]] with the approximate side supplied
    * by the caller (e.g. `Quantization.ivfAdcTopK`, where probe loss AND
    * quantization distortion both eat into recall — the number a
    * production tuner actually watches when sizing nProbe/m/kc). */
  def recallVs(emb: DataFrame, approxTopK: DataFrame,
      nQueries: Int = 10, k: Int = 5): DataFrame = {
    val exact = bruteCosineTopK(emb, nQueries, k).select("query_id", "neighbor_id")
    val approx = approxTopK.select("query_id", "neighbor_id")
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)).cast("double") / k, 4).as("recall"))
  }

  /** the IVF "training" collect: (vec_id, embedding as doubles, norm) of
    * the `n` ids with the smallest md5("seed:vec_id"), id-ascending */
  private def centroidVectors(emb: DataFrame, n: Int, seed: Long): Seq[(Long, Array[Double], Double)] =
    emb.select(col("vec_id"), col("embedding"))
      .withColumn("__k", md5(concat(lit(s"$seed:"), col("vec_id"))))
      .orderBy("__k").limit(n)
      .collect()
      .map { r =>
        val vec = r.getSeq[Float](1).map(_.toDouble).toArray
        val nm = math.sqrt(vec.foldLeft(0.0)((s, x) => s + x * x))
        (r.getLong(0), vec, nm)
      }
      .sortBy(_._1).toSeq

  /** Deterministic spherical k-means: the md5-sampled [[centroidVectors]]
    * init, refined by `iters` Lloyd steps — assign every training vector
    * to its max-cosine centroid (6-decimal rounding, tie to lowest cid,
    * same rule as the probe), then move each centroid to the elementwise
    * MEAN of its bucket. Empty buckets keep their previous position.
    * Centroid ids stay the init sample's vec_ids.
    *
    * Determinism is the whole trick: float addition doesn't commute
    * across partitions, so the bucket means fold the member embeddings
    * in ASCENDING vec_id order (`sort_array(collect_list(...))` + an
    * ordered `aggregate` fold per dimension) — any engine replaying the
    * same order (the DuckDB oracle does: `list(... ORDER BY vec_id)` +
    * `list_sum`) reproduces the centroids bit-for-bit.
    *
    * Scale: `trainCap` bounds the training set (md5-ranked sample —
    * FAISS-style practice: IVF trains on a bounded sample, then the full
    * corpus is assigned distributedly); per-iteration driver traffic is
    * one k×dim collect. The per-bucket ordered fold keeps ≤ trainCap/k
    * expected vectors in one aggregation buffer. */
  def kmeansCentroids(emb: DataFrame, n: Int = 16, iters: Int = 2,
      seed: Long = LshSeed, trainCap: Int = 100000,
      dim: Int = 0): Seq[(Long, Array[Double], Double)] = {
    val dimCols =
      if (dim > 0) dim else emb.select(col("embedding")).head().getSeq[Float](0).length
    val train = emb.select(col("vec_id"), col("embedding"))
      .withColumn("__k", md5(concat(lit(s"$seed:"), col("vec_id"))))
      .orderBy("__k").limit(trainCap)
      .withColumn("norm", norm(col("embedding"))).cache()
    try {
      // the n-centroid init is the PREFIX of the same md5-ranked order the
      // training sample uses (n <= trainCap) — one sort job materializes
      // both; values identical to [[centroidVectors]]
      var cents: Seq[(Long, Array[Double], Double)] =
        train.limit(n).select(col("vec_id"), col("embedding")).collect()
          .map { r =>
            val vec = r.getSeq[Float](1).map(_.toDouble).toArray
            val nm = math.sqrt(vec.foldLeft(0.0)((s, x) => s + x * x))
            (r.getLong(0), vec, nm)
          }.sortBy(_._1).toSeq
      for (_ <- 0 until iters) {
        // past the literal cap the Lloyd assignment rides the broadcast
        // join too (same argmax rule, O(1)-size plan at any k)
        val assignedTrain =
          if (cents.size > LiteralAssignCap)
            train.join(assignByJoin(train, cents).select("vec_id", "bucket"),
              Seq("vec_id"))
          else train.withColumn("bucket", bestCentroidExpr(cents))
        val means = assignedTrain
          .groupBy("bucket")
          .agg(count(lit(1)).as("cnt"),
            sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("vs"))
          .select(col("bucket"), expr(
            s"""transform(sequence(0, ${dimCols - 1}), d ->
               |  aggregate(vs, cast(0 as double), (acc, v) -> acc + cast(v.embedding[d] as double)) / cnt)"""
              .stripMargin).as("mean"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
          .toMap
        cents = cents.map { case (cid, oldVec, _) =>
          val vec = means.getOrElse(cid, oldVec)
          (cid, vec, math.sqrt(vec.foldLeft(0.0)((s, x) => s + x * x)))
        }
      }
      cents
    } finally { train.unpersist(); () }
  }

  /** DuckDB SQL for the band keys of [[lshCosinePairs]] — generated from
    * the SAME plane constants, with the same left-to-right summation
    * order, so both engines compute bit-identical keys. Returns the
    * per-band key expressions over a relation exposing `embedding`. */
  def lshBandKeySql(bands: Int = LshBands, rowsPerBand: Int = LshRowsPerBand,
      seed: Long = LshSeed, dim: Int = EmbDim): Seq[String] = {
    val planes = randomPlanes(seed, bands * rowsPerBand, dim)
    def dotSql(cs: Array[Double]): String =
      cs.zipWithIndex.map { case (c, i) => s"($c * embedding[${i + 1}]::DOUBLE)" }
        .mkString(" + ")
    (0 until bands).map { t =>
      (0 until rowsPerBand).map { j =>
        s"(CASE WHEN ${dotSql(planes(t * rowsPerBand + j))} > 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
    }
  }
}
