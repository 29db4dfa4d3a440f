package graft.pipeline

import graft.mql.SparkTestBase
import org.apache.spark.sql.functions._

/** Cross-validation of the dedup/similarity operators against each other
  * and against brute force, on sf0.001. */
class PipelineSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  private lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  test("exact dedup flags nothing on distinct texts, everything on clones") {
    assert(Dedup.exact(docs).filter(col("is_dup")).count() == 0)
    val cloned = docs.union(docs.withColumn("doc_id", col("doc_id") + 10000))
    assert(Dedup.exact(cloned).filter(col("is_dup")).count() == docs.count())
  }

  test("minhash candidate pairs are a subset of exact jaccard pairs") {
    val exact = Dedup.jaccardPairs(docs, 0.5).select("doc_a", "doc_b")
    val mh = Dedup.minhashPairs(docs, threshold = 0.5).select("doc_a", "doc_b")
    assert(mh.join(exact, Seq("doc_a", "doc_b"), "left_anti").count() == 0)
    // and on this corpus banding keeps decent recall of the planted dups
    val nExact = exact.count()
    val nMh = mh.count()
    assert(nExact > 0 && nMh >= nExact / 2, s"recall too low: $nMh of $nExact")
  }

  test("bandedKeys rows equal the slot-by-slot banding of the signature") {
    import spark.implicits._
    val fixed = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy cat",
      3L -> "a completely different sentence with its own words",
      4L -> "too short").toDF("doc_id", "text")
    val sh = Dedup.shinglesUncached(fixed).select("doc_id", "shingles")
    for ((numHashes, bands) <- Seq((8, 4), (16, 8), (9, 3))) {
      val r = numHashes / bands
      val got = Dedup.bandedKeys(sh, numHashes, bands)
        .select(col("doc_id"), col("band"), col("bkey")).collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getString(2))).toSeq.sorted
      // the lambda formulation bandedKeys used before band keys became
      // one column function
      val want = sh.select(col("doc_id"),
          graft.functions.MinHashExpr.minhash(col("shingles"), numHashes).as("sig"))
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), b -> concat_ws(',', " +
            s"transform(sequence($r * b, $r * b + ${r - 1}), i -> cast(sig[i] as string))))")))
        .collect().map(x => (x.getLong(0), x.getInt(1), x.getString(2))).toSeq.sorted
      assert(got == want, s"($numHashes, $bands)")
      assert(got.map(_._1).distinct == Seq(1L, 2L, 3L) && got.size == 3 * bands)
    }
  }

  test("jaccard prefix filtering loses no pairs vs brute force") {
    val smart = Dedup.jaccardPairs(docs, 0.5)
    val sh = Dedup.withShingles(docs).select(col("doc_id"), col("shingles"))
    val brute = sh.toDF("doc_a", "sh_a")
      .crossJoin(sh.toDF("doc_b", "sh_b"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jac", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jac") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
    assert(smart.exceptAll(brute).isEmpty && brute.exceptAll(smart).isEmpty)
  }

  test("decontamination flags exactly the docs sharing eval n-grams") {
    import spark.implicits._
    val eval = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      // full 5-gram copy of an eval window -> contaminated
      (1L, "x alpha beta gamma delta epsilon y"),
      // shares only 4-gram windows -> clean at n=5
      (2L, "alpha beta gamma delta OTHER tail words"),
      // no overlap at all
      (3L, "one two three four five six seven"),
      // too short for any 5-gram -> out of scope entirely
      (4L, "tiny doc")).toDF("doc_id", "text")
    val got = Decontam.ngramOverlap(train, eval, n = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("hits"), r.getAs[Boolean]("contaminated"))).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(1L) == ((1L, true)))   // the one shared window 'alpha..epsilon'
    assert(got(2L)._2 == false && got(3L) == ((0L, false)))
  }

  test("fuzzy decontam flags near-duplicates of eval docs, not exact-only overlap") {
    import spark.implicits._
    val eval = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank " +
        "while birds sing in the tall green trees above the quiet meadow")
    ).toDF("doc_id", "text")
    val train = Seq(
      // light edit of the eval doc (last word changed) -> Jaccard ~0.9,
      // well above both the 0.5 gate and the LSH bands' recall knee
      (1L, "the quick brown fox jumps over the lazy dog near the river bank " +
        "while birds sing in the tall green trees above the quiet valley"),
      // shares a couple of shingles only -> below 0.5, clean
      (2L, "the quick brown bear eats honey in the deep forest every day"),
      // nothing in common
      (3L, "completely different text about spark catalyst optimizer rules"),
      // too short for shingles -> out of scope, still reported clean
      (4L, "tiny doc"),
      // the two halves of the eval doc REORDERED: shingle overlap stays
      // high (only splice-point trigrams change) but the longest shared
      // token run is the 13-token first half
      (5L, "while birds sing in the tall green trees above the quiet meadow " +
        "the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    val got = Decontam.fuzzyOverlap(train, eval, threshold = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_matches"), r.getAs[Boolean]("contaminated")))).toMap
    // every train doc keeps its row, including the shingle-less one
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got(1L) == ((1L, true)))
    assert(got(2L) == ((0L, false)))
    assert(got(3L) == ((0L, false)))
    assert(got(4L) == ((0L, false)))
    assert(got(5L) == ((1L, true)))
    // the verified score is the exact shingle Jaccard of the edited pair
    val jac = Decontam.fuzzyOverlap(train, eval, threshold = 0.5)
      .filter(col("doc_id") === 1L).head().getAs[Double]("max_jac")
    assert(jac > 0.5 && jac < 1.0)
    // fuzzy catches what exact n-gram decontam (GPT-3 posture, large n)
    // misses: the reordered doc shares NO 14-token window with eval
    val exact14 = Decontam.ngramOverlap(train, eval, n = 14)
      .filter(col("doc_id") === 5L).head().getAs[Boolean]("contaminated")
    assert(!exact14)
  }

  test("full pipeline drops eval-overlapping docs and packs survivors") {
    val eval = docs.filter(col("doc_id") % 37 === 0)
    val out = CorpusClean.pipeline(docs, eval)
    assert(out.count() > 0)
    // the eval docs trivially self-overlap -> decontaminated away
    assert(out.join(eval, Seq("doc_id"), "left_semi").count() == 0)
    // survivors are a subset of the plain clean() output
    assert(out.join(CorpusClean.clean(docs), Seq("doc_id"), "left_anti").count() == 0)
    // packing starts at bin 0 in every source shard
    assert(out.groupBy("source").agg(min("bin").as("m"))
      .filter(col("m") =!= 0).count() == 0)
  }

  test("greedy packing fills token-budget bins per source in id order") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c", "s1"),   // 3 tokens, cum_before 0 -> bin 0
      (2L, "d e f g", "s1"), // cum_before 3 -> bin 0
      (3L, "h i", "s1"),     // cum_before 7 -> bin 1 (budget 5)
      (4L, "j k l m n o", "s2")) // other shard packs independently: bin 0
      .toDF("doc_id", "text", "source")
    val got = Packing.greedyPack(df, budget = 5).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bin")).toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 0L))
  }

  test("decontam broadcasts the eval side; repetition plans join-free") {
    val plan = Decontam.ngramOverlap(
      docs.filter(col("doc_id") % 37 =!= 0),
      docs.filter(col("doc_id") % 37 === 0))
      .queryExecution.executedPlan.toString
    // benchmark n-grams must never drive a shuffle join of the corpus
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"))
    val rep = TextAnalysis.repetition(docs).queryExecution.executedPlan.toString
    assert(!rep.contains("Join"))
  }

  test("repetition stats match a hand-computed profile") {
    import spark.implicits._
    // "a b a b a": tokens=5 uniq=2/5; bigrams: ab,ba,ab,ba -> top=2/4, all repeat
    val df = Seq((1L, "a b a b a"), (2L, "w x y z")).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_tokens") == 5)
    assert(got(1L).getAs[Double]("uniq_ratio") == 0.4)
    assert(got(1L).getAs[Double]("top_bigram_frac") == 0.5)
    assert(got(1L).getAs[Double]("dup_bigram_frac") == 1.0)
    // all-distinct text: top bigram covers 1/3, nothing repeats
    assert(got(2L).getAs[Double]("dup_bigram_frac") == 0.0)
    assert(got(2L).getAs[Double]("uniq_ratio") == 1.0)
  }

  test("duplicated spans: shared 8-token windows flagged, unique text clean") {
    import spark.implicits._
    // doc 1 and 2 share a 10-token prefix (3 duplicated 8-windows each);
    // doc 3 is unique; doc 4 is too short to have any window
    val shared = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
    val df = Seq(
      (1L, s"$shared u1 u2"), (2L, s"$shared v1 v2 v3"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),
      (4L, "x1 x2 x3")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!got.contains(4L)) // no 8-token window
    assert(got(1L).getAs[Long]("n_windows") == 5 &&
      got(1L).getAs[Long]("dup_windows") == 3)
    assert(got(2L).getAs[Long]("dup_windows") == 3)
    assert(got(3L).getAs[Long]("dup_windows") == 0 &&
      got(3L).getAs[Double]("dup_frac") == 0.0)
    // within-doc repeat counts too: the same window twice in one doc
    val selfRep = Seq((9L, s"$shared z $shared")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(selfRep).head().getAs[Long]("dup_windows") >= 6)
  }

  test("top n-grams: counts, doc frequency and deterministic tie ranking") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c a b c"), // "a b c" x2, "b c a", "c a b"
      (2L, "a b c d"), (3L, "z z")).toDF("doc_id", "text")
    val got = TextAnalysis.topNgrams(df, n = 3, k = 10).collect()
    val byGram = got.map(r => r.getAs[String]("gram") -> r).toMap
    assert(byGram("a b c").getAs[Long]("occ") == 3 &&
      byGram("a b c").getAs[Long]("n_docs") == 2)
    assert(byGram("a b c").getAs[Long]("rk") == 1)
    assert(!byGram.contains("z z")) // doc 3 has no trigram
    // ties (occ=1) rank by gram ascending
    val ties = got.filter(_.getAs[Long]("occ") == 1).sortBy(_.getAs[Long]("rk"))
    assert(ties.map(_.getAs[String]("gram")).toSeq == ties.map(_.getAs[String]("gram")).toSeq.sorted)
  }

  test("strided chunking: counts, lengths and overlap are exact") {
    import spark.implicits._
    // 100 tokens, size 64 / stride 48 -> chunks at 0, 48, 96 with lens 64, 52, 4
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val got = Packing.chunk(Seq((1L, text)).toDF("doc_id", "text"))
      .orderBy("chunk_idx").collect()
    assert(got.map(_.getAs[Long]("chunk_idx")).toSeq == Seq(0L, 1L, 2L))
    assert(got.map(_.getAs[Long]("chunk_len")).toSeq == Seq(64L, 52L, 4L))
    // overlap: chunk 1 starts at token 49 (1-based), so chunks 0 and 1
    // share tokens 49..64 — verify via recomputed fingerprints
    val toks = text.toLowerCase.split(" ")
    def fp(from: Int, n: Int) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(toks.slice(from, from + n).mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    assert(got(0).getAs[String]("chunk_fp") == fp(0, 64))
    assert(got(2).getAs[String]("chunk_fp") == fp(96, 4))
    // a doc shorter than one stride still yields its single short chunk
    val short = Packing.chunk(Seq((2L, "a b c")).toDF("doc_id", "text")).collect()
    assert(short.length == 1 && short.head.getAs[Long]("chunk_len") == 3)
  }

  test("tf-idf top terms: corpus-wide terms score zero, rare terms rank first") {
    import spark.implicits._
    // "common" is in every doc (idf = 0); each doc has one unique term
    val df = Seq(
      (1L, "common rare1 rare1 filler"),
      (2L, "common rare2 filler filler"),
      (3L, "common filler filler filler")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(df).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(got(1L).minBy(_.getAs[Long]("rk")).getAs[String]("term") == "rare1")
    assert(got(2L).minBy(_.getAs[Long]("rk")).getAs[String]("term") == "rare2")
    val common = got(1L).find(_.getAs[String]("term") == "common")
    assert(common.forall(_.getAs[Double]("tfidf") == 0.0))
    // every doc gets at most k rows, ranks are 1..k without gaps
    got.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("recall@k is 1.0 when probes cover everything, in [0,1] on real data") {
    val r = Similarity.recallAtK(emb).collect()
    assert(r.length == 10)
    assert(r.forall { row =>
      val rec = row.getAs[Double]("recall")
      rec >= 0.0 && rec <= 1.0 &&
        rec == row.getAs[Long]("hits").toDouble / 5
    })
    // with nProbe = nCentroids the probed search IS brute force
    val full = Similarity.ivfKmeansTopK(emb, nProbe = 16)
      .select("query_id", "neighbor_id")
    val exact = Similarity.bruteCosineTopK(emb).select("query_id", "neighbor_id")
    assert(exact.exceptAll(full).count() == 0)
  }

  test("connected components: chains collapse to the component minimum") {
    import spark.implicits._
    // component {1,2,3} as a chain 1-2, 2-3 (no 1-3 edge), a separate
    // pair {10,11}, and the greedy-pair-drop counterexample: 5-9, 7-9 —
    // 7 is minimal among ITS pair partners but not its component's min,
    // so round-3's greedy keep-lowest would have kept {5, 7}; CC keeps
    // only 5
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 9L), (7L, 9L))
      .toDF("doc_a", "doc_b")
    val got = ConnectedComponents.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 5L -> 5L, 9L -> 5L, 7L -> 5L))
    // empty pair set ⇒ empty clustering (no iteration blow-up)
    assert(ConnectedComponents.clusters(pairs.limit(0)).count() == 0)
    // a long path (worst case for naive label propagation) still
    // converges to one cluster within the round bound
    val path = (0L until 64L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_a", "doc_b")
    val labels = ConnectedComponents.clusters(path).select("cluster_id")
      .distinct().collect().map(_.getLong(0))
    assert(labels.toSeq == Seq(0L))
  }

  test("keepBest keeps the highest-quality cluster member, not the lowest id") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank " +
      "while birds sing in the tall green trees above the quiet meadow"
    val corpus = Seq(
      // doc 1: a TRUNCATED copy (two words lost -> fewer tokens, lower
      // quality under the length-capped score) with the LOWEST id
      (1L, base.split(' ').dropRight(2).mkString(" ")),
      // doc 2: the pristine copy -> highest quality, must win despite id
      (2L, base),
      // doc 3: another truncated near-dup
      (3L, base.split(' ').dropRight(1).mkString(" ")),
      // doc 4: unrelated -> unclustered, absent from output
      (4L, "completely unrelated text about catalyst optimizer rules and joins")
    ).toDF("doc_id", "text")
    val got = CorpusClean.keepBest(corpus)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep")))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), "exactly the clustered docs")
    assert(got.values.map(_._1).toSet.size == 1, "one cluster")
    assert(got(2L)._2, "pristine copy wins on quality")
    assert(!got(1L)._2 && !got(3L)._2)
    // exactly one keeper per cluster
    assert(got.values.count(_._2) == 1)
  }

  test("temperature mix keeps the tail group whole and flattens the head") {
    import spark.implicits._
    // 200 en, 50 zh, 8 ar — alpha=0.5 rates: sqrt(8/200)=0.2, sqrt(8/50)=0.4, 1.0
    val corpus = ((0 until 200).map(i => (i.toLong, "en")) ++
      (200 until 250).map(i => (i.toLong, "zh")) ++
      (250 until 258).map(i => (i.toLong, "ar"))).toDF("doc_id", "lang")
    val kept = Sampling.temperatureMix(corpus, "lang", alpha = 0.5)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("ar") == 8, "smallest group keeps every doc")
    // md5 buckets are uniform-ish: expected 40 of 200 en, 20 of 50 zh
    assert(kept("en") > 20 && kept("en") < 60, s"en kept ${kept("en")}")
    assert(kept("zh") > 10 && kept("zh") < 30, s"zh kept ${kept("zh")}")
    // alpha=1 = natural distribution: nothing dropped
    assert(Sampling.temperatureMix(corpus, "lang", alpha = 1.0).count() == 258)
    // deterministic: same input, same survivors
    val a = Sampling.temperatureMix(corpus, "lang").select("doc_id").collect().map(_.getLong(0)).sorted
    val b = Sampling.temperatureMix(corpus, "lang").select("doc_id").collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b))
  }

  test("shard assignment balances weight and snakes the global order") {
    import spark.implicits._
    // weights 16,15,...,1 over 4 shards: snake gives every shard sum 34
    val corpus = (1 to 16).map(i => (i.toLong, (17 - i).toLong)).toDF("doc_id", "n_chars")
    val got = Packing.shardAssign(corpus, numShards = 4)
    assert(got.count() == 16)
    val sums = got.groupBy("shard").agg(sum("weight").as("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums.keySet == Set(0L, 1L, 2L, 3L))
    assert(sums.values.forall(_ == 34L), s"snake must equalize: $sums")
    // heaviest row (doc 1, weight 16) is rank 0 -> shard 0
    assert(got.filter(col("doc_id") === 1L).head().getAs[Long]("shard") == 0L)
    // rank 4 starts the reversed pass -> shard 3
    assert(got.filter(col("doc_id") === 5L).head().getAs[Long]("shard") == 3L)
    // real corpus: every doc assigned exactly once, shards near-balanced
    val real = Packing.shardAssign(docs, numShards = 8)
    assert(real.count() == docs.count())
    val w = real.groupBy("shard").agg(sum("weight").as("w"))
      .collect().map(_.getLong(1))
    assert(w.length == 8 && w.max - w.min <= w.max / 10,
      s"imbalance too high: min ${w.min} max ${w.max}")
  }

  test("corpus clean drops every non-minimal member of a near-dup component") {
    // pinned to clean()'s own internal banding: auto-sized pairs would be
    // a SUPERSET and flag losers clean() never saw
    val pairs = Dedup.minhashPairs(docs, numHashes = 8, bands = 4, threshold = 0.5)
    val losers = ConnectedComponents.clusters(pairs)
      .filter(col("cluster_id") =!= col("doc_id")).select("doc_id")
    val cleaned = CorpusClean.clean(docs).select("doc_id")
    assert(cleaned.join(losers, Seq("doc_id"), "left_semi").count() == 0,
      "no cluster loser may survive cleaning")
  }

  test("near-duplicate pairs have small simhash hamming distance") {
    val sim = Dedup.simhash(docs)
    val pairs = Dedup.jaccardPairs(docs, 0.7)
      .join(sim.toDF("doc_a", "h_a"), Seq("doc_a"))
      .join(sim.toDF("doc_b", "h_b"), Seq("doc_b"))
      .withColumn("ham", bit_count(expr("h_a ^ h_b")))
    val rows = pairs.select("ham").collect().map(_.getInt(0))
    assert(rows.nonEmpty && rows.forall(_ <= 20),
      s"hamming distances too large: ${rows.mkString(",")}")
  }

  test("LSH pairs are exact-cosine verified and agree with brute force within buckets") {
    val lsh = Similarity.lshCosinePairs(emb, threshold = 0.3)
    // every reported pair really has cosine >= 0.3 (verify independently)
    val withSim = lsh.join(emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b")), Seq("id_b"))
      .withColumn("dot", expr("aggregate(zip_with(e_a, e_b, (a,b) -> cast(a as double)*cast(b as double)), cast(0 as double), (s,x) -> s+x)"))
      .withColumn("na", expr("sqrt(aggregate(transform(e_a, x -> cast(x as double)*cast(x as double)), cast(0 as double), (s,x) -> s+x))"))
      .withColumn("nb", expr("sqrt(aggregate(transform(e_b, x -> cast(x as double)*cast(x as double)), cast(0 as double), (s,x) -> s+x))"))
      .withColumn("cos", col("dot") / (col("na") * col("nb")))
    assert(withSim.filter(col("cos") < 0.3 - 1e-6).count() == 0)
  }

  test("IVF probes recover most brute-force neighbors and never invent sims") {
    val brute = Similarity.bruteCosineTopK(emb, nQueries = 10, k = 5)
      .select("query_id", "neighbor_id", "sim")
    val ivf = Similarity.ivfCosineTopK(emb, nQueries = 10, k = 5)
      .select("query_id", "neighbor_id", "sim")
    // every IVF hit carries the exact brute-force sim (no approximation of
    // the similarity itself, only of the candidate set)
    assert(ivf.join(brute, Seq("query_id", "neighbor_id"), "left_semi").count() > 0)
    val agreeing = ivf.join(brute, Seq("query_id", "neighbor_id", "sim"), "left_semi").count()
    assert(agreeing == ivf.join(brute, Seq("query_id", "neighbor_id"), "left_semi").count(),
      "an IVF pair disagrees with brute force on the similarity value")
    // recall: with 4 of 16 buckets probed, expect a good share of the top-5
    val recall = agreeing.toDouble / brute.count()
    assert(recall >= 0.3, s"IVF recall $recall too low")
  }

  test("PQ codes are in range and reconstruction beats the worst case") {
    val out = Quantization.pqEncode(emb).cache()
    try {
      assert(out.count() == emb.count())
      // every code is m=4 indices in [0, 8)
      val badCodes = out.filter(!col("code").rlike("^[0-7](,[0-7]){3}$")).count()
      assert(badCodes == 0)
      // codebooks are used non-trivially: more than one distinct code word
      assert(out.select("code").distinct().count() > 1)
      // reconstruction error is finite and nonnegative
      assert(out.filter(col("recon_rmse") < 0 || col("recon_rmse").isNull).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("ADC top-k approximates brute-force neighbors") {
    val brute = Similarity.bruteCosineTopK(emb, nQueries = 10, k = 5)
      .select("query_id", "neighbor_id")
    val adc = Quantization.adcTopK(emb, nQueries = 10, k = 5)
      .select("query_id", "neighbor_id")
    assert(adc.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
    // PQ with m=4, k=8 is a coarse code; expect some overlap with the
    // exact top-5 but demand nothing precise — correctness is the oracle's
    val hits = adc.join(brute, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hits > 0, "ADC shares no neighbors at all with brute force")
  }

  test("IVFADC: per-query k results, plausible vs ADC-full, bucket-join plan") {
    val full = Quantization.adcTopK(emb, nQueries = 10, k = 5)
      .select("query_id", "neighbor_id")
    val ivfadc = Quantization.ivfAdcTopK(emb, nQueries = 10, k = 5)
    assert(ivfadc.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0,
      "every query must return exactly k IVFADC neighbors")
    // bucketing only restricts the candidate set: the composed index
    // should still share a good part of the full-ADC ranking
    val hits = ivfadc.select("query_id", "neighbor_id")
      .join(full, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hits.toDouble / full.count() >= 0.3,
      s"IVFADC recall vs full ADC ${hits.toDouble / full.count()} too low")
    // plan pinning: the candidate join is a broadcast equi-join on the
    // bucket key — no cartesian/broadcast-nested-loop full scan per query
    val plan = ivfadc.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast hash join on bucket")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "IVFADC must not scan the full corpus per query")
  }

  test("exact re-rank over the ADC shortlist never hurts recall") {
    val adc = Similarity.recallVs(emb, Quantization.ivfAdcTopK(emb))
      .agg(sum("hits")).head().getLong(0)
    val rr = Similarity.recallVs(emb, Quantization.ivfAdcRerankTopK(emb))
      .agg(sum("hits")).head().getLong(0)
    assert(rr >= adc, s"re-rank recall $rr fell below plain ADC $adc")
    // within the shortlist the ranking is EXACT, so every reported sim
    // is a true cosine in [-1, 1] and ranks are dense 1..5 per query
    val out = Quantization.ivfAdcRerankTopK(emb).collect()
    assert(out.forall(r => math.abs(r.getAs[Double]("sim")) <= 1.0))
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.values.forall(_.map(_.getAs[Long]("rk")).sorted.sameElements(1L to 5L)))
  }

  test("k-means-trained IVF keeps exact sims and sane recall") {
    val brute = Similarity.bruteCosineTopK(emb, nQueries = 10, k = 5)
      .select("query_id", "neighbor_id", "sim")
    val ivf = Similarity.ivfKmeansTopK(emb, nQueries = 10, k = 5)
      .select("query_id", "neighbor_id", "sim")
    assert(ivf.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
    val hits = ivf.join(brute, Seq("query_id", "neighbor_id"), "left_semi").count()
    val agreeing = ivf.join(brute, Seq("query_id", "neighbor_id", "sim"), "left_semi").count()
    assert(agreeing == hits, "a k-means IVF pair disagrees with brute force on sim")
    assert(hits.toDouble / brute.count() >= 0.3,
      s"k-means IVF recall ${hits.toDouble / brute.count()} too low")
  }

  test("count-min estimates never underestimate and are exact sans collisions") {
    val got = Sketches.countMinHeavyHitters(docs).collect()
    assert(got.length == 20)
    // the CM property: estimate >= true count, always
    assert(got.forall(r => r.getAs[Long]("cm_est") >= r.getAs[Long]("true_cnt")))
    // with a huge grid no cell collides on this corpus: estimates exact
    val wide = Sketches.countMinHeavyHitters(docs, d = 4, w = 1 << 20).collect()
    assert(wide.forall(r => r.getAs[Long]("cm_est") == r.getAs[Long]("true_cnt")))
    // with a tiny grid collisions inflate estimates but ranks and true
    // counts are untouched
    val tiny = Sketches.countMinHeavyHitters(docs, d = 2, w = 8).collect()
    assert(tiny.map(r => (r.getAs[String]("term"), r.getAs[Long]("true_cnt"))).toSet ==
      got.map(r => (r.getAs[String]("term"), r.getAs[Long]("true_cnt"))).toSet)
    assert(tiny.forall(r => r.getAs[Long]("cm_est") >= r.getAs[Long]("true_cnt")))
  }

  test("bpe token counts are positive and bounded by character count") {
    val t = TextAnalysis.bpeTokens(docs)
    assert(t.filter(col("bpe_tokens") <= 0).count() == 0)
    val joined = t.join(docs.select(col("doc_id"), length(col("text")).as("nc")), Seq("doc_id"))
    assert(joined.filter(col("bpe_tokens") > col("nc")).count() == 0)
  }

  test("brute-force top-k: neighbors are correct for one query") {
    val topk = Similarity.bruteCosineTopK(emb, nQueries = 3, k = 5)
    assert(topk.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
    // rank 1 neighbor must have the max similarity among all candidates
    val q0best = topk.filter(col("query_id") === 0 && col("rk") === 1)
      .select("sim").collect().head.getDouble(0)
    val q0max = topk.filter(col("query_id") === 0)
      .agg(max("sim")).collect().head.getDouble(0)
    assert(q0best == q0max)
  }

  test("image header parsing recovers real dimensions across formats") {
    import Multimodal._
    assert(imageMeta(pngHeaderBytes(640, 480)) ==
      Some(ImageMeta("png", 640, 480, 8)))
    assert(imageMeta(pngHeaderBytes(1, 1, bitDepth = 16)) ==
      Some(ImageMeta("png", 1, 1, 16)))
    assert(imageMeta(jpegHeaderBytes(1920, 1080)) ==
      Some(ImageMeta("jpeg", 1920, 1080, 8)))
    assert(imageMeta(gifHeaderBytes(320, 200)) ==
      Some(ImageMeta("gif", 320, 200, 8)))
    assert(imageMeta(bmpHeaderBytes(800, 600)) ==
      Some(ImageMeta("bmp", 800, 600, 24)))
    // top-down BMP stores negative height; parser reports magnitude
    val td = bmpHeaderBytes(100, 0, bitCount = 32)
    val negH = -50L
    for (i <- 0 until 4) td(22 + i) = ((negH >> (8 * i)) & 0xff).toByte
    assert(imageMeta(td) == Some(ImageMeta("bmp", 100, 50, 32)))
    // JPEG with fill bytes before the SOF marker still parses
    val jf = jpegHeaderBytes(64, 32)
    val filled = jf.take(2) ++ Array(0xff.toByte) ++ jf.drop(2)
    assert(imageMeta(filled) == Some(ImageMeta("jpeg", 64, 32, 8)))
    // corrupt/foreign/truncated payloads: None, never a throw
    assert(imageMeta(Array[Byte]()).isEmpty)
    assert(imageMeta("plain text payload".getBytes("UTF-8")).isEmpty)
    assert(imageMeta(pngHeaderBytes(9, 9).take(20)).isEmpty)
    assert(imageMeta(Array(0xff, 0xd8, 0xff).map(_.toByte)).isEmpty)
    // a JPEG whose declared segment length runs past the buffer: None
    val trunc = jpegHeaderBytes(10, 10).dropRight(6)
    assert(imageMeta(trunc).isEmpty)
  }

  test("real image decode: pixels, luminance, and aHash behave like a decoder") {
    import Multimodal._
    // the planted pattern round-trips through REAL png encode + decode
    val d = decodeImage(5L, grayPatternPng(5L)).get
    assert(d.width == 8 && d.height == 8)
    assert(d.sum_gray == (for (y <- 0 until 8; x <- 0 until 8)
      yield (5L * 7 + x * 3 + y * 5) % 256).sum)
    // aHash is a PERCEPTUAL fingerprint: identical images hash equal,
    // a one-pixel nudge moves few bits, a different pattern moves many
    def hamming(a: DecodedImage, b: DecodedImage): Int =
      java.lang.Long.bitCount(a.ahash_lo ^ b.ahash_lo) +
        java.lang.Long.bitCount(a.ahash_hi ^ b.ahash_hi)
    val base = decodeImage(1L, grayPatternPng(1L)).get
    assert(hamming(base, decodeImage(1L, grayPatternPng(1L)).get) == 0)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(grayPatternPng(1L)))
    img.setRGB(3, 3, 0xffffff) // one hot pixel
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val nudged = decodeImage(1L, bos.toByteArray).get
    // a different SEED only shifts the gradient by a constant — aHash is
    // (correctly) invariant to global brightness, so those hash EQUAL:
    assert(hamming(base, decodeImage(1L, grayPatternPng(99L)).get) == 0)
    // a genuinely different composition (checkerboard) lands far away
    val cb = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8) {
      val g = if ((x + y) % 2 == 0) 230 else 20
      cb.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val cbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(cb, "png", cbos)
    val distinct = decodeImage(1L, cbos.toByteArray).get
    assert(hamming(base, nudged) < hamming(base, distinct),
      s"perceptual ordering broken: nudge ${hamming(base, nudged)} vs " +
        s"distinct ${hamming(base, distinct)}")
    // the JDK's own JPEG/BMP/GIF readers also feed the same path
    val bmp = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bmp)
    assert(decodeImage(1L, bmp.toByteArray).get.width == 8)
    // undecodable payloads: None, never a throw
    assert(decodeImage(1L, "not an image".getBytes).isEmpty)
    assert(decodeImage(1L, Array[Byte]()).isEmpty)
  }

  test("audio header parsing recovers real stream parameters") {
    import Multimodal._
    assert(audioMeta(wavHeaderBytes(44100, 2)) ==
      Some(AudioMeta("wav", 44100, 2, 16)))
    assert(audioMeta(wavHeaderBytes(16000, 1, bitsPerSample = 24)) ==
      Some(AudioMeta("wav", 16000, 1, 24)))
    assert(audioMeta(flacHeaderBytes(48000, 2)) ==
      Some(AudioMeta("flac", 48000, 2, 16)))
    assert(audioMeta(flacHeaderBytes(96000, 8, bitsPerSample = 24)) ==
      Some(AudioMeta("flac", 96000, 8, 24)))
    // a WAV with an ODD-sized junk chunk exercises the word-align skip
    val w = wavHeaderBytes(8000, 1)
    val odd = (w.take(12) ++ "LIST".getBytes ++ Array[Byte](3, 0, 0, 0, 1, 2, 3, 0)
      ++ w.drop(12 + 8 + 6)) // replace the even JUNK with a 3-byte LIST+pad
    assert(audioMeta(odd) == Some(AudioMeta("wav", 8000, 1, 16)))
    // corrupt/foreign/truncated: None, never a throw
    assert(audioMeta("RIFFxxxx".getBytes).isEmpty)
    assert(audioMeta(flacHeaderBytes(48000, 2).take(10)).isEmpty)
    assert(audioMeta(wavHeaderBytes(8000, 1).take(30)).isEmpty)
    assert(audioMeta("plain text".getBytes).isEmpty)
  }

  test("mp4 box walk recovers container metadata without a codec") {
    import Multimodal._
    val v = mp4Bytes("isom", 600, 600 * 12, 1920, 1080, "avc1",
      nKeyframes = 5, withAudio = true)
    assert(videoMeta(v) ==
      Some(VideoMeta("mp4", "isom", 600, 12000, 2, "avc1", 1920, 1080, 5)))
    // video-only, different brand/codec/timescale
    val v2 = mp4Bytes("mp42", 90000, 90000L * 3, 640, 360, "hev1",
      nKeyframes = 1, withAudio = false)
    assert(videoMeta(v2) ==
      Some(VideoMeta("mp4", "mp42", 90000, 3000, 1, "hev1", 640, 360, 1)))
    // audio trak FIRST: the walk must find the video trak by its hdlr,
    // not by position
    val ftypEnd = 20 // ftyp is 8 header + 12 payload
    val moovStart = ftypEnd
    val moov = v.slice(moovStart, v.length - 24) // strip trailing mdat
    assert(new String(moov, 4, 4, "ISO-8859-1") == "moov")
    // rebuild: mvhd(8+100=108), then swap the two traks
    val mvhdEnd = moovStart + 8 + 108
    def be32(a: Array[Byte], i: Int): Int =
      ((a(i) & 0xff) << 24) | ((a(i + 1) & 0xff) << 16) |
        ((a(i + 2) & 0xff) << 8) | (a(i + 3) & 0xff)
    val t1len = be32(v, mvhdEnd)
    val t1 = v.slice(mvhdEnd, mvhdEnd + t1len)
    val t2start = mvhdEnd + t1len
    val t2len = be32(v, t2start)
    val t2 = v.slice(t2start, t2start + t2len)
    val swapped = v.take(mvhdEnd) ++ t2 ++ t1 ++ v.drop(t2start + t2len)
    assert(videoMeta(swapped) ==
      Some(VideoMeta("mp4", "isom", 600, 12000, 2, "avc1", 1920, 1080, 5)))
    // corrupt/foreign/truncated: None (or a clean partial), never a throw
    assert(videoMeta("plain text payload".getBytes).isEmpty)
    assert(videoMeta(Array[Byte]()).isEmpty)
    assert(videoMeta(grayPatternGif(1)).isEmpty) // a real non-BMFF container
    assert(videoMeta(v.take(10)).isEmpty)        // truncated mid-ftyp
  }

  test("multimodal payload/decode plumbing") {
    val d = Multimodal.decoded(spark, docs)
    assert(d.count() == docs.count())
    val row = d.filter(col("doc_id") === 0).collect().head
    val text = docs.filter(col("doc_id") === 0).select("text").collect().head.getString(0)
    assert(row.getAs[Long]("byte_len") == text.getBytes("UTF-8").length)
    assert(row.getAs[String]("head_codes") ==
      text.getBytes("UTF-8").take(4).map(b => (b & 0xff).toString).mkString(","))
  }

  test("langid predicts the argmax language, not just any-English-hit") {
    import spark.implicits._
    val mixed = Seq(
      (0L, "der die das und a test", "de"),    // German outweighs one English stopword
      (1L, "le la et les the", "fr"),          // French outweighs one English stopword
      (2L, "the value of a table and", "en"),
      (3L, "zzz qqq xxx", "unk"),              // no markers at all
      (4L, "der the", "de"))                   // 1-1 tie -> alphabetically first
    val in = mixed.toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langId(in).select("doc_id", "predicted")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = mixed.map { case (id, _, exp) => id -> exp }.toMap
    assert(got == want)
  }

  test("text analysis langid/quality/fingerprint are deterministic and complete") {
    assert(TextAnalysis.langId(docs).count() == docs.count())
    assert(TextAnalysis.quality(docs).filter(col("quality_score") < 0).count() == 0)
    val fp = TextAnalysis.fingerprint(docs)
    assert(fp.select("fp").distinct().count() == docs.count()) // distinct texts
  }

  test("char-bigram LM: fluent text beats gibberish; bigram counts exact") {
    import spark.implicits._
    // 20 docs reusing the same common bigrams train the model; fluent text
    // made of those bigrams must out-score (lower nll) rare-bigram noise
    val fluent = (0L until 20L).map(i => (i, "the cat sat on the mat"))
    val noise = Seq((100L, "xq zj vk wp qx jz"))
    val scored = TextAnalysis.charLmScore((fluent ++ noise).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(scored(0L)._1 == "the cat sat on the mat".length - 1)
    assert(scored(0L)._2 < scored(100L)._2,
      s"fluent ${scored(0L)._2} should be < noise ${scored(100L)._2}")
    // full-corpus run covers every doc exactly once
    assert(TextAnalysis.charLmScore(docs).count() == docs.count())
  }

  test("simhash pigeonhole pairs equal brute-force hamming pairs") {
    for (k <- Seq(2, 3, 5)) {
      val got = Dedup.simhashPairs(docs, maxHamming = k)
      val sig = Dedup.simhash(docs)
      val brute = sig.toDF("doc_a", "sa")
        .crossJoin(sig.toDF("doc_b", "sb"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming", expr("bit_count(sa ^ sb)").cast("long"))
        .filter(col("hamming") <= k)
        .select("doc_a", "doc_b", "hamming")
      assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty,
        s"pigeonhole incomplete at k=$k")
    }
    // k+1 must divide 60
    assertThrows[IllegalArgumentException](Dedup.simhashPairs(docs, maxHamming = 6))
  }

  test("simhash signature pass is spread across the cluster, not one task") {
    // the documents table is a single parquet file = one input split; the
    // r6 bench's worst query was the signature pass running serially
    val parts = Dedup.simhash(docs).rdd.getNumPartitions
    assert(parts == spark.sparkContext.defaultParallelism,
      s"simhash ran on $parts partition(s)")
  }

  test("hot-bucket sub-splitting loses no pairs (tiny cap forces salting)") {
    // cap=2 pushes EVERY bucket through the salted probe/replicated-build
    // path; the result must still equal the unsalted pigeonhole join
    val salted = Dedup.simhashPairs(docs, maxHamming = 3, hotBucketCap = 2)
    val plain = Dedup.simhashPairs(docs, maxHamming = 3, hotBucketCap = Int.MaxValue)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
      "salted hot-bucket join diverged from plain pigeonhole join")
  }

  test("lsh bucket sizing: monotone in n, floored at the gate default, capped") {
    assert(Similarity.lshRowsPerBandFor(1000) == Similarity.LshRowsPerBand)
    assert(Similarity.lshRowsPerBandFor(20000) > Similarity.lshRowsPerBandFor(2000))
    // 2^r tracks n/target within a factor of 2
    val r = Similarity.lshRowsPerBandFor(1000000)
    assert((1 << r) >= 1000000 / 64 && (1 << (r - 1)) < 1000000 / 64)
    assert(Similarity.lshRowsPerBandFor(Long.MaxValue) == 24)
  }

  test("weighted sample: k per group, heavy weights win proportionally") {
    import spark.implicits._
    val got = Sampling.weightedSample(docs, k = 3)
    val sizes = got.groupBy("source").count().collect().map(_.getLong(1))
    assert(sizes.nonEmpty && sizes.forall(_ <= 3))
    // 200 groups, each 1 heavy (w=900) + 9 light (w=10) docs: the heavy
    // doc should win rank 1 in ~900/990 of groups; deterministic per seed
    val synth = (0 until 200).flatMap { g =>
      (0 until 10).map(i =>
        (g.toLong * 100 + i, s"g$g", if (i == 0) 900L else 10L))
    }.toDF("doc_id", "source", "n_chars")
    val top1 = Sampling.weightedSample(synth, k = 1)
    val heavyWins = top1.filter(col("doc_id") % 100 === 0).count()
    assert(heavyWins > 140, s"heavy doc won only $heavyWins/200 groups")
    // same inputs, same seed -> identical sample (pure function)
    assert(top1.exceptAll(Sampling.weightedSample(synth, k = 1)).isEmpty)
  }

  test("corpus stats cover every (lang, source) cell exactly once") {
    val st = TextAnalysis.corpusStats(docs)
    assert(st.count() == docs.select("lang", "source").distinct().count())
    assert(st.agg(sum("n_docs")).head().getLong(0) == docs.count())
  }

  test("bm25: ranks by score, bounds k, and prefers term-dense short docs") {
    import spark.implicits._
    val got = TextAnalysis.bm25TopDocs(docs, k = 10).collect()
    assert(got.length <= 10 && got.nonEmpty)
    // ranks are 1..n and scores non-increasing in rank order
    val byRk = got.sortBy(_.getAs[Long]("rk"))
    assert(byRk.map(_.getAs[Long]("rk")).toSeq == (1L to got.length).toSeq)
    val scores = byRk.map(_.getAs[Double]("bm25"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // synthetic sanity: a doc stuffed with query terms outranks one with
    // a single hit padded by off-terms, and a no-hit doc never appears
    val synth = Seq(
      (1L, "table spark hash merge window table spark"),
      (2L, "table " + Seq.fill(50)("filler").mkString(" ")),
      (3L, "nothing relevant here at all")).toDF("doc_id", "text")
    val s = TextAnalysis.bm25TopDocs(synth, k = 10).collect()
    assert(s.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
    assert(s.minBy(_.getAs[Long]("rk")).getAs[Long]("doc_id") == 1L)
  }

  test("inverted index: df/cf consistent, postings sorted and bounded") {
    val idx = TextAnalysis.invertedIndex(docs, maxPostings = 8).cache()
    // spot-check one frequent term against a direct count
    val term = idx.orderBy(col("df").desc, col("term")).head().getString(0)
    val direct = docs.filter(col("text").contains(term))
    assert(idx.filter(col("term") === term).head().getAs[Long]("df") <=
      direct.count() + 1) // contains() over-matches substrings; upper bound
    val rows = idx.collect()
    rows.foreach { r =>
      val posts = r.getAs[String]("postings").split(",").map(_.split(":")(0).toLong)
      assert(posts.length <= 8 && posts.sameElements(posts.sorted),
        s"postings unsorted/overlong for ${r.getString(0)}")
      assert(r.getAs[Long]("cf") >= r.getAs[Long]("df"))
      assert(r.getAs[Long]("df") >= posts.length || posts.length == 8)
    }
    idx.unpersist()
  }

  test("per-language quality gate keeps ~p75 of each language") {
    val kept = TextAnalysis.qualityGateByLang(docs).cache()
    // every survivor clears its own language cutoff
    assert(kept.filter(col("quality_score") < col("lang_cutoff") - 1e-9).count() == 0)
    val perLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (l, n) =>
      val k = perLang.getOrElse(l, 0L)
      // p25 cutoff keeps at least ~70% (ties can keep more, never fewer)
      assert(k >= (n * 0.70).toLong, s"lang $l kept only $k of $n")
    }
    kept.unpersist()
  }

  test("token budget: per-source prefix cut at 40% of source tokens") {
    val got = Sampling.tokenBudgetMix(docs, budgetFrac = 0.4).cache()
    val sel = got.groupBy("source")
      .agg(sum("n_tokens").as("sel"), max("cum_tokens").as("maxcum")).collect()
    val tot = docs.groupBy("source")
      .agg(sum(size(split(col("text"), " "))).as("tot")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    sel.foreach { r =>
      val (src, s, mc) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(s <= (tot(src) * 0.4), s"$src over budget: $s vs ${tot(src)}")
      // kept set is a PREFIX of the hash order: max cumulative == selected sum
      assert(mc == s, s"$src not a prefix: maxcum $mc != sum $s")
    }
    // determinism
    assert(got.exceptAll(Sampling.tokenBudgetMix(docs, budgetFrac = 0.4)).isEmpty)
    got.unpersist()
  }

  test("epoch upsampling realizes integer + fractional epochs per weight") {
    val w = (0 until 20).map(i => s"src$i" -> (1.0 + (i % 4) * 0.5)).toMap
    val up = Sampling.epochUpsample(docs, w).cache()
    val perDoc = up.groupBy("doc_id", "source").count().collect()
    perDoc.foreach { r =>
      val wt = w(r.getString(1))
      val n = r.getLong(2)
      assert(n == math.floor(wt).toLong || n == math.ceil(wt).toLong,
        s"doc ${r.getLong(0)} got $n epochs for weight $wt")
    }
    // weight-1.0 sources replicate exactly once
    val flat = up.filter(col("source").isin("src0", "src4", "src8", "src12", "src16"))
      .groupBy("doc_id").count().filter(col("count") =!= 1).count()
    assert(flat == 0)
    // epochs are 1..n dense
    assert(up.filter(col("epoch") < 1).count() == 0)
    up.unpersist()
  }

  test("semantic dedup: one keeper per group, furthest-from-centroid wins") {
    val sd = Similarity.semanticDedup(emb).cache()
    assert(sd.count() == emb.count()) // total: every vector verdicted
    // exactly one keeper per group
    val bad = sd.groupBy("group_id")
      .agg(sum(when(col("keep"), 1).otherwise(0)).as("k")).filter(col("k") =!= 1)
    assert(bad.count() == 0)
    // groups never span clusters (edges exist only within a bucket)
    assert(sd.groupBy("group_id").agg(countDistinct("cent_id").as("nc"))
      .filter(col("nc") > 1).count() == 0)
    // the keeper is the member with the LOWEST centroid similarity
    val rows = sd.collect().groupBy(_.getAs[Long]("group_id"))
    rows.values.filter(_.length > 1).foreach { g =>
      val keeper = g.find(_.getAs[Boolean]("keep")).get
      val minSim = g.map(_.getAs[Double]("cent_sim")).min
      assert(keeper.getAs[Double]("cent_sim") <= minSim + 1e-3)
    }
    sd.unpersist()
  }

  test("containment prefix filtering loses no directed pairs vs brute force") {
    val sh = Dedup.withShingles(docs).select(col("doc_id"), col("shingles"))
    for (t <- Seq(0.4, 0.6, 0.85)) {
      val smart = Dedup.containmentPairs(docs, t)
      val brute = sh.toDF("doc_a", "sh_a")
        .crossJoin(sh.toDF("doc_b", "sh_b"))
        .filter(col("doc_a") =!= col("doc_b"))
        .withColumn("containment",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") / size(col("sh_a")))
        .filter(col("containment") >= t)
        .select(col("doc_a"), col("doc_b"), round(col("containment"), 4).as("containment"))
      assert(smart.exceptAll(brute).isEmpty && brute.exceptAll(smart).isEmpty,
        s"containment mismatch at t=$t")
    }
    // directionality: a short doc inside a long one scores one-way
    import spark.implicits._
    val synth = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val dir = Dedup.containmentPairs(synth, 0.9).collect()
    assert(dir.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("z-order groups are constant in the high interleaved bits") {
    val z = Packing.zorderLayout(docs).cache()
    assert(z.count() == docs.count())
    // group id == interleave of the top 2 bits of each dimension: every
    // group holds exactly one (bx >> 6, by >> 6) cell
    val cells = z.select(col("file_group"),
      (col("len_bucket") / 64).cast("long").as("bxh"),
      (col("lang_bucket") / 64).cast("long").as("byh"))
      .distinct().groupBy("file_group").count()
    assert(cells.filter(col("count") > 1).count() == 0)
    // same lang + same 4096-char length block => same file group
    val probe = z.filter(col("lang") === "en")
      .select((col("n_chars") / 4096).cast("long").as("blk"), col("file_group"))
      .distinct().groupBy("blk").count()
    assert(probe.filter(col("count") > 1).count() == 0)
    z.unpersist()
  }

  test("kmv overlap: identical sources estimate jaccard 1, disjoint 0") {
    import spark.implicits._
    val synth = ((0 until 40).map(i => (i.toLong, s"alpha$i beta$i gamma$i", "A")) ++
      (0 until 40).map(i => (100L + i, s"alpha$i beta$i gamma$i", "B")) ++
      (0 until 40).map(i => (200L + i, s"zeta$i eta$i theta$i", "C")))
      .toDF("doc_id", "text", "source")
    val ov = Sketches.kmvOverlap(synth).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(ov(("A", "B")).getAs[Double]("est_jaccard") == 1.0)
    assert(ov(("A", "C")).getAs[Double]("est_jaccard") == 0.0)
    assert(ov(("B", "C")).getAs[Double]("est_intersect") == 0.0)
    // real corpus: estimates are positive and intersection <= union
    val real = Sketches.kmvOverlap(docs).collect()
    assert(real.length == 190)
    real.foreach { r =>
      assert(r.getAs[Double]("est_intersect") <= r.getAs[Double]("est_union") + 1e-9)
      assert(r.getAs[Long]("k_used") > 0)
    }
  }

  test("sq8 search: near-exact recall, never invents neighbors") {
    val rec = Similarity.recallVs(emb, Quantization.sq8TopK(emb)).collect()
    assert(rec.length == 10)
    // int8 distortion is tiny — SQ8 should recover nearly all true
    // neighbors (PQ at m=4 loses far more; that contrast is the point)
    val mean = rec.map(_.getAs[Double]("recall")).sum / rec.length
    assert(mean >= 0.8, s"sq8 mean recall $mean")
    // ranked lists are dense 1..5 per query
    val tk = Quantization.sq8TopK(emb)
    assert(tk.count() == 50)
    assert(tk.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
  }

  test("embedding outliers: ~5% flagged, clean separation, monotone in q") {
    import spark.implicits._
    val out = Similarity.embeddingOutliers(emb).cache()
    val n = out.count()
    val flagged = out.filter(col("is_outlier")).count()
    // p05 cutoff: close to 5% (ties can move it slightly)
    assert(flagged >= n / 40 && flagged <= n / 10, s"$flagged of $n flagged")
    // every outlier scores below every keeper
    val maxOut = out.filter(col("is_outlier")).agg(max("cent_sim")).head().getDouble(0)
    val minIn = out.filter(!col("is_outlier")).agg(min("cent_sim")).head().getDouble(0)
    assert(maxOut <= minIn)
    out.unpersist()
    // tightening q monotonically shrinks the flagged set (and stays a
    // subset); the operator is a pure function of its inputs
    val strict = Similarity.embeddingOutliers(emb, q = 0.02)
    val strictIds = strict.filter(col("is_outlier")).select("vec_id")
    val looseIds = Similarity.embeddingOutliers(emb, q = 0.05)
      .filter(col("is_outlier")).select("vec_id")
    assert(strictIds.count() <= looseIds.count())
    assert(strictIds.exceptAll(looseIds).isEmpty)
    assert(Similarity.embeddingOutliers(emb)
      .exceptAll(Similarity.embeddingOutliers(emb)).isEmpty)
  }

  test("bpe trainer: frequency-ordered merges, greedy overlap, early stop") {
    import spark.implicits._
    // ab x3 beats cd x2; after both merge no pairs remain -> early stop
    val c1 = Seq((1L, "ab ab ab cd cd")).toDF("doc_id", "text")
    val r1 = BpeTrainer.trainMerges(c1, merges = 4).orderBy("rk").collect()
    assert(r1.map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq ==
      Seq(("a", "b", 3L), ("c", "d", 2L)))
    // greedy left-to-right: aaaa -> [aa][aa] (3 adjacent pairs count as
    // occurrences, but the merge realizes only the non-overlapping two)
    val c2 = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val r2 = BpeTrainer.trainMerges(c2, merges = 2).orderBy("rk").collect()
    assert(r2.map(r => (r.getString(3), r.getLong(4))).toSeq ==
      Seq(("aa", 6L), ("aaaa", 2L)))
    // encode applies rules in rank order
    val enc = BpeTrainer.encodeWithMerges(
      Seq((7L, "ab ab cd")).toDF("doc_id", "text"), Seq(("a", "b")))
    assert(enc.head().getLong(1) == 4L) // ab=1, ab=1, cd=2
    // real corpus: rules are distinct and counts non-increasing
    val real = BpeTrainer.trainMerges(docs).orderBy("rk").collect()
    assert(real.length == 8)
    val counts = real.map(_.getLong(4))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    assert(real.map(_.getString(3)).distinct.length == 8)
  }

  test("new-op plan shapes: zorder shuffle-free, invindex group-limited, bm25 pre-filtered") {
    // z-order assignment is a pure per-row projection — NO Exchange
    val zplan = Packing.zorderLayout(docs).queryExecution.executedPlan.toString
    assert(!zplan.contains("Exchange"), s"zorder shuffled:\n$zplan")
    // epoch upsampling likewise: explode only, no shuffle
    val eplan = Sampling.epochUpsample(docs, Map("src0" -> 1.5))
      .queryExecution.executedPlan.toString
    assert(!eplan.contains("Exchange"), s"epochUpsample shuffled:\n$eplan")
    // inverted index: the head postings cut plans as WindowGroupLimit so
    // no term gathers unbounded rows into one window state
    val iplan = TextAnalysis.invertedIndex(docs).queryExecution.executedPlan.toString
    assert(iplan.contains("WindowGroupLimit"), s"no group limit:\n$iplan")
    // bm25: the query-term filter sits BELOW the first aggregation, so
    // only matching postings shuffle (filter before any Exchange)
    val bplan = TextAnalysis.bm25Postings(docs).queryExecution.executedPlan.toString
    val firstExchange = bplan.indexOf("Exchange")
    val termFilter = bplan.indexOf("table")
    assert(firstExchange > 0 && termFilter > firstExchange,
      s"term filter not below the shuffle:\n$bplan")
  }

  test("video frames: real animated-GIF decode, stride, corruption safety") {
    val gif = Multimodal.grayPatternGif(3L, nFrames = 6)
    // every 2nd frame of 6 -> indices 0, 2, 4; pattern decodes exactly
    val fr = Multimodal.videoFrames(3L, gif, stride = 2)
    assert(fr.map(_.frame_idx) == Seq(0L, 2L, 4L))
    fr.foreach { f =>
      val expect = (for (y <- 0 until 8; x <- 0 until 8)
        yield (3L * 7 + f.frame_idx * 11 + x * 3 + y * 5) % 256).sum
      assert(f.sum_gray == expect && f.width == 8 && f.height == 8)
    }
    // stride 1 sees all six
    assert(Multimodal.videoFrames(3L, gif, stride = 1).length == 6)
    // a single-frame container (PNG) yields exactly one frame; garbage none
    assert(Multimodal.videoFrames(4L, Multimodal.grayPatternPng(4L)).length == 1)
    assert(Multimodal.videoFrames(5L, Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.videoFrames(6L, gif.take(30)).isEmpty ||
      Multimodal.videoFrames(6L, gif.take(30)).nonEmpty) // truncation never throws
  }

  test("video near-dup recovers shared-frame groups from real GIFs") {
    import spark.implicits._
    // 3 groups of 3 videos: 4 shared group frames + 2 unique frames
    val planted = (0L until 9L).map { id =>
      val seeds = (0 until 4).map(j => (id / 3) * 1000 + j.toLong) ++
        (4 until 6).map(j => 900000 + id * 1000 + j.toLong)
      (id, Multimodal.grayPatternGifSeeds(seeds))
    }.toDF("doc_id", "payload")
    val pairs = Multimodal.frameJaccardPairs(
      Multimodal.videoFrameSamples(spark, planted, stride = 1)).collect()
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = (for {
      g <- 0L until 3L; a <- 0L until 3L; b <- 0L until 3L if a < b
    } yield (g * 3 + a, g * 3 + b)).toSet
    assert(got == expect, s"got $got expect $expect")
    // shared 4 of 6 frames each side -> jaccard 4/8
    pairs.foreach(r => assert(r.getDouble(2) == 0.5))
  }

  test("video near-dup hot-fingerprint guard bounds candidate volume") {
    import spark.implicits._
    // forced collision: 40 videos ALL share one boilerplate frame (an
    // intro card), plus 4 group frames shared within pairs, plus 1 unique
    val nVid = 40L
    val sets = (0L until nVid).map { id =>
      val boiler = 777L
      val group = (0 until 4).map(j => (id / 2) * 100 + j.toLong)
      (id, (Seq(boiler) ++ group ++ Seq(10000 + id)).toArray)
    }.toDF("doc_id", "codes")
    // unguarded (cap above df): the boilerplate bucket alone contributes
    // C(40,2) = 780 candidate rows
    val unguarded = Multimodal.frameCandidates(sets, maxFrameDf = 1000).count()
    assert(unguarded >= 780, s"expected the forced B^2 blow-up, got $unguarded")
    // guarded: the df=40 fingerprint is cut; only the 4-per-pair group
    // frames generate candidates -> exactly 20 pairs x 4 rows
    val guarded = Multimodal.frameCandidates(sets, maxFrameDf = 10).count()
    assert(guarded == 80, s"guarded candidate volume not bounded: $guarded")
    // and the guard does not lose real pairs: each (2g, 2g+1) pair shares
    // 4 group frames of 6 each -> jaccard 5/7 with the boilerplate frame
    // still COUNTED in the verify (sets untouched, only candidates cut)
    val frames = sets.select(col("doc_id"), explode(col("codes")).as("frame_fp"))
    val got = Multimodal.frameJaccardPairs(frames, threshold = 0.45, maxFrameDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expect = (0L until nVid / 2).map(g => (2 * g, 2 * g + 1, 0.7143)).toSet
    assert(got == expect, s"got $got")
  }

  test("stratified containment: exact precision, measured recall vs exact") {
    val exact = Dedup.containmentPairs(docs, 0.6).cache()
    val strat = Dedup.containmentPairsStratified(docs, 0.6).cache()
    // precision is exact by construction: every emitted pair is verified,
    // so the stratified set is a SUBSET of the exact set (values equal)
    assert(strat.exceptAll(exact).isEmpty,
      "stratified emitted a pair the exact path does not")
    // recall: the per-pairing banding targets >= 0.9 wherever k admits it
    val nExact = exact.count()
    val nStrat = strat.count()
    assert(nExact > 0, "corpus has no containment pairs; recall check vacuous")
    assert(nStrat.toDouble / nExact >= 0.9,
      s"recall ${nStrat.toDouble / nExact} below target ($nStrat of $nExact)")
    // feasibility pruning: a pairing with every B smaller than t*A is cut
    assert(Dedup.stratumRows(10, 2, 0.6, 64) == 0)
    // close sizes band selectively, small-in-large degrades toward OR-only
    // (probe at t=0.9 where the same-stratum J* admits r > 1)
    assert(Dedup.stratumRows(5, 5, 0.9, 64) > Dedup.stratumRows(2, 8, 0.9, 64))
    assert(Dedup.stratumRows(2, 8, 0.9, 64) == 1)
  }

  test("segment dedup keeps first global occurrence and rebuilds text") {
    import spark.implicits._
    // 3 docs; "a b" is doc 0 seg 0, repeated as doc 1 seg 0 and doc 2
    // seg 1; doc 2 also repeats its own first segment internally
    val corpus = Seq(
      (0L, "a b"),
      (1L, "a b c d"),
      (2L, "x y a b x y")).toDF("doc_id", "text")
    val got = Dedup.dedupSegments(corpus, segTokens = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) == ((1L, 0L, "a b")))          // the global first: kept
    assert(got(1L) == ((2L, 1L, "c d")))          // "a b" dropped, rest kept
    assert(got(2L) == ((3L, 2L, "x y")))          // "a b" AND the repeated "x y" dropped
    // idempotence on the cleaned corpus: nothing left to drop across docs
    val again = Dedup.dedupSegments(
      corpus.sparkSession.createDataFrame(
        got.toSeq.map { case (id, (_, _, t)) => (id, t) }).toDF("doc_id", "text"),
      segTokens = 2)
    assert(again.agg(sum(col("n_dropped"))).head().getLong(0) == 0L)
  }

  test("boilerplate strip removes every instance, first included") {
    import spark.implicits._
    // "h h" appears in 3 distinct docs (boiler at df>=3); "a b" in 2 (kept);
    // within-doc repetition of "h h" in doc 2 counts ONE distinct doc
    val corpus = Seq(
      (0L, "h h a b"),
      (1L, "h h c d"),
      (2L, "h h h h e f"),
      (3L, "a b g g")).toDF("doc_id", "text")
    val got = Dedup.stripBoilerplate(corpus, segTokens = 2, maxDocFreq = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) == ((2L, 1L, "a b")))
    assert(got(1L) == ((2L, 1L, "c d")))
    assert(got(2L) == ((3L, 2L, "e f")))   // both "h h" instances stripped
    assert(got(3L) == ((2L, 0L, "a b g g"))) // df=2 segment survives everywhere
  }

  test("join-based centroid assignment matches the literal argmax") {
    val cents = Similarity.kmeansCentroids(emb, 16, iters = 2)
    val viaLit = emb
      .withColumn("norm", Similarity.norm(col("embedding")))
      .withColumn("bucket", Similarity.bestCentroidExpr(cents))
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val joined = Similarity.assignByJoin(emb, cents)
      .select(col("vec_id"), col("bucket"), round(col("__rsim"), 6).as("r6"))
      .collect()
    val viaJoin = joined.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaJoin == viaLit, "assignment paths diverged")
    // and the emitted raw sim is the winner's true cosine (cross-check
    // one vector against a driver-side recompute)
    assert(joined.forall(r => r.getDouble(2) >= -1.0 - 1e-9 && r.getDouble(2) <= 1.0 + 1e-9))
    // end-to-end: SemDeDup forced PAST the literal cap — widen the corpus
    // (3 shifted copies) so k-means can actually hand back > cap centroids
    // and assignWithCentroidSim takes the join path
    val wide = emb.union(emb.withColumn("vec_id", col("vec_id") + 10000))
      .union(emb.withColumn("vec_id", col("vec_id") + 20000))
    val sd = Similarity.semanticDedup(wide,
      nCentroids = Similarity.LiteralAssignCap + 4)
    val perGroup = sd.filter(col("keep")).groupBy("group_id").count()
      .filter(col("count") =!= 1).count()
    assert(perGroup == 0, "a group lost its single representative on the join path")
    assert(sd.count() == wide.count())
    // the 3 exact copies of each vector are same-cluster near-dups:
    // every original id must share a group with its +10000 twin
    val grouped = sd.select("vec_id", "group_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val together = grouped.keys.filter(_ < 10000)
      .count(id => grouped(id) == grouped(id + 10000))
    assert(together.toDouble / grouped.count(_._1 < 10000) > 0.95,
      "exact twins not grouped on the join path")
  }

  test("split assignment is total, disjoint and growth-stable") {
    val s1 = Sampling.splitAssign(docs)
    assert(s1.count() == docs.count())
    val bykind = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 90/5/5 within generous tolerance at n=50
    assert(bykind.keySet.subsetOf(Set("train", "val", "test")))
    assert(bykind("train") > bykind.getOrElse("val", 0L))
    // growth stability: doubling the corpus must not move any existing doc
    val grown = docs.union(docs.withColumn("doc_id", col("doc_id") + 100000))
    val s2 = Sampling.splitAssign(grown).filter(col("doc_id") < 100000)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
  }

  test("incremental dedup pairs: shape, precision and admit partition") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val pairs = Dedup.incrementalDedupPairs(corpus, batch).cache()
    val rows = pairs.collect()
    assert(rows.nonEmpty, "planted dup corpus must yield incremental pairs")
    rows.foreach { r =>
      val (a, b, src) = (r.getLong(0), r.getLong(1), r.getString(3))
      assert(a % 2 == 1, s"doc_a $a must be a batch doc")
      if (src == "corpus") assert(b % 2 == 0, s"corpus match $b must be even")
      else { assert(b % 2 == 1 && b < a, s"batch match $b must be earlier odd") }
      assert(r.getDouble(2) >= 0.5)
    }
    // precision is exact: every pair is a true >= 0.5 jaccard pair of the
    // full corpus (brute force on sf0.001)
    val sh = Dedup.withShingles(docs).select(col("doc_id"), col("shingles"))
    val brute = sh.toDF("x", "sh_a").crossJoin(sh.toDF("y", "sh_b"))
      .filter(col("x") =!= col("y"))
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        size(array_union(col("sh_a"), col("sh_b"))) >= 0.5)
      .select(col("x").as("doc_a"), col("y").as("doc_b"))
    assert(pairs.select("doc_a", "doc_b")
      .join(brute, Seq("doc_a", "doc_b"), "left_anti").count() == 0)
    // admitted + rejected partition the batch exactly
    val admitted = Dedup.incrementalAdmit(corpus, batch)
    val rejected = pairs.select("doc_a").distinct()
    assert(admitted.count() + rejected.count() == batch.count())
    assert(admitted.join(rejected.withColumnRenamed("doc_a", "doc_id"),
      Seq("doc_id"), "left_semi").count() == 0)
    pairs.unpersist()
  }

  test("incremental dedup via a persisted index matches the rebuild path") {
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val tmp = java.nio.file.Files.createTempDirectory("graft_idx_").toString
    try {
      // day 0: persist the corpus index (the artifact a real ingest keeps)
      Dedup.signatureIndex(corpus).write.parquet(s"$tmp/index")
      val idx = spark.read.parquet(s"$tmp/index")
      val viaIndex = Dedup.incrementalDedupPairs(corpus, batch, Some(idx))
      val rebuilt = Dedup.incrementalDedupPairs(corpus, batch)
      assert(viaIndex.exceptAll(rebuilt).isEmpty &&
        rebuilt.exceptAll(viaIndex).isEmpty)
      // day 1: append the admitted batch's keys and probe a SECOND batch —
      // must equal rebuilding the index from corpus + admitted docs
      val admitted = Dedup.incrementalAdmit(corpus, batch)
      val day1Corpus = corpus.unionByName(
        batch.join(admitted, Seq("doc_id"), "left_semi"))
      Dedup.signatureIndex(batch.join(admitted, Seq("doc_id"), "left_semi"))
        .write.mode("append").parquet(s"$tmp/index")
      val batch2 = docs.filter(col("doc_id") % 2 === 1)
        .withColumn("doc_id", col("doc_id") + 100001L) // offset past every existing id
      val viaAppended = Dedup.incrementalDedupPairs(day1Corpus, batch2,
        Some(spark.read.parquet(s"$tmp/index")))
      val rebuilt2 = Dedup.incrementalDedupPairs(day1Corpus, batch2)
      assert(viaAppended.exceptAll(rebuilt2).isEmpty &&
        rebuilt2.exceptAll(viaAppended).isEmpty)
      // batch2 clones every original batch doc, so each is a near-dup of
      // its admitted twin (or was already rejected) — nothing with a
      // signature is admitted. A <3-token doc produces no shingles, hence
      // no signature, and can never match its twin: such docs ARE
      // admitted by design, so exclude them rather than assume the
      // testdata never contains one.
      val shingleless = batch2.join(
        Dedup.withShingles(batch2).select("doc_id"), Seq("doc_id"), "left_anti")
      assert(Dedup.incrementalAdmit(day1Corpus, batch2,
        Some(spark.read.parquet(s"$tmp/index")))
        .join(shingleless, Seq("doc_id"), "left_anti").count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }
}
