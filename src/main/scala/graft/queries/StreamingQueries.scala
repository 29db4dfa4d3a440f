package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.streaming.{CorpusGateStream, DecontamStream, DedupStream, EventsStream, IncrementalDedupStream, IntervalJoinStream, IvfAssignStream, RetrievalStream, SketchStream}

/** Structured Streaming entries for the correctness gate: each runs a real
  * incremental query (AvailableNow trigger) over the events files and is
  * compared against a batch DuckDB oracle. */
object StreamingQueries {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_events_hourly" -> ((s, d) =>
      EventsStream.runToBatch(s, s"$d/events.parquet", "v_stream_hourly")),
    "stream_user_sessions" -> ((s, d) =>
      EventsStream.runSessionsToBatch(s, s"$d/events.parquet", "v_stream_sessions")),
    // the same document file staged as TWO micro-batches: batch 2 must be
    // fully suppressed by dedup state from batch 1
    "stream_dedup_docs" -> ((s, d) =>
      DedupStream.runToBatch(s, s"$d/documents.parquet", "v_stream_dedup")),
    // ingest-time segment admission: parity-half micro-batches of the
    // planted-header corpus; the header is admitted ONCE across batches
    "stream_dedup_segments" -> ((s, d) =>
      DedupStream.runSegmentsToBatch(s, s"$d/documents.parquet", "v_stream_segs")),
    // WATERMARKED exact admission (bounded state): three staged batches —
    // all docs at 10:00, %3 duplicates at 10:05 (suppressed), a 10:30
    // sentinel that advances the watermark past every admission window,
    // then %5 duplicates at 10:25 that must RE-ADMIT (state evicted).
    // Every step is doc_id/timestamp arithmetic, so the windowed
    // semantics are fully DuckDB-recomputable.
    "stream_dedup_watermark" -> ((s, d) =>
      DedupStream.runWatermarkedToBatch(s, s"$d/documents.parquet", "v_stream_wm")),
    // incremental MinHash-LSH near-dup: corpus split into two parity
    // micro-batches; pairs spanning the halves exist only if bucket state
    // survives across batches. Oracle = the batch operator's oracle.
    "stream_neardup_docs" -> ((s, d) =>
      DedupStream.runNearDupToBatch(s, s"$d/documents.parquet", "v_stream_neardup")),
    // stateless ingest-time decontamination: train docs stream through in
    // two micro-batches, the eval set is static; numbers must equal the
    // batch operator's (shared oracle)
    "stream_decontam_docs" -> ((s, d) =>
      DecontamStream.runToBatch(s, s"$d/documents.parquet", "v_stream_decontam")),
    // stateless ingest-time admission gate: quality + language +
    // decontamination verdicts per arriving doc, one pass, zero state
    "stream_corpus_gate" -> ((s, d) =>
      CorpusGateStream.runToBatch(s, s"$d/documents.parquet", "v_stream_gate")),
    // running per-source distinct-token KMV sketch: order-independent
    // minima make the post-stream state equal the batch sketch exactly
    "stream_kmv_vocab" -> ((s, d) =>
      SketchStream.runToBatch(s, s"$d/documents.parquet", "v_stream_kmv")),
    // running count-min grid (d*w counters of state, never
    // vocabulary-sized); probed post-stream for the true top-20 terms
    "stream_cm_heavy" -> ((s, d) =>
      SketchStream.runCountMinToBatch(s, s"$d/documents.parquet", "v_stream_cm")),
    // online IVF ingestion: centroids trained offline on the static
    // table, arriving vectors assigned statelessly (centroid literals);
    // streamed assignment must equal the batch k-means assignment
    "stream_ivf_assign" -> ((s, d) =>
      IvfAssignStream.runToBatch(s, s"$d/embeddings.parquet", "v_stream_ivf")),
    // time-bounded stream-stream join (watermarked state eviction): each
    // purchase joins the same user's clicks in the preceding hour
    "stream_interval_join" -> ((s, d) =>
      IntervalJoinStream.runToBatch(s, s"$d/events.parquet", "v_stream_ivj")),
    // streaming retrieval-index maintenance: postings + corpus scalars
    // held as complete-mode state, BM25 ranked batch-side from that
    // state; must equal the batch operator (shared oracle)
    "stream_bm25" -> ((s, d) =>
      RetrievalStream.runToBatch(s, s"$d/documents.parquet", "v_stream_bm25")),
    // day-2 incremental dedup ingest (r13): batch 0 bootstraps the
    // persisted corpus + signature index of a DedupLog store, batch 1
    // probes them, and the runner REDELIVERS batch 1 verbatim
    // (at-least-once) — the output must still be the exactly-once corpus
    "stream_dedup_incremental" -> ((s, d) =>
      IncrementalDedupStream.runToBatch(s, s"$d/documents.parquet")),
    // the same two-batch + redelivery scenario, then the log's own
    // checkpoint+vacuum lifecycle and fsck run before the corpus is
    // served. Same oracle as stream_dedup_incremental: maintenance never
    // changes what is admitted.
    "stream_dedup_occ" -> ((s, d) =>
      IncrementalDedupStream.runOccToBatch(s, s"$d/documents.parquet")),
    // RETIREMENT through the OCC store (r14): admitted evens %4==0 are
    // tombstoned between the two batches — retired docs leave the served
    // corpus AND stop producing candidates, so an odd whose only
    // near-dup was retired is admitted; fsck (with full index recompute)
    // runs against the folded store before serving
    "stream_dedup_occ_retire" -> ((s, d) =>
      IncrementalDedupStream.runOccRetireToBatch(s, s"$d/documents.parquet")),
    // store LIFECYCLE against an EXISTING store: checkpoint + vacuum,
    // fsck the corpus↔index invariants (any violation throws → red
    // gate), and serve the corpus — same rows as stream_dedup_incremental
    // (a checkpoint keeps batch provenance). The two-batch ingest is
    // staged once per corpus dir (re-staging per run would time the
    // ingest, the pipe_bpe_encode lesson); maintenance is idempotent, so
    // repeat runs re-fold the checkpointed store and emit the same rows.
    "stream_dedup_store_maint" -> ((s, d) =>
      IncrementalDedupStream.maintain(maintStore.computeIfAbsent(d, dir =>
        IncrementalDedupStream.stage(s, s"$dir/documents.parquet")))))

  private val maintStore =
    new java.util.concurrent.ConcurrentHashMap[String, graft.metacat.DedupLog]()

  private def jacGE(thr: String) =
    "len(list_intersect(s_a, s_b))::DOUBLE / " +
      s"len(list_distinct(list_concat(s_a, s_b))) >= $thr"

  /** sequential replay of the two-batch ingest: batch 0 = evens with
    * intra-batch dedup only; batch 1 = odds probed against batch 0's
    * ADMITTED corpus (the index holds admitted docs only) plus earlier
    * odds (chain policy: matching a rejected earlier doc still rejects).
    * The redelivered batch 1 adds nothing — exactly this. `retain`
    * narrows the post-batch-0 corpus (TRUE = keep all): the retirement
    * gate retires admitted evens failing it, so batch 1 probes — and
    * the output keeps — only the retained evens. */
  private def incrIngestOracle(retain: String = "TRUE"): String =
    s"WITH ${PipelineQueries.Sig}, bands AS (SELECT doc_id, s, b.range AS band, " +
      "CAST(g[2*b.range + 1] AS VARCHAR) || ',' || CAST(g[2*b.range + 2] AS VARCHAR) AS bkey " +
      "FROM sig, range(4) b), " +
      "cand0 AS (SELECT DISTINCT a.doc_id AS doc_a, a.s AS s_a, b.s AS s_b " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey " +
      "WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 0 AND b.doc_id < a.doc_id), " +
      s"dup0 AS (SELECT DISTINCT doc_a FROM cand0 WHERE ${jacGE("0.5")}), " +
      "c0 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0 " +
      "AND doc_id NOT IN (SELECT doc_a FROM dup0)), " +
      s"r0 AS (SELECT doc_id FROM c0 WHERE $retain), " +
      "cand1 AS (SELECT DISTINCT a.doc_id AS doc_a, a.s AS s_a, b.s AS s_b " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey " +
      "WHERE a.doc_id % 2 = 1 AND (b.doc_id IN (SELECT doc_id FROM r0) " +
      "OR (b.doc_id % 2 = 1 AND b.doc_id < a.doc_id))), " +
      s"dup1 AS (SELECT DISTINCT doc_a FROM cand1 WHERE ${jacGE("0.5")}) " +
      "SELECT doc_id, CAST(0 AS BIGINT) AS batch FROM r0 " +
      "UNION ALL SELECT doc_id, CAST(1 AS BIGINT) FROM documents " +
      "WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_a FROM dup1)"

  val oracles: Map[String, String] = Map(
    "stream_dedup_incremental" -> incrIngestOracle(),
    // OCC-governed store: identical admitted set and batch provenance
    "stream_dedup_occ" -> incrIngestOracle(),
    // retirement: batch 1 probes (and the output keeps) only the
    // retained evens — doc_id % 4 != 0 of the admitted batch-0 set
    "stream_dedup_occ_retire" -> incrIngestOracle("doc_id % 4 != 0"),
    // maintained store: a checkpoint keeps batch provenance
    "stream_dedup_store_maint" -> incrIngestOracle(),

    "stream_events_hourly" ->
      """SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS hour_epoch, event_type,
        |  count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // session = gap > 30 min between consecutive events of a user
    "stream_user_sessions" ->
      """WITH g AS (SELECT user_id, value,
        |  epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS gap
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  count(*) FILTER (gap IS NULL OR gap > 1800) AS n_sessions,
        |  round(sum(value), 2) AS total_value
        |FROM g GROUP BY user_id""".stripMargin,
    "stream_dedup_docs" ->
      "SELECT DISTINCT md5(text) AS fingerprint, n_chars FROM documents",
    // the admitted segment SET = the distinct segments of the planted
    // corpus (same segmentation arithmetic as pipe_dedup_segments)
    "stream_dedup_segments" ->
      ("WITH p AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN " +
        "'shared header banner intro card segment alpha beta gamma delta ' || lower(text) " +
        "ELSE lower(text) END AS text FROM documents), " +
        "t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM p), " +
        "sg AS (SELECT doc_id, tk, unnest(range(0, CAST(ceil(len(tk) / 10.0) AS BIGINT))) AS seg_idx FROM t), " +
        "ss AS (SELECT array_to_string(tk[seg_idx * 10 + 1 : least((seg_idx + 1) * 10, len(tk))], ' ') AS seg FROM sg) " +
        "SELECT DISTINCT seg, len(string_split(seg, ' '))::BIGINT AS n_tokens FROM ss"),
    // admitted = every fingerprint once at 10:00, the sentinel at 10:30,
    // and the %5 re-admissions at 10:25 (evicted by the 10:20 watermark);
    // the %3 duplicates at 10:05 never appear (in-window suppression)
    "stream_dedup_watermark" ->
      ("WITH d AS (SELECT md5(text) AS fingerprint, min(n_chars) AS n_chars " +
        "FROM documents GROUP BY 1) " +
        "SELECT fingerprint, n_chars, " +
        "CAST(epoch(TIMESTAMP '2026-01-01 10:00:00') AS BIGINT) AS admitted_ts FROM d " +
        "UNION ALL SELECT md5(text), min(n_chars), " +
        "CAST(epoch(TIMESTAMP '2026-01-01 10:25:00') AS BIGINT) " +
        "FROM documents WHERE doc_id % 5 = 0 GROUP BY 1 " +
        "UNION ALL SELECT md5('watermark-advancer'), CAST(18 AS BIGINT), " +
        "CAST(epoch(TIMESTAMP '2026-01-01 10:30:00') AS BIGINT) " +
        "UNION ALL SELECT md5('watermark-advancer-2'), CAST(20 AS BIGINT), " +
        "CAST(epoch(TIMESTAMP '2026-01-01 10:31:00') AS BIGINT)"),
    "stream_neardup_docs" -> PipelineQueries.oracles("pipe_minhash_pairs"),
    "stream_decontam_docs" -> PipelineQueries.oracles("pipe_decontam"),
    // batch recomputation of the admission verdicts (train side only);
    // short docs carry no n-gram and gate as uncontaminated
    "stream_corpus_gate" ->
      ("WITH toks AS (SELECT doc_id, text, string_split(lower(text), ' ') AS t FROM documents), " +
        "ng AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 3), " +
        "i -> array_to_string(t[i:i+4], ' '))) AS g FROM toks WHERE len(t) >= 5), " +
        "ev AS (SELECT coalesce(list(DISTINCT ng), []) AS l FROM " +
        "(SELECT unnest(g) AS ng FROM ng WHERE doc_id % 37 = 0)), " +
        "m AS (SELECT doc_id, len(t)::BIGINT AS n_tokens, " +
        "round((len(text) - len(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE / greatest(len(text), 1), 4) AS punct_ratio " +
        "FROM toks), " +
        "q AS (SELECT doc_id, round(least(1.0, n_tokens::DOUBLE / 50) * (1.0 - punct_ratio), 4) AS quality_score FROM m), " +
        "lid AS (SELECT doc_id, CASE WHEN len(list_intersect(t, ['the','a','and','of','value','table'])) > 0 THEN 'en' ELSE 'unk' END AS predicted FROM toks), " +
        "ct AS (SELECT tk.doc_id, CASE WHEN n.g IS NULL THEN false ELSE " +
        "len(list_intersect(n.g, ev.l)) > 0 END AS contaminated " +
        "FROM toks tk LEFT JOIN ng n USING (doc_id) CROSS JOIN ev) " +
        "SELECT q.doc_id, q.quality_score, lid.predicted, ct.contaminated, " +
        "(q.quality_score >= 0.5 AND lid.predicted = 'en' AND NOT ct.contaminated) AS admitted " +
        "FROM q JOIN lid USING (doc_id) JOIN ct USING (doc_id) WHERE q.doc_id % 37 != 0"),
    // the batch KMV oracle minus the exact count (streaming cannot hold
    // the distinct set — that asymmetry is the sketch's point)
    "stream_kmv_vocab" -> PipelineQueries.kmvOracleSql(withExact = false),
    // the batch CM oracle minus the exact column (streaming holds only
    // the grid; the probe set is derived batch-side)
    "stream_cm_heavy" -> PipelineQueries.cmOracleSql(withExact = false),
    // batch k-means assignment of every vector (the asg CTE of the
    // shared ivf_kmeans chain) — streamed stateless assignment must agree
    "stream_ivf_assign" ->
      (s"WITH ${PipelineQueries.kmIvfChain} SELECT vec_id, bucket FROM asg"),
    // batch interval join (the streamed pair set must equal it exactly)
    "stream_interval_join" ->
      """WITH c AS (SELECT user_id AS c_user, epoch_ns(ts) // 1000 AS click_us,
        |  event_id AS click_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_ns(ts) // 1000 AS purchase_us,
        |  event_id AS purchase_id FROM events WHERE event_type = 'purchase')
        |SELECT user_id, purchase_id, click_id, purchase_us, click_us,
        |  purchase_us - click_us AS gap_us
        |FROM p JOIN c ON user_id = c_user
        |  AND click_us <= purchase_us
        |  AND click_us >= purchase_us - 3600000000""".stripMargin,
    // the streamed index state scored batch-side must equal the batch
    // BM25 operator exactly (shared oracle)
    "stream_bm25" -> PipelineQueries.oracles("pipe_text_bm25"))
}
