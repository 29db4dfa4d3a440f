#!/bin/bash
# Two-phase 10x benchmark -> SCALE10X_BENCH.json
#
# Phase 1 runs the heavy-query set in ONE session (the deployment shape:
# a shared warm cluster). Phase 2 re-runs the heaviest queries EACH IN A
# FRESH JVM and records them as "queries_isolated" — r8's artifact showed
# up to 2x spread between in-session and isolated numbers for the top
# queries (cache/GC contention from 60+ earlier queries), and carrying
# both makes the artifact reproducible within the noise bar instead of
# leaving the attribution in prose.
#
# Usage: tools/scale10x.sh [scale-dir] [n-isolated]
#   (regenerate the corpus first: scripts/run.sh graft.ScaleData \
#      /root/testdata/sf0.1 target/scale10x 10)
set -e
cd "$(dirname "$0")/.."
DIR=${1:-target/scale10x}
NISO=${2:-5}
export SPARK_GRAFT_SF_DIR=$DIR
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}

# the r8 heavy set + the r10 additions (fingerprint-keyed segment twins,
# watermarked streaming dedup)
QUERIES="mql_bfq_where mql_filter_hash mql_full_scan mql_summary_count mql_union \
pipe_bpe_encode pipe_bpe_train pipe_chunk pipe_containment_pairs \
pipe_containment_stratified pipe_corpus_clean pipe_corpus_pipeline \
pipe_corpus_stats pipe_decontam pipe_decontam_bloom pipe_dedup_clusters \
pipe_dedup_incremental pipe_dedup_incr_admit \
pipe_dedup_emb_clusters pipe_dedup_embedding pipe_dedup_exact \
pipe_dedup_segments pipe_dedup_segments_fp pipe_dedup_semantic \
pipe_dedup_substring pipe_emb_outliers pipe_emb_pq pipe_emb_quantize \
pipe_jaccard_pairs pipe_layout_zorder pipe_minhash_pairs pipe_minhash_sig \
pipe_mm_frames_real pipe_mm_image_neardup pipe_mm_video_neardup pipe_pack \
pipe_quality_bylang pipe_sim_adc pipe_sim_ivf pipe_sim_ivf_kmeans \
pipe_sim_ivfadc pipe_sim_lsh pipe_sim_recall_sq8 pipe_sim_sq8 pipe_sim_topk \
pipe_simhash pipe_simhash_pairs pipe_sketch_overlap pipe_source_epochs \
pipe_split pipe_strip_boilerplate pipe_strip_boilerplate_fp pipe_text_bm25 \
pipe_text_invindex pipe_text_ppx pipe_text_repetition pipe_text_tfidf \
pipe_text_topngrams pipe_token_budget pipe_weighted_sample q_corr_scalar \
q_exists_subquery q_grouping_sets q_range_join q_skew_join stream_bm25 \
stream_dedup_segments stream_dedup_watermark stream_interval_join"

echo "== phase 1: main session over $DIR"
scripts/run.sh graft.Bench $QUERIES | tail -1
cp bench_last.json /tmp/scale10x_main.json

TOP=$(python3 -c "
import json
d = json.load(open('/tmp/scale10x_main.json'))
qs = sorted(d['queries'].items(), key=lambda kv: -kv[1])[:$NISO]
print(' '.join(k for k, _ in qs))")
echo "== phase 2: isolated JVMs for: $TOP"
rm -f /tmp/scale10x_iso.json
for q in $TOP; do
  scripts/run.sh graft.Bench "$q" > /dev/null 2>&1
  python3 - "$q" <<'PY'
import json, sys, os
iso = json.load(open('bench_last.json'))
path = '/tmp/scale10x_iso.json'
acc = json.load(open(path)) if os.path.exists(path) else {}
acc[sys.argv[1]] = iso['queries'][sys.argv[1]]
json.dump(acc, open(path, 'w'))
print(f"   isolated {sys.argv[1]}: {iso['queries'][sys.argv[1]]} s "
      f"(min {iso['queries_min'][sys.argv[1]]})")
PY
done

# Phase 3 (r14): day-N incremental-ingest curve — K sequential batches
# into one DedupLog store; per-batch wall must stay flat while
# the corpus grows K-fold (the operator's central O(batch) claim).
echo "== phase 3: incremental-ingest curve (8 batches)"
scripts/run.sh graft.IncrIngestProbe "$DIR/documents.parquet" 8 \
  | tee /tmp/scale10x_incr.txt | grep INCRINGEST

python3 - <<'PY'
import json, re
main = json.load(open('/tmp/scale10x_main.json'))
main['queries_isolated'] = json.load(open('/tmp/scale10x_iso.json'))
incr = {'batch_secs': [], 'corpus_rows': []}
for line in open('/tmp/scale10x_incr.txt'):
    m = re.match(r'INCRINGEST batch=\s*(\d+) wall=([0-9.]+) corpus_rows=(\d+)', line)
    if m:
        incr['batch_secs'].append(float(m.group(2)))
        incr['corpus_rows'].append(int(m.group(3)))
    s = re.match(r'INCRINGEST-SUMMARY .*flatness=([0-9.]+)x', line)
    if s:
        incr['flatness'] = float(s.group(1))
main['incremental_ingest'] = incr
with open('SCALE10X_BENCH.json', 'w') as f:
    json.dump(main, f, indent=0)
print("wrote SCALE10X_BENCH.json: total", main['value'], "s;",
      len(main['queries']), "queries;", len(main['queries_isolated']),
      "isolated; ingest flatness", incr.get('flatness'))
PY
