"""Seeded inputs and op schedules for the catbench workloads.

Everything here is a pure function of the seed: the same seed gives the
same parquet inputs and the same schedule. A schedule line is
`phase cls round name args...` (tab-separated); `warm` lines (round 0)
run during set-up, `timed` lines in the timed phase, in order. The
checker replays the same lines on its own model (check.py).

The inputs copy the shape of the engine's test data (TESTDATA.md), as
measured on its seed-42 tables:

- sf0.01 `orders`: 15000 rows, o_orderkey dense 0..14999, o_custkey
  uniform over 0..1499, o_orderstatus F/O/P and the five
  o_orderpriority values each ~1/3 and ~1/5 of the rows, o_totalprice
  ~1000..500000, o_orderdate 1995-01-01..2001-08-01.
- sf0.1 `documents`: 5000 docs of 10..99 words drawn uniformly from 30
  lower-case words; 250 (5%) are near-duplicates, a copy of another doc
  with the word "dup" appended (shingle Jaccard (n-2)/(n-1) >= 0.89),
  placed before or after their source; 8 (0.16%) are exact copies.
"""
import datetime
import random

import pyarrow as pa
import pyarrow.parquet as pq

MUTATE_FILES = 2000          # catalog_mutate: files in the seeded catalog (sf0.01 order keys 0..1999)
DOC_BATCH = 60               # dedup_ingest: docs per micro-batch

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]


def line(phase, cls, rnd, name, *args):
    return "\t".join([phase, cls, str(rnd), name] + [str(a) for a in args])


def fid(k):
    return "F%08d" % k


def nfid(k):
    return "N%08d" % k


# ---- catalog_mutate ----

def file_meta(k, status, priority, price, ts):
    """The metadata DerivedCatalog derives from one `orders` row (its
    scaladoc lists the keys): core.run = k % 1000, conditional keys and
    one mixed-type key on purpose. Object keys are written sorted."""
    run = k % 1000
    parts = [
        '"core.bits":{"electron":%d,"muon":%d}' % ((k + 1) % 2, k % 2),
        '"core.priority":"%s"' % priority,
        '"core.run":%d' % run,
        '"core.runs":[%s]' % ",".join(str(run + 1000 * i) for i in range(1 + k % 3)),
        '"core.status":"%s"' % status,
        '"core.ts":%d' % ts,
        '"data.price":%s' % repr(price),
        '"data.tags":[%s]' % ",".join('"tag%d"' % ((k + i) % 7) for i in range(1 + k % 4)),
        '"data.weight":%s' % (str(k % 100) if k % 2 == 0 else '"w%d"' % (k % 100)),
    ]
    if k % 5 == 0:
        parts.append('"opt.flag":%s' % ("true" if k % 10 == 0 else "false"))
    if k % 7 == 0:
        parts.append('"opt.note":"note-%s-%d"' % (status, k % 13))
    return "{" + ",".join(parts) + "}"


def write_files(path, seed, n=MUTATE_FILES):
    """The seeded catalog: one file per row of an sf0.01-shaped `orders`
    table, derived the DerivedCatalog way (fid F%08d of the order key,
    namespace ns(custkey % 4), size k*100 + custkey % 100, retired iff
    k % 97 == 0)."""
    rng = random.Random(seed * 7919 + 1)
    base = datetime.datetime(1995, 1, 1)
    days = (datetime.datetime(2001, 8, 1) - base).days + 1
    cols = {c: [] for c in ("fid", "namespace", "name", "metadata_json", "creator",
                            "created_timestamp", "size", "retired")}
    for k in range(n):
        ck = rng.randrange(n // 10)
        status, priority = rng.choice(STATUSES), rng.choice(PRIORITIES)
        price = round(rng.uniform(1000.0, 500000.0), 2)
        date = base + datetime.timedelta(days=rng.randrange(days))
        ts = int((date - datetime.datetime(1970, 1, 1)).total_seconds())
        cols["fid"].append(fid(k))
        cols["namespace"].append("ns%d" % (ck % 4))
        cols["name"].append("f_%d.dat" % k)
        cols["metadata_json"].append(file_meta(k, status, priority, price, ts))
        cols["creator"].append("user%d" % (ck % 10))
        cols["created_timestamp"].append(date)
        cols["size"].append(k * 100 + ck % 100)
        cols["retired"].append(k % 97 == 0)
    schema = pa.schema([("fid", pa.string()), ("namespace", pa.string()),
                        ("name", pa.string()), ("metadata_json", pa.string()),
                        ("creator", pa.string()), ("created_timestamp", pa.timestamp("us")),
                        ("size", pa.int64()), ("retired", pa.bool_())])
    pq.write_table(pa.table(cols, schema=schema), path)


def catalog_mutate(seed, rounds):
    """Rounds of 13 ops over the seeded catalog (MUTATE_FILES files, all
    in dsns:all), each closed by one checkpoint + vacuum of the four
    logs, so log depth rises and falls once per round. Round 0, without
    the declare and the first query, is the warm-up. The seed picks which files each op touches; sizes, patch
    values and query predicates are fixed, so every seed asks for the
    same work (a more selective predicate measurably costs more)."""
    rng = random.Random(seed)
    n = MUTATE_FILES
    members = {fid(k) for k in range(n)}
    live = [k for k in range(n) if k % 97 != 0]
    lines = []
    for r in range(rounds + 1):
        phase = "warm" if r == 0 else "timed"
        ds = "r%d" % r
        add = sorted(fid(k) for k in rng.sample(range(n), 10))
        rem = sorted(rng.sample(sorted(members), 10))
        members -= set(rem)
        ret_k = rng.sample(live, 10)
        live = [k for k in live if k not in set(ret_k)]
        ret = sorted(fid(k) for k in ret_k)
        upd = sorted(fid(k) for k in rng.sample(range(n), 10))
        patch = '{"opt.mark":"m%d","core.run":777}' % r
        parent = ("bench", "r%d" % (r - 1)) if r else ("dsns", "all")
        edges = ",".join("%s>%s" % (fid(rng.randrange(n)), nfid(r * 20 + i))
                         for i in range(10))
        lines.append(line(phase, "admin", r, "createDataset", "bench", ds,
                          '{"ds.kind":"round","ds.index":%d}' % r))
        if r:  # set-up has run declareFiles once per seed
            lines.append(line(phase, "write", r, "declareFiles", "bench", ds, r * 20, 20))
        lines += [
            line(phase, "write", r, "addTo", "bench", ds, ",".join(add)),
            line(phase, "write", r, "removeFrom", "dsns", "all", ",".join(rem)),
            line(phase, "write", r, "retireFiles", ",".join(ret)),
            line(phase, "write", r, "updateFileMeta", ",".join(upd), patch),
            line(phase, "admin", r, "addDatasetEdge", parent[0], parent[1], "bench", ds),
            line(phase, "admin", r, "saveNamedQuery", "bench", "q%d" % r,
                 "files from bench:%s where core.run < 500" % ds),
            line(phase, "admin", r, "updateDataset", "bench", ds, '{"ds.note":"u%d"}' % r),
            line(phase, "write", r, "addProvenance", edges),
        ]
        if r:  # ryw_all warms the query path
            lines.append(line(phase, "read", r, "query", "ryw_round",
                              "files from bench:%s" % ds, "fids"))
        lines += [
            line(phase, "read", r, "query", "ryw_all",
                 "files from dsns:all where core.run < 500", "fids"),
            line(phase, "maint", r, "maintain"),
        ]
    return lines


# ---- dedup_ingest ----

def _words(rng, k):
    return [rng.choice(WORDS) for _ in range(k)]


def write_docs(path, seed, n_batches):
    """Micro-batches of sf0.1-shaped documents with planted near-duplicates.

    Per batch of DOC_BATCH docs (ids dense from 0), at fixed positions:
    three near-duplicates (5%) as the test data makes them (a copy of an
    earlier doc with " dup" appended, Jaccard >= 0.89, which the store
    must reject), and one far edit (a copy with every 7th word replaced,
    Jaccard ~0.4, below the store's 0.5 threshold, which it must admit).
    The seed picks the sources, from earlier batches or earlier in the
    same batch. Positions ending in 9 are never copied: they are the
    retire candidates, so a retire never revives a copy."""
    rng = random.Random(seed * 104729 + 3)
    ids, texts, batches = [], [], []
    copyable = []
    for b in range(n_batches):
        # lengths spread evenly over 10..99 in every batch, in seeded
        # order, so every seed offers about the same bytes per batch
        lengths = [10 + 90 * i // DOC_BATCH for i in range(DOC_BATCH)]
        rng.shuffle(lengths)
        for i in range(DOC_BATCH):
            d = b * DOC_BATCH + i
            if copyable and i % 20 == 4:
                t = texts[rng.choice(copyable)] + " dup"
            elif i == 31:
                w = texts[rng.choice(copyable)].split(" ")
                for j in range(3, len(w), 7):
                    w[j] = rng.choice([x for x in WORDS if x != w[j]])
                t = " ".join(w)
            else:
                t = " ".join(_words(rng, lengths[i]))
            if i % 10 != 9:
                copyable.append(len(ids))
            ids.append(d)
            texts.append(t)
            batches.append(b)
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string()),
                             "batch": pa.array(batches, pa.int64())}), path)


def dedup_ingest(seed, rounds):
    """Per round r: ingest batch r; read the corpus; redeliver the batch
    (an at-least-once retry, which must admit nothing); retire three
    never-copied docs of batch r (never delivered again); read the
    corpus; checkpoint + vacuum. Round 0, without the redelivery, is the
    warm-up."""
    rng = random.Random(seed)
    lines = []
    for r in range(rounds + 1):
        phase = "warm" if r == 0 else "timed"
        ids = sorted(r * DOC_BATCH + 10 * k + 9 for k in rng.sample(range(DOC_BATCH // 10), 3))
        lines.append(line(phase, "write", r, "ingest", r, r, DOC_BATCH))
        lines.append(line(phase, "read", r, "corpus"))
        if r:  # redeliver calls ingest, which the warm-up has run
            lines.append(line(phase, "write", r, "redeliver", r, 10000 + r, DOC_BATCH))
        lines += [
            line(phase, "admin", r, "retire", ",".join(map(str, ids))),
            line(phase, "read", r, "corpus"),
            line(phase, "maint", r, "maintain"),
        ]
    return lines
