"""Correctness checks: independent expectations for every op result and
for each workload's final state.

Both workloads replay the executed schedule on a plain-Python model of
the catalog / dedup store. Each function returns a list of (op index or
None, message) failures.
"""
import hashlib
import json
import os

from inputs import MUTATE_FILES


def digest(ids):
    ids = sorted(ids)
    return "%d:%s" % (len(ids), hashlib.md5("\n".join(ids).encode()).hexdigest())


# ---- catalog_mutate: model replay ----

def fid(k):
    return "F%08d" % k


class CatalogModel:
    """The seeded catalog and the effect of every catalog_mutate op."""

    def __init__(self, n=MUTATE_FILES):
        # fid -> [retired, core.run, opt.mark]
        self.files = {fid(k): [k % 97 == 0, k % 1000, ""] for k in range(n)}
        self.members = {(fid(k), "dsns:all") for k in range(n)}
        self.edges = set()
        self.datasets = {"dsns:all": ""}
        self.hierarchy = set()
        self.queries = {}

    def apply(self, name, a):
        if name == "createDataset":
            self.datasets["%s:%s" % (a[0], a[1])] = ""
        elif name == "declareFiles":
            for k in range(int(a[2]), int(a[2]) + int(a[3])):
                f = "N%08d" % k
                self.files[f] = [False, k % 1000, ""]
                self.members.add((f, "%s:%s" % (a[0], a[1])))
        elif name == "addTo":
            self.members |= {(f, "%s:%s" % (a[0], a[1])) for f in a[2].split(",")}
        elif name == "removeFrom":
            self.members -= {(f, "%s:%s" % (a[0], a[1])) for f in a[2].split(",")}
        elif name == "retireFiles":
            for f in a[0].split(","):
                self.files[f][0] = True
        elif name == "updateFileMeta":
            patch = json.loads(a[1])
            for f in a[0].split(","):
                self.files[f][1] = patch.get("core.run", self.files[f][1])
                self.files[f][2] = patch.get("opt.mark", self.files[f][2])
        elif name == "addProvenance":
            self.edges |= {tuple(e.split(">")) for e in a[0].split(",")}
        elif name == "addDatasetEdge":
            self.hierarchy.add(("%s:%s" % (a[0], a[1]), "%s:%s" % (a[2], a[3])))
        elif name == "saveNamedQuery":
            self.queries["%s:%s" % (a[0], a[1])] = a[2]
        elif name == "updateDataset":
            self.datasets["%s:%s" % (a[0], a[1])] = json.loads(a[2])["ds.note"]
        elif name != "maintain":
            raise ValueError("unknown op " + name)

    def query(self, text):
        """the two read-your-writes shapes the schedule issues"""
        words = text.split()
        ds = words[2]
        out = [f for f, d in self.members if d == ds and not self.files[f][0]]
        if "where" in words:
            y = int(words[-1])
            out = [f for f in out if self.files[f][1] < y]
        return digest(out)

    def state(self):
        return {
            "files.tsv": {"\t".join([f, "true" if r else "false", str(run), mark])
                          for f, (r, run, mark) in self.files.items()},
            "members.tsv": {"%s\t%s" % m for m in self.members},
            "edges.tsv": {"%s\t%s" % e for e in self.edges},
            "datasets.tsv": {"%s\t%s" % d for d in self.datasets.items()},
            "hierarchy.tsv": {"%s\t%s" % h for h in self.hierarchy},
            "queries.tsv": {"%s\t%s" % q for q in self.queries.items()},
        }


def _dumped(out_dir, name):
    with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
        return [line.rstrip("\n") for line in fh if line.strip()]


def _compare_state(want, out_dir):
    fails = []
    for name, rows in sorted(want.items()):
        got = _dumped(out_dir, name)
        if len(got) != len(set(got)):
            fails.append((None, "%s: %d duplicate rows" % (name, len(got) - len(set(got)))))
        extra, missing = set(got) - rows, rows - set(got)
        if extra or missing:
            fails.append((None, "%s: %d unexpected rows (e.g. %s), %d missing (e.g. %s)" % (
                name, len(extra), sorted(extra)[:2], len(missing), sorted(missing)[:2])))
    return fails


def _planted(ops, name, plant_wrong):
    """the op whose expectation the negative control corrupts"""
    return max((o["idx"] for o in ops if o["name"] == name), default=None) \
        if plant_wrong else None


def check_catalog_mutate(ops, out_dir, plant_wrong=False):
    m = CatalogModel()
    fails = []
    planted = _planted(ops, "query", plant_wrong)
    for o in ops:
        if o["name"] == "query":
            want = m.query(o["args"][1])
            if o["idx"] == planted:
                want = "0:wrong"
            if o["result"] != want:
                fails.append((o["idx"], "%s: got %s, want %s" % (o["args"][1], o["result"], want)))
        else:
            m.apply(o["name"], o["args"])
    return fails + _compare_state(m.state(), out_dir)


# ---- dedup_ingest: model replay ----

NUM_HASHES, BANDS, THRESHOLD = 8, 4, 0.5   # DedupLog's defaults


def shingles(text):
    """distinct lower-cased word 3-grams (docs under 3 words have none)"""
    w = text.lower().split(" ")
    return frozenset(" ".join(w[i:i + 3]) for i in range(len(w) - 2))


def band_keys(sh):
    """MinHash-LSH band keys as the engine computes them: hash h of a
    shingle is the first 15 hex digits of md5("h:" + shingle); band b
    joins the minima of hashes 2b and 2b+1"""
    mins = [min(int(hashlib.md5(("%d:%s" % (h, x)).encode()).hexdigest()[:15], 16)
                for x in sh) for h in range(NUM_HASHES)]
    r = NUM_HASHES // BANDS
    return {(b, ",".join(str(m) for m in mins[r * b:r * b + r])) for b in range(BANDS)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


class DedupModel:
    """Admission as DedupLog defines it: ids already in the corpus drop
    out; a remaining doc is rejected when it shares an LSH band key with
    a live corpus doc, or with an earlier (lower id) doc of the same
    batch, and their shingle Jaccard is at least the threshold."""

    def __init__(self, docs):
        self.docs = docs          # batch -> [(doc_id, text)]
        self.live = {}            # doc_id -> stamp
        self.sig = {}             # doc_id -> (shingles, band keys)
        self.rejected = 0         # fresh docs turned away as near-duplicates

    def _sig(self, d, text):
        if d not in self.sig:
            sh = shingles(text)
            self.sig[d] = (sh, band_keys(sh) if sh else set())
        return self.sig[d]

    def apply(self, name, a):
        if name in ("ingest", "redeliver"):
            fresh = sorted((d, t) for d, t in self.docs[int(a[0])] if d not in self.live)
            buckets = {}
            for d in self.live:
                for k in self.sig[d][1]:
                    buckets.setdefault(k, []).append(d)
            admitted = []
            for d, text in fresh:
                sh, keys = self._sig(d, text)
                cand = {c for k in keys for c in buckets.get(k, ())}
                if not any(jaccard(sh, self.sig[c][0]) >= THRESHOLD for c in cand):
                    admitted.append(d)
                for k in keys:   # later batch docs probe every earlier one
                    buckets.setdefault(k, []).append(d)
            for d in admitted:
                self.live[d] = int(a[1])
            self.rejected += len(fresh) - len(admitted)
        elif name == "retire":
            for d in a[0].split(","):
                self.live.pop(int(d), None)
        elif name != "maintain":
            raise ValueError("unknown op " + name)

    def corpus(self):
        return digest(str(d) for d in self.live)


def check_dedup_ingest(ops, out_dir, input_dir, plant_wrong=False):
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(input_dir, "docs.parquet")).to_pydict()
    docs = {}
    for d, text, b in zip(t["doc_id"], t["text"], t["batch"]):
        docs.setdefault(b, []).append((d, text))
    m = DedupModel(docs)
    fails = []
    planted = _planted(ops, "corpus", plant_wrong)
    for o in ops:
        if o["name"] == "corpus":
            want = m.corpus()
            if o["idx"] == planted:
                want = "0:wrong"
            if o["result"] != want:
                fails.append((o["idx"], "corpus: got %s, want %s" % (o["result"], want)))
        else:
            m.apply(o["name"], o["args"])
    if not m.rejected:
        fails.append((None, "the schedule rejected no near-duplicate: nothing tested the probe"))
    redelivered = [r for r in _dumped(out_dir, "corpus.tsv") if int(r.split("\t")[1]) >= 10000]
    if redelivered:
        fails.append((None, "redelivered batches admitted %d docs" % len(redelivered)))
    want = {"%d\t%d" % (d, s) for d, s in m.live.items()}
    return fails + _compare_state({"corpus.tsv": want}, out_dir)
