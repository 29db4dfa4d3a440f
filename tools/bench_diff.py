#!/usr/bin/env python3
"""Bench comparison.

  tools/bench_diff.py OLD.json NEW.json
      per-query deltas NEW vs a single OLD run, plus each gate's change in
      Spark jobs per timed run when both artifacts carry "gates" (the
      bench_last.json form) — a deterministic count, unlike the timings

  tools/bench_diff.py --history bench_history.jsonl NEW.json
      per-query deltas NEW vs the HISTORICAL per-query median across all
      recorded runs at the same sf — single runs swing up to 5x per query
      on identical code (r7 measured 23% total between two same-code runs),
      so a regression gate that diffs one run against one run will
      eventually misfire on noise; the cross-run median is the stable bar.

Accepts either a raw one-line graft.Bench JSON or a driver BENCH_r{N}.json
wrapper (uses its "parsed" field when present). Prints per-query deltas
beyond a noise floor, plus added/removed queries and totals. When the NEW
artifact carries "queries_min" (min-of-runs per query), a query is only
flagged SLOWER if its MIN also exceeds the bar — a slow median with a
fast min is scheduling noise, not a plan regression."""
import json, statistics, sys

NOISE = 0.30  # seconds AND 25% — both must be exceeded to count
# 1-min load average above this at bench start/end means something else was
# running on the box — every contaminated artifact so far (r10 452.6 s,
# r11 351.0 s) carried load_before 3.9-6.1 while clean runs read 0.19-0.27
# on this 32-cpu machine. Generous bar: one stray compile is ~1.0.
LOAD_MAX = 1.0
# A calibration probe with fewer clean history samples than this cannot
# anchor a 2x rule — r11's calib_io_sec first-ever sample (1.131, itself
# contaminated) sailed through because it WAS the history.
MIN_CALIB_SAMPLES = 3


def loaded_run(d):
    """True when a history entry records a busy machine — excluded from
    medians so a contaminated run can never become the comparison bar.
    r13 runs stamp their own verdict ("contaminated": true, covering both
    load and calibration deviation); older entries only carry
    load_before, so both signals are honored."""
    if d.get("contaminated") is True:
        return True
    lb = d.get("load_before")
    return isinstance(lb, (int, float)) and lb > LOAD_MAX


def load(path):
    with open(path) as f:
        d = json.load(f)
    if "queries" not in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    elif "queries" not in d and isinstance(d.get("tail"), str):
        # driver wrapper whose "parsed" is null (the metric line scrolled
        # past the driver's parser): recover it from the captured tail
        for line in d["tail"].splitlines():
            i = line.find('{"metric"')
            if i >= 0:
                try:
                    d = json.loads(line[i:])
                    break
                except ValueError:
                    pass
    return d


def history_medians(path, sf):
    """per-query median (and count) across all history entries at this sf,
    plus the calibration-query median (contention baseline).

    History lines without an "sf" field are dropped when the new artifact
    has one — including them unconditionally would mix scale factors into
    the median and skew the regression bar."""
    per = {}
    totals = []
    calibs = {"calib_sec": [], "calib_io_sec": []}
    if not sf:
        print("WARN: new artifact has no 'sf' — history medians mix all "
              "scale factors", file=sys.stderr)
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            d = json.loads(line)
            if sf and d.get("sf") != sf:
                continue
            if loaded_run(d):
                continue
            totals.append(d.get("value"))
            for key in calibs:
                c = d.get(key)
                if isinstance(c, (int, float)) and c > 0:
                    calibs[key].append(c)
            for k, v in d.get("queries", {}).items():
                if v >= 0:
                    per.setdefault(k, []).append(v)
    med = {k: statistics.median(v) for k, v in per.items()}
    n = {k: len(v) for k, v in per.items()}
    return med, n, totals, calibs


def contention_check(new, calibs):
    """True when EITHER of the NEW run's calibration probes (fixed,
    SF-independent work) deviates >2x from its history median — the
    signature of a contaminated machine (r10: the driver artifact read
    2.4x the same-code clean run with nothing flagging it; r11: two
    same-code runs read 215 vs 242 s with IDENTICAL CPU calibration —
    the drift lived in disk-heavy queries, hence the separate I/O
    probe). A contaminated run must not be regress-flagged; its numbers
    say nothing about the code."""
    flagged = False
    # load-average gate first: it needs NO history, so it catches the
    # first-ever sample of a new probe that the 2x rule is blind to
    # (exactly how BENCH_r11 shipped contaminated: calib_io_sec had no
    # prior samples, but load_before read 3.94). Only load_BEFORE can
    # gate: the bench's own 32 worker threads leave the 1-min average at
    # 2.4-5.5 by the end of every run, clean ones included (measured
    # r11-r12), so a load_after rule would refuse every legitimate run.
    # load_after is reported as context only.
    lv = new.get("load_before")
    if isinstance(lv, (int, float)) and lv > LOAD_MAX:
        print(f"CONTENTION (load): load_before={lv:.2f} > {LOAD_MAX} — the "
              "machine was busy when this run started; refusing to "
              "regress-flag it; rerun on an idle machine "
              f"(load_after={new.get('load_after')})")
        flagged = True
    # Per-probe factors: CPU contention shows up huge when present (2x is
    # plenty), but disk drift is gradual and SELECTIVE — r13 measured a
    # session with calib_io at 1.53x history where I/O-bound queries read
    # 1.5-2x while CPU-bound ones sat at ~1.1x, sailing under a 2x bar
    # AND under a median-per-query-ratio gate. Observed clean calib_io
    # sits within ~1.2x of its median (r12-r13: 0.74 median, clean runs
    # 0.71-0.89); every degraded session read >=1.4x. Bar at 1.4x.
    for key, label, factor in (("calib_sec", "cpu", 2.0),
                               ("calib_io_sec", "io", 1.4)):
        c = new.get(key)
        hist = calibs.get(key, [])
        if not isinstance(c, (int, float)) or c <= 0:
            continue
        if len(hist) < MIN_CALIB_SAMPLES:
            # an under-sampled probe ABSTAINS: its 2x rule cannot fire on
            # its own first samples (how BENCH_r11 shipped contaminated),
            # so it must not be read as clean evidence either — the
            # history-free load gate above is what guards these runs
            print(f"NO-BASELINE ({label}): calibration probe {key} has "
                  f"only {len(hist)} clean history sample(s) (<"
                  f"{MIN_CALIB_SAMPLES}) — this probe cannot anchor a "
                  "comparison; trusting the load gate alone for this run")
            continue
        base = statistics.median(hist)
        if base <= 0:
            continue
        if c > factor * base or c < base / 2.0:
            print(f"CONTENTION ({label}): calibration {c:.2f} s vs history "
                  f"median {base:.2f} s, bar {factor}x "
                  f"(load_before={new.get('load_before')}, "
                  f"load_after={new.get('load_after')}) — refusing to "
                  "regress-flag this run; rerun on an idle machine")
            flagged = True
    return flagged


def diff(oq, nq, new, n_runs=None):
    nmin = new.get("queries_min", {})
    for name in sorted(set(oq) & set(nq)):
        a, b = oq[name], nq[name]
        if a < 0 or b < 0:
            print(f"  BROKEN {name}: {a} -> {b}")
            continue
        bar_exceeded = abs(b - a) > NOISE and abs(b - a) > 0.25 * max(a, 0.001)
        if bar_exceeded and b > a and name in nmin and nmin[name] >= 0:
            m = nmin[name]
            if not (m - a > NOISE and m - a > 0.25 * max(a, 0.001)):
                print(f"  noise? {name}: median {a:.2f} -> {b:.2f} s "
                      f"but min {m:.2f} s is within the bar")
                continue
        if bar_exceeded:
            tag = "SLOWER" if b > a else "faster"
            extra = f" (n_hist={n_runs[name]})" if n_runs else ""
            print(f"  {tag} {name}: {a:.2f} -> {b:.2f} s{extra}")
    for name in sorted(set(nq) - set(oq)):
        print(f"  new    {name}: {nq[name]:.2f} s")
    for name in sorted(set(oq) - set(nq)):
        print(f"  gone   {name}: was {oq[name]:.2f} s")


def jobs_diff(og, ng):
    """Each shared gate whose Spark jobs per timed run changed; silent
    when either artifact has no per-gate jobs."""
    if not og or not ng:
        return
    shared = sorted(set(og) & set(ng))
    changed = [g for g in shared if og[g].get("jobs") != ng[g].get("jobs")]
    for g in changed:
        print(f"  jobs   {g}: {og[g].get('jobs')} -> {ng[g].get('jobs')} per run")
    if not changed:
        print(f"jobs per run: unchanged on all {len(shared)} shared gates")


def main_pair(old_path, new_path):
    old, new = load(old_path), load(new_path)
    oq, nq = old.get("queries", {}), new.get("queries", {})
    print(f"total: {old.get('value')} -> {new.get('value')} s "
          f"({len(oq)} -> {len(nq)} queries, catalog_init "
          f"{old.get('catalog_init')} -> {new.get('catalog_init')})")
    diff(oq, nq, new)
    jobs_diff(old.get("gates"), new.get("gates"))


def main_history(hist_path, new_path):
    new = load(new_path)
    nq = new.get("queries", {})
    med, n_runs, totals, calibs = history_medians(hist_path, new.get("sf"))
    ok_totals = [t for t in totals if t is not None]
    base = statistics.median(ok_totals) if ok_totals else None
    print(f"historical median total: {base} s over {len(ok_totals)} runs "
          f"at sf={new.get('sf')} -> new {new.get('value')} s "
          f"({len(nq)} queries)")
    if contention_check(new, calibs):
        return
    # Broad-slowdown gate: a code change moves SPECIFIC operators; an
    # environment drift moves everything. When the MEDIAN per-query
    # ratio across all shared queries exceeds 1.25x, per-query SLOWER
    # flags would misattribute machine drift to code (r13: a run with
    # load_before 0.36 and both calib probes under their 2x bars still
    # read every family 50-100% over history — disk-slow session), so
    # refuse to flag and say why.
    shared = [(nq[k] / med[k]) for k in set(med) & set(nq)
              if med.get(k, 0) > 0.2 and nq.get(k, -1) > 0
              and (n_runs or {}).get(k, 0) >= 3]
    if len(shared) >= 10:
        med_ratio = statistics.median(shared)
        if med_ratio > 1.25:
            print(f"ENVIRONMENT-DRIFT: median per-query ratio "
                  f"{med_ratio:.2f}x across {len(shared)} shared queries — "
                  "a uniform slowdown is machine drift, not a code "
                  "regression (calibration probes "
                  f"{new.get('calib_sec')}/{new.get('calib_io_sec')} vs "
                  "history; see PERFORMANCE.md r13); refusing to "
                  "regress-flag this run")
            return
    diff(med, nq, new, n_runs)


def selftest():
    """Unit cases for the contention gate (run: bench_diff.py --selftest)."""
    import io, os
    from contextlib import redirect_stdout

    def check(name, cond):
        print(("ok   " if cond else "FAIL ") + name)
        return cond

    ok = True
    quiet = io.StringIO()
    # 1. load gate needs no history
    with redirect_stdout(quiet):
        f = contention_check({"load_before": 3.94}, {})
    ok &= check("load_before>1.0 flags with empty history", f)
    with redirect_stdout(quiet):
        f = contention_check({"load_before": 0.2, "load_after": 0.3}, {})
    ok &= check("idle load passes", not f)
    # load_after is the bench's own 32 threads — it must NOT refuse a run
    # that STARTED idle (every clean r11-r12 run ends at 2.4-5.5)
    with redirect_stdout(quiet):
        f = contention_check({"load_before": 0.4, "load_after": 4.52}, {})
    ok &= check("high load_after alone does not refuse", not f)
    # 2. <3 clean samples: the probe abstains (cannot pass OR flag);
    #    a busy-load run with an under-sampled probe still flags via load
    with redirect_stdout(quiet):
        f = contention_check({"load_before": 0.2, "calib_io_sec": 9.0},
                             {"calib_io_sec": [1.0]})
    ok &= check("under-sampled probe abstains", not f)
    with redirect_stdout(quiet):
        f = contention_check({"load_before": 3.9, "calib_io_sec": 1.1},
                             {"calib_io_sec": [1.0]})
    ok &= check("load gate covers under-sampled probe", f)
    with redirect_stdout(quiet):
        f = contention_check({"load_before": 0.2, "calib_io_sec": 1.0},
                             {"calib_io_sec": [0.9, 1.0, 1.1]})
    ok &= check("3 in-range samples pass", not f)
    # 3. 2x deviation still fires with enough samples
    with redirect_stdout(quiet):
        f = contention_check({"load_before": 0.2, "calib_sec": 0.5},
                             {"calib_sec": [0.19, 0.19, 0.22]})
    ok &= check("2x cpu calibration drift flags", f)
    # 4. loaded history entries never enter the median
    ok &= check("loaded_run excludes busy entries",
                loaded_run({"load_before": 3.94})
                and not loaded_run({"load_before": 0.19})
                and not loaded_run({}))
    # 5. per-gate jobs: silent when either side lacks them, else one
    #    line per changed gate
    out = io.StringIO()
    with redirect_stdout(out):
        jobs_diff(None, {"g": {"jobs": [62, 62, 62]}})
        jobs_diff({"g": {"jobs": [62, 62, 62]}}, {})
    ok &= check("jobs diff silent without per-gate jobs", out.getvalue() == "")
    out = io.StringIO()
    with redirect_stdout(out):
        jobs_diff({"a": {"jobs": [62, 62, 62]}, "b": {"jobs": [5]}},
                  {"a": {"jobs": [60, 60, 61]}, "b": {"jobs": [5]}})
    ok &= check("jobs diff names the changed gate only",
                out.getvalue() == "  jobs   a: [62, 62, 62] -> [60, 60, 61] per run\n")
    # 6. the real r11 contaminated artifact is flagged; the clean
    #    same-code run is not (the exact misfire this gate exists for)
    here = os.path.dirname(os.path.abspath(__file__))
    r11 = os.path.join(here, "..", "BENCH_r11.json")
    hist = os.path.join(here, "..", "bench_history.jsonl")
    if os.path.exists(r11) and os.path.exists(hist):
        new = load(r11)
        _, _, _, calibs = history_medians(hist, new.get("sf"))
        with redirect_stdout(quiet):
            f = contention_check(new, calibs)
        ok &= check("BENCH_r11.json flagged contaminated", f)
        clean = {"load_before": 0.19, "load_after": 0.27, "calib_sec": 0.19,
                 "sf": "/root/testdata/sf0.1"}
        with redirect_stdout(quiet):
            f = contention_check(clean, calibs)
        ok &= check("r11 clean-run profile accepted", not f)
    print("selftest " + ("PASSED" if ok else "FAILED"))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    if len(sys.argv) == 2 and sys.argv[1] == "--selftest":
        selftest()
    elif len(sys.argv) == 4 and sys.argv[1] == "--history":
        main_history(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 3:
        main_pair(sys.argv[1], sys.argv[2])
    else:
        print(__doc__)
        sys.exit(2)
