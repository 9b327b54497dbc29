#!/usr/bin/env python3
"""Compare two sets of perfbench runs, workload by workload.

Usage:

    python3 perfbench/compare.py A B            # A = base runs, B = new runs
    python3 perfbench/compare.py --overhead A B # A untraced, B traced, same code

A and B are record files or directories of them: the JSON records run.py
keeps under `<build>/records/<workload>/`. For every workload present
on both sides it prints, per end-to-end metric, each side's median and
quartiles and their spread (quartile distance over the median, the
run-to-run noise), the change of the median and a verdict against the
metric's bound in BENCHMARK.json; then op latencies pooled over each
side's runs (median, and p90 only where ten samples lie beyond it); then the
per-layer deltas of traced runs.

Records are only compared when their conditions match: workload, cores,
engine configuration and overrides, run length, Spark version, testdata and
trace flag (which must differ, untraced against traced, with --overhead).
The tool refuses otherwise, naming the differing fields. Uses only the
Python standard library.
"""
import argparse
import json
import math
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CONDITIONS = ("workload", "cores", "nproc", "engine_conf", "env_overrides",
              "run_seconds", "spark_version", "data", "trace")


# ---- statistics ------------------------------------------------------------

def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them;
    a single value is its own quartiles."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no values")
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(values):
    """Quartile distance as a share of the median (0 for one value, or
    for a metric that reads the same in every run)."""
    q1, med, q3 = quartiles(values)
    if q3 == q1:
        return 0.0
    return (q3 - q1) / abs(med) if med else math.inf


def percentile(values, p, beyond=10):
    """Nearest-rank percentile p (0-100), or None unless at least
    `beyond` samples lie above its rank."""
    xs = sorted(values)
    if not xs:
        return None
    rank = math.ceil(p / 100.0 * len(xs))
    if len(xs) - rank < beyond:
        return None
    return xs[max(rank, 1) - 1]


def verdict(base, new, bound, better="lower"):
    """Compare two lists of one metric's values against `bound`, the share
    by which the new median may be worse than the base median.

    Returns (relative change of the median, verdict) where the change is
    signed so that positive means worse. The verdict is "worse" beyond the
    bound, "unresolved" when either side's spread exceeds the bound and
    not every new run beats every base run, "better" when the improvement
    exceeds the base spread, else "within"."""
    _, mb, _ = quartiles(base)
    _, mn, _ = quartiles(new)
    sign = 1.0 if better == "lower" else -1.0
    if mb:
        change = sign * (mn - mb) / abs(mb)
    else:
        change = 0.0 if mn == mb else sign * math.copysign(math.inf, mn)
    if bound is None:
        return change, ""
    all_better = (max(new) < min(base)) if better == "lower" else (min(new) > max(base))
    if max(spread(base), spread(new)) > bound and not all_better:
        return change, "unresolved"
    if change > bound:
        return change, "worse"
    if -change > spread(base):
        return change, "better"
    return change, "within"


# ---- records ---------------------------------------------------------------

def load_records(paths):
    out = []
    for path in paths:
        files = []
        if os.path.isdir(path):
            for d, _, names in os.walk(path):
                files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".json")]
        else:
            files.append(path)
        for f in files:
            with open(f) as fh:
                out.append(json.load(fh))
    return out


def conditions(rec, skip=()):
    return {k: rec.get(k) for k in CONDITIONS if k not in skip}


def check_conditions(a, b, overhead):
    """Error messages for records whose conditions differ."""
    errors = []
    skip = ("trace",) if overhead else ()
    ref = conditions(a[0], skip)
    for side, recs in (("A", a), ("B", b)):
        for r in recs:
            c = conditions(r, skip)
            diff = sorted(k for k in ref if c.get(k) != ref[k])
            if diff:
                errors.append(f"{side} seed {r.get('seed')}: conditions differ in "
                              f"{', '.join(diff)}")
    traces = ({r.get("trace") for r in a}, {r.get("trace") for r in b})
    if overhead and traces != ({0}, {1}):
        errors.append("--overhead needs untraced runs as A and traced runs as B")
    if not overhead and len(traces[0] | traces[1]) > 1:
        errors.append("mixed traced and untraced runs (use --overhead)")
    return errors


def digest_mismatches(recs):
    """Seeds whose runs disagree on their output digests. Runs of one side
    share their code, so their outputs must agree seed by seed."""
    seen = {}
    out = []
    for r in recs:
        key = r.get("seed")
        d = r.get("digests") or {}
        if not d:
            continue
        if key in seen and seen[key] != d:
            out.append(f"seed {key}: output digests differ between runs")
        seen.setdefault(key, d)
    return out


def changed_outputs(a, b):
    """Seeds whose output digests differ between A and B: the new code
    computes other outputs, which a pure speed-up does not."""
    da = {r.get("seed"): r.get("digests") for r in a if r.get("digests")}
    return sorted({r.get("seed") for r in b
                   if r.get("digests") and r.get("seed") in da
                   and da[r.get("seed")] != r.get("digests")})


# ---- report ----------------------------------------------------------------

def fmt(v):
    return "n/a" if v is None else f"{v:.4g}"


def metric_values(recs, name, section="metrics"):
    vals = []
    for r in recs:
        v = r.get(section, {}).get(name)
        if isinstance(v, dict):
            v = v.get("value")
        if v is not None:
            vals.append(float(v))
    return vals


def report(workload, a, b, bench, overhead, out):
    bounds = {m["name"]: (m.get("bound"), m.get("better", "lower"))
              for m in bench.get("end_to_end", [])}
    better = {m["name"]: m.get("better", "lower") for m in bench.get("per_layer", [])}
    out.append(f"== {workload}: A {len(a)} runs (seeds {sorted(r['seed'] for r in a)}), "
               f"B {len(b)} runs (seeds {sorted(r['seed'] for r in b)})")
    for side, recs in (("A", a), ("B", b)):
        lb = [r["load_before"] for r in recs if r.get("load_before", -1) >= 0]
        if lb:
            out.append(f"   {side} load before: median {statistics.median(lb):.2f}; "
                       f"commits {sorted({r.get('git_commit', '?')[:12] for r in recs})}; "
                       f"sources {sorted({r.get('source_digest', '?') for r in recs})}")
    out.append(f"   {'metric':<22}{'unit':<7}{'A median [q1, q3] spread':>34}"
               f"{'B median [q1, q3] spread':>34}{'change':>9}{'bound':>7}  verdict")
    names = [n for n in bounds] + sorted(
        {n for r in a + b for n in r.get("metrics", {})} - set(bounds))
    for name in names:
        va, vb = metric_values(a, name), metric_values(b, name)
        if not va or not vb:
            continue
        unit = next(r["metrics"][name]["unit"] for r in a if name in r.get("metrics", {}))
        bound, bet = bounds.get(name, (None, "lower"))
        if overhead:
            bound = None
        change, v = verdict(va, vb, bound, bet)
        cells = []
        for vals in (va, vb):
            q1, med, q3 = quartiles(vals)
            cells.append(f"{fmt(med)} [{fmt(q1)}, {fmt(q3)}] {spread(vals):.1%}")
        out.append(f"   {name:<22}{unit:<7}{cells[0]:>34}{cells[1]:>34}"
                   f"{change:>+9.1%}{fmt(bound):>7}  {v}")
    out.append("   pooled op latencies (s):  n  p50  p90  (A -> B)")
    kinds = sorted({k for r in a + b for k in r.get("samples", {})})
    for k in kinds:
        cells = []
        for recs in (a, b):
            xs = [x for r in recs for x in r.get("samples", {}).get(k, [])]
            med = statistics.median(xs) if xs else None
            cells.append(f"{len(xs)} {fmt(med)} {fmt(percentile(xs, 90))}")
        out.append(f"   {k:<22}{cells[0]:>24}  ->  {cells[1]}")
    layers = sorted({n for r in a + b for n in r.get("layers", {})})
    if layers and not overhead:
        out.append(f"   per-layer medians:{'A':>38}{'B':>14}{'change':>10}")
        for n in layers:
            va, vb = metric_values(a, n, "layers"), metric_values(b, n, "layers")
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            rel = f"{(mb - ma) / abs(ma):+.1%}" if ma else ("=" if mb == ma else "new")
            flag = "" if better.get(n) is None else f" ({better[n]} is better)"
            out.append(f"   {n:<42}{fmt(ma):>14}{fmt(mb):>14}{rel:>10}{flag}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a", help="base runs: record files or directories")
    ap.add_argument("b", help="new runs: record files or directories")
    ap.add_argument("--overhead", action="store_true",
                    help="A untraced, B traced runs of the same code: "
                         "report the tracing overhead")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE),
                                                    "BENCHMARK.json"))
    args = ap.parse_args(argv)
    bench = {}
    if os.path.exists(args.bench):
        with open(args.bench) as f:
            bench = json.load(f)
    a, b = load_records([args.a]), load_records([args.b])
    workloads = sorted({r["workload"] for r in a} & {r["workload"] for r in b})
    if not workloads:
        print("compare: no workload has runs on both sides", file=sys.stderr)
        return 2
    out, errors = [], []
    for w in workloads:
        wa = [r for r in a if r["workload"] == w]
        wb = [r for r in b if r["workload"] == w]
        errs = check_conditions(wa, wb, args.overhead)
        if errs:
            errors += [f"{w}: {e}" for e in errs]
            continue
        report(w, wa, wb, bench, args.overhead, out)
        errors += [f"{w}: {side} {e}" for side, recs in (("A", wa), ("B", wb))
                   for e in digest_mismatches(recs)]
        changed = changed_outputs(wa, wb)
        if changed:
            out.append(f"   note: outputs differ between A and B for seeds {changed}")
    print("\n".join(out))
    if errors:
        print("compare: refused or inconsistent:\n  " + "\n  ".join(errors),
              file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
