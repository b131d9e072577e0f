"""Collect sets of benchmark runs and compare them.

    python3 perfbench/compare.py collect --out A.jsonl --seeds 1-10 [--workloads kg_build,...] [--trace 0|1]
    python3 perfbench/compare.py collect --root A_DIR --out A.jsonl --root B_DIR --out B.jsonl --seeds 1-10
    python3 perfbench/compare.py report A.jsonl [B.jsonl]

``collect`` runs the benchmark once per (seed, workload), one run at a
time, and appends one JSON record per run to ``--out``. Given two
checkouts (``--root`` and ``--out`` twice), it runs them back to back
for each seed and workload, and alternates which goes first, so that a
seed-matched pair shares the host's conditions. ``report`` with one
set prints each end-to-end metric's median, quartiles and spread (the
quartile distance as a share of the median) against the metric's bound.
With two sets it also prints, per workload and metric, the share of
seed-matched pairs that B wins and a verdict against the bound:
``unresolved`` when either set's spread exceeds the bound. Runs that
were not correct or had a failed operation give no values, and B is
never ``better`` when a larger share of its operations failed. Traced
records give per-layer median deltas and the tracing overhead (traced
``trace.job_s`` minus untraced ``job_s``).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text()) if (HERE.parent / "BENCHMARK.json").is_file() else None


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def _run(root: Path, out: Path, w: str, seed: int, trace: int) -> None:
    spec = json.loads((root / "BENCHMARK.json").read_text())
    cmd = [*spec["command"], "--workload", w, "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t = time.time()
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    wall = time.time() - t
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    rec = {"workload": w, "seed": seed, "trace": trace, "exit": proc.returncode, "wall_s": wall, "result": result}
    with open(out, "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(f"{root}: {w} seed={seed} trace={trace} exit={proc.returncode} wall={wall:.1f}s", file=sys.stderr)


def collect(sets: list[tuple[Path, Path]], seeds: list[int], workloads: list[str], trace: int) -> None:
    """One run per (root, seed, workload); with two roots, the root that
    runs first alternates from one pair of runs to the next."""
    k = 0
    for seed in seeds:
        for w in workloads:
            for root, out in sets if k % 2 == 0 else sets[::-1]:
                _run(root, out, w, seed, trace)
            k += 1


def load(path: Path) -> list[dict]:
    return [json.loads(line) for line in path.read_text().splitlines() if line.strip()]


def _values(recs: list[dict], workload: str, trace: int, metric: str) -> dict[int, float]:
    return {
        r["seed"]: r["result"]["metrics"][metric]["value"]
        for r in recs
        if r["workload"] == workload
        and r["trace"] == trace
        and r["result"]
        and r["result"]["correct"]
        and not r["result"]["failed"]
        and metric in r["result"]["metrics"]
    }


def _stats(vals: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0], 0, vals[0])
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def _worse(a: float, b: float, better: str) -> float:
    """How much worse b is than a, as a share of a (negative = better)."""
    if not a:
        return 0.0
    return (b - a) / a if better == "lower" else (a - b) / a


def verdict(a: dict[int, float], b: dict[int, float], m: dict, more_failed: bool = False) -> tuple[str, float, float]:
    """(verdict, share of seed-matched pairs B wins, change of the median);
    ``more_failed``: a larger share of B's operations failed than A's."""
    ma, q1a, q3a, sa = _stats(list(a.values()))
    mb, _, _, sb = _stats(list(b.values()))
    pairs = [(a[s], b[s]) for s in a if s in b]
    wins = sum(_worse(x, y, m["better"]) < 0 for x, y in pairs)
    share = wins / len(pairs) if pairs else 0.0
    change = _worse(ma, mb, m["better"])
    all_better = all(_worse(x, y, m["better"]) < 0 for x in a.values() for y in b.values())
    if more_failed:
        return "worse (more failed operations)", share, change
    if max(sa, sb) > m["bound"]:
        return ("better" if all_better else "unresolved"), share, change
    if change > m["bound"]:
        return "worse", share, change
    if share >= 0.9 and abs(mb - ma) > q3a - q1a:
        return "better", share, change
    return "same", share, change


def _failures(recs: list[dict], workload: str) -> tuple[float, str]:
    """(share of operations failed, summary line)."""
    rs = [r["result"] for r in recs if r["workload"] == workload and r["result"]]
    att, fail = sum(r["attempted"] for r in rs), sum(r["failed"] for r in rs)
    bad = sum(not r["correct"] for r in rs) + sum(1 for r in recs if r["workload"] == workload and not r["result"])
    return (fail / att if att else 1.0), f"{fail}/{att} ops failed, {bad} runs incorrect or crashed"


def report(a: list[dict], b: list[dict] | None) -> None:
    workloads = [w["name"] for w in SPEC["workloads"]]
    for w in workloads:
        if not any(r["workload"] == w for r in a):
            continue
        fa, line_a = _failures(a, w)
        fb, line_b = _failures(b, w) if b else (0.0, "")
        print(f"\n== {w}: A {line_a}" + (f"; B {line_b}" if b else ""))
        for m in SPEC["end_to_end"]:
            va = _values(a, w, 0, m["name"])
            if not va:
                continue
            med, q1, q3, spread = _stats(list(va.values()))
            line = f"  {m['name']:<12} A median {med:.4g} [{q1:.4g}, {q3:.4g}] spread {spread:.3f} (bound {m['bound']}, n={len(va)})"
            if b:
                vb = _values(b, w, 0, m["name"])
                if vb:
                    mb, q1b, q3b, sb = _stats(list(vb.values()))
                    v, share, change = verdict(va, vb, m, more_failed=fb > fa)
                    line += f" | B median {mb:.4g} [{q1b:.4g}, {q3b:.4g}] spread {sb:.3f} | worse by {change:+.3f}, B wins {share:.0%} -> {v}"
            print(line)
        _layers(a, b, w)


def _layers(a: list[dict], b: list[dict] | None, w: str) -> None:
    for name, recs in (("A", a), ("B", b)):
        if recs is None:
            continue
        traced = _values(recs, w, 1, "trace.job_s")
        plain = _values(recs, w, 0, "job_s")
        if traced and plain:
            t, p = statistics.median(traced.values()), statistics.median(plain.values())
            selfs = sum(
                statistics.median(_values(recs, w, 1, m["name"]).values())
                for m in SPEC["per_layer"]
                if m["name"].endswith(".wall_s") and _values(recs, w, 1, m["name"])
            )
            print(
                f"  {name} tracing overhead: traced job_s {t:.3f} - untraced job_s {p:.3f} = {t - p:+.3f} s; "
                f"layer self times sum to {selfs:.3f} s ({selfs - p:+.3f} s against untraced job_s)"
            )
    if not any(r["workload"] == w and r["trace"] == 1 for r in a):
        return
    print("  per-layer medians (traced runs, non-zero only):")
    for m in SPEC["per_layer"]:
        va = _values(a, w, 1, m["name"])
        if not va:
            continue
        ma = statistics.median(va.values())
        vb = _values(b, w, 1, m["name"]) if b else {}
        mb = statistics.median(vb.values()) if vb else None
        if not ma and not mb:
            continue
        line = f"    {m['name']:<32} A {ma:.4g} {m['unit']}"
        if mb is not None:
            line += f"  B {mb:.4g}  delta {mb - ma:+.4g}" + (f" ({(mb - ma) / ma:+.1%})" if ma else "")
        print(line)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", type=Path, action="append", required=True, help="record file, one per --root")
    c.add_argument("--root", type=Path, action="append", help="checkout to run (default: this one); give two to pair runs")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workloads", default=None, help="comma-separated; default all")
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r = sub.add_parser("report")
    r.add_argument("a", type=Path)
    r.add_argument("b", type=Path, nargs="?")
    args = ap.parse_args(argv)
    if SPEC is None:
        print("compare: BENCHMARK.json not found next to perfbench/", file=sys.stderr)
        return 2
    if args.cmd == "collect":
        names = args.workloads.split(",") if args.workloads else [w["name"] for w in SPEC["workloads"]]
        roots = [r.resolve() for r in args.root] if args.root else [HERE.parent]
        if len(roots) != len(args.out) or len(roots) > 2:
            print("compare: give one --out per --root, at most two of each", file=sys.stderr)
            return 2
        collect(list(zip(roots, args.out)), _seeds(args.seeds), names, args.trace)
    else:
        report(load(args.a), load(args.b) if args.b else None)
    return 0


if __name__ == "__main__":
    sys.exit(main())
