"""Paired A/B of the streaming benchmark (perfbench) against a parent rev.

Usage, from the root of the checkout holding the change:

    python tools/perfbench_ab.py --base HEAD^ --pairs 10 --seed0 21 \\
        app2_stateful app1_stateless

The base rev is cloned (``git clone --shared``, then checkout) into a
temporary directory outside the checkout; the change side is this
checkout's working tree. For every workload, pair i runs
``perfbench/run.py`` on both sides with seed ``seed0 + i`` and
BENCHMARK.json's ``run_seconds``, the side that runs first flipping every
pair.

For each workload and end-to-end metric of BENCHMARK.json (read, never
written) it prints both sides' medians and quartiles, the pairs the change
won (ties count for neither) out of all pairs run, and a verdict:

- ``gain``: the change won at least 9/10 of the pairs run (a pair missing
  the metric on either side counts as not won) and its median beats the
  parent's by more than the parent's interquartile range, and the change
  side has no more incorrect runs and no larger total ``failed`` than the
  parent;
- ``worse``: the change's median is worse than the parent's by more than
  the metric's bound;
- ``unresolved``: not worse by the bound, but either side's run-to-run
  spread (IQR / median) is wider than the bound, and not every change run
  beats every parent run;
- ``within bound``: otherwise.

Every run whose result line says ``correct: false`` (or that printed no
result line) is listed and makes the exit status 1. ``--out FILE`` also
writes every run's result as JSON.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GAIN_WIN_FRACTION = 0.9


def _git(*args: str, cwd: str = ROOT) -> str:
    return subprocess.run(["git", *args], cwd=cwd, check=True, capture_output=True, text=True).stdout.strip()


def clone_base(rev: str) -> tuple[str, str]:
    """Check ``rev`` out into a fresh temporary directory; returns (dir, sha)."""
    sha = _git("rev-parse", "--verify", f"{rev}^{{commit}}")
    tmp = tempfile.mkdtemp(prefix="perfbench-ab-")
    _git("clone", "--shared", "--no-checkout", "-q", ROOT, tmp, cwd=tmp)
    _git("checkout", "-q", sha, cwd=tmp)
    return tmp, sha


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    """One perfbench run; its last stdout line, or a failure record."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        tail = proc.stderr.strip().splitlines()[-3:]
        return {"correct": False, "attempted": 0, "failed": None, "metrics": {},
                "error": f"exit {proc.returncode}, no result line: {' | '.join(tail)}"}
    res["metrics"] = {k: v["value"] for k, v in res.get("metrics", {}).items()}
    return res


def failures(runs: list[dict]) -> tuple[int, int]:
    """(runs not correct, total ``failed``) of one side; a crashed run counts as incorrect."""
    return sum(not r["correct"] for r in runs), sum(r["failed"] or 0 for r in runs)


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        v = vals[0] if vals else math.nan
        return v, v, v
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float,
            pairs_run: int, more_failures: bool = False) -> dict:
    """Pairs won, both sides' quartiles and the verdict for one metric.

    ``parent``/``change`` hold the complete pairs only; ``pairs_run`` is the
    number of pairs run, the denominator of the win rule. ``more_failures``
    (the change side had more incorrect runs or more failed records) rules
    out a gain.
    """
    sign = 1.0 if better == "lower" else -1.0  # sign * (a - b) > 0: a is worse than b
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    pq, cq = quartiles(parent), quartiles(change)
    p_med, c_med = pq[1], cq[1]
    p_iqr, c_iqr = pq[2] - pq[0], cq[2] - cq[0]
    worse_frac = sign * (c_med - p_med) / abs(p_med) if p_med else math.nan
    spread = max(p_iqr / abs(p_med) if p_med else math.inf, c_iqr / abs(c_med) if c_med else math.inf)
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if (not more_failures and wins >= math.ceil(GAIN_WIN_FRACTION * pairs_run)
            and sign * (p_med - c_med) > p_iqr):
        v = "gain"
    elif worse_frac > bound:
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    return {"parent_q": pq, "change_q": cq, "wins": wins, "pairs": pairs_run,
            "change_frac": (c_med - p_med) / abs(p_med) if p_med else math.nan, "verdict": v}


def _fmt(q: tuple[float, float, float]) -> str:
    def one(v: float) -> str:
        return f"{v:.0f}" if abs(v) >= 1000 else f"{v:.4g}"

    return f"{one(q[1])} [{one(q[0])}, {one(q[2])}]"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workloads", nargs="+")
    ap.add_argument("--base", default="HEAD^", help="parent rev to compare against (default HEAD^)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", default=None, help="write every run's result here as JSON")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    base_dir, sha = clone_base(args.base)
    sides = {"parent": base_dir, "change": ROOT}
    runs: dict[str, dict[str, list[dict]]] = {w: {"parent": [], "change": []} for w in args.workloads}
    try:
        for w in args.workloads:
            for i in range(args.pairs):
                seed = args.seed0 + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    res = run_once(sides[side], w, seed, seconds)
                    res["seed"] = seed
                    runs[w][side].append(res)
                    print(f"# {w} pair {i + 1}/{args.pairs} seed {seed} {side}: correct={res['correct']} "
                          f"failed={res['failed']} {json.dumps(res['metrics'])}", file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)

    if args.out:
        with open(args.out, "w", encoding="utf-8") as fh:
            json.dump({"base": sha, "seconds": seconds, "runs": runs}, fh, indent=1)
    print(f"perfbench A/B: parent {sha[:12]} vs working tree, {args.pairs} pairs, --seconds {seconds}")
    bad = []
    for w, sides_runs in runs.items():
        (p_bad, p_failed), (c_bad, c_failed) = failures(sides_runs["parent"]), failures(sides_runs["change"])
        more_failures = c_bad > p_bad or c_failed > p_failed
        print(f"\n{w}")
        if more_failures:
            print(f"  change side fails more (incorrect runs {p_bad} -> {c_bad},"
                  f" failed {p_failed} -> {c_failed}): no gain counted")
        print(f"  {'metric':<16} {'parent median [q1, q3]':<28} {'change median [q1, q3]':<28} "
              f"{'change':>8} {'won':>6}  verdict")
        for m in bench["end_to_end"]:
            name = m["name"]
            pairs = [(p["metrics"].get(name), c["metrics"].get(name))
                     for p, c in zip(sides_runs["parent"], sides_runs["change"])]
            pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
            if not pairs:
                print(f"  {name:<16} no complete pairs")
                continue
            r = verdict([p for p, _ in pairs], [c for _, c in pairs], m["better"], m["bound"],
                        args.pairs, more_failures)
            print(f"  {name:<16} {_fmt(r['parent_q']):<28} {_fmt(r['change_q']):<28} "
                  f"{r['change_frac']:>+8.1%} {r['wins']:>3}/{r['pairs']:<2}  {r['verdict']}")
        for side, rs in sides_runs.items():
            bad += [(w, side, r) for r in rs if not r["correct"]]
    for w, side, r in bad:
        print(f"INCORRECT: {w} {side} seed {r['seed']}: attempted={r['attempted']} failed={r['failed']}"
              f"{' ' + r['error'] if 'error' in r else ''}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
