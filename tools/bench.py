"""One-command measurement harness (r5, VERDICT r4 next #8): every
measurement tool behind a single entry point with one self-describing
JSONL row per suite run in BENCH/runs.jsonl, so round-over-round
comparisons stop being hand-assembled.

    python -m tools.bench --suite scaling          # N vs 4N north-rule legs
    python -m tools.bench --suite merge            # 1M merge ≡ rebuild
    python -m tools.bench --suite wand             # WAND crossover sweep
    python -m tools.bench --suite memo             # analyzer-memo A/B
    python -m tools.bench --suite gates --sf /root/testdata/sf0.1 ft_match_or
    python -m tools.bench --suite aba --ref <commit> --trials 3

Suites delegate to the per-topic scripts (tools/scaling_bench.py etc. keep
their focused CLIs and docstrings); this wrapper adds (a) the uniform
runs.jsonl envelope {suite, date, argv, host_load, report}, (b) the `aba`
suite — an interleaved A/B of bench.py between two PINNED git worktrees
(HEAD is checked out too, so concurrent edits to the working tree can't
contaminate the legs — the r5 lesson), the methodology every perf claim
must use before being believed on this drift-prone box.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from datetime import date

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(REPO, "BENCH", "runs.jsonl")

SCRIPTS = {
    "scaling": "tools/scaling_bench.py",
    "merge": "tools/merge_scale.py",
    "wand": "tools/wand_crossover.py",
    "memo": "tools/analyzer_memo_bench.py",
    "skew": "tools/skew_stress.py",
    "recall": "tools/ann_recall.py",
    "qscale": "tools/query_scaling.py",
    "dedup": "tools/dedup_scale.py",
}


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _append_row(suite: str, argv, report) -> None:
    os.makedirs(os.path.dirname(RUNS), exist_ok=True)
    with open(RUNS, "a") as f:
        f.write(json.dumps({"suite": suite, "date": str(date.today()),
                            "argv": argv, "load1_at_end": _load1(),
                            "report": report}) + "\n")


def _tail_json(stdout: str):
    """Last JSON value in stdout — single-line OR pretty-printed (a
    '{'-opening line is tried as the start of a multi-line document down
    to the end of output; the r5 scaling envelope recorded only {'rc': 0}
    because the sub-tool pretty-prints)."""
    lines = stdout.strip().splitlines()
    for i in range(len(lines) - 1, -1, -1):
        line = lines[i].strip()
        if not line.startswith("{"):
            continue
        for candidate in (line, "\n".join(lines[i:])):
            try:
                return json.loads(candidate)
            except json.JSONDecodeError:
                continue
    return None


def run_script(suite: str, extra_env=None) -> dict:
    env = dict(os.environ, **(extra_env or {}))
    p = subprocess.run([sys.executable, os.path.join(REPO, SCRIPTS[suite])],
                       env=env, capture_output=True, text=True)
    sys.stdout.write(p.stdout)
    sys.stderr.write(p.stderr[-2000:])
    report = _tail_json(p.stdout) or {"rc": p.returncode}
    report["rc"] = p.returncode
    return report


def run_gates(sf: str, keys) -> dict:
    p = subprocess.run([sys.executable, "-m", "tools.gate_check",
                        "--sf", sf, *keys],
                       cwd=REPO, capture_output=True, text=True)
    sys.stdout.write(p.stdout)
    sys.stderr.write(p.stderr[-2000:])
    lines = [ln for ln in p.stdout.splitlines()
             if ln.startswith(("PASS", "FAIL"))]
    return {"rc": p.returncode, "sf": sf,
            "gates": {ln.split()[1]: ln.split()[0] for ln in lines}}


def _bench_in(worktree: str, env_over: dict) -> dict:
    env = dict(os.environ, **env_over)
    p = subprocess.run([sys.executable, "bench.py"], cwd=worktree, env=env,
                       capture_output=True, text=True, check=True)
    return _tail_json(p.stdout)


def run_aba(ref: str, trials: int, sf_dir: str, cpus: int,
            base: str = "HEAD") -> dict:
    """Interleaved ABA between PINNED worktrees of `base` and `ref`."""
    head = subprocess.run(["git", "rev-parse", base], cwd=REPO,
                          capture_output=True, text=True,
                          check=True).stdout.strip()
    arms = {}
    for name, commit in (("A_head", head), ("B_ref", ref)):
        wt = f"/tmp/alps_aba_{name}_{commit[:10]}"
        if not os.path.isdir(wt):
            subprocess.run(["git", "worktree", "add", "--detach", wt, commit],
                           cwd=REPO, capture_output=True, text=True,
                           check=True)
        arms[name] = {"commit": commit, "worktree": wt, "legs": []}
    env_over = {"SPARK_GRAFT_SF_DIR": sf_dir, "SPARK_GRAFT_CPUS": str(cpus)}
    for trial in range(trials):
        for name, arm in arms.items():
            load_before = _load1()
            b = _bench_in(arm["worktree"], env_over)
            leg = {"trial": trial + 1, "load1_before": load_before,
                   "value": b["value"],
                   "docs_per_sec": b["indexing_docs_per_sec"],
                   "queries": b["queries"]}
            arm["legs"].append(leg)
            print(f"leg {name} trial {trial + 1}: value={b['value']} "
                  f"load={load_before}", flush=True)
    report = {"sf_dir": sf_dir, "cpus": cpus, "trials": trials}
    for name, arm in arms.items():
        best = min(arm["legs"], key=lambda r: r["value"])
        report[name] = {"commit": arm["commit"],
                        "best_value": best["value"],
                        "all_values": [r["value"] for r in arm["legs"]],
                        "best_queries": best["queries"],
                        "loads": [r["load1_before"] for r in arm["legs"]]}
    report["best_ratio_head_over_ref"] = round(
        report["A_head"]["best_value"] / report["B_ref"]["best_value"], 4)
    # per-query-type best-of comparison (the level the verdict reads at)
    per_type = {}
    for k in report["A_head"]["best_queries"]:
        if not isinstance(report["A_head"]["best_queries"][k], (int, float)):
            continue
        a = min(leg["queries"].get(k, float("inf"))
                for leg in arms["A_head"]["legs"])
        b = min(leg["queries"].get(k, float("inf"))
                for leg in arms["B_ref"]["legs"])
        if a != float("inf") and b != float("inf") and b:
            per_type[k] = {"head_best": a, "ref_best": b,
                           "ratio": round(a / b, 3)}
    report["per_query_best_of"] = per_type
    print(json.dumps(report, indent=2))
    return report


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suite", required=True,
                    choices=[*SCRIPTS, "gates", "aba"])
    ap.add_argument("--sf", default="/root/testdata/sf0.01",
                    help="gates: scale-factor dir")
    ap.add_argument("--ref", default=None, help="aba: reference commit")
    ap.add_argument("--base", default="HEAD",
                    help="aba: commit for the A arm (default HEAD)")
    ap.add_argument("--trials", type=int, default=3, help="aba: legs per arm")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1",
                    help="aba: bench input dir")
    ap.add_argument("--cpus", type=int, default=32, help="aba: local[N]")
    ap.add_argument("keys", nargs="*", help="gates: subset of gate keys")
    args = ap.parse_args()
    t0 = time.time()
    if args.suite == "gates":
        report = run_gates(args.sf, args.keys)
    elif args.suite == "aba":
        if not args.ref:
            ap.error("--suite aba requires --ref <commit>")
        report = run_aba(args.ref, args.trials, args.sf_dir, args.cpus,
                         args.base)
    else:
        report = run_script(args.suite)
    report["wall_sec"] = round(time.time() - t0, 1)
    _append_row(args.suite, sys.argv[1:], report)
    rc = report.get("rc", 0)
    sys.exit(rc if isinstance(rc, int) else 0)


if __name__ == "__main__":
    main()
