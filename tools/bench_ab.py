"""Interleaved A/B bench: HEAD vs a git ref, on the same box, same minute.

Round-5 (VERDICT r4 #5): round 4's driver-vs-repo bench discrepancy was
resolved by an ad-hoc interleaved A/B (round-3 code in a worktree vs
round-4 code, alternating legs) showing the two CODE states equal within
noise while the BOX's memory-bandwidth profile drifted ~40%. This commits
that harness as a first-class tool so every round-over-round number can
carry its own noise control.

    python tools/bench_ab.py <baseline_ref> [--reps 2] [--sf-dir DIR]
                             [--queries q1,q2,...] [--out BENCH/ab.json]

Method: check the baseline ref out into a temp git worktree, then run the
query subset in ALTERNATING legs (A=HEAD, B=ref, A, B, ...), each leg a
fresh subprocess cd'd into its tree (so each side imports its own code),
timing each query with the noop sink (count() would prune UDF stages).
Per-query time = min over that side's legs (steady-state discipline,
SCALE.md). Verdict: per-query and total A/B ratios; "equal within noise"
when the total ratio is within --tolerance (default 15% — the measured
swing of JVM-heavy queries under this box's co-tenant interference is
larger; see BENCH/BASELINE.md).

Interleaving is the point: A and B legs sample the SAME minutes of box
weather, so a code regression shows up as a consistent A/B gap while box
drift moves both sides together and cancels in the ratio.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from language_identification_spark.session import DEFAULT_CPUS  # noqa: E402

# mixed subset: Python-compute-bound (pipeline, kn), JVM-string/shuffle-
# heavy (langid_eval, skew_join, ngram_counts) — the two classes round 4
# showed drifting differently under box noise
DEFAULT_QUERIES = [
    "quality_pipeline",
    "langid_eval",
    "skew_join_salted",
    "char_entropy",
    "ngram_counts",
    "exact_dedup",
    "simhash",
    "word_kn_ppl",
    "gopher_repetition",
    "dsir_select",
]

_RUNNER = r"""
import json, os, sys, time
sys.path.insert(0, os.getcwd())
names = json.loads(sys.argv[1])
sf_dir = sys.argv[2]
cpus = int(sys.argv[3])
from language_identification_spark.session import get_spark
import __spark_entry__ as entry
Q = entry.queries()
spark = get_spark("ab", cores=cpus, shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
out = {}
for name in names:
    fn = Q.get(name)
    if fn is None:
        continue  # query absent at this ref: skipped, reported as missing
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    out[name] = round(time.time() - t0, 3)
spark.stop()
print("ABRESULT " + json.dumps(out))
"""


def _run_leg(tree: str, names: list[str], sf_dir: str, cpus: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNER, json.dumps(names), sf_dir, str(cpus)],
        cwd=tree,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT "):])
    raise RuntimeError(
        f"leg in {tree} produced no result:\n{proc.stdout[-2000:]}\n"
        f"{proc.stderr[-2000:]}"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("ref", help="baseline git ref (e.g. HEAD~5, a round tag)")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--cpus", type=int, default=DEFAULT_CPUS)
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--tolerance", type=float, default=0.15)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    names = [q for q in args.queries.split(",") if q]

    with tempfile.TemporaryDirectory(prefix="bench_ab_") as tmp:
        wt = os.path.join(tmp, "baseline")
        subprocess.run(
            ["git", "worktree", "add", "--detach", wt, args.ref],
            cwd=REPO,
            check=True,
            capture_output=True,
        )
        try:
            legs_a: list[dict] = []
            legs_b: list[dict] = []
            for i in range(args.reps):
                # strict interleave: every A leg has a B leg in the same
                # box-weather window
                print(f"leg {2*i+1}/{2*args.reps}: HEAD ...", flush=True)
                legs_a.append(_run_leg(REPO, names, args.sf_dir, args.cpus))
                print(f"leg {2*i+2}/{2*args.reps}: {args.ref} ...", flush=True)
                legs_b.append(_run_leg(wt, names, args.sf_dir, args.cpus))
        finally:
            subprocess.run(
                ["git", "worktree", "remove", "--force", wt],
                cwd=REPO,
                capture_output=True,
            )

    per_query = {}
    for name in names:
        a = min((leg[name] for leg in legs_a if name in leg), default=None)
        b = min((leg[name] for leg in legs_b if name in leg), default=None)
        per_query[name] = {
            "head_sec": a,
            "base_sec": b,
            "ratio_head_over_base": (
                round(a / b, 3) if a is not None and b and b > 0 else None
            ),
        }
    shared = [
        q for q, v in per_query.items()
        if v["head_sec"] is not None and v["base_sec"] is not None
    ]
    tot_a = sum(per_query[q]["head_sec"] for q in shared)
    tot_b = sum(per_query[q]["base_sec"] for q in shared)
    ratio = round(tot_a / tot_b, 4) if tot_b else None
    verdict = (
        "equal_within_noise"
        if ratio is not None and abs(ratio - 1.0) <= args.tolerance
        else ("head_faster" if ratio is not None and ratio < 1 else "head_slower")
    )
    result = {
        "tool": "bench_ab",
        "baseline_ref": args.ref,
        "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "reps": args.reps,
        "interleaved": True,
        "shared_queries": len(shared),
        "total_head_sec": round(tot_a, 3),
        "total_base_sec": round(tot_b, 3),
        "ratio_head_over_base": ratio,
        "tolerance": args.tolerance,
        "verdict": verdict,
        "per_query": per_query,
    }
    print(json.dumps(result))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f, indent=2)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
