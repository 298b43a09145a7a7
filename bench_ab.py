#!/usr/bin/env python3
"""A/B drift adjudicator — times headline queries under a PAST git ref and
under the CURRENT working tree in the same environment, each side in its
own fresh JVM, and prints per-query deltas.

Why this exists: the per-round driver bench runs in a different machine
state each round, and rounds 3-6 each produced 15-30% per-query "regressions"
that a same-environment re-measure showed were run-context, not code
(COVERAGE.md documents the adjudications). This script is that re-measure
as one command:

    python bench_ab.py <ref> [-q name1,name2] [--iters N] [--sf-dir DIR]

Methodology (matches bench.py): noop-sink execution (full distributed plan,
no driver materialization), one untimed warm-up, min of ``--iters`` timed
runs, ``release_caches()`` between queries. Each side is a SEPARATE python
process — fresh JVM, fresh codegen/JIT state — and the ref side runs from a
temporary ``git worktree`` that is removed afterwards. Run on a quiet
machine (not concurrently with pytest: a busy JVM poisons both sides).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

from bambooai_spark.session import default_parallelism

REPO = os.path.dirname(os.path.abspath(__file__))

_RUNNER = r"""
import json, sys, time
names = json.loads(sys.argv[1])
sf_dir, iters, cpus = sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
from bambooai_spark.caching import release_caches
from bambooai_spark.session import get_session
from bambooai_spark.suite import SPECS
spark = get_session("bambooai-spark-ab", cpus=cpus)
by = {s.name: s for s in SPECS}
if not names:
    names = [s.name for s in SPECS if s.headline]
out = {}
for n in names:
    spec = by.get(n)
    if spec is None:
        out[n] = None  # not present on this side
        continue
    def once():
        t0 = time.perf_counter()
        spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    try:
        once()  # warm-up, untimed
        out[n] = round(min(once() for _ in range(iters)), 3)
        print(f"[ab] {n}: {out[n]:.3f}s", file=sys.stderr)
    except Exception as exc:
        print(f"[ab] {n} FAILED: {exc}", file=sys.stderr)
        out[n] = -1.0
    finally:
        release_caches()
print("ABJSON:" + json.dumps(out), flush=True)
"""


def _run_side(tree: str, names: list[str], sf_dir: str, iters: int,
              cpus: int) -> dict[str, float | None]:
    env = dict(os.environ)
    env["PYTHONPATH"] = tree
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNER, json.dumps(names), sf_dir,
         str(iters), str(cpus)],
        cwd=tree, env=env, capture_output=True, text=True,
    )
    sys.stderr.write(proc.stderr[-4000:])
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("ABJSON:"):
            return json.loads(line[len("ABJSON:"):])
    raise RuntimeError(
        f"runner in {tree} produced no result "
        f"(rc={proc.returncode}):\n{proc.stdout[-2000:]}"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ref", help="git ref for the baseline side (e.g. HEAD~1)")
    ap.add_argument("-q", "--queries", default="",
                    help="comma-separated query names (default: all headline)")
    ap.add_argument("--iters", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", 5)))
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=default_parallelism())
    args = ap.parse_args()
    names = [n.strip() for n in args.queries.split(",") if n.strip()]

    wt = tempfile.mkdtemp(prefix="bench_ab_")
    added = subprocess.run(
        ["git", "worktree", "add", "--detach", wt, args.ref],
        cwd=REPO, capture_output=True, text=True,
    )
    if added.returncode != 0:
        print(added.stderr.strip(), file=sys.stderr)
        return 1
    try:
        print(f"[ab] baseline side: {args.ref} in {wt}", file=sys.stderr)
        base = _run_side(wt, names, args.sf_dir, args.iters, args.cpus)
        print("[ab] current side: working tree", file=sys.stderr)
        cur = _run_side(REPO, names, args.sf_dir, args.iters, args.cpus)
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=REPO, capture_output=True,
        )

    rows = []
    for n in sorted(set(base) | set(cur)):
        b, c = base.get(n), cur.get(n)
        delta = (
            round(100.0 * (c - b) / b, 1)
            if b and c and b > 0 and c > 0 else None
        )
        rows.append({"query": n, "ref_sec": b, "tree_sec": c,
                     "delta_pct": delta})
        d = f"{delta:+.1f}%" if delta is not None else "n/a"
        print(f"{n:35s} ref {b if b is not None else '-'!s:>8} "
              f"tree {c if c is not None else '-'!s:>8}  {d}",
              file=sys.stderr)
    print(json.dumps({"ref": args.ref, "sf_dir": args.sf_dir,
                      "iters": args.iters, "results": rows}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
