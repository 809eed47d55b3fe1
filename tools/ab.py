"""A/B two commits on one benchmark workload.

    python tools/ab.py PARENT_REF CHANGE_REF WORKLOAD

Checks out each ref into a temporary ``git worktree`` of this
repository, then runs the command in ``BENCHMARK.json`` 10 times on
each side, alternating which side runs first in a pair, with
``--seed`` = pair index and ``--seconds`` = its ``run_seconds``.  The
parent ref's ``BENCHMARK.json`` supplies the command, the run length
and the end-to-end metrics, so both sides run the same benchmark.

For each end-to-end metric it prints both medians, the parent's
interquartile range and the change's wins out of 10 pairs (ties, and
pairs where a side produced no result, count for neither).  A metric
reads "gain" only when the change wins at least 9 of 10 pairs, its
median is better than the parent's by more than the parent's IQR, and
no more of its operations failed than at the parent; otherwise it
reads "no gain".  The last line names the metrics with a gain, or says
"no gain".  The worktrees are removed on exit.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PAIRS = 10


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", ROOT, *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def _run(tree: str, bench: dict, workload: str, seed: int) -> dict | None:
    """One benchmark run in ``tree``; its result object, or None when it
    exited non-zero or printed no result line."""
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"])]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.strip().splitlines()[-5:])
        print(f"  run failed (exit {proc.returncode}) in {tree}:\n{tail}",
              file=sys.stderr)
        return None
    return json.loads(lines[-1])


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def _failed_share(results: list[dict | None]) -> float:
    """Failed operations ÷ attempted; a run with no result counts as
    one attempted operation that failed."""
    failed = sum(1 if r is None else r["failed"] for r in results)
    attempted = sum(1 if r is None else r["attempted"] for r in results)
    return failed / max(attempted, 1)


def report(metrics: list[dict], parent: list[dict | None],
           change: list[dict | None]) -> list[str]:
    """Print the per-metric table; return the metrics with a gain."""
    more_failures = _failed_share(change) > _failed_share(parent)
    print(f"{'metric':20s} {'parent':>12s} {'change':>12s} "
          f"{'parent IQR':>12s} {'wins':>6s}  verdict")
    gains = []
    for m in metrics:
        name, sign = m["name"], (1 if m["better"] == "higher" else -1)

        def value(r):
            return None if r is None else r["metrics"][name]["value"]

        pv = [value(r) for r in parent]
        cv = [value(r) for r in change]
        wins = sum(1 for p, c in zip(pv, cv)
                   if p is not None and c is not None and sign * (c - p) > 0)
        pvals = [v for v in pv if v is not None]
        cvals = [v for v in cv if v is not None]
        if not pvals or not cvals:
            print(f"{name:20s} {'-':>12s} {'-':>12s} {'-':>12s} "
                  f"{wins:3d}/{PAIRS}  no gain")
            continue
        q1, p_med, q3 = _quartiles(pvals)
        c_med = statistics.median(cvals)
        gain = (wins >= 9 and sign * (c_med - p_med) > q3 - q1
                and not more_failures)
        if gain:
            gains.append(name)
        print(f"{name:20s} {p_med:12.6g} {c_med:12.6g} {q3 - q1:12.6g} "
              f"{wins:3d}/{PAIRS}  {'gain' if gain else 'no gain'}")
    print(f"failed share: parent {_failed_share(parent):.3f}, "
          f"change {_failed_share(change):.3f}")
    return gains


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    refs, workload = argv[:2], argv[2]
    shas = [_git("rev-parse", "--verify", f"{r}^{{commit}}") for r in refs]
    work = tempfile.mkdtemp(prefix="ab-")
    trees = []
    try:
        for side, sha in zip(("parent", "change"), shas):
            tree = os.path.join(work, side)
            _git("worktree", "add", "--detach", tree, sha)
            trees.append(tree)
        with open(os.path.join(trees[0], "BENCHMARK.json"), encoding="utf-8") as f:
            bench = json.load(f)
        names = [w["name"] for w in bench["workloads"]]
        if workload not in names:
            print(f"ab: unknown workload {workload!r}; BENCHMARK.json has {names}",
                  file=sys.stderr)
            return 2
        results: list[list[dict | None]] = [[], []]
        for seed in range(PAIRS):
            order = (0, 1) if seed % 2 == 0 else (1, 0)
            for side in order:
                print(f"pair {seed + 1}/{PAIRS}: {('parent', 'change')[side]}",
                      file=sys.stderr, flush=True)
                results[side].append(_run(trees[side], bench, workload, seed))
        print(f"{workload}: parent {refs[0]} ({shas[0][:10]}) vs "
              f"change {refs[1]} ({shas[1][:10]}), {PAIRS} pairs, "
              f"{bench['run_seconds']} s runs")
        gains = report(bench["end_to_end"], *results)
        print(f"gain: {', '.join(gains)}" if gains else "no gain")
        return 0
    finally:
        for tree in trees:
            _git("worktree", "remove", "--force", tree)
        os.rmdir(work)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
