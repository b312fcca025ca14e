"""Paired A/B of ``bench.py`` between two git revisions.

    python tools/ab.py REV_A REV_B [names...]

Checks each rev out as a detached worktree in a temporary directory
outside the repo and runs that tree's own ``bench.py`` four times, one
pass at a time, in the order A B B A, so neither rev always runs first
in a slow machine window.  Each pass inherits the caller's environment
(``SPARK_GRAFT_SF_DIR``, ``SPARK_GRAFT_CPUS``); ``names``, when given,
become ``SPARK_GRAFT_BENCH_ONLY``.  stderr passes through, and a failed
pass exits non-zero.  Prints per entry the minimum over each rev's two
passes (each itself a best-of-2) and the B/A ratio.  The worktrees are
removed on exit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench_pass(tree: str, names: list[str]) -> dict[str, float]:
    env = dict(os.environ)
    if names:
        env["SPARK_GRAFT_BENCH_ONLY"] = ",".join(names)
    out = subprocess.run(
        [sys.executable, "bench.py"], cwd=tree, env=env, stdout=subprocess.PIPE, text=True
    )
    if out.returncode:
        sys.exit(f"ab: bench.py failed in {tree} (exit {out.returncode})")
    # the full body is the first JSON line that carries "queries"
    return next(
        json.loads(line)["queries"]
        for line in out.stdout.splitlines()
        if line.startswith("{") and '"queries"' in line
    )


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    revs, names = sys.argv[1:3], sys.argv[3:]
    passes: tuple[list, list] = ([], [])
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = [os.path.join(tmp, f"tree{i}") for i in (0, 1)]
        added = []
        try:
            for rev, tree in zip(revs, trees):
                subprocess.run(["git", "-C", REPO, "worktree", "add", "--detach", tree, rev], check=True)
                added.append(tree)
            for i in (0, 1, 1, 0):
                passes[i].append(bench_pass(trees[i], names))
                print(f"pass {revs[i]}: {passes[i][-1]}", flush=True)
        finally:
            for tree in added:
                subprocess.run(["git", "-C", REPO, "worktree", "remove", "--force", tree])
    # an old rev's bench.py drops names outside its own list
    common = [n for n in passes[0][0] if all(n in p for p in passes[0] + passes[1])]
    print(f"\n{'entry':38s} {revs[0][:10]:>10s} {revs[1][:10]:>10s} {'B/A':>6s}")
    for name in common:
        a, b = (min(p[name] for p in passes[i]) for i in (0, 1))
        print(f"{name:38s} {a:10.3f} {b:10.3f} {b / a:6.2f}")


if __name__ == "__main__":
    main()
