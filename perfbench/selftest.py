#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

1. Every output check rejects one planted corruption of an otherwise
   correct output, and ``run.Run.attempt`` counts it as a failed operation
   (in process, no Spark).
2. Each workload runs end to end at ``--scale tiny``, untraced and traced:
   the run is correct, the result line carries every metric BENCHMARK.json
   names with its unit, and every line printed before it has a unit.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import run as runmod  # noqa: E402
import workloads as wls  # noqa: E402

WORK = os.path.join(runmod.WORK, "selftest")


def _clusters(n: int, pairs) -> dict[int, int]:
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


def perfect_and_corrupt(part) -> tuple:
    """A correct output for ``part`` built from its planted truth, and the
    same output with one checked value corrupted."""
    R = wls.OpResult
    if isinstance(part, wls.NearDup):
        clus = _clusters(part.n, part.exact_pairs)
        good = R(1.0, {}, sorted(clus.items()))
        a, b = part.exact_pairs[0]
        bad_map = {**clus, b: -1}
        return good, R(1.0, {}, sorted(bad_map.items()))
    if isinstance(part, wls.Archive):
        rows = [(i, "sha", 1) for i in range(part.n)]
        good = R(1.0, {}, rows)
        return good, R(1.0, {}, [(0, "sha", 0)] + rows[1:])
    if isinstance(part, wls.Embed):
        clus = _clusters(part.n, [(m[0], x) for m in part.clusters for x in m[1:]])
        good = R(1.0, {}, [("c", v, c) for v, c in sorted(clus.items())])
        moved = part.clusters[0][-1]
        bad = {**clus, moved: moved}
        return good, R(1.0, {}, [("c", v, c) for v, c in sorted(bad.items())])
    if isinstance(part, wls.Stream):
        rows = sorted((b, a, 1) for a, b in part.cross_exact)
        extra = {"triggers": [1.0] * part.inp.meta["slices"]}
        good = R(1.0, {}, rows, extra=extra)
        return good, R(1.0, {}, rows[1:], extra=extra)
    raise TypeError(part)


def check_corruptions() -> None:
    for name in wls.PARTS:
        inp = inputs.generate(name, 0, WORK, "tiny")
        part = wls.PARTS[name](inp, WORK)
        good, bad = perfect_and_corrupt(part)
        assert part.check(good) == [], (name, part.check(good))
        r = runmod.Run(None, wl=part)
        r.attempt(lambda: bad)
        assert r.attempted == 1 and r.failed == 1 and r.failures, (name, r.failures)
        print(f"selftest: {name} planted corruption reported as a failed op: "
              f"{r.failures[0]}")


def check_run(spec: dict, workload: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and lines, (p.returncode, p.stderr[-2000:])
    result = json.loads(lines[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"], result
    assert result["correct"] and result["failed"] == 0, (result, p.stderr[-2000:])
    want = spec["per_layer"] if trace else spec["end_to_end"]
    for m in want:
        got = result["metrics"].get(m["name"])
        assert got is not None and got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)), got
    assert set(result["metrics"]) == {m["name"] for m in want}
    for line in lines[:-1]:
        parts = line.split()
        if "=" in parts:
            assert len(parts) == 5 and parts[4], f"metric printed without a unit: {line}"
    print(f"selftest: {workload} --trace {trace} ok ({len(result['metrics'])} metrics)")


def main() -> int:
    check_corruptions()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(spec, w["name"], trace)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
