#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the dedup engine.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Run from the repository root.  One driver process, closed loop: the next
operation starts when the previous one returned, on ``local[nproc]``.

* ``--trace 0`` prints the end-to-end metrics BENCHMARK.json names (medians
  over the operations of the run);
* ``--trace 1`` also runs the workload composed stage by stage under spans
  with Spark's event log on, writes the spans to
  ``.bench/perfbench/traces/`` and prints the per-layer metrics.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``.  The lines before it name every metric of the run
(workload-specific ones too) with its unit; every run is also appended, with
host facts, to ``.bench/perfbench/runs.jsonl``.  Everything the run writes
stays under ``.bench/perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import host  # noqa: E402
import inputs  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402  (imports the engine: fails where it is absent)

WORK = os.path.join(ROOT, ".bench", "perfbench")
#: set-up rounds per run; setup_s is their median
SETUP_ROUNDS = 3


def unit_of(name: str) -> str:
    """Unit of a workload-specific detail metric, from its name."""
    for suffix, unit in (("_mb_per_s", "MB/s"), ("_per_s", "1/s"), ("_ms", "ms"),
                         ("_s", "s"), ("_mb", "MB"), ("_pct", "pct")):
        if name.endswith(suffix):
            return unit
    if any(w in name for w in ("recall", "ratio", "share")):
        return "ratio"
    return "count"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_env() -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and Python at
    ``WORK`` and make the engine importable by the Python workers.  Must run
    before the first session starts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # spark-submit first runs a launcher JVM, which takes only these options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while host._children(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run: its workload, its checked operations and every
    failure they met."""

    def __init__(self, args, wl=None, source: str = ""):
        self.args = args
        self.wl = wl
        #: sha256 of the engine source, keying the stored output digests
        self.source = source
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.setup_rounds: list[float] = []

    def fail(self, msg: str) -> None:
        self.failures.append(msg)
        print(f"FAIL {msg}", file=sys.stderr)

    def attempt(self, fn):
        """Run one checked operation; an exception or a failed check counts
        it as failed.  Returns the result, or None."""
        self.attempted += 1
        try:
            res = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.fail("operation raised")
            return None
        fails = self.wl.check(res)
        if fails:
            self.failed += 1
            for f in fails:
                self.fail(f)
        return res

    def setup(self, conf):
        from dedup_gpu_stream_parallelism_spark.session import build_session

        spark = None
        for _ in range(SETUP_ROUNDS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = build_session("perfbench", cpus=host.nproc(), extra=conf)
            workloads.spawn_workers(spark)
            self.setup_rounds.append(time.perf_counter() - t0)
        return spark

    def measure(self, spark) -> list:
        """Closed loop for ``--seconds``: the next operation starts only if
        it is expected (by the last one's duration) to end inside the
        window, and at least one always runs."""
        results = []
        t0 = time.perf_counter()
        last = 0.0
        while not self.attempted or time.perf_counter() - t0 + last <= self.args.seconds:
            t = time.perf_counter()
            res = self.attempt(lambda: self.wl.op(spark))
            last = time.perf_counter() - t
            if res is None:
                break
            results.append(res)
        return results

    def check_digests(self, results, traced=None) -> str | None:
        outs = results + ([traced] if traced is not None else [])
        digests = {r.digest() for r in outs}
        if len(digests) > 1:
            drifted = sum(r.digest() != outs[0].digest() for r in outs)
            self.failed = min(self.attempted, self.failed + drifted)
            # composite rows are (part, part digest): name the parts that drifted
            drift = sorted({p for r in outs
                            for (p, d), (_, d0) in zip(r.rows, outs[0].rows) if d != d0})
            self.fail(f"output digest of {', '.join(drift)} differs between the "
                      f"operations of one run{' (traced included)' if traced else ''}")
        if not digests:
            return None
        digest = sorted(digests)[0]
        d = os.path.join(WORK, "digests")
        os.makedirs(d, exist_ok=True)
        key = os.path.join(d, f"{self.wl.name}-{self.args.scale}-{self.args.seed}-"
                              f"{self.source[:16]}.txt")
        if os.path.exists(key):
            with open(key) as f:
                prev = f.read().strip()
            if prev != digest:
                self.failed = self.attempted
                self.fail(f"output digest {digest[:12]} differs from an earlier run "
                          f"of this seed ({prev[:12]})")
        else:
            with open(key, "w") as f:
                f.write(digest)
        return digest


def details(results) -> dict[str, float]:
    out: dict[str, float] = {}
    for k in sorted({k for r in results for k in r.parts}):
        out[k] = median(r.parts[k] for r in results if k in r.parts)
    trig = [t for r in results for t in r.extra.get("triggers", [])]
    if trig:
        pct = workloads.tail_percentile(len(trig))
        if pct is not None:
            out["stream.trigger_tail_s"] = sorted(trig)[int(pct / 100 * len(trig))]
            out["stream.trigger_tail_pct"] = pct
    out["ops"] = len(results)
    return out


def main() -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is the self-test's")
    args = p.parse_args()

    try:
        spec = load_spec()
    except (OSError, ValueError) as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    conf = prepare_env()
    cores = host.nproc()
    load_before = host.loadavg()
    t_cpu = time.perf_counter()
    cpu_before = host.cpu_jiffies()
    own_before = host.tree_cpu_s()
    facts = host.facts(ROOT)
    run = Run(args, source=facts["source_sha256"])
    work = os.path.join(WORK, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)

    gen = {}
    for part in workloads.WORKLOADS[args.workload]:
        gen[part] = inputs.generate(part, args.seed, WORK, args.scale)
        for f in inputs.check_provenance(gen[part], args.scale):
            run.fail(f)
    run.wl = workloads.make(args.workload, gen.__getitem__, work)

    log_dir = None
    if args.trace:
        log_dir = os.path.join(work, "eventlog")
        conf.update(spans.event_log_conf(log_dir))

    phases = {"inputs_s": time.perf_counter() - t_start}
    t = time.perf_counter()
    spark = run.setup(conf)
    phases["setup_s"] = time.perf_counter() - t
    t = time.perf_counter()
    results = run.measure(spark)
    phases["measure_s"] = time.perf_counter() - t
    peak_rss = host.engine_peak_rss_mb()
    traced = tracer = warm = None
    if args.trace:
        t = time.perf_counter()
        tracer = spans.Tracer(spark)
        traced = run.attempt(lambda: run.wl.traced(spark, tracer))
        # the measured operations ran JIT-cold; compare the traced one with
        # an untraced one that runs as warm as it did
        warm = run.attempt(lambda: run.wl.op(spark))
        phases["traced_s"] = time.perf_counter() - t
    foreign = host.foreign_cpu_share(
        cpu_before, host.cpu_jiffies(), host.tree_cpu_s() - own_before,
        time.perf_counter() - t_cpu, cores)
    t = time.perf_counter()
    shutdown(spark)
    phases["shutdown_s"] = time.perf_counter() - t
    digest = run.check_digests(results + [r for r in (warm,) if r], traced)
    load_after = host.loadavg()

    detail = details(results)
    detail["setup_s"] = median(run.setup_rounds)
    detail["peak_rss_mb"] = peak_rss
    detail["failed_op_share"] = run.failed / max(1, run.attempted)
    samples = [r.seconds for r in results]
    e2e = {
        "setup_s": detail["setup_s"],
        "op_s": median(samples),
        "quality": median(r.quality for r in results),
    }

    layer: dict[str, float] = {}
    span_rows: list[dict] = []
    if args.trace:
        layer["session.build_s"] = median(run.setup_rounds)
        if traced is not None:
            events = spans.read_events(log_dir)
            span_rows = spans.report(tracer, events, cores)
            for s in span_rows:
                for k in ("wall_s", "task_s", "util", "jobs", "shuffle_write_mb",
                          "spill_mb", "straggler", "python_mb"):
                    layer[f"{s['name']}.{k}"] = s[k]
            layer.update(traced.extra.get("layer", {}))
            run_id = traced.extra.get("stream_run_id")
            if run_id:
                per_batch = spans.stream_jobs_per_batch(events, run_id)
                layer["neardupstream.jobs_per_trigger"] = median(per_batch.values())
            if warm is not None:
                layer["trace.overhead_share"] = traced.seconds / warm.seconds - 1.0

    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layer if args.trace else e2e
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in names
    }
    tainted = host.taint(foreign)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "time": time.time(),
        "host": dict(facts, loadavg_before=load_before, loadavg_after=load_after,
                     foreign_cpu_share=foreign),
        "tainted": tainted,
        "inputs": {k: v.digests for k, v in gen.items()},
        "input_size": {k: v.meta for k, v in gen.items()},
        "output_digest": digest, "phases_s": phases,
        "setup_rounds_s": run.setup_rounds,
        "op_samples_s": samples, "op_notes": [r.notes for r in results],
        "details": detail, "end_to_end": e2e,
        "per_layer": layer, "failures": run.failures,
        "attempted": run.attempted, "failed": run.failed,
    }
    if args.trace:
        unexercised = sorted(m["name"] for m in names if m["name"] not in layer)
        tdir = os.path.join(WORK, "traces")
        os.makedirs(tdir, exist_ok=True)
        name = f"{args.workload}-{args.scale}-{args.seed}.json"
        with open(os.path.join(tdir, name), "w") as f:
            json.dump(dict(record, spans=span_rows, not_run_by_workload=unexercised),
                      f, indent=1, default=str)
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    for k, v in sorted(detail.items()):
        print(f"{args.workload} {k} = {v:.6g} {unit_of(k)}")
    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(f"{args.workload} host nproc={cores} load={load_before[0]:.2f}->"
          f"{load_after[0]:.2f} foreign_cpu={foreign:.1%} tainted={bool(tainted)} "
          f"digest={(digest or '')[:16]}")
    correct = not run.failures and run.failed == 0 and bool(results)
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
