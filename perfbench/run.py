"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload transcript_queries --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, sets the graph up twice (``setup_s`` is the session start
plus the median set-up), runs one untimed warm-up query, then runs
timed queries in a closed loop with one client for ``--seconds``
seconds. Every query, the warm-up too, is checked against its golden.
The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is ``{"detail": ...}``: per-operator timings, sample
counts, tail percentiles, ranking quality and the run's configuration.

``--smoke`` shrinks every input so a run takes seconds; the benchmark's
own test uses it. Scratch state lives in ``perfbench/.work``, except the
engine's shared-memory root, which stays on tmpfs as in normal use
(``/dev/shm/perfbench-<pid>``); both are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 2
# per-operator query timings, reported in the detail line by these names
OP_NAMES = {
    "pagerank.global": "pagerank_s",
    "pagerank.multi": "ppr8_s",
    "components": "cc_s",
    "labelprop": "lpa5_s",
    "triangles": "triangles_s",
    "randomwalk": "node2vec_s",
    "pagerank.arrow": "arrow_checkpointed_s",
}


def _shm_root() -> str:
    """A private root for the engine's shared-memory files, on tmpfs
    where the engine keeps them by default."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else os.path.join(HERE, ".work")
    return os.path.join(base, f"perfbench-{os.getpid()}")


def _env(work: str, shm: str, trace: bool) -> None:
    """Point every scratch path of Spark and the engine into ``work`` (the
    engine's shm root into ``shm``) and make the engine importable by the
    Python workers. Must run before the engine is imported (its shm root
    is read at import time)."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "events", "warehouse")}
    for d in [*dirs.values(), shm]:
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_SHM"] = shm
    java = f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']}"
    conf = {
        "spark.driver.extraJavaOptions": java,
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + dirs["events"],
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f'--conf "{k}={v}"' for k, v in conf.items()) + " pyspark-shell"
    )


def _tail(xs: list[float]) -> dict:
    """Median, sample count, and the highest percentile with at least
    ten samples beyond it (None below 11 samples)."""
    from perfbench.layers import median

    out = {"n": len(xs), "median": median(xs), "tail_pct": None, "tail": None}
    if len(xs) >= 11:
        pct = int(100 * (1 - 10 / len(xs)))
        out["tail_pct"] = pct
        out["tail"] = sorted(xs)[min(len(xs) - 1, int(len(xs) * pct / 100))]
    return out


class Bench:
    """Session, tracer, probes and the records of one run."""

    def __init__(self, spark, seed: int, work: str, trace: bool, partitions: int):
        import numpy as np

        from perfbench.probes import dir_mb, persisted_rdds
        from perfbench.trace import Tracer

        self.spark = spark
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.work = work
        self.trace = trace
        self.partitions = partitions
        self.shm_root = os.environ["SPARK_GRAFT_SHM"]
        self.tracer = Tracer(spark.sparkContext, trace)
        self.dir_mb = dir_mb
        self._rdds = persisted_rdds
        self.query: dict | None = None
        self.input_path = os.path.join(work, "input.parquet")

    @contextmanager
    def call(self, module: str, timed: bool = True):
        """Times one engine call; in a traced run also scopes its job group
        and probes persisted RDDs and shm bytes around it."""
        if self.trace:
            before = (self._rdds(self.spark.sparkContext), self.dir_mb(self.shm_root))
        with self.tracer.call(module) as rec:
            yield rec
        if self.query is not None:
            rec["query"] = self.query["index"]
            rec["warmup"] = self.query["warmup"]
            if timed:
                self.query["wall_s"] += rec["wall_s"]
                self.query.setdefault("ops", {}).setdefault(module, []).append(rec["wall_s"])
        if self.trace:
            rec["leak_rdds"] = self._rdds(self.spark.sparkContext) - before[0]
            rec["leak_shm_mb"] = self.dir_mb(self.shm_root) - before[1]


def _stop_jvm() -> None:
    """Ends the Spark JVM, which exits when its stdin closes, and waits
    until no process the run started is left."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _query(bench: Bench, workload, index: int, warmup: bool = False) -> dict:
    """One query (or the warm-up), checked against its golden; a failure
    is recorded in the returned record, not raised."""
    from perfbench import workloads as wl

    q = {"index": index, "warmup": warmup, "wall_s": 0.0, "ok": False}
    bench.query = q
    try:
        (workload.warmup if warmup else workload.query)(bench, q)
        q["ok"] = q["checked"] = True
    except wl.CheckFailed:
        q["checked"] = True
        traceback.print_exc(file=sys.stderr)
    except Exception:  # a failed query is counted, not fatal
        traceback.print_exc(file=sys.stderr)
    bench.query = None
    return q


def run(args, work: str, shm: str) -> dict:
    from perfbench import workloads as wl

    _env(work, shm, bool(args.trace))
    sizes = (wl.SMOKE_SIZES if args.smoke else wl.SIZES)[args.workload]
    ncpu = len(os.sched_getaffinity(0))
    master = f"local[{ncpu}]"
    partitions = sizes["partitions_per_cpu"] * ncpu

    t0 = time.perf_counter()
    from approximate_pagerank_public_spark.session import get_spark

    spark = get_spark("perfbench", master=master, shuffle_partitions=partitions)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0

    from perfbench.layers import end_to_end, median, per_layer
    from perfbench.probes import PeakMemory

    workload = wl.WORKLOADS[args.workload](sizes)
    bench = Bench(spark, args.seed, work, bool(args.trace), partitions)
    queries: list[dict] = []
    try:
        with PeakMemory(spark.sparkContext, bench.shm_root) as mem:
            t = time.perf_counter()
            workload.generate(bench, bench.input_path)
            generate_s = time.perf_counter() - t
            setups = []
            for rep in range(1 if args.smoke else SETUP_REPS):
                if rep:
                    workload.release(bench)
                n_calls = len(bench.tracer.calls)
                workload.setup(bench)
                setups.append(sum(c["wall_s"] for c in bench.tracer.calls[n_calls:]))
            t = time.perf_counter()
            workload.goldens(bench)
            goldens_s = time.perf_counter() - t
            warm = _query(bench, workload, -1, warmup=True)
            deadline = time.perf_counter() + args.seconds
            while True:
                queries.append(_query(bench, workload, len(queries)))
                if time.perf_counter() >= deadline:
                    break
            mem.jvm_boundary()
            workload.release(bench)
    finally:
        spark.stop()
        _stop_jvm()

    ok = [q for q in queries if q["ok"]]
    attempted = 1 + len(queries)
    failed = attempted - len(ok) - warm["ok"]
    e2e = end_to_end(session_s, setups, ok, mem.peak_mb)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "master": master,
        "partitions": partitions,
        "loop": "closed, one client",
        "sizes": sizes,
        "graph": {"vertices": workload.n, "edges": workload.m},
        "attempted": attempted,
        "failed": failed,
        "failed_fraction": failed / attempted,
        "checked": sum(1 for q in [warm, *queries] if q.get("checked")),
        "session_s": session_s,
        "setup_reps_s": setups,
        "generate_s": generate_s,
        "goldens_s": goldens_s,
        "warmup_query_s": warm["wall_s"],
        "mem_samples": mem.samples,
        "mem_parts_mb": {"jvm_live": mem.jvm_mb, "workers_shm": mem.rest_mb},
        "end_to_end": e2e,
        "query_s": _tail([q["wall_s"] for q in ok]),
        "queries_s": [q["wall_s"] for q in queries],
        "ops_s": {
            OP_NAMES[op]: _tail([t for q in ok for t in q["ops"].get(op, [])])
            for op in sorted({op for q in ok for op in q.get("ops", {})})
        },
        "resume_s": _tail([q["resume_s"] for q in ok if "resume_s" in q]),
        "arrow_edge_traversals_per_s": _tail(
            [q["arrow_et_per_s"] for q in ok if "arrow_et_per_s" in q]
        ),
        "quality": {
            k: median([q["quality"][k] for q in ok])
            for k in (ok[0].get("quality", {}) if ok else {})
        },
    }
    metrics = e2e
    if args.trace:
        from perfbench.trace import rollup

        rollup(os.path.join(work, "events"), bench.tracer.calls)
        metrics = per_layer(bench.tracer.calls, queries)
        detail["per_layer"] = metrics
    return {
        "detail": detail,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["transcript_queries", "synthetic_supersteps"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, one set-up")
    args = p.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import approximate_pagerank_public_spark as engine
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(os.path.join(ROOT, "")):
        # measure the checkout's engine, never another copy on the path
        print(f"perfbench: engine imported from {engine.__file__}, not {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shm = _shm_root()
    try:
        out = run(args, work, shm)
    finally:
        shutil.rmtree(shm, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # left alone while another run uses it
        except OSError:
            pass
    print(json.dumps({"detail": out["detail"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
