#!/usr/bin/env python3
"""Closed-loop benchmark of fully materialized engine queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 10 --trace 0

One client on ``local[4]`` issues the workload's queries back to back. Each
query is built by its registered builder and its whole result goes to the
workload's sink, with ``clear_barriers()`` before every query so each pass
pays the cold pipeline. A run:

1. set-up (``setup_s``): generates the inputs from the seed, starts the
   Spark session and makes two untimed warm-up passes, the first collecting
   every result for the output check and the second writing to the sink;
2. measures whole passes until ``--seconds`` have elapsed and at least
   ``MIN_PASSES`` have run, in a fresh seed-shuffled query order per pass;
3. checks every query's warm-up output against its DuckDB oracle;
4. writes a record with every sample, span and counter under
   ``.bench_work/records/`` and prints one JSON result line last.

With ``--trace 1`` every second pass is traced (U T U ...): traced passes
record spans around the engine's public functions and read Spark's status
stores per query, and the result carries the per-layer metrics plus the
tracing overhead (median traced pass wall minus median untraced pass wall).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import pyarrow.parquet as pq

from check import OracleCheck
from inputs import TABLES, write_base, write_curation
from probes import RssSampler, SparkCounters, Tracer, alive, descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
CORES = 4
# The JVM keeps compiling through the first passes: set-up runs one untimed
# pass through the sink after the collecting warm-up, and the median of at
# least three timed passes absorbs what is left of the trend.
MIN_PASSES = 3
BASE_SEED = 42  # the base catalog is fixed; the workload seed varies order and curation copies
_MB = 1024 * 1024

# Query lists. Each workload keeps one layer dominant; see BENCHMARK.json for
# why each was chosen. Every query has a registered DuckDB oracle.
WORKLOADS = {
    # Driver round-trips dominate: probes, barriers, collects and per-job
    # fixed cost inside the query builders.
    "iterative": {
        "data": "base",
        "sink": "noop",
        "queries": [
            "bfs_reach_3hop", "kmeans_train_loop", "bpe_train_loop",
        ],
    },
    # Per-row operator cost on the x4 corpus: shingling and winnowing, an
    # Arrow UDF crossing, and the paper's JSONL sink writing beside the reads.
    "curation": {
        "data": "curation",
        "sink": "jsonl",
        "queries": [
            "winnow_match_pairs", "dedup_exact", "udf_quality_gate",
        ],
    },
}

END_TO_END = {  # name -> unit
    "wall_s": "s",
    "query_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_s": "s",
    "queries.build_share": "ratio",
    "operators.barrier_calls": "count",
    "operators.clear_s": "s",
    "operators.cached_mb_peak": "MB",
    "functions.py_run_s": "s",
    "functions.py_start_s": "s",
    "functions.to_py_mb": "MB",
    "functions.from_py_mb": "MB",
    "sources.write_s": "s",
    "sources.write_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_rows": "count",
    "spark.core_busy_share": "ratio",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten samples
    above it, the percentile being the share of samples at or below the value.
    With fewer than eleven samples, the smallest sample."""
    ordered = sorted(samples)
    rank = max(len(ordered) - 11, 0)
    return ordered[rank], 100.0 * (rank + 1) / len(ordered)


def prepare_env() -> None:
    """Keep every scratch file of this process, its JVMs and Python workers
    inside the checkout, and let the workers import the engine whatever the
    working directory is."""
    tmp = os.path.join(WORK, "tmp")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def start_session():
    from datapipeline_ops_spark.session import get_spark

    spark = get_spark("perfbench", cpus=CORES, shuffle_partitions=CORES, extra_conf={
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait until every process under this run,
    Python workers included, has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    tree = descendants()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    for pid in tree:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    deadline = time.monotonic() + 10
    while any(alive(pid) for pid in tree) and time.monotonic() < deadline:
        time.sleep(0.05)


class Runner:
    def __init__(self, spark, workload: dict, data_dir: str, tracer=None, counters=None) -> None:
        from datapipeline_ops_spark.operators import dedup
        from datapipeline_ops_spark.queries import QUERIES
        from datapipeline_ops_spark.sources import io

        self.spark, self.data_dir = spark, data_dir
        self.specs = {q: QUERIES[q] for q in workload["queries"]}
        self.sink_kind = workload["sink"]
        self.io, self.dedup = io, dedup
        self.tracer, self.counters = tracer, counters
        self.sink_dir = os.path.join(WORK, "sink")

    def sink(self, df, name: str) -> None:
        if self.sink_kind == "jsonl":
            self.io.write_jsonl(df, os.path.join(self.sink_dir, name))
        else:
            df.write.format("noop").mode("overwrite").save()

    def run_pass(self, order: list[str], traced: bool) -> dict:
        """One pass over ``order``; per-query latency = build + materialize."""
        t = self.tracer if traced else None
        span = t.span if t else (lambda _name: contextlib.nullcontext())
        out = {"traced": traced, "latency": {}, "failed": [], "layers": None, "counters": {}}
        span_mark = len(t.spans) if t else 0
        if t:
            t.active = True
        totals: dict[str, float] = {}
        cached_peak = 0
        start = time.perf_counter()
        for name in order:
            self.dedup.clear_barriers()
            if t:
                qid = f"{id(out)}:{name}"
                t.query_id = qid
                self.spark.sparkContext.setJobGroup(qid, name, False)
                self.counters.begin()
            try:
                t0 = time.perf_counter()
                with span("query"):
                    with span("queries.build"):
                        df = self.specs[name].fn(self.spark, self.data_dir)
                    build_jobs = self.counters.job_count(qid) if t else 0
                    with span("queries.exec"):
                        self.sink(df, name)
                out["latency"][name] = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 - a failing query is counted, never skipped
                out["failed"].append({"query": name, "error": f"{type(e).__name__}: {e}"[:500]})
            if t:
                cached_peak = max(cached_peak, self.counters.cached_bytes())
                got = self.counters.read(qid)
                got["build_jobs"] = build_jobs if name in out["latency"] else 0
                out["counters"][name] = got
                for k, v in got.items():
                    totals[k] = totals.get(k, 0.0) + v
                t.query_id = None
        out["wall"] = time.perf_counter() - start
        if t:
            t.active = False
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            out["layers"] = self.layers(span_mark, totals, cached_peak, sum(out["latency"].values()))
        return out

    def layers(self, mark: int, c: dict, cached_peak: int, query_wall: float) -> dict:
        t = self.tracer
        load_calls, load_s = t.total("tables.load_table", mark)
        _, build_s = t.total("queries.build", mark)
        _, exec_s = t.total("queries.exec", mark)
        barrier_calls, _ = t.total("operators.persist_barrier", mark)
        _, clear_s = t.total("operators.clear_barriers", mark)
        _, write_s = t.total("sources.write_jsonl", mark)
        return {
            "tables.load_calls": load_calls,
            "tables.load_s": load_s,
            "queries.build_s": build_s,
            "queries.build_jobs": c["build_jobs"],
            "queries.exec_s": exec_s,
            "queries.build_share": build_s / ((build_s + exec_s) or 1.0),
            "operators.barrier_calls": barrier_calls,
            "operators.clear_s": clear_s,
            "operators.cached_mb_peak": cached_peak / _MB,
            "functions.py_run_s": c["py_run_s"],
            "functions.py_start_s": c["py_start_s"],
            "functions.to_py_mb": c["to_py_bytes"] / _MB,
            "functions.from_py_mb": c["from_py_bytes"] / _MB,
            "sources.write_s": write_s,
            "sources.write_mb": c["write_bytes"] / _MB,
            "spark.jobs": c["jobs"],
            "spark.stages": c["stages"],
            "spark.tasks": c["tasks"],
            "spark.task_s": c["task_s"],
            "spark.task_cpu_s": c["task_cpu_s"],
            "spark.gc_s": c["gc_s"],
            "spark.shuffle_read_mb": c["shuffle_read_bytes"] / _MB,
            "spark.shuffle_write_mb": c["shuffle_write_bytes"] / _MB,
            "spark.spill_mb": c["spill_bytes"] / _MB,
            "spark.input_rows": c["input_rows"],
            "spark.core_busy_share": c["task_s"] / ((query_wall * CORES) or 1.0),
            "spark.failed_tasks": c["failed_tasks"],
            "bases": {"query_wall_s": query_wall, "cores": CORES, "build_plus_exec_s": build_s + exec_s},
        }

    def collect_outputs(self, order: list[str], checker) -> tuple[dict, dict, float]:
        """Untimed warm-up pass that materializes every result into the driver.
        Returns digests and warm-up seconds per query, and the seconds spent
        hashing them."""
        digests, warm, hash_s = {}, {}, 0.0
        for name in order:
            self.dedup.clear_barriers()
            t0 = time.perf_counter()
            try:
                df = self.specs[name].fn(self.spark, self.data_dir)
                rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # noqa: BLE001 - counted as a failed query
                digests[name] = {"error": f"{type(e).__name__}: {e}"[:500]}
                continue
            t1 = time.perf_counter()
            warm[name] = t1 - t0
            digests[name] = checker.digest(df.columns, rows)
            hash_s += time.perf_counter() - t1
        self.dedup.clear_barriers()
        return digests, warm, hash_s


def generate_inputs(workload: dict, seed: int) -> tuple[str, dict]:
    base = os.path.join(WORK, "inputs", "base")
    write_base(base, BASE_SEED)
    data_dir = base
    if workload["data"] == "curation":
        data_dir = os.path.join(WORK, "inputs", "curation")
        write_curation(base, data_dir, seed)
    sizes = {}
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        sizes[t] = {"rows": pq.ParquetFile(path).metadata.num_rows, "bytes": os.path.getsize(path)}
    return data_dir, sizes


def install_tracer():
    from datapipeline_ops_spark import tables
    from datapipeline_ops_spark.operators import dedup
    from datapipeline_ops_spark.sources import io

    tracer = Tracer()
    tracer.wrap(tables, "load_table", "tables.load_table")
    tracer.wrap(dedup, "persist_barrier", "operators.persist_barrier")
    tracer.wrap(dedup, "clear_barriers", "operators.clear_barriers")
    tracer.wrap(io, "write_jsonl", "sources.write_jsonl")
    return tracer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    workload = WORKLOADS[args.workload]

    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import datapipeline_ops_spark.queries  # noqa: F401 - also registers every query
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    rng = random.Random(args.seed)
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "cores": CORES, "queries": workload["queries"]}
    import_s = time.perf_counter() - t_setup
    with RssSampler() as rss:
        prepare_env()
        t0 = time.perf_counter()
        data_dir, record["inputs"] = generate_inputs(workload, args.seed)
        gen_s = time.perf_counter() - t0
        checker = OracleCheck(ROOT, data_dir, os.path.join(WORK, "oracle-cache"))
        t0 = time.perf_counter()
        spark = start_session()
        start_s = time.perf_counter() - t0
        try:
            tracer = install_tracer() if args.trace else None
            counters = SparkCounters(spark) if args.trace else None
            runner = Runner(spark, workload, data_dir, tracer, counters)
            digests, warm, hash_s = runner.collect_outputs(rng.sample(workload["queries"], len(workload["queries"])), checker)
            sink_warmup = runner.run_pass(rng.sample(workload["queries"], len(workload["queries"])), traced=False)
            setup_s = time.perf_counter() - t_setup - hash_s

            passes = []
            t_timed = time.perf_counter()
            while len(passes) < MIN_PASSES or time.perf_counter() - t_timed < args.seconds:
                order = rng.sample(workload["queries"], len(workload["queries"]))
                # Traced passes between untraced ones (U T U ...), so both kinds
                # sit at the same mean position in the JIT warm-up trend.
                passes.append(runner.run_pass(order, traced=bool(args.trace) and len(passes) % 2 == 1))
            record["timed_s"] = time.perf_counter() - t_timed
        finally:
            stop_session(spark)

    # Output check, outside every timed section.
    checks = {}
    for name, got in digests.items():
        want = checker.expected(name, runner.specs[name].oracle) if runner.specs[name].oracle else None
        checks[name] = {"ok": want is not None and got == want, "got": got, "want": want}

    latencies = [v for p in passes for v in p["latency"].values()] or [0.0]
    tail_s, tail_pct = tail(latencies)
    executed = [sink_warmup, *passes]
    failed_execs = [f for p in executed for f in p["failed"]]
    attempted = sum(len(p["latency"]) + len(p["failed"]) for p in executed) + len(checks)
    failed = len(failed_execs) + sum(not c["ok"] for c in checks.values())
    untraced = [p["wall"] for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    e2e = {
        "wall_s": statistics.median(untraced),
        "query_p50_s": statistics.median(latencies),
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_bytes / _MB,
    }
    # Recorded and printed, but not gated: at this run length the tail rule
    # lands near the bottom of the samples, and failures are gated as counts.
    extra = {
        "query_tail_s": {"value": tail_s, "percentile": tail_pct, "samples": len(latencies)},
        "failed_ratio": {"value": failed / attempted, "failed": failed, "attempted": attempted},
    }
    record.update({
        "end_to_end": e2e,
        **extra,
        "setup": {"setup_s": setup_s, "import_s": import_s, "session_start_s": start_s,
                  "gen_s": gen_s,
                  "output_hash_s_excluded": hash_s, "warmup_query_s": warm,
                  "sink_warmup_pass": sink_warmup},
        "passes": passes,
        "checks": checks,
    })
    if args.trace:
        layers = {k: statistics.median(p["layers"][k] for p in traced)
                  for k in PER_LAYER if k not in ("session.start_s", "trace.overhead_s")}
        layers["session.start_s"] = start_s
        traced_wall = statistics.median(p["wall"] for p in traced)
        layers["trace.overhead_s"] = traced_wall - e2e["wall_s"]
        record.update(per_layer=layers, spans=tracer.spans,
                      trace_overhead={"traced_wall_s": traced_wall, "untraced_wall_s": e2e["wall_s"]})
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(WORK, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(os.path.join(WORK, "sink"), ignore_errors=True)

    for name, c in checks.items():
        print(f"check {name}: {'ok' if c['ok'] else 'MISMATCH'} rows={c['got'].get('rows')}")
    for f in failed_execs:
        print(f"failed {f['query']}: {f['error']}")
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    q = extra["query_tail_s"]
    print(f"query_tail_s = {q['value']:.6g} s (p{q['percentile']:.0f} of {q['samples']} samples)")
    print(f"failed_ratio = {failed}/{attempted}")
    print(f"record: {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
