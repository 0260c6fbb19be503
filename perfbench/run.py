#!/usr/bin/env python3
"""Closed-loop, oracle-checked benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 15 --trace 0

One run, in a fresh process:

1. builds the engine's stamped layouts over the tables in
   ``perfbench/data/`` in a child session (first run of a checkout only);
2. set-up, timed as ``setup_s``: ``get_spark`` plus one warm pass that
   runs each distinct query of the workload once and collects its rows;
3. checks those rows against the query's DuckDB oracle (untimed);
4. runs whole seed-permuted passes over the workload, one query at a
   time through the noop sink, for about ``--seconds`` (at least one
   pass; another only if it is expected to end within the time).

With ``--trace 1`` every timed query runs twice back to back, untraced
and with layer spans and Spark status-store readings on (alternating
which goes first); the metrics are then the per-layer ones, including
the tracing overhead (see README.md). The last line of standard output
is the JSON result; an environment record precedes it and the full
record is kept under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness  # noqa: E402
import tracer as tr  # noqa: E402
from workloads import WORKLOADS, passes  # noqa: E402

DATA = Path(__file__).resolve().parent / "data"


def _source_digest() -> str:
    h = hashlib.sha1()
    for p in sorted((harness.ROOT / "sales_agent_graphdb_spark").rglob("*.py")):
        h.update(p.relative_to(harness.ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(harness.ROOT), "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or Path(lines[0]) != harness.ROOT:
        return None
    return lines[1]


def oracle_mismatch(spec, rows, cols, duck) -> str | None:
    """The oracle comparison of tools/driver_protocol.py: row count,
    column names, order-insensitive value hash."""
    from driver_protocol import vhash

    res = duck.execute(spec.oracle)
    ocols = [d[0] for d in res.description]
    orows = [tuple(r) for r in res.fetchall()]
    if len(rows) != len(orows):
        return f"rows {len(rows)} != oracle {len(orows)}"
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if vhash(rows, cols) != vhash(orows, ocols):
        return "value hash differs from oracle"
    return None


def warm_and_check(spark, specs, names, sf_dir):
    """Run each query once, collecting its rows (timed: the warm half of
    set-up), then compare with its oracle (untimed). Returns ({step:
    seconds}, {name: problem}) for queries that raised or mismatched."""
    from driver_protocol import make_duck

    t0 = time.perf_counter()
    harness.noop(spark.range(1))
    results, warm = {}, {"noop_sink": time.perf_counter() - t0}
    for name in names:
        t0 = time.perf_counter()
        try:
            df = specs[name].fn(spark, sf_dir)
            results[name] = ([tuple(r) for r in df.collect()], df.columns)
        except Exception as exc:  # a failing query is reported, not fatal
            traceback.print_exc()
            results[name] = exc
        warm[name] = time.perf_counter() - t0

    duck = make_duck(sf_dir)
    problems = {}
    for name, res in results.items():
        if isinstance(res, Exception):
            problems[name] = f"raised {type(res).__name__}"
        elif specs[name].oracle is None:
            problems[name] = "no oracle"
        else:
            try:
                bad = oracle_mismatch(specs[name], res[0], res[1], duck)
            except Exception as exc:
                bad = f"comparison raised {type(exc).__name__}: {exc}"
            if bad:
                problems[name] = bad
    duck.close()
    return warm, problems


def run_untraced(spark, spec, sf_dir, cpu: list[float]) -> tuple[float, bool]:
    """Wall of one query; its process-tree CPU seconds go to ``cpu``."""
    harness.reset_layout(spec.name, sf_dir)
    c0 = harness.tree_cpu_s()
    t0 = time.perf_counter()
    try:
        harness.noop(spec.fn(spark, sf_dir))
        ok = True
    except Exception:
        traceback.print_exc()
        ok = False
    wall = time.perf_counter() - t0
    cpu.append(harness.tree_cpu_s() - c0)
    return wall, ok


def timed_passes(run_one, orders_iter, seconds: float):
    """Whole passes: one, then another while one more pass of the mean
    length so far still ends within ``seconds``. Every run thus times
    the same multiset k times; k only grows once passes take under half
    of ``seconds``. Returns (orders run, [(name, wall, ok)])."""
    orders, samples = [], []
    t0 = time.perf_counter()
    while True:
        order = next(orders_iter, None)
        if order is None:
            break
        orders.append(order)
        for name in order:
            wall, ok = run_one(name)
            samples.append((name, wall, ok))
        elapsed = time.perf_counter() - t0
        if elapsed * (len(orders) + 1) / len(orders) > seconds:
            break
    return orders, samples


class TracedRunner:
    """Runs one query with the layer tracer on and keeps its record."""

    def __init__(self, spark, specs, sf_dir: str) -> None:
        from sales_agent_graphdb_spark import catalog
        from sales_agent_graphdb_spark.operators import ann, graph, lsh
        from sales_agent_graphdb_spark.sources import stamp

        self.spark, self.specs, self.sf_dir = spark, specs, sf_dir
        self.tracer = tr.Tracer()
        self.tracer.wrap(catalog, "load_table", "catalog.load_table")
        self.tracer.wrap_module(graph, "operators.graph")
        self.tracer.wrap_module(lsh, "operators.lsh")
        self.tracer.wrap_module(ann, "operators.ann")
        self.tracer.wrap_stamp_ensure(stamp)
        df_class = type(spark.range(1))
        self.tracer.wrap(df_class, "localCheckpoint", "barrier")
        self.tracer.wrap(df_class, "checkpoint", "barrier")
        self.sql = tr.SqlMetricsReader(spark)
        self.records: list[dict] = []
        self._n = 0

    def __call__(self, name: str) -> tuple[float, bool]:
        spark = self.spark
        self._n += 1
        tag = f"pb{self._n}:"
        ok = True
        phases = {}
        harness.reset_layout(name, self.sf_dir)
        self.tracer.start_trace()
        t0 = time.perf_counter()
        try:
            tr.set_job_group(spark, tag + "build")
            with self.tracer.span("queries.build"):
                df = self.specs[name].fn(spark, self.sf_dir)
            tr.set_job_group(spark, tag + "probe")
            with self.tracer.span("catalyst.probe"):
                phases = tr.catalyst_phases(df)
            tr.set_job_group(spark, tag + "exec")
            with self.tracer.span("execute"):
                harness.noop(df)
        except Exception:
            traceback.print_exc()
            ok = False
        finally:
            wall = time.perf_counter() - t0
            self_s, counts = self.tracer.end_trace()
            tr.set_job_group(spark, None)
        build = tr.stage_stats(spark, tag + "build")
        execute = tr.stage_stats(spark, tag + "exec")
        self.records.append({
            "name": name, "ok": ok, "wall_s": wall, "self_s": self_s,
            "counts": counts, "catalyst": phases, "build": build,
            "execute": execute, "python": self.sql.python_stats(tag),
        })
        return wall, ok

    def close(self) -> None:
        self.tracer.close()


def layer_metrics(records: list[dict], cpus: int) -> dict[str, float]:
    """Per-query means of the per-layer readings of the traced executions."""
    n = len(records)

    def mean(f) -> float:
        return sum(f(r) for r in records) / n

    def self_s(layer):
        return mean(lambda r: r["self_s"].get(layer, 0.0))

    def count(name):
        return mean(lambda r: r["counts"].get(name, 0))

    def spark(key):
        return mean(lambda r: r["build"][key] + r["execute"][key])

    layers = ["catalog.load_table", "queries.build", "catalyst.probe", "execute",
              "barrier", "operators.graph", "operators.lsh", "operators.ann",
              "sources.stamp"]
    wall = mean(lambda r: r["wall_s"])
    m = {
        "catalog.load_table_calls": count("catalog.load_table.calls"),
        "catalog.load_table_s": self_s("catalog.load_table"),
        "queries.build_s": self_s("queries.build"),
        "queries.build_jobs": mean(lambda r: r["build"]["jobs"]),
        "catalyst.analysis_ms": mean(lambda r: r["catalyst"].get("analysis_ms", 0.0)),
        "catalyst.optimization_ms": mean(lambda r: r["catalyst"].get("optimization_ms", 0.0)),
        "catalyst.planning_ms": mean(lambda r: r["catalyst"].get("planning_ms", 0.0)),
        "catalyst.probe_s": self_s("catalyst.probe"),
        "execute.s": self_s("execute"),
        "execute.jobs": mean(lambda r: r["execute"]["jobs"]),
        "spark.stages": spark("stages"),
        "spark.tasks": spark("tasks"),
        "spark.shuffle_write_bytes": spark("shuffle_write_bytes"),
        "spark.spill_bytes": spark("spill_bytes"),
        "spark.executor_run_s": spark("executor_run_s"),
        "spark.slot_busy_frac": mean(
            lambda r: (r["build"]["executor_run_s"] + r["execute"]["executor_run_s"])
            / (r["wall_s"] * cpus)
        ),
        "barrier.count": count("barrier.calls"),
        "barrier.s": self_s("barrier"),
        "operators.graph.s": self_s("operators.graph"),
        "operators.graph.calls": count("operators.graph.calls"),
        "operators.lsh.s": self_s("operators.lsh"),
        "operators.ann.s": self_s("operators.ann"),
        "sources.stamp.calls": count("sources.stamp.calls"),
        "sources.stamp.builds": count("sources.stamp.builds"),
        "sources.stamp.s": self_s("sources.stamp"),
        "trace.query_wall_s": wall,
        "trace.layer_sum_frac": sum(self_s(layer) for layer in layers) / wall,
        "trace.unattributed_frac": (self_s("queries.build") + self_s("execute")) / wall,
    }
    for key in ("worker_start_s", "worker_run_s", "bytes_sent", "bytes_returned"):
        m[f"python.{key}"] = mean(lambda r: r["python"][key])
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.01", choices=("0.01", "0.001"),
                    help="scale factor of the tables in perfbench/data (self-tests use 0.001)")
    args = ap.parse_args(argv)

    if not harness.package_present():
        print("perfbench: the engine package and tools/ must sit beside perfbench/",
              file=sys.stderr)
        return 2
    harness.pin_environment()
    cpus = harness.cpu_count()
    load_before = os.getloadavg()

    from sales_agent_graphdb_spark.registry import all_queries

    sf_dir = str(DATA / f"sf{args.sf}")
    harness.prepare(sf_dir)
    specs = all_queries()
    harness.relocate_scratch()
    names = WORKLOADS[args.workload]["queries"]

    spark, get_spark_s = harness.start_session()
    runner = None
    try:
        warm, problems = warm_and_check(spark, specs, names, sf_dir)
        warm_s = sum(warm.values())
        cpu: list[float] = []

        def untraced(name: str) -> tuple[float, bool]:
            return run_untraced(spark, specs[name], sf_dir, cpu)

        if args.trace:
            runner = TracedRunner(spark, specs, sf_dir)
            listener = tr.streaming_listener()
            spark.streams.addListener(listener)
            samples: list[tuple[str, float, bool]] = []

            def paired(name: str) -> tuple[float, bool]:
                """Each query untraced and traced, alternating which runs
                first, so warm-up during the run favours neither."""
                first_untraced = len(samples) % 2 == 0
                if first_untraced:
                    samples.append((name, *untraced(name)))
                traced_result = runner(name)
                if not first_untraced:
                    samples.append((name, *untraced(name)))
                return traced_result

            orders, traced = timed_passes(
                paired, passes(args.workload, args.seed), args.seconds)
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            spark.streams.removeListener(listener)
        else:
            orders, samples = timed_passes(
                untraced, passes(args.workload, args.seed), args.seconds)
        rss_mb = harness.jvm_peak_rss_mb(spark)
        heap_mb = None if args.trace else harness.jvm_heap_retained_mb(spark)
        java = spark._jvm.java.lang.System.getProperty("java.version")
    finally:
        if runner is not None:
            runner.close()
        harness.stop_session(spark)

    import pyspark

    walls = [w for _, w, ok in samples if ok]
    executed = samples + (traced if args.trace else [])
    wrong = [n for n, _, ok in executed if not ok or n in problems]
    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": args.sf, "nproc": cpus,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "pyspark": pyspark.__version__, "java": java,
        "git_commit": _git_commit(), "source_digest": _source_digest(),
        "passes": len(orders), "get_spark_s": get_spark_s, "warm_s": warm,
        "problems": problems,
    }
    if args.trace:
        m = layer_metrics(runner.records, cpus)
        untraced_s = sum(w for _, w, _ in samples)
        traced_s = sum(r["wall_s"] for r in runner.records)
        m["trace.overhead_frac"] = (traced_s - untraced_s) / untraced_s
        m["query.wall_geomean_s"] = math.exp(sum(map(math.log, walls)) / len(walls))
        m["query.throughput_qpm"] = 60.0 * len(walls) / untraced_s
        m["jvm.peak_rss_mb"] = rss_mb
        m["session.get_spark_s"] = get_spark_s
        m["setup.warm_pass_s"] = warm_s
        # the listener saw the untraced twin of every traced query too
        m["streaming.batches"] = len(listener.batches) / len(executed)
        m["streaming.batch_p50_s"] = statistics.median(listener.batches) if listener.batches else 0.0
    else:
        m = {
            "setup_s": get_spark_s + warm_s,
            "query_cpu_s": sum(cpu) / len(cpu),
            "jvm_heap_retained_mb": heap_mb,
        }
    bench = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    unit_of = {x["name"]: x["unit"] for x in bench["end_to_end"] + bench["per_layer"]}
    result = {
        "correct": not problems and not wrong,
        "attempted": len(executed),
        "failed": len(wrong),
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in sorted(m.items())},
    }
    out = harness.STATE / "results"
    out.mkdir(parents=True, exist_ok=True)
    record = {"env": env, "result": result, "samples": samples, "cpu_s": cpu}
    if runner is not None:
        record["traced"] = runner.records
    (out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    print("perfbench env " + json.dumps(env))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
