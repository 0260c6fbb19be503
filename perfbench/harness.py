"""Run-time environment of one benchmark run: pinned settings, private
directories, the Spark session's lifetime and the one-time layout
preparation of a checkout.

Run as a script (``python3 perfbench/harness.py DATA_DIR``) it builds
every stamped layout the workloads read, in a Spark session of its own,
so that measured runs start from the same layout state.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
STATE = ROOT / ".perfbench"
RUN_DIR = STATE / "run"
PREPARED = "prepared"

sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from workloads import WORKLOADS  # noqa: E402


def package_present() -> bool:
    return (ROOT / "sales_agent_graphdb_spark" / "__init__.py").is_file() and (
        ROOT / "tools" / "driver_protocol.py"
    ).is_file()


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> None:
    """Session sizing from the cores this process may use, private
    Spark-local and temp directories inside the checkout, and the
    engine's default (local) checkpoints."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    (RUN_DIR / "local").mkdir(parents=True)
    (RUN_DIR / "tmp").mkdir()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = str(RUN_DIR / "local")
    os.environ["TMPDIR"] = str(RUN_DIR / "tmp")
    # Every JVM (the spark-submit launcher and the driver) keeps its
    # temp files in the checkout and writes no perf-data file to /tmp.
    os.environ["JDK_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={RUN_DIR / 'tmp'}"
    os.environ.pop("SPARK_GRAFT_RELIABLE_CHECKPOINT", None)


def relocate_scratch() -> None:
    """Point the engine's layout scratch roots at this checkout.

    The package spells them as absolute paths, so a run from any other
    checkout would write outside it. The workloads' queries reach their
    scratch directories only through these two module constants; the
    other absolute roots in the package (API pages, bucketed joins, the
    brand projection) belong to queries no workload runs."""
    from sales_agent_graphdb_spark.queries import sources_io
    from sales_agent_graphdb_spark.streaming import pipelines

    sources_io.SCRATCH = str(ROOT / ".scratch")
    pipelines.SCRATCH = str(ROOT / ".scratch" / "streaming")


def reset_layout(name: str, sf_dir: str) -> None:
    """Remove the stamped layout that query ``name`` rewrites, if any,
    so its next execution writes it again: every timed execution of
    the upsert builds the base index and merges the new batch into it.
    Untimed: call before the query's timer starts."""
    if name == "ann_index_incremental_upsert":
        from sales_agent_graphdb_spark.queries.ann_search import _index_path

        shutil.rmtree(_index_path(sf_dir, "lsh_incremental"), ignore_errors=True)


def start_session():
    """(spark, seconds spent in get_spark)."""
    from sales_agent_graphdb_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    return spark, time.perf_counter() - t0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def tree_cpu_s() -> float:
    """User plus system CPU seconds used so far by this process and all
    its descendants (the driver JVM, the Python worker daemon and its
    workers), counting descendants that have already exited."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rfind(")") + 2:].split()
        procs[int(entry)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def jvm_heap_retained_mb(spark) -> float:
    """Driver heap still in use after full collections: what the run
    keeps live (cached frames, stored blocks, plan and state caches).
    Python-side frames pin their JVM objects until Python collects
    them, and Spark's ContextCleaner frees the blocks of collected frames
    on its own thread after a JVM GC, so collect in that order and again
    once the cleaner has had time."""
    gc.collect()
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    jvm.java.lang.System.gc()
    time.sleep(1.5)
    used = []
    for _ in range(2):
        jvm.java.lang.System.gc()
        used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        time.sleep(0.5)
    return min(used)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    worker daemon it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prepare(data_dir: str) -> None:
    """Build the checkout's stamped layouts once (in a child process, so
    measured runs still start a fresh JVM)."""
    marker = STATE / f"{PREPARED}_{Path(data_dir).name}"
    want = json.dumps(sorted({q for w in WORKLOADS.values() for q in w["queries"]}))
    if marker.is_file() and marker.read_text() == want:
        return
    subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), data_dir],
        check=True, timeout=800, stdout=sys.stderr,
    )
    marker.write_text(want)


def _prepare_main(data_dir: str) -> None:
    from sales_agent_graphdb_spark.registry import all_queries

    specs = all_queries()
    relocate_scratch()
    spark, _ = start_session()
    try:
        for workload in WORKLOADS.values():
            for name in workload["queries"]:
                noop(specs[name].fn(spark, data_dir))
    finally:
        stop_session(spark)


if __name__ == "__main__":
    _prepare_main(sys.argv[1])
