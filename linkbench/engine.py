"""Engine plumbing for the benchmark: the Spark session and its set-up
timing, process-tree memory, engine counts per job group, and spans.

Nothing here imports ``name_matching_spark`` at module level, so
``configure_env`` can point Spark and its Python workers at the checkout
before the first JVM starts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".linkbench_work")
SETUP_PROBES = 1  # extra cold set-ups per run, each in its own process
WARM_ROWS = 4096
JW_MARTHA = 0.9611111111111111


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _prepend(var: str, value: str, sep: str) -> None:
    old = os.environ.get(var)
    if not old:
        os.environ[var] = value
    elif not old.startswith(value):
        os.environ[var] = value + sep + old


def configure_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package from it."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM Spark launches: temp files in the checkout, and no
    # hsperfdata file in the system temp directory
    _prepend("JAVA_TOOL_OPTIONS", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData", " ")
    _prepend("PYTHONPATH", ROOT, os.pathsep)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(n_cores: int):
    from name_matching_spark.session import get_spark

    spark = get_spark(
        "linkbench",
        master=f"local[{n_cores}]",
        shuffle_partitions=2 * n_cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, n_cores: int) -> None:
    """One pandas-UDF job over every task slot: JVM codegen, the Arrow
    path and one Python worker per slot."""
    from pyspark.sql import functions as F

    from name_matching_spark.functions.udfs import jaro_winkler_udf

    total = (
        spark.range(0, WARM_ROWS, numPartitions=n_cores)
        .select(jaro_winkler_udf(F.lit("MARTHA"), F.lit("MARHTA")).alias("x"))
        .agg(F.sum("x"))
        .first()[0]
    )
    if abs(total - WARM_ROWS * JW_MARTHA) > 1e-6:
        raise RuntimeError(f"warm-up job returned {total}")


def timed_setup(n_cores: int):
    """(session, seconds): session creation, JVM launch and warm-up."""
    t0 = time.perf_counter()
    spark = start_session(n_cores)
    warm_up(spark, n_cores)
    return spark, time.perf_counter() - t0


def probe_main() -> int:
    """Child-process body of one extra set-up sample: prints its seconds."""
    configure_env()
    spark, seconds = timed_setup(cores())
    stop_session(spark)
    print(json.dumps({"setup_s": seconds}))
    return 0


def probe_setups(script: str) -> list[float]:
    """Cold set-up samples, one fresh Python process each, in sequence."""
    out = []
    for _ in range(SETUP_PROBES):
        proc = subprocess.run(
            [sys.executable, script, "--setup-probe"],
            cwd=ROOT, capture_output=True, text=True, timeout=120, check=True,
        )
        out.append(json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"])
    return out


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -- memory -------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root_pid: int, jvm_pid: int) -> int:
    """Resident set of the benchmark's Python process, its JVM and Spark's
    Python workers, summed.

    Other descendants are left out on purpose: the JVM runs short-lived
    helper commands, and between fork and exec such a child reports the
    JVM's whole resident set a second time.
    """
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total = 0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        try:
            if pid not in (root_pid, jvm_pid):
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"pyspark.daemon" not in f.read():
                        continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Background sampler of the summed RSS of the Spark processes."""

    def __init__(self, interval: float = 0.05):
        from pyspark import SparkContext

        self.interval = interval
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid, self.jvm_pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# -- engine counts ------------------------------------------------------------


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, task attempts and failed tasks of one job group, read from the
    status tracker once the listener bus has caught up."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            stage = st.getStageInfo(s)
            if stage:
                tasks += stage.numCompletedTasks + stage.numFailedTasks
                failed += stage.numFailedTasks
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed}


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans at the benchmark's calls into each layer.

    Each span gets its own Spark job group, so the jobs a layer triggers
    are counted to that span alone (child spans have their own groups).
    """

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}/{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setJobGroup(f"{self.run_id}/idle", "outside spans")

    def finish(self) -> None:
        """Attach self time and engine counts to every span."""
        for rec in self.spans:
            child = sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == rec["id"]
            )
            rec["self_s"] = rec["end"] - rec["start"] - child
            rec.update(group_counts(self.sc, rec["group"]))
