"""Session lifecycle, environment stamp and result bookkeeping.

``configure_env`` must run before ``computer_vision_foundations_spark``
is imported: ``session.py`` reads ``SPARK_GRAFT_CPUS`` at import time and
would otherwise size the session for 32 cores.
"""

from __future__ import annotations

import os
import platform
import statistics
import sys
import time
import traceback

import numpy as np

DRIVER_MEMORY = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str) -> None:
    """Pin the session to this host's cores and keep every file the JVM
    and Python workers write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_UI"] = "false"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM this run starts (the launcher and the driver): temp files
    # under ``work``, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(work: str):
    from computer_vision_foundations_spark.session import get_spark

    return get_spark(
        "cvbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait until the JVM
    and the Python workers it forked have exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    workers = []
    if proc is not None:
        for child in _children(proc.pid):
            workers += [child] + _children(child)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in workers:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)


def stamp(spark, workload: str, seed: int, seconds: int) -> dict:
    """Everything that must match before two results may be compared."""
    import pyspark

    from computer_vision_foundations_spark.functions.image import HAVE_PIL

    return {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "pillow": bool(HAVE_PIL),
    }


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return float(statistics.median(values))


class Ops:
    """Timed closed-loop operations and the output checks against them.

    An operation fails when it raises or when any check attributed to it
    fails; ``error_rate`` = failed operations / operations attempted.
    """

    def __init__(self):
        self.ops: list[dict] = []
        self.checks: list[dict] = []

    def run(self, kind: str, fn, *args):
        """Time ``fn(*args)``; returns (op index, result or None if it raised)."""
        i = len(self.ops)
        t = time.perf_counter()
        try:
            out, ok = fn(*args), True
        except Exception:  # an op that raises is a counted failure
            traceback.print_exc()
            out, ok = None, False
        self.ops.append({"kind": kind, "s": time.perf_counter() - t, "raised": not ok})
        return i, out

    def check(self, op: int, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append({"op": op, "name": name, "ok": bool(ok), "detail": detail})
        if not ok:
            print(f"FAIL check {name} (op {op}): {detail}", file=sys.stderr, flush=True)
        return bool(ok)

    def times(self, *kinds: str) -> list[float]:
        return [o["s"] for o in self.ops if o["kind"] in kinds and not o["raised"]]

    def elapsed(self) -> float:
        return sum(o["s"] for o in self.ops)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        bad = {i for i, o in enumerate(self.ops) if o["raised"]}
        bad |= {c["op"] for c in self.checks if not c["ok"]}
        return len(bad)


def dir_bytes(path: str, skip_hidden: bool = False) -> tuple[int, int]:
    """(files, bytes) under ``path``; ``skip_hidden`` ignores ``_``/``.``
    entries such as a sink's ``_spark_metadata`` log and CRC files."""
    n = size = 0
    for root, dirs, files in os.walk(path):
        if skip_hidden:
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            files = [f for f in files if not f.startswith(("_", "."))]
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def compact_parquet_bytes(parts) -> int:
    """Bytes of each table in ``parts`` written once as one parquet file
    (Snappy, like the engine's writers): the size a live dataset needs
    without dead files, small files or logs."""
    import io

    import pyarrow.parquet as pq

    total = 0
    for table in parts:
        buf = io.BytesIO()
        pq.write_table(table, buf, compression="snappy")
        total += buf.tell()
    return total
