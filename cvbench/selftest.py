"""Self-test of the benchmark's own machinery.

    python3 cvbench/selftest.py

Pins the Spark job count of one known call as the status-store diff
sees it, checks that jobs submitted from a thread pool are counted
while job-group attribution misses them, checks the self-time arithmetic, checks
that BENCHMARK.json declares exactly the metrics ``run.py`` prints, and
checks that ``compare.py`` refuses runs whose stamps differ. Exits 0
when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# exact_duplicates is one hash aggregate: with AQE the shuffle map stage
# and the result stage each run as their own job
EXACT_DUPLICATES_JOBS = 2
POOL_JOBS = 3


def check(name: str, ok: bool, detail) -> bool:
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {detail}", flush=True)
    return ok


def self_time_arithmetic() -> bool:
    from spans import Tracer

    t = Tracer()
    t.spans = [
        {"id": 1, "parent": None, "layer": "a", "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "layer": "b", "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "layer": "b", "start": 3.0, "end": 6.0},  # overlaps span 2
        {"id": 4, "parent": 2, "layer": "c", "start": 2.0, "end": 3.0},
    ]
    got = {k: round(v, 9) for k, v in t.self_times().items()}
    return check("self time = duration − union of children", got == {"a": 5.0, "b": 5.0, "c": 1.0}, got)


def benchmark_json_matches_run() -> bool:
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    workloads = tuple(w["name"] for w in bench["workloads"])
    ok = e2e == run.END_TO_END and layers == run.PER_LAYER and workloads == run.WORKLOADS
    return check("BENCHMARK.json declares what run.py prints", ok, f"{len(e2e)} end-to-end, {len(layers)} per-layer")


def compare_refuses_mismatched_stamps() -> bool:
    import compare

    tmp = tempfile.mkdtemp()
    try:
        paths = []
        for side, nproc in (("base", 4), ("new", 8)):
            path = os.path.join(tmp, f"{side}.json")
            stamp = {"workload": "curate_corpus", "seed": 1, "seconds": 5, "nproc": nproc}
            with open(path, "w") as fh:
                json.dump({"stamp": stamp, "trace": 0, "metrics": {}, "failed": 0}, fh)
            paths.append(path)
        rc = compare.main([paths[0], "--new", paths[1]])
    finally:
        shutil.rmtree(tmp)
    return check("compare.py refuses differing stamps", rc == 3, f"exit {rc}")


def spark_counts(work: str) -> list[bool]:
    import harness

    harness.configure_env(work)
    spark = harness.start_session(work)
    try:
        from spans import Tracer

        from computer_vision_foundations_spark.operators.dedup import exact_duplicates

        tracer = Tracer(spark, enabled=True)
        df = spark.createDataFrame([(i, f"doc {i % 7}") for i in range(200)], "doc_id long, text string")
        exact_duplicates(df).collect()  # warm: the pinned count is of a warm call
        rows = tracer.call("exact_duplicates", "dedup", lambda: exact_duplicates(df).collect())
        jobs = tracer.select("exact_duplicates")[0]["spark"]["jobs"]
        results = [
            check("exact_duplicates rows", len(rows) == 7, len(rows)),
            check(
                "exact_duplicates().collect() job count",
                jobs == EXACT_DUPLICATES_JOBS,
                f"{jobs} jobs (pinned {EXACT_DUPLICATES_JOBS})",
            ),
        ]

        sc = spark.sparkContext
        sc.setJobGroup("cvbench-selftest", "pool")
        with tracer.span("pool", "bench"):
            with ThreadPoolExecutor(POOL_JOBS) as pool:
                futures = [pool.submit(lambda: spark.range(0, 100, 1, 2).collect()) for _ in range(POOL_JOBS)]
                for f in futures:
                    f.result()
        counted = tracer.select("pool")[0]["spark"]["jobs"]
        grouped = len(sc.statusTracker().getJobIdsForGroup("cvbench-selftest"))
        results.append(
            check(
                "thread-pool jobs counted by the status-store diff, missed by the job group",
                counted == POOL_JOBS and grouped < POOL_JOBS,
                f"diff {counted}, job group {grouped}",
            )
        )
        return results
    finally:
        harness.shutdown(spark)


def main() -> int:
    work = os.path.join(ROOT, ".cvbench_work", f"selftest-{os.getpid()}")
    try:
        results = [self_time_arithmetic(), benchmark_json_matches_run(), compare_refuses_mismatched_stamps()]
        results += spark_counts(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
