"""cvlake benchmark: one seeded command per workload.

    python3 cvbench/run.py --workload ingest_images --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout on ``local[nproc]``. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` runs the same untraced pass,
then a traced pass over the workload's fixed prefix only (so every count
and total describes the same work however fast the engine is), and
prints the per-layer metrics, each layer's self time and the tracing
overhead (``op_p50_s`` of the traced pass minus that of the untraced
one; both measure warm operations). The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed``, ``metrics``. See cvbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

WORKLOADS = ("ingest_images", "curate_lakehouse")
SETUP_REPS = 3

# name: (unit, better). Every workload reports every end-to-end metric;
# each workload module's E2E says which of its named metrics gives it.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "batch_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "op_p50_s": ("s", "lower"),
    "bytes_per_live_byte": ("ratio", "lower"),
}

# Every traced run reports every per-layer metric; a layer the workload
# never calls reports 0.
PER_LAYER = {
    **{
        f"spark.{k}": (u, "lower")
        for k, u in (
            ("jobs", "count"),
            ("stages", "count"),
            ("tasks", "count"),
            ("exec_run_s", "s"),
            ("exec_cpu_s", "s"),
            ("input_bytes", "bytes"),
            ("shuffle_read_bytes", "bytes"),
            ("shuffle_write_bytes", "bytes"),
            ("spill_bytes", "bytes"),
        )
    },
    "driver.build_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "gen.s": ("s", "lower"),
    "warmup.s": ("s", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.cycle_p90_s": ("s", "lower"),
    "streaming.batch_p50_s": ("s", "lower"),
    "streaming.latest_offset_s": ("s", "lower"),
    "streaming.get_batch_s": ("s", "lower"),
    "streaming.query_planning_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.wal_commit_s": ("s", "lower"),
    "streaming.commit_offsets_s": ("s", "lower"),
    "jpeg.decode_ms_per_file": ("ms", "lower"),
    "jpeg.decode_mb_per_s": ("MB/s", "higher"),
    "jpeg.drain_decode_share": ("ratio", "lower"),
    "image.fallback_files": ("count", "lower"),
    "image.ff_cut_no_fallback": ("count", "lower"),
    "score.predict_ms_per_file": ("ms", "lower"),
    "score.files_per_s": ("files/s", "higher"),
    "sink.files_written": ("count", "lower"),
    "sink.bytes_written": ("bytes", "lower"),
    "text.quality_s": ("s", "lower"),
    "dedup.exact_s": ("s", "lower"),
    "dedup.lsh_s": ("s", "lower"),
    "dedup.lsh_candidate_pairs": ("count", "lower"),
    "dedup.lsh_candidates_per_true_pair": ("ratio", "lower"),
    "dedup.lsh_recall": ("ratio", "higher"),
    "components.s": ("s", "lower"),
    "components.jobs": ("count", "lower"),
    "selection.s": ("s", "lower"),
    "similarity.mutual_knn_s": ("s", "lower"),
    "similarity.pairs_examined": ("count", "lower"),
    "similarity.pairs_kept": ("count", "higher"),
    "similarity.kept_per_examined": ("ratio", "higher"),
    "delta_writer.upsert_s": ("s", "lower"),
    "delta_writer.append_s": ("s", "lower"),
    "delta_writer.delete_s": ("s", "lower"),
    "delta_writer.optimize_s": ("s", "lower"),
    "delta_writer.commit_p90_s": ("s", "lower"),
    "delta_writer.jobs_per_commit": ("count", "lower"),
    "delta_writer.files_added_per_commit": ("count", "lower"),
    "delta_writer.files_removed_per_commit": ("count", "lower"),
    "delta_writer.bytes_written_per_user_byte": ("ratio", "lower"),
    "delta_writer.checkpoints": ("count", "lower"),
    "delta_reader.snapshot_s": ("s", "lower"),
    "delta_reader.log_bytes": ("bytes", "lower"),
    "delta_reader.read_input_bytes": ("bytes", "lower"),
    "delta_reader.read_p50_s": ("s", "lower"),
    "delta_reader.read_p90_s": ("s", "lower"),
    **{
        f"self_s.{layer}": ("s", "lower")
        for layer in (
            "bench",
            "streaming",
            "jpeg",
            "score",
            "text",
            "dedup",
            "components",
            "selection",
            "similarity",
            "parquet",
            "delta_writer",
            "delta_reader",
            "tracer",
        )
    },
    "trace.spans": ("count", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    import harness

    work = os.path.join(ROOT, ".cvbench_work", f"{args.workload}-{os.getpid()}")
    results = os.path.join(ROOT, ".cvbench_results")
    shutil.rmtree(work, ignore_errors=True)
    harness.configure_env(work)  # before the engine package is imported
    try:
        import computer_vision_foundations_spark  # noqa: F401
    except ImportError as e:
        print(f"cvbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        shutil.rmtree(os.path.dirname(work), ignore_errors=True)
        return 2

    import numpy as np

    from spans import Tracer

    mod = __import__(args.workload)
    t = time.perf_counter()
    spark = harness.start_session(work)
    session_s = time.perf_counter() - t
    try:
        tracer = Tracer(spark, enabled=True) if args.trace else None
        # input generation repeats (same seed, same inputs) and reports its
        # median; the JVM start and the cold warm-up can happen only once
        gens = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            st = mod.generate(np.random.default_rng(args.seed), os.path.join(work, f"gen{rep}"))
            gens.append(time.perf_counter() - t)
        t = time.perf_counter()
        mod.warm_up(spark, st, os.path.join(work, "warm"))
        warmup_s = time.perf_counter() - t
        setup_s = session_s + harness.median(gens) + warmup_s

        ops = harness.Ops()
        result = mod.measure(spark, st, os.path.join(work, "pass0"), args.seconds, Tracer(), ops)
        if tracer is not None:
            # seconds=0: the fixed prefix only (MIN_CYCLES, MIN_OPS, MIN_CHAINS)
            traced = mod.measure(spark, st, os.path.join(work, "pass1"), 0, tracer, ops)
        the_stamp = harness.stamp(spark, args.workload, args.seed, args.seconds)
    finally:
        harness.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    named = {"setup_s": (setup_s, "s"), "error_rate": (ops.failed / ops.attempted, "ratio"), **result["named"]}
    e2e = {"setup_s": setup_s, **{k: named[v][0] for k, v in mod.E2E.items()}}
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    os.makedirs(results, exist_ok=True)
    layer = {}
    if tracer is not None:
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(traced["layer"])
        layer.update({"session.start_s": session_s, "gen.s": harness.median(gens), "warmup.s": warmup_s})
        layer.update({f"self_s.{k}": v for k, v in tracer.self_times().items()})
        op = mod.E2E["op_p50_s"]
        base, with_trace = result["named"][op][0], traced["named"][op][0]
        layer.update(
            {
                "trace.spans": len(tracer.spans),
                "trace.overhead_s": with_trace - base,
                "trace.overhead_ratio": (with_trace - base) / base,
            }
        )
        unknown = set(layer) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
        tracer.write(os.path.join(results, stem + "-spans.json"))

    print(f"# stamp {json.dumps(the_stamp, sort_keys=True)}")
    print(f"# inputs {json.dumps(result['inputs'], sort_keys=True)}")
    print(f"# setup: session {session_s:.3f} s, generation {[round(g, 3) for g in gens]} s, warm-up {warmup_s:.3f} s")
    print(f"# ops attempted {ops.attempted} failed {ops.failed}")
    for name, (value, unit) in named.items():
        print(f"metric {name} {value:.6g} {unit}")
    for name, value in e2e.items():
        print(f"e2e {name} {value:.6g} {END_TO_END[name][0]}")
    for name, value in layer.items():
        print(f"layer {name} {value:.6g} {PER_LAYER[name][0]}")

    shown, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
    line = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {n: {"value": float(v), "unit": units[n][0]} for n, v in shown.items()},
    }
    with open(os.path.join(results, stem + ".json"), "w") as fh:
        json.dump(
            {
                "stamp": the_stamp,
                "trace": args.trace,
                "inputs": result["inputs"],
                "named": {n: {"value": v, "unit": u} for n, (v, u) in named.items()},
                "checks": ops.checks,
                "ops": ops.ops,
                **line,
            },
            fh,
            indent=1,
        )
    print(json.dumps(line), flush=True)
    return 0 if ops.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
