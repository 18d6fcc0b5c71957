"""curate_lakehouse: batch curation, then a Delta CDC stream, in one session.

Two phases, each a workload of its own design (see ``curate_corpus`` and
``lakehouse_cdc``):

1. the six-stage curation chain over parquet, run first so that it pays
   the session's JIT and code-generation warm-up the way a scheduled
   batch run does;
2. after a small untimed Delta warm-up, the seeded CDC stream with
   interleaved reads on the date-partitioned image catalog.

They share a session because each benchmark run pays a JVM start and a
cold warm-up, and the run budget cannot carry those three times. Their
end-to-end metrics stay separate: ``batch_s`` is the curation chain,
everything else is the lakehouse phase, so a change to one phase
predicts no change in the other's metrics.
"""

from __future__ import annotations

import os

import curate_corpus
import lakehouse_cdc

# end-to-end metric: the named metric that gives it on this workload
E2E = {
    "batch_s": "curate_s",
    "throughput_per_s": "cdc_rows_per_s",
    "op_p50_s": "commit_p50_s",
    "bytes_per_live_byte": "bytes_per_live_byte",
}


def generate(rng, work: str) -> dict:
    return {
        "curate": curate_corpus.generate(rng, os.path.join(work, "corpus")),
        "cdc": lakehouse_cdc.generate(rng, os.path.join(work, "catalog")),
    }


def warm_up(spark, st: dict, work: str) -> None:
    """None before the chain (see the module docstring)."""


def measure(spark, st: dict, work: str, seconds: float, tracer, ops) -> dict:
    cur = curate_corpus.measure(spark, st["curate"], os.path.join(work, "curate"), seconds, tracer, ops)
    lakehouse_cdc.warm_up(spark, st["cdc"], os.path.join(work, "delta_warm"))
    cdc = lakehouse_cdc.measure(spark, st["cdc"], os.path.join(work, "cdc"), seconds, tracer, ops)
    out = {
        "named": {**cur["named"], **cdc["named"]},
        "inputs": {"curate": cur["inputs"], "cdc": cdc["inputs"]},
    }
    if tracer.enabled:
        layer = dict(cur["layer"])
        for k, v in cdc["layer"].items():
            # spark.* and driver.build_s: totals of the traced pass, which
            # runs one chain and the CDC prefix, a fixed amount of work
            layer[k] = layer.get(k, 0) + v
        out["layer"] = layer
    return out
