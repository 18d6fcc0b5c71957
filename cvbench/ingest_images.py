"""ingest_images: the reference's EP1 ingest and EP3 scoring streams.

One pass = a backlog drain through ``streaming.ingest.run_ingest`` at
512 files per trigger, the EP3 scoring stream over the same backlog,
incremental availableNow cycles (land a small wave, run, repeat; at
least ``MIN_CYCLES``, then until the pass has measured ``--seconds``).
The drain is dominated by the JPEG decode in the fused
metadata/statistics UDF; the scoring stream reads the same bytes but
``content_predict_fn`` never decodes; the cycles are dominated by
listing, the offset log and the sink commit. The traced run reports the decoder's measured share of the
drain's executor time (``jpeg.drain_decode_share``).

The backlog also holds ``gen.FF_CUTS`` files cut right after a stuffed
0xFF, which the decoder zero-fills instead of raising (see
``gen.truncate``). They are checked like every file except for the
fallback, and how many of them skipped it is reported as
``ff_cut_no_fallback``, outside the error rate.
"""

from __future__ import annotations

import os
import struct
import time

import numpy as np
import pandas as pd

import gen
from harness import Ops, compact_parquet_bytes, dir_bytes, median, nproc, pct

BACKLOG = 128
PER_TRIGGER = 512
WAVE = 16
# waves hold the smallest class only, so the cycles measure the
# per-cycle tax (listing, offset log, sink commit) and the drain measures
# decoding: with the backlog's mix a 16-file cycle took ~2.7 s on 4 cores
# instead of ~1.4 s, the difference being decode
WAVE_COUNTS = [WAVE] + [0] * (len(gen.SIZE_MIX) - 1)
MIN_CYCLES = 6
MAX_CYCLES = 60
WARM_FILES = 4
WARM_CYCLES = 5
# end-to-end metric: the named metric that gives it on this workload
E2E = {
    "batch_s": "ingest_drain_s",
    "throughput_per_s": "score_files_per_s",
    "op_p50_s": "ingest_cycle_p50_s",
    "bytes_per_live_byte": "sink_bytes_per_live_byte",
}


class Listener:
    """Collects StreamingQueryListener progress events."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()

    def take(self) -> list:
        out = list(self.events)
        self.events.clear()
        return out


def _config(root: str, zone: str):
    from computer_vision_foundations_spark.plans.pipeline import (
        IngestConfig,
        PipelineConfig,
        SinkConfig,
    )

    return PipelineConfig(
        ingest=IngestConfig(
            input_path=zone,
            glob="*.jpg",
            recursive=True,
            max_files_per_trigger=PER_TRIGGER,
            ts_format=gen.TS_FORMAT,
            coalesce_partitions=2 * nproc(),
        ),
        sink=SinkConfig(
            output_path=os.path.join(root, "sink"),
            checkpoint_path=os.path.join(root, "ckpt"),
            partition_by=("date",),
            optimize_write=True,
        ),
    )


def _predict_fn(weights: np.ndarray):
    from computer_vision_foundations_spark.ml.model import LogisticHead, content_predict_fn

    return content_predict_fn(LogisticHead(weights=weights, bias=-0.1), n_features=len(weights))


def expected_score(data: bytes, weights: np.ndarray) -> float:
    """P(label=1) of the seeded head over the first 256 payload bytes
    scaled to [0, 1], the documented ``content_predict_fn`` features."""
    x = np.zeros(len(weights))
    strip = np.frombuffer(data[: len(weights)], dtype=np.uint8)
    x[: len(strip)] = strip / 255.0
    return float(1.0 / (1.0 + np.exp(-np.clip(x @ weights - 0.1, -35.0, 35.0))))


def generate(rng, work: str) -> dict:
    pool = gen.jpeg_pool(rng)
    return {
        "pool": pool,
        "backlog": gen.plan_zone(rng, pool, gen.mix_counts(BACKLOG), 0, gen.FF_CUTS),
        "waves": [gen.plan_zone(rng, pool, WAVE_COUNTS, BACKLOG + i * WAVE) for i in range(MAX_CYCLES)],
        "weights": rng.normal(0.0, 0.05, 256),
    }


def warm_up(spark, st: dict, work: str) -> None:
    """A few small ingest cycles into a zone of their own: they start the
    Python workers, compile the enrichment plan and warm the cycle path
    before anything is timed. With one warm-up cycle the first ~5 timed
    cycles ran 20-30% slower than the ones after them."""
    from computer_vision_foundations_spark.streaming.ingest import run_ingest

    zone = os.path.join(work, "zone")
    cfg = _config(work, zone)
    waves = [st["backlog"][:WARM_FILES]] + [w[:WARM_FILES] for w in st["waves"][: WARM_CYCLES - 1]]
    for files in waves:
        gen.write_zone(zone, files)
        run_ingest(spark, cfg)


def measure(spark, st: dict, work: str, seconds: float, tracer, ops: Ops) -> dict:
    from computer_vision_foundations_spark.streaming.ingest import run_ingest, run_scoring_stream

    zone = os.path.join(work, "zone")
    cfg = _config(work, zone)
    gen.write_zone(zone, st["backlog"])
    listener = None
    if tracer.enabled:
        listener = Listener()
        spark.streams.addListener(listener.listener)
    start = ops.elapsed()
    tracer.new_trace()
    i_drain, _ = ops.run("drain", tracer.call, "streaming.ingest.run_ingest", "streaming", run_ingest, spark, cfg)
    drain_s = ops.ops[i_drain]["s"]
    if listener is not None:
        tracer.counter.sync()
        listener.take()  # the drain's batches; the streaming.* metrics describe cycles

    tracer.new_trace()
    i_score, _ = ops.run(
        "score",
        tracer.call,
        "streaming.ingest.run_scoring_stream",
        "streaming",
        run_scoring_stream,
        spark,
        cfg,
        _predict_fn(st["weights"]),
        os.path.join(work, "scores"),
        os.path.join(work, "sckpt"),
    )
    score_s = ops.ops[i_score]["s"]

    wave_op = {f.rel: i_drain for f in st["backlog"]}
    cycle_ops, cycle_events, ratio = [], [], None
    while len(cycle_ops) < MAX_CYCLES and (
        len(cycle_ops) < MIN_CYCLES or ops.elapsed() - start < seconds
    ):
        wave = st["waves"][len(cycle_ops)]
        gen.write_zone(zone, wave)
        tracer.new_trace()
        i, _ = ops.run("cycle", tracer.call, "streaming.ingest.run_ingest", "streaming", run_ingest, spark, cfg)
        cycle_ops.append(i)
        wave_op.update({f.rel: i for f in wave})
        if listener is not None:
            tracer.counter.sync()
            cycle_events += listener.take()
        if len(cycle_ops) == MIN_CYCLES:
            ratio = _bytes_ratio(cfg.sink.output_path)

    if listener is not None:
        spark.streams.removeListener(listener.listener)

    files = {f.rel: f for f in st["backlog"]}
    for w in st["waves"][: len(cycle_ops)]:
        files.update({f.rel: f for f in w})
    fallback, ff_zero = _check_sink(spark, zone, cfg.sink.output_path, files, wave_op, i_drain, ops)
    _check_scores(spark, zone, os.path.join(work, "scores"), st, i_score, ops)

    cycles = [ops.ops[i]["s"] for i in cycle_ops if not ops.ops[i]["raised"]]
    out = {
        "named": {
            "ingest_drain_s": (drain_s, "s"),
            "ingest_files_per_s": (BACKLOG / drain_s, "files/s"),
            "score_files_per_s": (BACKLOG / score_s, "files/s"),
            "ingest_cycle_p50_s": (median(cycles), "s"),
            "ingest_cycle_p90_s": (pct(cycles, 90), "s"),
            "ingest_cycles": (len(cycles), "count"),
            "sink_bytes_per_live_byte": (ratio, "ratio"),
            "ff_cut_files": (gen.FF_CUTS, "count"),
            "ff_cut_no_fallback": (ff_zero, "count"),
        },
        "inputs": {
            "backlog_files": BACKLOG,
            "wave_files": WAVE,
            "wave_side": gen.SIZE_MIX[0][0],
            "cycles": len(cycles),
            "backlog_bytes": sum(len(f.data) for f in st["backlog"]),
            "truncated_files": sum(f.truncated and not f.ff_cut for f in st["backlog"]),
            "ff_cut_files": sum(f.ff_cut for f in st["backlog"]),
            "size_mix": gen.pool_summary(st["pool"]),
        },
    }
    if tracer.enabled:
        out["layer"] = _layers(st, tracer, cfg.sink.output_path, cycle_events, cycles, fallback, ff_zero, score_s)
    return out


def _bytes_ratio(sink: str) -> float:
    """Sink directory bytes (data, metadata log, CRCs) ÷ bytes of the
    same rows rewritten as one parquet file per date partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = []
    for d in sorted(os.listdir(sink)):
        if d.startswith("date="):
            files = sorted(f for f in os.listdir(os.path.join(sink, d)) if f.endswith(".parquet"))
            parts.append(pa.concat_tables(pq.read_table(os.path.join(sink, d, f)) for f in files))
    return dir_bytes(sink)[1] / compact_parquet_bytes(parts)


def _rel(path: str, zone: str) -> str:
    from urllib.parse import unquote, urlparse

    return os.path.relpath(unquote(urlparse(path).path), zone)


def _check_sink(spark, zone, sink, files, wave_op, drain_op: int, ops: Ops) -> tuple[int, int]:
    """Every admitted file exactly once, with the generator's dims and
    label; truncated files carry the documented fallback statistics
    (``_fake_pixels``: one band over the first 256 bytes). Returns the
    files with fallback statistics and the ff-cut files without them."""
    rows = (
        spark.read.parquet(sink)
        .select("path", "label", "metadata.width", "metadata.height", "statistics.mean")
        .collect()
    )
    seen: dict[str, int] = {}
    bad: dict[int, list[str]] = {}
    fallback = ff_zero = 0
    for r in rows:
        rel = _rel(r.path, zone)
        seen[rel] = seen.get(rel, 0) + 1
        f = files.get(rel)
        if f is None:
            bad.setdefault(drain_op, []).append(f"unexpected {rel}")
            continue
        problems = []
        if (r.width, r.height) != (f.side, f.side):
            problems.append(f"dims {r.width}x{r.height} != {f.side}")
        if r.label != f.label:
            problems.append(f"label {r.label} != {f.label}")
        if len(r.mean) == 1:
            fallback += 1
        if f.ff_cut:
            ff_zero += len(r.mean) != 1  # the known defect: not a failure
        elif f.truncated:
            want = float(np.mean(np.frombuffer(f.data[: gen.FALLBACK_STRIP], dtype=np.uint8)))
            if len(r.mean) != 1 or abs(r.mean[0] - want) > 1e-9:
                problems.append(f"truncated file without fallback stats {r.mean}")
        elif len(r.mean) != 3:
            problems.append(f"valid RGB file decoded to {len(r.mean)} bands")
        if problems:
            bad.setdefault(wave_op[rel], []).append(f"{rel}: {'; '.join(problems)}")
    for rel, op in wave_op.items():
        if seen.get(rel, 0) != 1:
            bad.setdefault(op, []).append(f"{rel} in sink {seen.get(rel, 0)} times")
    for op, problems in bad.items():
        ops.check(op, "sink", False, f"{len(problems)} files, e.g. {problems[:3]}")
    for op in set(wave_op.values()) - set(bad):
        ops.check(op, "sink", True)
    return fallback, ff_zero


def _check_scores(spark, zone, out, st, op, ops: Ops) -> None:
    rows = spark.read.parquet(out).select("path", "score").collect()
    want = {f.rel: expected_score(f.data, st["weights"]) for f in st["backlog"]}
    got: dict[str, list[float]] = {}
    for r in rows:
        got.setdefault(_rel(r.path, zone), []).append(r.score)
    problems = [rel for rel in want if len(got.get(rel, ())) != 1 or abs(got[rel][0] - want[rel]) > 1e-9]
    problems += [rel for rel in got if rel not in want]
    ops.check(op, "scores", not problems, f"{len(problems)} paths, e.g. {problems[:3]}")


def _layers(st, tracer, sink, cycle_events, cycles, fallback, ff_zero, score_s) -> dict:
    from computer_vision_foundations_spark.functions.jpeg import decode_jpeg

    # driver-side decode of the backlog's distinct payloads, weighted by
    # how often each occurs; truncated ones raise part-way, as in the UDF
    uses: dict[bytes, int] = {}
    for f in st["backlog"]:
        uses[f.data] = uses.get(f.data, 0) + 1
    valid = {f.data for f in st["backlog"] if not f.truncated}
    dec_s = dec_bytes = all_s = 0.0
    with tracer.span("functions.jpeg.decode_jpeg", "jpeg"):
        for data, n in uses.items():
            t = time.perf_counter()
            try:
                decode_jpeg(data)
            except (ValueError, struct.error, IndexError, KeyError):  # what the UDF catches
                pass
            took = n * (time.perf_counter() - t)
            all_s += took
            if data in valid:
                dec_s += took
                dec_bytes += n * len(data)
    # the first run_ingest span to end is the backlog drain
    drain = tracer.select("streaming.ingest.run_ingest")[0]
    batch = pd.DataFrame({"content": [f.data for f in st["backlog"]]})
    predict = _predict_fn(st["weights"])
    with tracer.span("ml.model.content_predict_fn", "score"):
        t = time.perf_counter()
        predict(batch)
        predict_s = time.perf_counter() - t

    batches = [p for p in cycle_events if p.numInputRows > 0]

    def per_cycle(key: str) -> float:
        return sum(p.durationMs.get(key, 0) for p in cycle_events) / 1e3 / len(cycles)

    files, size = dir_bytes(sink, skip_hidden=True)
    streams = tracer.select(layer="streaming")
    out = {
        "streaming.batches": len(batches),
        "streaming.cycle_p90_s": pct(cycles, 90),
        "streaming.batch_p50_s": median([p.durationMs["triggerExecution"] / 1e3 for p in batches]),
        "streaming.latest_offset_s": per_cycle("latestOffset"),
        "streaming.get_batch_s": per_cycle("getBatch"),
        "streaming.query_planning_s": per_cycle("queryPlanning"),
        "streaming.add_batch_s": per_cycle("addBatch"),
        "streaming.wal_commit_s": per_cycle("walCommit"),
        "streaming.commit_offsets_s": per_cycle("commitOffsets"),
        "jpeg.decode_ms_per_file": 1e3 * dec_s / sum(uses[d] for d in valid),
        "jpeg.decode_mb_per_s": dec_bytes / 1e6 / dec_s,
        "jpeg.drain_decode_share": all_s / drain["spark"]["exec_run_s"],
        "image.fallback_files": fallback,
        "image.ff_cut_no_fallback": ff_zero,
        "score.predict_ms_per_file": 1e3 * predict_s / len(batch),
        "score.files_per_s": BACKLOG / score_s,
        "sink.files_written": files,
        "sink.bytes_written": size,
    }
    out.update({f"spark.{k}": v for k, v in tracer.spark_total(streams).items()})
    return out
