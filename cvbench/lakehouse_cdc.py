"""lakehouse_cdc: a date-partitioned image catalog fed a seeded CDC stream.

Writes go through ``sources.delta_writer`` (upserts on Zipf-hot keys,
appends, deletes and a periodic ``delta_optimize``); reads go through
``sources.delta_reader`` and are interleaved with the writes (a
predicate ``read_delta``, time travel to a seeded older version, and
``delta_row_changes``). Every read is forced to completion by an
aggregate of two per-row checksums and compared with a pure-Python
model of the op stream; the final table is compared key by key.

The op stream is a fixed prefix of ``MIN_OPS`` operations, which
crosses the writer's 10-commit checkpoint, and then continues until the
pass has measured ``--seconds``. Storage is measured at the end of the
prefix, and the traced pass runs the prefix only, so a faster commit
path that fits more ops into the window grows neither
``bytes_per_live_byte`` nor any per-layer count by itself.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import gen
from harness import Ops, compact_parquet_bytes, dir_bytes, median, pct

N_ROWS = 10000
UPSERT_ROWS = 300
UPSERT_NEW = 30
APPEND_ROWS = 200
DELETE_ROWS = 40
MIN_OPS = len(gen.OP_CYCLE)
MAX_OPS = 20 * len(gen.OP_CYCLE)
TIME_TRAVEL_DEPTH = 12
HISTORY_COMMITS = 3
CHANGES_DEPTH = 2
WRITES = ("upsert", "append", "delete", "optimize")
WARM_CYCLE = ("upsert", "read")
COLUMNS = ("image_id", "date", "device_id", "label", "revision", "path")
SCHEMA = "image_id long, date date, device_id string, label int, revision long, path string"


def _schema():
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(SCHEMA)


class Model:
    """The table as the op stream defines it: key → revision, plus the
    (rows, checksum1, checksum2) of every committed version."""

    def __init__(self, rows: dict[int, int]):
        self.rows = dict(rows)
        self.history = [self.summary(self.rows)]

    @staticmethod
    def summary(rows: dict[int, int], date=None) -> tuple[int, int, int]:
        n = s1 = s2 = 0
        for k, r in rows.items():
            if date is not None and gen.CATALOG_DATES[k % gen.N_DATES] != date:
                continue
            c1, c2 = gen.row_checksums(k, r)
            n, s1, s2 = n + 1, s1 + c1, s2 + c2
        return (n, s1, s2)

    def commit(self, version: int) -> bool:
        """Record the writer's returned version; False unless it is the
        next one (or the current one, when the writer changed nothing)."""
        if version == len(self.history) - 1:
            return True
        if version != len(self.history):
            return False
        self.history.append(self.summary(self.rows))
        return True


def generate(rng, work: str) -> dict:
    keys = np.arange(N_ROWS)
    return {
        "initial": {int(k): int(r) for k, r in zip(keys, rng.integers(0, 2**31, N_ROWS))},
        "ranking": [int(k) for k in rng.permutation(N_ROWS)],
        "stream_seed": int(rng.integers(2**31)),
    }


def warm_up(spark, st: dict, work: str) -> None:
    """An upsert and a read on a small table: the first Spark jobs of a
    session pay most of the JIT warm-up, which stays out of the timed
    ops."""
    small = {k: r for k, r in list(st["initial"].items())[:400]}
    _stream(spark, {**st, "initial": small}, work, len(WARM_CYCLE), 0.0, None, Ops(), False, WARM_CYCLE, 0)


def measure(spark, st: dict, work: str, seconds: float, tracer, ops: Ops) -> dict:
    return _stream(spark, st, work, MIN_OPS, seconds, tracer, ops, True, gen.OP_CYCLE, HISTORY_COMMITS)


def _agg(df):
    """Force a read to completion: rows and the two checksum sums."""
    from pyspark.sql import functions as F

    k, r = F.col("image_id"), F.col("revision")
    c1 = F.pmod(k * F.lit(2654435761) + r * F.lit(40503), F.lit(2147483647))
    c2 = F.pmod(k * F.lit(97) + r * F.lit(1000003), F.lit(2147483629))
    row = df.agg(F.count(F.lit(1)), F.sum(c1), F.sum(c2)).collect()[0]
    return (row[0], row[1] or 0, row[2] or 0)


def _changes_agg(df):
    from pyspark.sql import functions as F

    out = {}
    for ct in ("insert", "delete"):
        out[ct] = _agg(df.where(F.col("_change_type") == ct))
    return out


def _rows(keys_revs) -> list[tuple]:
    return [gen.catalog_row(k, r) for k, r in keys_revs]


def _user_bytes(rows: list[tuple]) -> int:
    """Uncompressed size of the rows the client sent: 8-byte longs,
    4-byte date and int, UTF-8 strings."""
    return sum(8 + 4 + len(r[2]) + 4 + 8 + len(r[5]) for r in rows)


def _commit_actions(root: str, version: int) -> tuple[int, int, int]:
    """(adds, removes, bytes added) of one commit, read from its JSON."""
    adds = removes = size = 0
    with open(os.path.join(root, "_delta_log", f"{version:020d}.json")) as fh:
        for line in fh:
            action = json.loads(line)
            if "add" in action:
                adds += 1
                size += action["add"]["size"]
            elif "remove" in action:
                removes += 1
    return adds, removes, size


def _stream(spark, st, work, min_ops, seconds, tracer, ops: Ops, checks: bool, cycle, history: int) -> dict:
    from pyspark.sql import functions as F

    from computer_vision_foundations_spark.sources import delta_reader as R
    from computer_vision_foundations_spark.sources import delta_writer as W
    from spans import Tracer

    tracer = tracer or Tracer()
    root = os.path.join(work, "catalog")
    schema = _schema()
    model = Model(st["initial"])
    # the table starts with history: created from the first chunk of the
    # initial rows, the rest appended, so the op prefix crosses the
    # writer's 10-commit checkpoint
    chunks = np.array_split(np.array(sorted(model.rows)), history + 1)
    for n, chunk in enumerate(chunks):
        df = spark.createDataFrame(_rows((int(k), model.rows[int(k)]) for k in chunk), schema)
        if n == 0:
            W.delta_create(spark, root, df, partition_by=["date"])
        else:
            W.delta_append(spark, root, df)
    model.history = [
        Model.summary({int(k): model.rows[int(k)] for c in chunks[: n + 1] for k in c})
        for n in range(len(chunks))
    ]
    next_key = max(model.rows) + 1
    hot = list(st["ranking"])
    start = ops.elapsed()
    writes, reads, ratio, snapshot_s = [], [], None, []
    j = 0
    while j < MAX_OPS and (j < min_ops or ops.elapsed() - start < seconds):
        kind = cycle[j % len(cycle)]
        rng = np.random.default_rng([st["stream_seed"], j])
        tracer.new_trace()
        version = len(model.history) - 1
        if kind in ("upsert", "append", "delete"):
            live = [k for k in hot if k in model.rows]
            if kind == "upsert":
                keys = gen.zipf_keys(rng, live, UPSERT_ROWS - UPSERT_NEW)
                keys += list(range(next_key, next_key + UPSERT_NEW))
            elif kind == "append":
                keys = list(range(next_key, next_key + APPEND_ROWS))
            else:
                keys = [int(k) for k in rng.choice(live, DELETE_ROWS, replace=False)]
            next_key = max(next_key, max(keys) + 1)
            hot += [k for k in keys if k not in model.rows]
            revs = [int(r) for r in rng.integers(0, 2**31, len(keys))]
            if kind == "delete":
                call = (W.delta_delete_where, spark, root, F.col("image_id").isin(keys))
                user = 8 * len(keys)
            else:
                rows = _rows(zip(keys, revs))
                df = spark.createDataFrame(rows, schema)
                call = (W.delta_upsert, spark, root, df, ["image_id"]) if kind == "upsert" else (
                    W.delta_append, spark, root, df)
                user = _user_bytes(rows)
            i, v = ops.run(kind, tracer.call, f"sources.delta_writer.{call[0].__name__}", "delta_writer", *call)
            if v is not None:
                if kind == "delete":
                    for k in keys:
                        model.rows.pop(k, None)
                else:
                    model.rows.update(zip(keys, revs))
                _commit(model, v, i, ops)
            writes.append({"op": i, "kind": kind, "rows": len(keys), "user_bytes": user, "version": v})
        elif kind == "optimize":
            i, v = ops.run(kind, tracer.call, "sources.delta_writer.delta_optimize", "delta_writer",
                           W.delta_optimize, spark, root)
            if v is not None:
                _commit(model, v, i, ops)
            writes.append({"op": i, "kind": kind, "rows": 0, "user_bytes": 0, "version": v})
        else:
            if tracer.enabled:
                with tracer.span("sources.delta_reader.delta_snapshot", "delta_reader"):
                    t = time.perf_counter()
                    R.delta_snapshot(root, spark)
                    snapshot_s.append(time.perf_counter() - t)
            if kind == "read":
                date = gen.CATALOG_DATES[int(rng.integers(gen.N_DATES))]
                i, got = ops.run(kind, tracer.call, "sources.delta_reader.read_delta", "delta_reader",
                                 lambda: _agg(R.read_delta(spark, root, where=f"date = DATE'{date}'")))
                want = Model.summary(model.rows, date)
            elif kind == "time_travel":
                tv = int(rng.integers(max(0, version - TIME_TRAVEL_DEPTH), version + 1))
                i, got = ops.run(kind, tracer.call, "sources.delta_reader.read_delta", "delta_reader",
                                 lambda: _agg(R.read_delta(spark, root, version=tv)))
                want = model.history[tv]
            else:
                lo = max(0, version - CHANGES_DEPTH)
                i, got = ops.run(kind, tracer.call, "sources.delta_reader.delta_row_changes", "delta_reader",
                                 lambda: _changes_agg(R.delta_row_changes(spark, root, lo, version)))
                if got is not None:
                    ins, dele = got["insert"], got["delete"]
                    got = tuple(a - b for a, b in zip(ins, dele))
                want = tuple(a - b for a, b in zip(model.history[version], model.history[lo]))
            if checks and got is not None:
                ops.check(i, kind, tuple(got) == tuple(want), f"read {got} != model {want}")
            reads.append({"op": i, "kind": kind})
        j += 1
        if j == min_ops and checks:
            ratio = _bytes_ratio(root, model)
    if checks and writes:
        final = {r.image_id: r.revision for r in R.read_delta(spark, root).select("image_id", "revision").collect()}
        ok = final == model.rows
        ops.check(writes[-1]["op"], "final_table", ok, f"{len(set(final.items()) ^ set(model.rows.items()))} rows differ")
    return _summarize(ops, tracer, root, writes, reads, ratio, snapshot_s, j)


def _commit(model: Model, version: int, op: int, ops: Ops) -> None:
    at = len(model.history) - 1
    ops.check(op, "version", model.commit(version), f"writer returned version {version}, model is at {at}")


def _bytes_ratio(root: str, model: Model) -> float:
    """Table directory bytes (data, log, checkpoints) ÷ bytes of the
    model's live rows written once as parquet, one file per date."""
    import pyarrow as pa

    by_date: dict = {}
    for k, r in model.rows.items():
        by_date.setdefault(k % gen.N_DATES, []).append(gen.catalog_row(k, r))
    parts = [
        pa.table({c: [row[i] for row in rows] for i, c in enumerate(COLUMNS) if c != "date"})
        for _, rows in sorted(by_date.items())
    ]
    return dir_bytes(root)[1] / compact_parquet_bytes(parts)


def _summarize(ops, tracer, root, writes, reads, ratio, snapshot_s, n_ops) -> dict:
    commit = [ops.ops[w["op"]]["s"] for w in writes if not ops.ops[w["op"]]["raised"]]
    read = [ops.ops[r["op"]]["s"] for r in reads if not ops.ops[r["op"]]["raised"]]
    rows = sum(w["rows"] for w in writes)
    out = {
        "named": {
            "commit_p50_s": (median(commit), "s"),
            "commit_p90_s": (pct(commit, 90), "s"),
            "read_p50_s": (median(read), "s"),
            "read_p90_s": (pct(read, 90), "s"),
            "bytes_per_live_byte": (ratio, "ratio"),
            "cdc_rows_per_s": (rows / sum(commit), "rows/s"),
            "cdc_ops": (n_ops, "count"),
        },
        "inputs": {
            "initial_rows": N_ROWS,
            "dates": gen.N_DATES,
            "op_cycle": list(gen.OP_CYCLE),
            "ops": n_ops,
            "upsert_rows": UPSERT_ROWS,
            "append_rows": APPEND_ROWS,
            "delete_rows": DELETE_ROWS,
        },
    }
    if tracer.enabled:
        out["layer"] = _layers(tracer, root, writes, snapshot_s, commit, read)
    return out


def _layers(tracer, root, writes, snapshot_s, commit_times, read_times) -> dict:
    out = {}
    for kind in WRITES:
        spans = tracer.select(f"sources.delta_writer.delta_{kind if kind != 'delete' else 'delete_where'}")
        out[f"delta_writer.{kind}_s"] = median([s["end"] - s["start"] for s in spans]) if spans else 0.0
    write_spans = [s for s in tracer.select(layer="delta_writer")]
    read_spans = [
        s for s in tracer.select(layer="delta_reader") if s["name"] != "sources.delta_reader.delta_snapshot"
    ]
    versions = [w["version"] for w in writes if w["version"] is not None]
    actions = [_commit_actions(root, v) for v in sorted(set(versions)) if v > 0]
    user = sum(w["user_bytes"] for w in writes)
    out.update(
        {
            "delta_writer.jobs_per_commit": median([s["spark"]["jobs"] for s in write_spans]),
            "delta_writer.files_added_per_commit": float(np.mean([a[0] for a in actions])),
            "delta_writer.files_removed_per_commit": float(np.mean([a[1] for a in actions])),
            "delta_writer.bytes_written_per_user_byte": sum(a[2] for a in actions) / user,
            "delta_writer.checkpoints": sum(
                f.endswith(".checkpoint.parquet") for f in os.listdir(os.path.join(root, "_delta_log"))
            ),
            "delta_reader.snapshot_s": median(snapshot_s),
            "delta_reader.log_bytes": dir_bytes(os.path.join(root, "_delta_log"))[1],
            "delta_reader.read_input_bytes": median([s["spark"]["input_bytes"] for s in read_spans]),
            "delta_writer.commit_p90_s": pct(commit_times, 90),
            "delta_reader.read_p50_s": median(read_times),
            "delta_reader.read_p90_s": pct(read_times, 90),
        }
    )
    total = tracer.spark_total(write_spans + read_spans)
    out.update({f"spark.{k}": v for k, v in total.items()})
    out["driver.build_s"] = 0.0
    return out
