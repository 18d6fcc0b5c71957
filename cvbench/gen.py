"""Seeded input generators for the three workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``; the same seed gives byte-identical inputs. Each one also
returns the ground truth the workload's output checks compare against,
computed here from the generator's own choices, never by running the
code under test.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np

from computer_vision_foundations_spark.functions.jpeg import encode_jpeg
from computer_vision_foundations_spark.functions.png import build_exif_app1

# ------------------------------------------------------------ images

# The reference ingests ~220 KB 600x600 camera JPEGs (BASELINE.md,
# "Image payload"): 0.61 bytes per pixel. The landing zone keeps the
# 48-256 px range and stands in for that traffic at reduced resolution:
# - each class's share of the files is proportional to its pixel count,
#   so the class nearest the reference (256 px) holds ~61% of the files
#   and ~85% of the decoded pixels;
# - the 256 px class carries noise sigma 20, which gives it the
#   reference's bytes per pixel (0.62-0.64 at quality 80); sigma falls
#   linearly with the side to smooth 48 px images.
# Each class is (side px, noise sigma, share of the zone's files,
# distinct payloads in the pool). The pool keeps set-up cheap: the
# pure-Python encoder needs ~0.8 s for one 256 px payload.
_SIDES = (48, 64, 96, 160, 256)
_DISTINCT = (3, 2, 2, 2, 1)
SIZE_MIX = tuple(
    (side, round(20 * (side - _SIDES[0]) / (_SIDES[-1] - _SIDES[0])), side * side / sum(x * x for x in _SIDES), n)
    for side, n in zip(_SIDES, _DISTINCT)
)
TRUNCATED_SHARE = 0.02
# files per backlog cut right after a stuffed 0xFF (see ``truncate``)
FF_CUTS = 2
DEVICES = ("rpi_sensor_3_front", "rpi_sensor_7_back", "cam_a", "jetson_nano_2_dock")
DATES = ("2021-10-01", "2021-10-02", "2021-10-03", "2021-10-04")
TS_FORMAT = "yyyy-MM-dd'T'HH-mm-ss"  # local paths cannot hold ':'
FALLBACK_STRIP = 256  # functions.image._fake_pixels: first 256 bytes, 1 band


@dataclass(frozen=True)
class Payload:
    side: int
    data: bytes


@dataclass
class ZoneFile:
    rel: str  # path relative to the landing zone
    side: int
    truncated: bool
    data: bytes
    label: int
    ff_cut: bool = False  # truncated right after a stuffed 0xFF


def jpeg_pool(rng: np.random.Generator) -> list[list[Payload]]:
    """Distinct EXIF-carrying RGB JPEGs, one list per SIZE_MIX class.

    The gradient of each payload is fixed by its class and index and
    only the noise is seeded, so decode cost and size barely vary from
    seed to seed."""
    pool = []
    for side, sigma, _share, n in SIZE_MIX:
        cls = []
        for j in range(n):
            y, x = np.mgrid[0:side, 0:side].astype(np.float64)
            angle = np.pi * (j + 0.5) / n
            ramp = (np.cos(angle) * x + np.sin(angle) * y) / side
            base = np.stack([(ramp * (120 + 40 * b) + 30 * b) % 256 for b in range(3)], axis=-1)
            px = np.clip(base + rng.normal(0.0, sigma, base.shape), 0, 255).astype(np.uint8)
            app1 = build_exif_app1(
                {
                    "Make": "CVLake",
                    "Model": DEVICES[j % len(DEVICES)],
                    "Software": f"pool-{side}-{j}",
                    "GPSInfo": {"GPSLatitudeRef": "N"},
                }
            )
            cls.append(Payload(side, encode_jpeg(px, quality=80, app1=app1)))
        pool.append(cls)
    return pool


def pool_summary(pool: list[list[Payload]]) -> list[dict]:
    return [
        {
            "side": side,
            "sigma": sigma,
            "share": round(share, 4),
            "distinct_payloads": len(cls),
            "mean_bytes": int(np.mean([len(p.data) for p in cls])),
            "bytes_per_px": round(float(np.mean([len(p.data) for p in cls])) / side**2, 3),
        }
        for (side, sigma, share, _n), cls in zip(SIZE_MIX, pool)
    ]


def truncate(data: bytes, rng: np.random.Generator, after_ff: bool = False) -> bytes:
    """Cut inside the entropy-coded scan, 30-60% of the way through, so
    the SOF header (and the dims the metadata parser reads) survives but
    the pixel decode cannot complete.

    ``after_ff`` cuts between a stuffed 0xFF and its 0x00 instead.
    ``decode_jpeg`` reads that trailing 0xFF as the marker that ends the
    scan and zero-fills the missing blocks instead of raising, so such a
    file never takes the documented fallback. Plain cuts are kept clear
    of this case; the zone holds a fixed number of ``after_ff`` cuts,
    reported apart from the output checks until the decoders are
    hardened (see README.md)."""
    sos = data.index(b"\xff\xda")
    lo, hi = sos + int((len(data) - sos) * 0.3), sos + int((len(data) - sos) * 0.6)
    if after_ff:
        stuffed = [p for p in range(lo, hi) if data[p - 1] == 0xFF and data[p] == 0x00]
        return data[: stuffed[int(rng.integers(len(stuffed)))]]
    cut = int(rng.integers(lo, hi))
    if data[cut - 1] == 0xFF:
        cut -= 1
    return data[:cut]


def mix_counts(n: int) -> list[int]:
    """Files per SIZE_MIX class for ``n`` files; the rounding remainder
    goes to the largest class."""
    counts = [int(share * n) for _s, _g, share, _n in SIZE_MIX]
    counts[-1] += n - sum(counts)
    return counts


def plan_zone(
    rng: np.random.Generator, pool: list[list[Payload]], counts: list[int], first_index: int, ff_cuts: int = 0
) -> list[ZoneFile]:
    """``sum(counts)`` landing files following the FIXTURES.md filename
    grammar (``<date>/<timestamp>_<device_id>_<label>.jpg``), ``counts[c]``
    of SIZE_MIX class ``c``, each class spread evenly through the listing
    order, TRUNCATED_SHARE of them truncated and ``ff_cuts`` more of the
    largest class cut right after a stuffed 0xFF."""
    n = sum(counts)
    # even interleave: the k-th file of a class sits at fraction (k+½)/count
    slots = sorted(((k + 0.5) / cnt, c) for c, cnt in enumerate(counts) for k in range(cnt))
    classes = [c for _, c in slots]
    truncated = set(rng.choice(n, size=round(TRUNCATED_SHARE * n), replace=False).tolist())
    largest = [j for j, c in enumerate(classes) if c == len(SIZE_MIX) - 1 and j not in truncated]
    ff = set(rng.choice(largest, size=ff_cuts, replace=False).tolist())
    base = dt.datetime(2021, 10, 1, 6, 0, 0)
    out = []
    for j, c in enumerate(classes):
        i = first_index + j
        p = pool[c][int(rng.integers(len(pool[c])))]
        ts = base + dt.timedelta(days=i % len(DATES), seconds=7 * i)
        label = int(rng.integers(2))
        name = f"{ts:%Y-%m-%dT%H-%M-%S}_{DEVICES[i % len(DEVICES)]}_{label}.jpg"
        cut = j in truncated or j in ff
        data = truncate(p.data, rng, after_ff=j in ff) if cut else p.data
        out.append(ZoneFile(f"{ts:%Y-%m-%d}/{name}", p.side, cut, data, label, j in ff))
    return out


def write_zone(zone: str, files: list[ZoneFile]) -> None:
    """Write the files plus one non-.jpg decoy per date directory that
    the ``*.jpg`` glob must exclude."""
    for f in files:
        path = os.path.join(zone, f.rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as fh:
            fh.write(f.data)
    for d in {os.path.dirname(f.rel) for f in files}:
        with open(os.path.join(zone, d, f"decoy_{len(files)}.json"), "w") as fh:
            fh.write("{}")


# ------------------------------------------------------------ corpus

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


@dataclass
class Corpus:
    docs: list[tuple[int, str]]
    embeddings: list[tuple[int, int, list[float]]]  # (doc_id, block, vector)
    low_quality: set[int]
    exact_families: list[list[int]]  # doc ids sharing one text
    near_families: list[list[int]]  # doc ids that are small edits of one another
    planted_knn: set[tuple[int, int]]  # near-identical vector pairs, same block


def corpus(rng: np.random.Generator, n_base: int, dim: int, n_blocks: int) -> Corpus:
    """``n_base`` distinct documents plus planted exact-duplicate and
    near-duplicate families and low-quality documents, and one
    embedding per document in Zipf-sized blocks."""
    vocab = np.array(
        ["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), int(k))) for k in rng.integers(4, 9, 3000)]
    )
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()

    def text(n_tok: int) -> list[str]:
        toks = list(rng.choice(vocab, n_tok, p=weights))
        for pos in rng.choice(n_tok, n_tok // 6, replace=False):
            toks[pos] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
        return toks

    docs: list[tuple[int, str]] = []
    bases = [text(int(rng.integers(40, 80))) for _ in range(n_base)]
    for toks in bases:
        docs.append((len(docs), " ".join(toks)))
    n_exact = n_base // 20
    n_near = n_base // 20
    picks = rng.choice(n_base, n_exact + n_near, replace=False)
    exact_families, near_families = [], []
    for b in picks[:n_exact]:
        fam = [int(b)]
        for _ in range(int(rng.integers(1, 4))):
            fam.append(len(docs))
            docs.append((len(docs), docs[b][1]))
        exact_families.append(fam)
    for b in picks[n_exact:]:
        fam = [int(b)]
        for _ in range(int(rng.integers(1, 3))):
            toks = list(bases[b])
            for pos in rng.choice(len(toks), int(rng.integers(1, 3)), replace=False):
                toks[pos] = "edit" + str(int(rng.integers(10**6)))
            fam.append(len(docs))
            docs.append((len(docs), " ".join(toks)))
        near_families.append(fam)
    low_quality = set()
    for _ in range(n_base // 25):
        low_quality.add(len(docs))
        if rng.random() < 0.5:
            docs.append((len(docs), " ".join(text(int(rng.integers(3, 12))))))
        else:
            docs.append((len(docs), " ".join("$%&!?"[int(rng.integers(5))] * 3 for _ in range(40))))

    zipf = 1.0 / np.arange(1, n_blocks + 1)
    blocks = rng.choice(n_blocks, len(docs), p=zipf / zipf.sum())
    vecs = rng.normal(0.0, 1.0, (len(docs), dim))
    in_family = {d for fam in exact_families + near_families for d in fam} | low_quality
    plain = [d for d in range(n_base) if d not in in_family]
    planted = set()
    for a, b in rng.choice(plain, (len(plain) // 40, 2), replace=False):
        a, b = int(min(a, b)), int(max(a, b))
        blocks[b] = blocks[a]
        vecs[b] = vecs[a] + rng.normal(0.0, 1e-3, dim)
        planted.add((a, b))
    embeddings = [(i, int(blocks[i]), [float(x) for x in vecs[i]]) for i in range(len(docs))]
    return Corpus(docs, embeddings, low_quality, exact_families, near_families, planted)


# ------------------------------------------------------------ CDC

N_DATES = 4
CATALOG_DATES = [dt.date(2021, 10, 1) + dt.timedelta(days=i) for i in range(N_DATES)]
# one repeating cycle of the op stream: 8 writes, 5 of them upserts, and
# 4 reads. With upserts the majority of writes, the median commit is an
# upsert rather than a point between two latency clusters.
OP_CYCLE = (
    "upsert", "read", "append", "upsert", "time_travel", "delete",
    "upsert", "changes", "upsert", "upsert", "read", "optimize",
)


def catalog_row(key: int, revision: int) -> tuple:
    """(image_id, date, device_id, label, revision, path): the date is a
    function of the key, so upserts never move a row across partitions."""
    d = CATALOG_DATES[key % N_DATES]
    dev = DEVICES[key % len(DEVICES)]
    return (key, d, dev, key % 2, revision, f"incoming/{d}/{key:08d}_{dev}_{key % 2}.jpg")


def row_checksums(key: int, revision: int) -> tuple[int, int]:
    """The two per-row checksums the lakehouse checks sum over; the
    Spark side evaluates the same arithmetic with ``pmod``."""
    return (
        (key * 2654435761 + revision * 40503) % 2147483647,
        (key * 97 + revision * 1000003) % 2147483629,
    )


def zipf_keys(rng: np.random.Generator, live: list[int], n: int, a: float = 1.2) -> list[int]:
    """``n`` distinct keys from ``live`` with Zipf-skewed popularity over
    its (seeded) order, so a few hot keys recur across upserts."""
    picked: dict[int, None] = {}
    while len(picked) < min(n, len(live)):
        for r in rng.zipf(a, n):
            if r <= len(live) and len(picked) < n:
                picked.setdefault(int(live[r - 1]), None)
    return list(picked)
