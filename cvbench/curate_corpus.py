"""curate_corpus: the LLM-data curation chain as a production DAG.

Each stage reads the previous stage's parquet and writes its own:

1. ``functions.text.quality_columns`` filter;
2. ``operators.dedup.exact_duplicates``;
3. ``operators.dedup.minhash_lsh_candidate_pairs`` over the exact-deduplicated docs;
4. ``operators.components.dedup_clusters``;
5. ``operators.selection.keep_best_per_cluster``, written as the curated corpus;
6. ``operators.similarity.mutual_knn_pairs`` over the curated docs'
   embeddings, whose blocks have Zipf-skewed sizes.

One operation is the whole chain, from the generated corpus on disk to
the mutual-kNN pairs written; the first chain of a run is the first
Spark work of its session, as in a scheduled batch run. The workload is
bound by shuffle, vector math, Spark job count and per-plan compilation;
it decodes nothing and touches no Delta log.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import Ops, dir_bytes, median, pct

N_BASE = 1500
DIM = 32
N_BLOCKS = 16
KNN_K = 3
MIN_QUALITY_TOKENS = 20
MAX_PUNCT_RATIO = 0.1
MIN_CHAINS = 1
# P(≥1 of 4 bands of 4 rows agree) is ~0.87 at the planted edits'
# Jaccard; 0.7 sits several standard deviations below it at this corpus size
LSH_RECALL_FLOOR = 0.7


def generate(rng, work: str) -> dict:
    c = gen.corpus(rng, N_BASE, DIM, N_BLOCKS)
    os.makedirs(work, exist_ok=True)
    docs = os.path.join(work, "docs.parquet")
    emb = os.path.join(work, "embeddings.parquet")
    pq.write_table(pa.table({"doc_id": [d for d, _ in c.docs], "text": [t for _, t in c.docs]}), docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": [e[0] for e in c.embeddings],
                "block": [e[1] for e in c.embeddings],
                "embedding": [e[2] for e in c.embeddings],
            }
        ),
        emb,
    )
    return {"corpus": c, "docs": docs, "embeddings": emb}


def _chain(spark, st: dict, out: str, tracer) -> None:
    from pyspark.sql import functions as F

    from computer_vision_foundations_spark.functions.text import quality_columns
    from computer_vision_foundations_spark.operators.components import dedup_clusters
    from computer_vision_foundations_spark.operators.dedup import (
        exact_duplicates,
        minhash_lsh_candidate_pairs,
    )
    from computer_vision_foundations_spark.operators.selection import keep_best_per_cluster
    from computer_vision_foundations_spark.operators.similarity import mutual_knn_pairs

    def path(name: str) -> str:
        return os.path.join(out, name)

    def stage(name, layer, fn_name, build, dest):
        with tracer.span(f"stage.{name}", "bench"):
            with tracer.span(fn_name, layer, kind="build"):
                df = build()
            with tracer.span("parquet.write", "parquet"):
                df.write.parquet(dest)

    read = spark.read.parquet
    stage(
        "quality",
        "text",
        "functions.text.quality_columns",
        lambda: quality_columns(read(st["docs"]))
        .where((F.col("n_tokens") >= MIN_QUALITY_TOKENS) & (F.col("punct_ratio") < MAX_PUNCT_RATIO))
        .select("doc_id", "text", F.col("en_stopword_ratio").alias("score")),
        path("s1_quality"),
    )
    stage(
        "exact",
        "dedup",
        "operators.dedup.exact_duplicates",
        lambda: exact_duplicates(read(path("s1_quality"))),
        path("s2_exact"),
    )

    def unique_docs():
        keep = read(path("s2_exact")).select(F.col("keep_id").alias("doc_id"))
        return read(path("s1_quality")).join(keep, "doc_id", "left_semi")

    stage(
        "lsh",
        "dedup",
        "operators.dedup.minhash_lsh_candidate_pairs",
        lambda: minhash_lsh_candidate_pairs(unique_docs()),
        path("s3_pairs"),
    )
    stage(
        "components",
        "components",
        "operators.components.dedup_clusters",
        lambda: dedup_clusters(read(path("s3_pairs"))),
        path("s4_clusters"),
    )

    def curated():
        docs = unique_docs()
        sel = keep_best_per_cluster(read(path("s4_clusters")), docs.select("doc_id", "score"))
        return docs.join(sel.where("keep").select("doc_id"), "doc_id", "left_semi")

    stage(
        "selection",
        "selection",
        "operators.selection.keep_best_per_cluster",
        curated,
        path("s5_corpus"),
    )
    stage(
        "mutual_knn",
        "similarity",
        "operators.similarity.mutual_knn_pairs",
        lambda: mutual_knn_pairs(
            read(st["embeddings"]).join(read(path("s5_corpus")).select("doc_id"), "doc_id", "left_semi"),
            k=KNN_K,
            block_col="block",
            vec_col="embedding",
            id_col="doc_id",
        ),
        path("s6_mutual_knn"),
    )


def measure(spark, st: dict, work: str, seconds: float, tracer, ops: Ops) -> dict:
    c: gen.Corpus = st["corpus"]
    n_docs = len(c.docs)
    start = ops.elapsed()
    chains, facts = [], None
    while len(chains) < MIN_CHAINS or ops.elapsed() - start < seconds:
        out = os.path.join(work, f"chain{len(chains)}")
        tracer.new_trace()

        def run():
            with tracer.span("chain", "bench"):
                _chain(spark, st, out, tracer)

        i, _ = ops.run("chain", run)
        chains.append(i)
        if not ops.ops[i]["raised"]:
            facts = _check(spark, c, out, i, ops)
    times = ops.times("chain")
    t50 = median(times)
    out = {
        "named": {
            "curate_s": (t50, "s"),
            "curate_p90_s": (pct(times, 90), "s"),
            "curate_docs_per_s": (n_docs / t50, "docs/s"),
            "curate_chains": (len(times), "count"),
            "curate_bytes_per_live_byte": (facts["bytes_ratio"], "ratio"),
        },
        "inputs": {
            "docs": n_docs,
            "low_quality_docs": len(c.low_quality),
            "exact_families": len(c.exact_families),
            "near_families": len(c.near_families),
            "embedding_dim": DIM,
            "blocks": N_BLOCKS,
            "block_sizes_of_curated": facts["block_sizes"],
        },
    }
    if tracer.enabled:
        out["layer"] = _layers(tracer, facts)
    return out


def _check(spark, c: gen.Corpus, out: str, op: int, ops: Ops) -> dict:
    """Compare every stage's output with the generator's ground truth."""
    read = lambda name: spark.read.parquet(os.path.join(out, name))  # noqa: E731
    passed = {r.doc_id for r in read("s1_quality").select("doc_id").collect()}
    want = {d for d, _ in c.docs} - c.low_quality
    ops.check(op, "quality_filter", passed == want, f"{len(passed ^ want)} docs misfiltered")

    exact = read("s2_exact").collect()
    got = sorted((r.keep_id, r.n_dupes) for r in exact if r.n_dupes > 1)
    fams = sorted((min(f), len(f)) for f in c.exact_families)
    ops.check(op, "exact_duplicates", got == fams, f"{len(got)} groups vs {len(fams)} planted")

    pairs = {(r.id_a, r.id_b) for r in read("s3_pairs").collect()}
    true_pairs = {
        (a, b) for fam in c.near_families for a in fam for b in fam if a < b
    }
    recall = len(pairs & true_pairs) / len(true_pairs)
    ops.check(op, "lsh_recall", recall >= LSH_RECALL_FLOOR, f"recall {recall:.3f} < {LSH_RECALL_FLOOR}")

    clusters: dict[int, set[int]] = {}
    for r in read("s4_clusters").collect():
        clusters.setdefault(r.component, set()).add(r.doc_id)
    kept = {r.doc_id for r in read("s5_corpus").select("doc_id").collect()}
    unique = want - {d for f in c.exact_families for d in f if d != min(f)}
    clustered = set().union(*clusters.values()) if clusters else set()
    per_cluster = [len(m & kept) for m in clusters.values()]
    ok = all(n == 1 for n in per_cluster) and kept - clustered == unique - clustered
    ops.check(op, "one_per_cluster", ok, f"cluster keep counts {sorted(set(per_cluster))}")

    mutual = {(r.id_a, r.id_b) for r in read("s6_mutual_knn").collect()}
    planted = {p for p in c.planted_knn if p[0] in kept and p[1] in kept}
    ops.check(op, "mutual_knn_planted", planted <= mutual, f"{len(planted - mutual)} planted pairs missing")

    block_of = {d: b for d, b, _ in c.embeddings}
    sizes: dict[int, int] = {}
    for d in kept:
        sizes[block_of[d]] = sizes.get(block_of[d], 0) + 1
    written = sum(dir_bytes(os.path.join(out, s), skip_hidden=True)[1] for s in os.listdir(out))
    corpus_bytes = dir_bytes(os.path.join(out, "s5_corpus"), skip_hidden=True)[1]
    return {
        "bytes_ratio": written / corpus_bytes,
        "block_sizes": sorted(sizes.values(), reverse=True),
        "pairs_examined": sum(n * n for n in sizes.values()),
        "pairs_kept": len(mutual),
        "candidate_pairs": len(pairs),
        "true_pairs": len(true_pairs),
        "recall": recall,
    }


def _layers(tracer, facts: dict) -> dict:
    def stage_s(name: str) -> float:
        return median([s["end"] - s["start"] for s in tracer.select(f"stage.{name}")])

    comps = tracer.select("operators.components.dedup_clusters")
    out = {
        "text.quality_s": stage_s("quality"),
        "dedup.exact_s": stage_s("exact"),
        "dedup.lsh_s": stage_s("lsh"),
        "dedup.lsh_candidate_pairs": facts["candidate_pairs"],
        "dedup.lsh_candidates_per_true_pair": facts["candidate_pairs"] / facts["true_pairs"],
        "dedup.lsh_recall": facts["recall"],
        "components.s": stage_s("components"),
        "components.jobs": median([s["spark"]["jobs"] for s in comps]),
        "selection.s": stage_s("selection"),
        "similarity.mutual_knn_s": stage_s("mutual_knn"),
        "similarity.pairs_examined": facts["pairs_examined"],
        "similarity.pairs_kept": facts["pairs_kept"],
        "similarity.kept_per_examined": facts["pairs_kept"] / facts["pairs_examined"],
    }
    # the traced pass runs one chain: totals over it
    total = tracer.spark_total(tracer.select("chain"))
    out.update({f"spark.{k}": v for k, v in total.items()})
    builds = [s for s in tracer.spans if s["attrs"].get("kind") == "build"]
    out["driver.build_s"] = sum(s["end"] - s["start"] for s in builds)
    return out
