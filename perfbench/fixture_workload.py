"""Workload ``fixture_analytics``: executor-heavy analytics and corpus
curation over the sf0.01 fixture tables, bypassing ``lake`` and ingest.

Set-up is the session start alone: like a batch job in a fresh
session, the first operations pay the session's first-touch costs (code
generation, class loading, Python workers, JIT); a warm-up curate pass
would cost 15-30 s more per run and measured no steadier. The closed
loop (one client) repeats one cycle: a ``curate_documents`` pass with
every optional stage on (the ``curate_full`` configuration of
``bench.py``), then each pinned query ``QUERY_ROUNDS`` times, in a
seeded order.

Every timed result is materialised with the ``noop`` writer, which keeps
every projected column (``count()`` lets Catalyst prune columns,
pandas-UDF outputs included).

Checks, outside the timed interval: every query against its DuckDB
``oracle_sql`` with ``scripts/check_parity.py``'s rules, and every curate
pass against this commit's pinned ``CurationReport`` plus the packing
invariants of its chunks.
"""

from __future__ import annotations

import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "fixtures", "sf0.01")

# Pinned subset of bench.HEADLINE, one query per plans module: a
# scan-aggregate with a shuffle; MinHash-LSH near-dup candidates into
# connected components (Arrow UDFs, materialised candidates); LSH vector
# search. Run twice each, they take about 12 s on 4 cores, which with one
# curate pass is what a run can afford.
QUERIES = (
    "pricing_summary",
    "dup_clusters",
    "ann_lsh_pairs",
)
QUERY_ROUNDS = 2

FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

# CurationReport of the curate_full configuration on the sf0.01
# fixture, pinned at the commit that introduced this benchmark.
CURATE_REPORT = {
    "total": 500,
    "after_quality": 500,
    "after_exact_dedup": 500,
    "after_near_dedup": 476,
    "chunks": 16,
    "packed_tokens": 22469,
    "after_span_dedup": 414,
    "after_source_cap": 500,
    "after_perplexity": 414,
    "after_semantic_dedup": 414,
    "after_decontamination": 414,
    "after_substring_dedup": 414,
    "after_url_dedup": None,
    "after_quality_probe": None,
    "cc_iterations": None,
    "hot_buckets_dropped": 0,
}


def catalog():
    from hospital_stain_tracker_data_pipeline_spark.plans import CATALOG
    from hospital_stain_tracker_data_pipeline_spark.plans.catalog import DEMOTED

    # queries rotate between the graded catalog and DEMOTED; a pinned
    # query may sit in either
    specs = {**CATALOG, **DEMOTED}
    return {name: specs[name] for name in QUERIES}


def make_inputs(seed: int, work: str) -> dict:
    return {"sf_dir": SF_DIR, "rng": random.Random(f"{seed}:order")}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span_name(spec) -> str:
    return "plans." + spec.fn.__module__.rsplit(".", 1)[1]


def _query(spark, ops, spec, sf_dir: str) -> None:
    ops.span(_span_name(spec), lambda: _noop(spec.fn(spark, sf_dir)))


def setup(spark, inputs: dict, ops) -> dict:
    return {"specs": catalog(), "query_recs": {}}


def curate(spark, sf_dir: str):
    """The curate_full configuration: every optional stage on; returns
    the packed chunks (materialised) and the report."""
    from pyspark.sql import functions as F

    from hospital_stain_tracker_data_pipeline_spark import pipeline as P
    from hospital_stain_tracker_data_pipeline_spark.operators.lm import (
        train_ngram_lm,
    )
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    docs = load_fixture_table(spark, sf_dir, "documents")
    emb = load_fixture_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    lm = train_ngram_lm(docs, n=2, k=0.1, min_count=2)
    eval_docs = docs.orderBy("doc_id").limit(20).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    chunks, rep = P.curate_documents(
        docs,
        budget=2048,
        n_shards=8,
        seed=1,
        near_dup_threshold=0.9,
        max_per_source=100_000,
        semantic_threshold=0.35,
        embeddings=emb,
        decon_eval_docs=eval_docs,
        decon_min_score=40.0,
        span_dedup_delim="\n",
        substring_min_tokens=8,
        ppl_lm=lm,
        max_perplexity=1e9,
    )
    _noop(chunks)
    return chunks, rep


def check_curate(spark, sf_dir: str, result, expected: dict) -> list[str]:
    """Pinned report counts, and the chunks' packing invariants: every
    survivor is an input document, packed once (its pieces sit in one
    shard, in distinct chunks, and add up to its token count), and the
    survivors and tokens match the report."""
    import dataclasses

    from hospital_stain_tracker_data_pipeline_spark import pipeline as P
    from hospital_stain_tracker_data_pipeline_spark.sources.tables import (
        load_fixture_table,
    )

    chunks, rep = result
    try:
        got = dataclasses.asdict(rep)
        errors = [
            f"report {k} {got.get(k)} != {v}"
            for k, v in expected.items()
            if got.get(k) != v
        ]
        rows = chunks.select(
            "shard", "chunk_id", "doc_id", "n_tok", "chunk_tokens"
        ).collect()
    finally:
        P.unpersist_curated(chunks)
        spark.catalog.clearCache()
    input_ids = {
        r[0] for r in load_fixture_table(spark, sf_dir, "documents")
        .select("doc_id").collect()
    }
    pieces: dict[int, list] = {}
    for r in rows:
        pieces.setdefault(r["doc_id"], []).append(r)
    stray = set(pieces) - input_ids
    if stray:
        errors.append(f"{len(stray)} survivors not in the input")
    for doc_id, ps in pieces.items():
        chunk_keys = [(p["shard"], p["chunk_id"]) for p in ps]
        if (
            len({p["shard"] for p in ps}) != 1
            or len(set(chunk_keys)) != len(chunk_keys)
            or sum(p["chunk_tokens"] for p in ps) != ps[0]["n_tok"]
        ):
            errors.append(f"doc {doc_id} packed more than once: {chunk_keys}")
            break
    if len(pieces) != expected["after_substring_dedup"]:
        errors.append(
            f"{len(pieces)} packed docs != {expected['after_substring_dedup']}"
        )
    tokens = sum(r["chunk_tokens"] for r in rows)
    if tokens != expected["packed_tokens"]:
        errors.append(f"{tokens} packed tokens != {expected['packed_tokens']}")
    n_chunks = len({(r["shard"], r["chunk_id"]) for r in rows})
    if n_chunks != expected["chunks"]:
        errors.append(f"{n_chunks} chunks != {expected['chunks']}")
    return errors


def measure(spark, inputs: dict, state: dict, ops, seconds: float) -> None:
    """Whole cycles, at least one, until ``seconds`` have passed. A cycle
    is one curate pass and then every query ``QUERY_ROUNDS`` times, in a
    seeded order."""
    sf_dir = inputs["sf_dir"]
    specs = state["specs"]
    t_end = time.perf_counter() + seconds
    while True:
        ops.run(
            "curate",
            lambda: ops.span("curate.curate_documents", curate, spark, sf_dir),
            lambda res: check_curate(spark, sf_dir, res, CURATE_REPORT),
        )
        queries = list(QUERIES) * QUERY_ROUNDS
        for name in inputs["rng"].sample(queries, len(queries)):
            rec = ops.run(
                f"query:{name}",
                lambda spec=specs[name]: _query(spark, ops, spec, sf_dir),
                # checked once per query, against its oracle, in verify()
                lambda _: [],
            )
            state["query_recs"].setdefault(name, []).append(rec)
        ops.cycles += 1
        if time.perf_counter() >= t_end:
            break


def oracle_errors(spark, con, spec, sf_dir: str) -> list[str]:
    """One query against its DuckDB oracle, by scripts/check_parity.py's
    rules: row count, column names, order-insensitive values, 1e-9
    relative on floats."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import check_parity

    sdf = spec.fn(spark, sf_dir)
    cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = con.execute(spec.oracle_sql)
    dcols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return [f"columns {sorted(cols)} != {sorted(dcols)}"]
    sidx = [cols.index(c) for c in sorted(cols)]
    didx = [dcols.index(c) for c in sorted(dcols)]
    err = check_parity.compare_frames(
        [tuple(r[i] for i in sidx) for r in spark_rows],
        [tuple(r[i] for i in didx) for r in duck_rows],
        sorted(cols),
    )
    return [err] if err else []


def duckdb_fixture(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def verify(spark, inputs: dict, state: dict, ops) -> None:
    """Each query that ran is checked once against its oracle (the
    queries are pure functions of the fixed fixture); a mismatch fails
    every operation of that query."""
    con = duckdb_fixture(inputs["sf_dir"])
    try:
        for name, recs in state["query_recs"].items():
            try:
                errors = oracle_errors(spark, con, state["specs"][name], inputs["sf_dir"])
            except Exception as e:  # noqa: BLE001 - a crashing check is a failure
                errors = [f"oracle check raised {type(e).__name__}: {e}"]
            for rec in recs:
                if errors:
                    ops.fail(rec, "; ".join(errors)[:500])
    finally:
        con.close()


def details(state: dict, ops) -> dict:
    ok = [r for r in ops.records if r["ok"] and r["timed"]]
    queries = [r["ms"] for r in ok if r["kind"].startswith("query:")]
    curate_ms = [r["ms"] for r in ok if r["kind"] == "curate"]
    passes = min((len(v) for v in state["query_recs"].values()), default=0)
    return {
        "queries": len(queries),
        "full_passes": passes,
        "analytics_pass_s": sum(queries) / passes / 1000 if passes else None,
        "curate_s": curate_ms[0] / 1000 if curate_ms else None,
    }
