"""``analytics``: the registry's heavy batch queries over seeded tables.

Set-up generates the ten tables, then runs every query once (the
queries concurrently), collects its result and compares it with the
query's DuckDB oracle through the project's own oracle gate
(``tests/oracle_utils.compare_query``); that pass is also the
JVM/Python warm-up and is not timed. The timed loop then runs whole
passes in a seed-shuffled order until ``--seconds`` have passed.
Each query is built (``q.fn`` returns) and then fully materialised
through the ``noop`` sink, which Catalyst cannot prune the way it
prunes a ``count()``. This workload never opens a disk layout or the
op ledger.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import datagen
from common import Context
from spans import span

# Three of the eight heaviest headline queries: the pretraining-prep
# composite, hybrid dense/BM25/filtered retrieval, and per-dimension
# pair statistics (grouped pandas). A pass over them takes ~9 s warm and
# ~25 s cold on a 4-core host. All 21 headline queries take ~27 s warm
# and ~52 s cold there, which does not fit the per-run time budget beside
# the serving workloads. Left out of the eight: ivf_search_top5 (``serve_mutate``
# measures the ANN path from disk), text_metrics, knn_cosine_top5,
# minhash_lsh_near_dup and ngram_jaccard_top_pairs.
QUERIES = [
    "pipeline_clean_corpus",
    "doc_retrieval_top3",
    "dim_pair_stats",
]
# row counts for the self-test's tiny inputs
TINY_ROWS = {"customer": 200, "part": 200, "orders": 200, "events": 200, "lineitem": 1000}


def run(ctx: Context, size: str = "full") -> None:
    from big_ann_spark.queries import load_all
    from tests.oracle_utils import compare_query

    tiny = size == "tiny"
    names = QUERIES[:2] if tiny else QUERIES
    rows = TINY_ROWS if tiny else None
    registry = load_all()
    rng = np.random.default_rng(ctx.seed)
    data_dir = os.path.join(ctx.work_dir, "tables")
    datagen.write_tables(datagen.analytics_tables(ctx.seed, rows), data_dir)

    # untimed check pass: a separate full collect of every query,
    # compared with its oracle. It is also the JVM/Python warm-up, so the
    # queries run concurrently to keep set-up short.
    def compare(name):
        q = registry[name]
        fn = q.fn
        if ctx.inject_wrong and name == names[0]:
            # the self-test's wrong result: the query loses one row
            fn = lambda spark, sf_dir: q.fn(spark, sf_dir).offset(1)  # noqa: E731
        try:
            return compare_query(ctx.spark, name, fn, q.sql, data_dir)
        except Exception as e:  # a query that raises is a failed check
            return [f"{name} raised {type(e).__name__}: {e}"]

    with ThreadPoolExecutor(len(names)) as pool:
        problems = dict(zip(names, pool.map(compare, names)))
    for name in names:
        ctx.check(not problems[name], f"analytics.{name}: {'; '.join(problems[name][:3])}")

    spark = ctx.spark
    tracer = ctx.tracer

    def request(name):
        q = registry[name]

        def one():
            with span(tracer, f"query.{name}.build", "queries"):
                df = q.fn(spark, data_dir)
            with span(tracer, f"query.{name}.exec", "spark_action"):
                df.write.format("noop").mode("overwrite").save()

        _out, ok = ctx.timed(f"query.{name}", one, queries=1)
        if ok:
            ctx.check(True, f"analytics.{name} timed")

    ctx.setup_done()

    start = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        for name in rng.permutation(names):
            request(str(name))
        ctx.sample("suite_s", time.perf_counter() - t_pass)
        ctx.passes += 1
        if time.perf_counter() - start >= ctx.seconds:
            break

