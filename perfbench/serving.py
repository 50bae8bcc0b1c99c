"""``serve_mutate``: batch ANN search on persisted sharded layouts, first
read-only, then with writes beside the reads.

Set-up generates seeded clustered vectors, partitioned so that a
query's neighbours can sit in more than one shard
(``datagen.VectorMixture``), and builds two layouts from them
(``label_centroids`` → ``assign_to_centroids`` → ``write_sharded``,
frozen centroids saved beside each). The served layout adds PQ codes and
payload tag postings; the mutated one stays raw. The timed loop has two
phases of ``--seconds``/2 each:

- serve: 20-query batches, k=10, nprobe=2, in cycles of one raw, one
  PQ-refine and one tag-filtered search in a seeded order;
- mutate: rounds of upsert → search → delete → search on the raw
  layout, calling ``compact_if_needed`` after every write, until it
  compacts in place.

Every search result is checked on the driver against an exact numpy
mirror of the live vectors: each returned distance must be the true
distance of that id, no deleted id may appear, filtered results must
hold every query tag, recall@10 must reach a floor, and each
just-upserted vector must find itself at distance 0.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import Context, dir_stats
from spans import span

K = 10
NPROBE = 2
BATCH = 20
DIM = 64
# Recall@10 floors. Every batch must reach BATCH_FLOOR, and each group
# of kinds must reach RUN_FLOOR over all of a run's queries of that
# group (the raw warm-up batch holds WARM_RAW queries for this). The
# floors sit under the lowest values measured across seeds with room for
# seeds not measured; the IVF run floor sits above what the same inputs
# give with one probed shard instead of two, so a change that buys speed
# by probing or ranking less fails the run. Filtered search is exact.
# The PQ pool ranks candidates by 4×16-centroid ADC codes before the
# exact rerank, so its recall is lower; every returned distance is still
# checked exactly.
BATCH_FLOOR = {"raw": 0.85, "live_upsert": 0.8, "live_delete": 0.8, "pq": 0.5, "filtered": 0.99}
RUN_FLOOR = {
    "ivf": (("raw", "live_upsert", "live_delete"), 0.93),
    "pq": (("pq",), 0.57),
    "filtered": (("filtered",), 0.99),
}
WARM_RAW = 5 * BATCH
# upsert/delete rounds allowed before compact_if_needed must have
# compacted; one round is enough on these sizes
MAX_ROUNDS = 4

SIZES = {
    # vectors, shards, upsert batch, delete batch, compaction bound
    "full": dict(n=8000, shards=32, upsert=200, delete=50, max_contested=200),
    "tiny": dict(n=600, shards=4, upsert=20, delete=5, max_contested=20),
}
N_TAGS = 8


class Live:
    """Driver-side mirror of the live vector set, for ground truth."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray, tags: list[list[str]] | None):
        self.vecs = {int(i): v for i, v in zip(ids, vecs)}
        self.tags = {int(i): set(t) for i, t in zip(ids, tags)} if tags else {}
        self._arrays = None

    def put(self, i: int, v: np.ndarray) -> None:
        self.vecs[i] = v
        self._arrays = None

    def drop(self, i: int) -> None:
        self.vecs.pop(i, None)
        self._arrays = None

    def arrays(self):
        if self._arrays is None:
            ids = np.fromiter(self.vecs.keys(), dtype=np.int64)
            self._arrays = ids, np.stack([self.vecs[int(i)] for i in ids]).astype(np.float64)
        return self._arrays

    def exact(self, q: np.ndarray, qtags: set[str] | None = None) -> list[int]:
        ids, x = self.arrays()
        if qtags:
            keep = np.array([qtags <= self.tags.get(int(i), set()) for i in ids])
            ids, x = ids[keep], x[keep]
        d = np.linalg.norm(x - q.astype(np.float64), axis=1)
        order = np.lexsort((ids, d))[:K]
        return [int(i) for i in ids[order]]


def _vectors_table(ids, vecs, labels=None, tags=None) -> pa.Table:
    cols = {
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    }
    if labels is not None:
        cols["label"] = pa.array(labels, pa.int32())
    if tags is not None:
        cols["tags"] = pa.array(tags, pa.list_(pa.string()))
    return pa.table(cols)


def _build(ctx: Context, size: dict):
    """Generate the vectors and build both layouts; returns (served
    layout, mutated layout, centroids, served mirror, mutated mirror,
    the vectors' generator)."""
    from big_ann_spark.operators import ann as ANN
    from big_ann_spark.operators import sharding as SH
    from big_ann_spark.operators.pq import train_pq

    spark = ctx.spark
    rng = np.random.default_rng(ctx.seed)
    n = size["n"]
    mix = datagen.VectorMixture(rng, DIM, size["shards"])
    vecs, labels = mix.draw(rng, n)
    ids = np.arange(n, dtype=np.int64)
    tags = [
        [f"a{a}", f"b{b}"]
        for a, b in zip(rng.integers(0, N_TAGS, n), rng.integers(0, N_TAGS // 2, n))
    ]
    src = os.path.join(ctx.work_dir, "vectors.parquet")
    pq.write_table(_vectors_table(ids, vecs, labels, tags), src)
    served = os.path.join(ctx.work_dir, "served")
    mutated = os.path.join(ctx.work_dir, "mutated")

    t0 = time.perf_counter()
    emb = spark.read.parquet(src)
    cents = SH.label_centroids(emb).localCheckpoint()
    books = train_pq(emb.limit(2000), m=4, k=16, max_iter=3)
    assign = SH.assign_to_centroids(emb, cents, extra_cols=["embedding"])
    SH.write_sharded(assign, emb, served, pq_codebooks=books, pq_encode_impl="arrow")
    ANN.write_tag_postings_layout(emb.select("vec_id", "tags"), served)
    SH.write_sharded(assign, emb, mutated)
    for layout in (served, mutated):
        cents.write.mode("overwrite").parquet(f"{layout}/centroids.parquet")
    ctx.layer["index_build_s"] = time.perf_counter() - t0
    files, size_b = dir_stats(served)
    ctx.layer["sharding.files_written"] = files
    ctx.layer["space_amp_served"] = size_b / (n * DIM * 4)
    return served, mutated, cents, Live(ids, vecs, tags), Live(ids, vecs, None), mix


def _query_batch(ctx: Context, live: Live, rng, extra: list[int] | None = None, n: int = BATCH):
    """``n`` queries near random live vectors (plus the given ids as
    exact self-queries); returns (DataFrame, rows)."""
    ids, x = live.arrays()
    extra = list(extra or [])[:n]
    pick = rng.choice(len(ids), n - len(extra), replace=False)
    rows = []
    for qid, i in enumerate(pick):
        v = x[i] + 0.05 * rng.normal(size=DIM)
        v = (v / np.linalg.norm(v)).astype(np.float32)
        rows.append((qid, v, sorted(live.tags.get(int(ids[i]), set())), None))
    for j, vid in enumerate(extra):
        rows.append((len(pick) + j, live.vecs[vid], sorted(live.tags.get(vid, set())), vid))
    df = ctx.spark.createDataFrame(
        [(r[0], [float(f) for f in r[1]], r[2]) for r in rows],
        "qid long, qvec array<float>, qtags array<string>",
    )
    return df, rows


def _check_batch(ctx: Context, kind: str, result, rows, live: Live) -> tuple[int, int]:
    """Check one batch's (qid, neighbor_id, dist) rows; returns the
    true neighbours found and sought over the batch's non-self queries."""
    by_q: dict[int, list] = {}
    for r in result:
        by_q.setdefault(int(r["qid"]), []).append((float(r["dist"]), int(r["neighbor_id"])))
    problems, hits, total = [], 0, 0
    for qid, qv, qtags, self_id in rows:
        got = sorted(by_q.get(qid, []))
        ids = [i for _d, i in got]
        truth = None
        if self_id is None:
            truth = live.exact(qv, set(qtags) if kind == "filtered" else None)
        want = K if truth is None else len(truth)
        if len(got) != want or len(set(ids)) != len(ids):
            problems.append(f"q{qid}: {len(got)} rows ({len(set(ids))} distinct), want {want}")
            continue
        for d, i in got:
            v = live.vecs.get(i)
            if v is None:
                problems.append(f"q{qid}: id {i} is not live")
            elif abs(np.linalg.norm(v.astype(np.float64) - qv) - d) > 1e-4:
                problems.append(f"q{qid}: id {i} dist {d} is wrong")
            elif kind == "filtered" and not set(qtags) <= live.tags[i]:
                problems.append(f"q{qid}: id {i} lacks tags {qtags}")
        if truth is None:
            if got[0][1] != self_id or got[0][0] > 1e-6:
                problems.append(f"q{qid}: upserted id {self_id} not found at distance 0")
            continue
        hits += len(set(truth) & set(ids))
        total += len(truth)
    recall = hits / total if total else 1.0
    if recall < BATCH_FLOOR[kind]:
        problems.append(f"recall {recall:.3f} < {BATCH_FLOOR[kind]}")
    ctx.check(not problems, f"{kind} search: {'; '.join(problems[:3])}")
    return hits, total


def _search(ctx: Context, kind: str, layout: str, cents, live: Live, rng, self_ids=None, n=BATCH):
    from big_ann_spark.operators import ann as ANN

    q, rows = _query_batch(ctx, live, rng, self_ids, n)

    def one():
        with span(ctx.tracer, f"search.{kind}.build", "bench"):
            if kind in ("raw", "live_upsert", "live_delete"):
                df = ANN.ivf_search_from_disk(q, layout, cents, k=K, nprobe=NPROBE)
            elif kind == "pq":
                df = ANN.ivf_search_from_disk(
                    q, layout, cents, k=K, nprobe=NPROBE, codec="pq", pool_impl="arrow"
                )
            else:
                df = ANN.filtered_search_from_disk(q, layout, k=K)
        with span(ctx.tracer, f"search.{kind}.exec", "spark_action"):
            return df.select("qid", "neighbor_id", "dist").collect()

    result, ok = ctx.timed(f"search.{kind}", one, queries=len(rows), results=len)
    if not ok:
        return
    if ctx.inject_wrong and not ctx.injected:
        ctx.injected = True
        result = [dict(r.asDict(), neighbor_id=int(r["neighbor_id"]) + 1) for r in result]
    hits, total = _check_batch(ctx, kind, result, rows, live)
    if total:
        ctx.sample(f"recall.{kind}", hits / total)
        ctx.sample(f"hits.{kind}", (hits, total))


def run(ctx: Context, size_name: str = "full") -> None:
    size = SIZES[size_name]
    served, mutated, cents, served_live, live, mix = _build(ctx, size)
    kinds = ["raw", "pq", "filtered"]
    # warm-up of every search kind, checked but not timed; the kinds run
    # concurrently to keep set-up short (each with its own generator so
    # the inputs stay seeded)
    warm = [(k, served, served_live) for k in kinds] + [("live_delete", mutated, live)]

    def warm_up(i):
        kind, layout, mirror = warm[i]
        n = WARM_RAW if kind == "raw" else BATCH
        _search(ctx, kind, layout, cents, mirror, np.random.default_rng([ctx.seed, i]), n=n)

    with ThreadPoolExecutor(len(warm)) as pool:
        list(pool.map(warm_up, range(len(warm))))
    ctx.requests.clear()
    ctx.setup_done()
    rng = np.random.default_rng([ctx.seed, len(warm)])
    start = time.perf_counter()
    while time.perf_counter() - start < ctx.seconds / 2:
        for kind in rng.permutation(kinds):
            _search(ctx, str(kind), served, cents, served_live, rng)
    _mutate(ctx, size, mutated, cents, live, mix, rng)
    for group, (kinds, floor) in RUN_FLOOR.items():
        counts = [c for kind in kinds for c in ctx.samples.get(f"hits.{kind}", [])]
        if counts:
            recall = sum(h for h, _t in counts) / sum(t for _h, t in counts)
            ctx.check(recall >= floor, f"{group} search: run recall {recall:.3f} < {floor}")


def _mutate(ctx: Context, size: dict, layout: str, cents, live: Live, mix, rng) -> None:
    """Rounds of writes and live searches until ``--seconds``/2 passed
    and ``compact_if_needed`` has compacted in place; at most
    ``MAX_ROUNDS`` rounds may pass without a compaction."""
    from big_ann_spark.operators import vector_ops as VO

    spark = ctx.spark
    next_id = size["n"]

    def land(kind, fn, user_bytes):
        files0, bytes0 = dir_stats(layout)
        out, ok = ctx.timed(f"write.{kind}", fn)
        ok = ok and ctx.check(isinstance(out, int), f"{kind} returned op id {out!r}")
        files1, bytes1 = dir_stats(layout)
        ctx.sample("files_per_op", files1 - files0)
        ctx.sample("bytes_per_user_byte", (bytes1 - bytes0) / user_bytes)
        return ok

    def maintain():
        out, ok = ctx.timed(
            "maint.compact_if_needed",
            lambda: VO.compact_if_needed(spark, layout, max_contested=size["max_contested"]),
        )
        if not ok:
            return True
        n, folded = out
        ctx.check(n >= 0, f"contested count {n}")
        ctx.sample("contested", n)
        if folded is not None:
            ctx.sample("compact_s", ctx.requests[-1].latency_s)
        return folded is not None

    def space():
        _f, b = dir_stats(layout)
        ctx.sample("space_amp", b / (len(live.vecs) * DIM * 4))

    start = time.perf_counter()
    while True:
        compacted = False
        for _round in range(MAX_ROUNDS):
            # upsert: half re-embedded live ids, half new ids
            ids_live, _x = live.arrays()
            n_old = size["upsert"] // 2
            old = rng.choice(ids_live, n_old, replace=False)
            new = np.arange(next_id, next_id + size["upsert"] - n_old)
            next_id += len(new)
            up_ids = np.concatenate([old, new]).astype(np.int64)
            up_vecs, _l = mix.draw(rng, len(up_ids))
            batch = spark.createDataFrame(
                [(int(i), [float(f) for f in v]) for i, v in zip(up_ids, up_vecs)],
                "vec_id long, embedding array<float>",
            ).localCheckpoint()
            if land("upsert", lambda: VO.upsert_vectors(spark, layout, batch), up_vecs.nbytes):
                for i, v in zip(up_ids, up_vecs):
                    live.put(int(i), v)
            space()
            compacted = maintain()
            _search(ctx, "live_upsert", layout, cents, live, rng, self_ids=[int(i) for i in up_ids[:10]])
            ids_live, _x = live.arrays()
            dead = [int(i) for i in rng.choice(ids_live, size["delete"], replace=False)]
            if land("delete", lambda: VO.delete_vectors(spark, layout, dead), 8 * len(dead)):
                for i in dead:
                    live.drop(i)
            space()
            compacted = maintain() or compacted
            _search(ctx, "live_delete", layout, cents, live, rng)
            if compacted:
                break
        if not ctx.check(compacted, f"compaction never triggered in {MAX_ROUNDS} rounds"):
            break
        if time.perf_counter() - start >= ctx.seconds / 2:
            break
