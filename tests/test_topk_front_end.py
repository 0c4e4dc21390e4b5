"""The shared contract of the top-k operators in operators/similarity.py
(and the persisted IVF probe): one query-set collect, one ranking rule.

Tiny frames, default lane. The corpus repeats three directions four times
each, so similarities tie exactly and the top-k boundary cuts through a tie
group."""

from __future__ import annotations

import time
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from radar_output_restructure_spark.operators import similarity as S
from radar_output_restructure_spark.operators.ann_index import (
    probe_ivf_index,
    write_ivf_index,
)

DIMS = 8
DIRECTIONS = [
    [1.0, 0.9, 0.1, 0.0, 0.3, 0.0, 0.2, 0.0],
    [0.9, 1.0, 0.0, 0.2, 0.0, 0.3, 0.0, 0.1],
    [0.0, 0.1, 1.0, 0.9, 0.0, 0.2, 0.3, 0.0],
]
N = 12  # vector i points along DIRECTIONS[i % 3]
QIDS = (0, 4)
DUPS = {0: [3, 6, 9], 4: [1, 7, 10]}  # exact duplicates, ascending id
K = 5
LSH = dict(num_planes=2, num_tables=2, dims=DIMS)
PQ = dict(m=2, codebook_k=4, iters=2, dims=DIMS)


@pytest.fixture(scope="module")
def frames(spark, tmp_path_factory):
    # read back from parquet so every collect is one real Spark job (a
    # local relation is collected without one, a repartition adds one)
    root = tmp_path_factory.mktemp("topk_front_end")
    spark.createDataFrame(
        [(i, DIRECTIONS[i % 3]) for i in range(N)],
        "vec_id long, embedding array<double>",
    ).write.parquet(str(root / "corpus"))
    spark.createDataFrame(
        [(0, DIRECTIONS[0]), (1, DIRECTIONS[2])],
        "vec_id int, embedding array<double>",
    ).write.parquet(str(root / "centroids"))
    corpus = spark.read.parquet(str(root / "corpus"))
    queries = corpus.filter(F.col("vec_id").isin(*QIDS))
    centroids = spark.read.parquet(str(root / "centroids"))
    return corpus, queries, centroids


def _lsh_candidate_counts(corpus, queries, multiprobe):
    buckets = defaultdict(set)  # (table, bucket) -> corpus ids
    for r in S.hyperplane_lsh_buckets(
        corpus, LSH["num_planes"], DIMS, num_tables=LSH["num_tables"]
    ).collect():
        buckets[(r.table, r.bucket)].add(r.vec_id)
    flips = [0] + [1 << i for i in range(LSH["num_planes"])]
    cands = defaultdict(set)
    for r in S.hyperplane_lsh_buckets(
        queries, LSH["num_planes"], DIMS, num_tables=LSH["num_tables"]
    ).collect():
        for f in flips if multiprobe else [0]:
            cands[r.vec_id] |= buckets[(r.table, r.bucket ^ f)]
    return {q: len(cands[q] - {q}) for q in QIDS}


def _run(name, spark, frames, tmp_path):
    corpus, queries, centroids = frames
    everything = {q: N - 1 for q in QIDS}  # every candidate but the query
    if name == "cosine_topk":
        return S.cosine_topk(corpus, queries, k=K), everything
    if name == "cosine_topk_int8":
        return S.cosine_topk_int8(corpus, queries, k=K), everything
    if name == "cosine_topk_pq":
        return S.cosine_topk_pq(corpus, queries, k=K, **PQ), everything
    if name == "cosine_topk_ivf":
        df = S.cosine_topk_ivf(corpus, queries, centroids, k=K, nprobe=2)
        return df, everything
    if name == "cosine_topk_ivfpq":
        df = S.cosine_topk_ivfpq(corpus, queries, centroids, k=K, nprobe=2, **PQ)
        return df, everything
    if name == "cosine_topk_lsh":
        df = S.cosine_topk_lsh(corpus, queries, k=K, **LSH)
        return df, _lsh_candidate_counts(corpus, queries, multiprobe=False)
    if name == "cosine_topk_lsh_multiprobe":
        df = S.cosine_topk_lsh_multiprobe(corpus, queries, k=K, **LSH)
        return df, _lsh_candidate_counts(corpus, queries, multiprobe=True)
    if name == "exact_rerank":
        shortlist = queries.select(F.col("vec_id").alias("query_id")).crossJoin(
            corpus.select(F.col("vec_id").alias("neighbor_id"))
        )
        return S.exact_rerank(corpus, queries, shortlist, k=K), everything
    if name == "probe_ivf_index":
        path = str(tmp_path / "ivf_index")
        write_ivf_index(corpus, centroids, path)
        df = probe_ivf_index(spark, path, queries, centroids, k=K, nprobe=2)
        return df, everything
    raise AssertionError(name)


@pytest.mark.parametrize(
    "name",
    [
        "cosine_topk",
        "cosine_topk_int8",
        "cosine_topk_pq",
        "cosine_topk_ivf",
        "cosine_topk_ivfpq",
        "cosine_topk_lsh",
        "cosine_topk_lsh_multiprobe",
        "exact_rerank",
        "probe_ivf_index",
    ],
)
def test_topk_tie_rule(spark, frames, tmp_path, name):
    """min(k, candidates) rows per query, ranks 1..n, ordered by sim desc
    then neighbor_id asc; exact duplicates tie and come out by id."""
    df, n_cand = _run(name, spark, frames, tmp_path)
    by_q = defaultdict(list)
    for r in df.collect():
        by_q[r.query_id].append(r)
    assert sorted(by_q) == sorted(QIDS)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) == min(K, n_cand[q]), (q, n_cand[q])
        keys = [(-r.sim, r.neighbor_id) for r in rows]
        assert keys == sorted(keys) and len(set(keys)) == len(keys), keys
        assert q not in {r.neighbor_id for r in rows}
        assert [r.neighbor_id for r in rows[:3]] == DUPS[q]
        assert len({r.sim for r in rows[:3]}) == 1


@pytest.mark.parametrize(
    "name",
    [
        "cosine_topk",
        "cosine_range_search",
        "cosine_topk_int8",
        "cosine_topk_pq",
        "cosine_topk_ivfpq",
        "exact_rerank",
    ],
)
def test_empty_query_set_raises(frames, name):
    corpus, _queries, centroids = frames
    empty = corpus.filter(F.col("vec_id") < 0)
    calls = {
        "cosine_topk": lambda: S.cosine_topk(corpus, empty),
        "cosine_range_search": lambda: S.cosine_range_search(corpus, empty, 0.5),
        "cosine_topk_int8": lambda: S.cosine_topk_int8(corpus, empty),
        "cosine_topk_pq": lambda: S.cosine_topk_pq(corpus, empty, **PQ),
        "cosine_topk_ivfpq": lambda: S.cosine_topk_ivfpq(
            corpus, empty, centroids, nprobe=2, **PQ
        ),
        "exact_rerank": lambda: S.exact_rerank(
            corpus,
            empty,
            empty.select(
                F.col("vec_id").alias("query_id"),
                F.col("vec_id").alias("neighbor_id"),
            ),
        ),
    }
    with pytest.raises(ValueError, match=f"^{name} requires a non-empty query set$"):
        calls[name]()


def _jobs_in_group(spark, group, fn):
    """Spark jobs started by `fn`. The status store consumes listener
    events in order, so once a fence job started after `fn` is visible,
    every job `fn` started is visible too."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(group + "-fence", "fence")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-fence"):
        assert time.monotonic() < deadline, "fence job never reported"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_ivfpq_build_collects_centroids_once(spark, frames):
    """Building cosine_topk_ivfpq runs the PQ training jobs plus one
    centroid collect and one query collect."""
    corpus, queries, centroids = frames
    train = _jobs_in_group(
        spark, "ivfpq-train", lambda: S.train_pq_codebooks(corpus, **PQ)
    )
    build = _jobs_in_group(
        spark,
        "ivfpq-build",
        lambda: S.cosine_topk_ivfpq(corpus, queries, centroids, nprobe=2, **PQ),
    )
    assert train > 0
    assert build == train + 2, (build, train)


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_pq_codebooks_fewer_rows_than_codebook_k(spark, frames, monkeypatch, path):
    """A corpus with fewer rows than `codebook_k` seeds one cell per row,
    trains them (empty cells carry over) and scores through PQ on both
    trainer paths, which agree."""
    corpus, queries, _centroids = frames
    pq = dict(PQ, codebook_k=16)  # N = 12 rows < 16 cells
    if path == "distributed":
        monkeypatch.setattr(S, "DRIVER_TRAIN_MAX_ROWS", 0)
    books = S.train_pq_codebooks(corpus, **pq)
    assert [len(b) for b in books] == [N] * pq["m"]
    monkeypatch.undo()
    assert books == S.train_pq_codebooks(corpus, **pq)
    if path == "distributed":
        monkeypatch.setattr(S, "DRIVER_TRAIN_MAX_ROWS", 0)
    rows = S.cosine_topk_pq(corpus, queries, k=K, **pq).collect()
    assert sorted({r.query_id for r in rows}) == sorted(QIDS)
    assert len(rows) == K * len(QIDS)
