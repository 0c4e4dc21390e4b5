"""Similarity search over embedding columns (`array<float>`).

Every top-k operator is one front end with a pluggable candidate generator:
query set -> candidates -> scorer -> one ranking rule.

* query set  — `_query_set`: ONE driver collect of the (small by contract)
  query frame, sorted by id, with oracle-order guarded norms.
* candidates — the whole corpus (`cosine_topk`, `cosine_topk_int8`,
  `cosine_topk_pq`, `cosine_range_search`), LSH bucket collisions
  (`cosine_topk_lsh`, `cosine_topk_lsh_multiprobe`), probed IVF cells
  (`cosine_topk_ivf`, `cosine_topk_ivfpq`, `ann_index.probe_ivf_index`) or
  a caller's shortlist (`exact_rerank`).
* scorer     — exact cosine (`_codebook_affinities` in Arrow, the `cosine`
  Column fold in `_rerank_exact`), int8 code cosine, or ADC over PQ codes
  (`_adc_sims`). Corpus-scan scorers prune each Arrow batch to its local
  top-k (`_local_topk`), so the ranking shuffle moves kilobytes.
* ranking    — `_rank_topk`: row_number over (sim desc, neighbor_id asc)
  per query, rank <= k, self-matches excluded.

Codebooks (IVF cells, PQ subquantizers) have one collect
(`_collect_centroids`), one array form (`_codebook`) and one ranking kernel
(`_codebook_argtop`). The trainers, LSH bucketing, embedding near-dup and
the centroid audits live here too.

Dot products fold left-to-right in DOUBLE, so an oracle that folds the same
order (DuckDB list reduction) reproduces results bit-for-bit; similarities
round to 6 decimals (`_round6_spark` on the Arrow side) and zero norms
coalesce to 1, so a zero vector scores exactly 0.0 and never NaN.
"""

from __future__ import annotations

from math import sqrt as math_sqrt

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, folded left-to-right in double.

    A zip_with+aggregate higher-order fold: it runs on primitive double
    arrays inside the JVM and measured faster at every scale tried (sf0.1,
    600k pairs x 64 dims) than an unrolled element_at sum, whose generated
    code (192 element_at terms per cosine) grows past what JIT handles well.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # zero-norm guard (module-wide convention): the numerator is 0 for a
    # zero vector, so coalescing its norm to 1 pins cos at exactly 0.0 —
    # under ANSI mode an unguarded 0/0 is a DIVIDE_BY_ZERO task failure,
    # and NaN would rank differently between numpy prunes and SQL windows
    na, nb = _norm(a), _norm(b)
    na = F.when(na == F.lit(0.0), F.lit(1.0)).otherwise(na)
    nb = F.when(nb == F.lit(0.0), F.lit(1.0)).otherwise(nb)
    return _dot(a, b) / (na * nb)


def _query_set(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    op: str,
    label_col: str | None = None,
) -> tuple:
    """(ids, vectors, norms, labels): the query set every top-k operator
    scores against, sorted by id — ids and an (nq, dims) float64 array,
    `_seq_sq_sum` norms (the oracle's fold order) with the zero-norm
    guard, labels None without `label_col`. An empty set raises ValueError
    naming `op`.

    ONE collect of (qid, qv[, label]): a second collect (say, for the
    labels) would recompute a nondeterministic query frame (sample()/
    limit() over an unordered source) into a DIFFERENT row set — KeyError
    at best, a silently wrong exclusion mask at worst — and doubles the
    driver pull."""
    import numpy as np

    q_cols = [F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")]
    if label_col is not None:
        q_cols.append(F.col(label_col).alias("ql"))
    q_rows = sorted(queries.select(*q_cols).collect(), key=lambda r: r.qid)
    if not q_rows:
        raise ValueError(f"{op} requires a non-empty query set")
    q_lists = [[float(x) for x in r.qv] for r in q_rows]
    q_norms = np.array([math_sqrt(_seq_sq_sum(v)) for v in q_lists])
    return (
        np.array([r.qid for r in q_rows]),
        np.array(q_lists, dtype=np.float64),
        np.where(q_norms == 0.0, 1.0, q_norms),  # zero-norm guard
        [r.ql for r in q_rows] if label_col is not None else None,
    )


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, __v): the projection every Arrow scorer reads."""
    return df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v"))


def _pair_schema(corpus: DataFrame, id_col: str) -> str:
    id_type = corpus.schema[id_col].dataType.simpleString()
    return f"query_id {id_type}, neighbor_id {id_type}, sim double"


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """THE ranking rule of every top-k operator: per query, row_number
    over (sim desc, neighbor_id asc) — a strict total order, so ties are
    deterministic — keeping rank <= k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _local_topk(
    frame: DataFrame, sims_of, q_ids, k: int, mask_of=None
) -> DataFrame:
    """Map-only scoring with a per-batch prune, then `_rank_topk`.

    `frame` carries the corpus id as `vec_id`; `sims_of(pdf)` scores a
    batch into an (n, nq) matrix and `mask_of(pdf)`, when given, adds an
    (n, nq) validity matrix. Each batch keeps its local top-k per query
    (self-matches dropped) — safe because (sim desc, neighbor_id asc) is a
    strict total order, so the global top-k is contained in the union of
    batch top-ks — and the final window ranks tasks x queries x k rows:
    kilobytes at any corpus size, where windowing every scored row would
    shuffle the whole corpus x queries product."""
    import numpy as np
    import pandas as pd

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = sims_of(pdf)
            mask = mask_of(pdf) if mask_of is not None else None
            nbr = pdf["vec_id"].to_numpy()
            qcol, ncol, scol = [], [], []
            for j in range(len(q_ids)):
                valid = nbr != q_ids[j]
                if mask is not None:
                    valid &= mask[:, j]
                sims_j = sims[valid, j]
                nbr_j = nbr[valid]
                take = np.lexsort((nbr_j, -sims_j))[:k]
                qcol.append(np.repeat(q_ids[j], len(take)))
                ncol.append(nbr_j[take])
                scol.append(sims_j[take])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(qcol),
                    "neighbor_id": np.concatenate(ncol),
                    "sim": np.concatenate(scol),
                }
            )

    return _rank_topk(frame.mapInPandas(score, _pair_schema(frame, "vec_id")), k)


def _rerank_exact(
    pairs: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    corpus: DataFrame | None = None,
    neighbor: str = "neighbor_id",
    cv: str = "cv",
) -> DataFrame:
    """Exact Column re-rank of candidate (query_id, `neighbor`) pairs,
    ranked by `_rank_topk`. Self-pairs are dropped first. With `corpus`,
    the pairs are bare collisions: they are deduplicated and the corpus
    vectors join in; without it they already carry the vector in `cv`.
    Query vectors broadcast-join; sim is the rounded `cosine` fold.
    `neighbor`/`cv` exist only to keep `probe_ivf_index`'s plan as is."""
    pairs = pairs.filter(F.col(neighbor) != F.col("query_id"))
    if corpus is not None:
        pairs = (
            pairs.select("query_id", "neighbor_id")
            .distinct()
            .join(
                corpus.select(
                    F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
                ),
                "neighbor_id",
            )
        )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    sims = pairs.join(F.broadcast(q), "query_id").select(
        "query_id",
        F.col(neighbor).alias("neighbor_id"),
        F.round(cosine(F.col("qv"), F.col(cv)), 6).alias("sim"),
    )
    return _rank_topk(sims, k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_label_col: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    (query_id, neighbor_id, sim, rank); self-matches excluded. With
    `exclude_label_col`, corpus rows sharing the query's label are ALSO
    excluded — the hard-negative-mining mode (contrastive training wants,
    per anchor, the most-similar vectors of a DIFFERENT class: negatives
    the model currently confuses). Same map-only scan either way — the
    label test is one extra vectorized mask per batch.

    MAP-ONLY scoring with per-batch pruning (`_local_topk`): the query
    set is scored inside a mapInPandas closure with the oracle's exact
    fold order (`_codebook_affinities` — the machinery the IVF coarse
    quantizer already uses), and each Arrow batch keeps only its local
    top-k per query.
    """
    import numpy as np
    import pandas as pd

    q_ids, q_arr, q_norms, q_labels = _query_set(
        queries, id_col, vec_col, "cosine_topk", exclude_label_col
    )

    def sims_of(pdf):
        x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        return _codebook_affinities(x, q_arr, q_norms)  # (n, nq) rounded

    def mask_of(pdf):
        # IS DISTINCT FROM semantics, pinned against the oracle: NULL label
        # vs NULL label = SAME class (excluded); NULL vs anything else =
        # different (kept). Arrow hands int labels with NULLs to pandas as
        # float NaN, where plain != would call NaN != NaN True and diverge.
        lbl = pdf["__l"].to_numpy()
        lbl_na = pd.isna(lbl)
        mask = np.empty((len(lbl), len(q_labels)), dtype=bool)
        for j, qj in enumerate(q_labels):
            if qj is None or (isinstance(qj, float) and qj != qj):
                mask[:, j] = ~lbl_na
            else:
                mask[:, j] = lbl_na | (lbl != qj)
        return mask

    cols = [F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")]
    if exclude_label_col is not None:
        cols.append(F.col(exclude_label_col).alias("__l"))
    return _local_topk(
        corpus.select(*cols),
        sims_of,
        q_ids,
        k,
        mask_of if q_labels is not None else None,
    )


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All corpus neighbors within a cosine radius of each query vector:
    (query_id, neighbor_id, sim) for every sim >= threshold, self-matches
    excluded — the radius-search counterpart of `cosine_topk` (dedup
    candidate generation, recall-oriented retrieval evaluation).

    STRICTLY MAP-ONLY — even the top-k's kilobyte ranking shuffle is gone:
    the threshold filter is decided per row inside the scoring closure, so
    the operator's entire cost is one corpus scan regardless of corpus
    size, and its output is exactly the matching pairs. Queries are
    driver-small by contract (same as cosine_topk) and scored with the
    oracle's exact fold order (`_codebook_affinities`, round-6), so the
    >= comparison happens on engine-identical doubles.
    """
    import numpy as np
    import pandas as pd

    q_ids_arr, q_arr, q_norms, _ = _query_set(
        queries, id_col, vec_col, "cosine_range_search"
    )
    nq = len(q_ids_arr)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            nbr = pdf["vec_id"].to_numpy()
            aff = _codebook_affinities(x, q_arr, q_norms)  # (n, nq) rounded
            qcol, ncol, scol = [], [], []
            for j in range(nq):
                keep = (aff[:, j] >= threshold) & (nbr != q_ids_arr[j])
                if not keep.any():
                    continue
                qcol.append(np.repeat(q_ids_arr[j], int(keep.sum())))
                ncol.append(nbr[keep])
                scol.append(aff[keep, j])
            if qcol:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(qcol),
                        "neighbor_id": np.concatenate(ncol),
                        "sim": np.concatenate(scol),
                    }
                )

    return _vectors(corpus, id_col, vec_col).mapInPandas(
        score, _pair_schema(corpus, id_col)
    )


def _plane_weight(plane: int, dim: int) -> int:
    """Deterministic pseudo-random hyperplane weight in [-3, 3].

    md5-seeded so every (plane, dim) cell is decorrelated. The previous
    linear-congruential family ((plane*97 + dim*31) % 7 - 3) was periodic in
    `plane` mod 7: only SEVEN distinct hyperplanes existed no matter how many
    planes/tables were configured, so multi-table recall (1-(1-p)^L assumes
    independent tables) was silently correlated and `auto_num_planes` beyond
    7 bits added no bucket diversity (<=128 distinct buckets at any scale).
    The weights are computed driver-side only and enter BOTH engines as
    literals (packed arrays in Spark, inlined constants in the SQL oracle),
    so any pure-Python definition keeps the two bit-identical.
    """
    import hashlib

    digest = hashlib.md5(f"plane:{plane}:{dim}".encode()).digest()
    return (int.from_bytes(digest[:4], "big") % 7) - 3


def hyperplane_lsh_buckets(
    df: DataFrame,
    num_planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 1,
) -> DataFrame:
    """(vec_id, table, bucket): b-bit sign hash per hash table.

    Multiple independent tables (plane sets) are the standard recall lever:
    a ~0.4-cosine neighbor colliding with p per table is found with
    1-(1-p)^L overall. Table t uses planes [t*b, (t+1)*b).

    MAP-ONLY, Arrow-vectorized: this is the one hot path where the built-in
    Column algebra genuinely can't express the computation efficiently — a
    (batch x dims) @ (dims x planes) sign projection. A Column formulation
    is either an interpreted higher-order fold per plane (~40 nested lambda
    folds per row) or a ~2,200-term unrolled scalar tree (16 s of py4j plan
    build + janino recompilation per plan); both measured 5-10x slower at
    sf0.1 than this vectorized mapInPandas (0.6 s vs 3.6-9.7 s steady
    state), and the gap widens with planes x dims.

    Bit-exactness vs the SQL oracle is preserved by construction: the
    accumulation loops over DIMENSIONS sequentially (acc += v[d] * w[p,d]
    for d = 0..dims-1, vectorized across rows and planes), which performs
    the identical left-to-right IEEE-double fold as the oracle's unrolled
    `0.0 + v[1]*w + v[2]*w + ...` per plane — never numpy's blocked/
    pairwise `@` matmul, whose different rounding could flip a
    near-boundary sign.

    Buckets assemble from the sign bits with int64 ops (bucket_t =
    sum 2^i * bit[t*b+i]), so plane counts up to 31 cannot overflow. Planes
    are deduplicated by weight vector first, so a hash family that repeats
    planes costs one projection per DISTINCT plane. Earlier formulations
    (broadcast-crossJoin + groupBy, then nested HOF folds) shuffled or
    interpreted their way through the same math; this one is a pure
    Arrow-batched projection — at 100 TB it runs embarrassingly parallel
    with zero shuffle.
    """
    import numpy as np
    import pandas as pd

    total = num_tables * num_planes
    weights = [
        tuple(float(_plane_weight(p, d)) for d in range(dims)) for p in range(total)
    ]
    distinct: dict[tuple[float, ...], int] = {}
    slot_of: list[int] = []  # plane index -> 0-based row in the distinct matrix
    for w in weights:
        if w not in distinct:
            distinct[w] = len(distinct)
        slot_of.append(distinct[w])
    w_mat = np.array(list(distinct), dtype=np.float64)  # (n_distinct, dims)
    slots = np.array(slot_of, dtype=np.int64).reshape(num_tables, num_planes)
    powers = (2 ** np.arange(num_planes, dtype=np.int64))

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"vec_id {id_type}, table int, bucket long"

    def bucketize(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)  # (n, dims)
            n = x.shape[0]
            acc = np.zeros((n, w_mat.shape[0]), dtype=np.float64)
            for d in range(dims):  # sequential over dims == the oracle's fold
                acc = acc + x[:, d : d + 1] * w_mat[:, d]
            bits = (acc > 0).astype(np.int64)  # (n, n_distinct)
            buckets = (bits[:, slots] * powers).sum(axis=2)  # (n, tables)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), num_tables),
                    "table": np.tile(
                        np.arange(num_tables, dtype=np.int32), n
                    ),
                    "bucket": buckets.reshape(-1),
                }
            )

    return _vectors(df, id_col, vec_col).mapInPandas(bucketize, out_schema)


def auto_num_planes(
    n_vectors: int, target_bucket: int = 64, min_planes: int = 4
) -> int:
    """The planes ~ log2(n) operating rule as a function: enough hyperplane
    bits that the EXPECTED bucket occupancy is ~`target_bucket`, never fewer
    than `min_planes`. Candidate-pair work per table is sum(bucket^2)/2, so
    holding occupancy constant keeps the bucket join LINEAR in corpus size;
    fixed bits make it quadratic (measured 50x at a 10x tiling — SCALE.md).
    Callers pass a cheap corpus-count estimate; recall lost to narrower
    buckets is recovered with more tables (`num_tables`), which scales
    linearly, not quadratically.

    Capped at 31 planes (corpus ~1.4e11 at the default occupancy): buckets
    accumulate as bigint, but 31 bits already gives 2^31 buckets and the
    cap keeps every engine's int paths (and the packed-bits assembly) far
    from overflow."""
    import math

    if n_vectors <= target_bucket:
        return min_planes
    return min(31, max(min_planes, math.ceil(math.log2(n_vectors / target_bucket))))


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 10,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates = docs sharing any (table, bucket) with
    the query, exact cosine re-rank over the candidate union.

    At 100 TB: corpus buckets are precomputed once (map-only, L small ints
    per vector) and bucket-partitioned on disk; per-query work is L buckets'
    worth of exact scoring instead of the full corpus.
    """
    return _lsh_topk(
        corpus, queries, k, num_planes, num_tables, dims, id_col, vec_col
    )


def _lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    num_planes: int,
    num_tables: int,
    dims: int,
    id_col: str,
    vec_col: str,
    multiprobe: bool = False,
) -> DataFrame:
    """The LSH candidate generator: (query_id, neighbor_id) pairs sharing
    a (table, bucket), re-ranked by `_rerank_exact`.
    `multiprobe` expands each query bucket with its `num_planes` Hamming-1
    neighbors (query side only; the corpus side is the same bucket pass)."""
    cb, qb = (
        hyperplane_lsh_buckets(df, num_planes, dims, id_col, vec_col, num_tables)
        for df in (corpus, queries)
    )
    bucket = F.col("bucket")
    if multiprobe:
        probes = [bucket] + [
            bucket.bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)
        ]
        bucket = F.explode(F.array(*probes)).alias("bucket")
    qp = qb.select(F.col("vec_id").alias("query_id"), "table", bucket)
    cand = cb.select(
        F.col("vec_id").alias("neighbor_id"), "table", "bucket"
    ).join(F.broadcast(qp), ["table", "bucket"])
    return _rerank_exact(cand, queries, k, id_col, vec_col, corpus=corpus)


def _adc_tables(q_lists, codebooks, dims: int, m: int):
    """Shared ADC lookup-table construction for PQ and IVF-PQ scoring:
    tq[s][q, cell] = dot of the query subvector with the centroid
    (sequential over subdims — the oracle fold order), csq[s][cell] =
    centroid self-dot. Fold-order-critical arithmetic lives ONCE so
    PQ-vs-IVFPQ score parity cannot drift."""
    import numpy as np

    sd = dims // m
    tq, csq = [], []
    for s, (lo, _hi) in enumerate(pq_subspace_bounds(dims, m)):
        cents = codebooks[s]
        tab = np.zeros((len(q_lists), len(cents)))
        for qi, qv in enumerate(q_lists):
            for ci, cent in enumerate(cents):
                acc = 0.0
                for d in range(sd):
                    acc += qv[lo + d] * cent[d]
                tab[qi, ci] = acc
        tq.append(tab)
        csq.append(np.array([_seq_sq_sum(c) for c in cents]))
    return tq, csq


def _adc_sims(tq, csq, q_norms, qidx, code_arrs):
    """THE ADC kernel of PQ and IVF-PQ: rounded cosine of query `qidx`
    against the reconstruction the m code arrays name. `qidx` broadcasts
    against the codes — (1, nq) against (n, 1) codes for a dense (n, nq)
    PQ matrix, one query index per row for IVF-PQ's candidate pairs.

    Subspace terms accumulate in order, ((t0 + t1) + t2) + t3 — the
    oracle's explicit left-to-right sum. Zero-norm guard: an all-zero
    reconstruction (a zero vector's codes) pins sim at 0.0 instead of NaN
    (see _codebook_affinities)."""
    import numpy as np

    num = tq[0][qidx, code_arrs[0]]
    den_inner = csq[0][code_arrs[0]]
    for s in range(1, len(code_arrs)):
        num = num + tq[s][qidx, code_arrs[s]]
        den_inner = den_inner + csq[s][code_arrs[s]]
    rnorm = np.sqrt(den_inner)
    rnorm = np.where(rnorm == 0.0, 1.0, rnorm)
    return _round6_spark(num / (q_norms[qidx] * rnorm))


def near_dup_pairs_from_buckets(
    emb: DataFrame,
    buckets: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk_pairs: int = 1 << 21,
) -> DataFrame:
    """(vec_a, vec_b, sim): every id-ordered pair sharing a (table, bucket)
    whose exact cosine >= `threshold`, verified WITHIN the bucket.

    The verification stage of embedding near-dup (the analog of MinHash's
    jaccard_for_pairs). Earlier plan: bucket self-join -> distinct pairs ->
    two row-joins back to the vectors -> interpreted HOF cosine per pair.
    That materializes and shuffles every candidate pair THREE times (join,
    distinct, vector joins) and folds 2*dims interpreted lambda steps per
    pair — measured 15 s at sf0.1 against ~1.5 s for this form. Here each
    (table, bucket) group verifies its own pairs in one Arrow batch: the
    vectors shuffle ONCE (to their buckets — linear in corpus x tables),
    pairs above threshold are the only per-pair rows ever materialized, and
    a final distinct dedupes pairs colliding in several tables.

    Bit-exactness vs the Column/SQL form is preserved the same way as
    `hyperplane_lsh_buckets`: dots and norms accumulate sequentially over
    DIMENSIONS (vectorized across pairs), reproducing the left-to-right
    IEEE fold of zip_with/aggregate and the oracle's unrolled sum; rounding
    is `_round6_spark` (Spark's HALF_UP on the shortest-decimal value).
    A duplicate-heavy bucket at 100 TB is inherently quadratic in ITS OWN
    size for any exact-verify design; pair work here is chunked so memory
    stays bounded even for a degenerate bucket.
    """
    import numpy as np
    import pandas as pd

    id_type = emb.schema[id_col].dataType.simpleString()
    out_schema = f"vec_a {id_type}, vec_b {id_type}, sim double"
    chunk = chunk_pairs  # pairs per verification chunk (~2M -> tens of MB)

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        idd = pdf["vec_id"].dtype
        empty = pd.DataFrame(
            {
                "vec_a": pd.Series([], dtype=idd),
                "vec_b": pd.Series([], dtype=idd),
                "sim": pd.Series([], dtype="float64"),
            }
        )
        m = len(pdf)
        if m < 2:
            return empty
        pdf = pdf.sort_values("vec_id", kind="stable")
        ids = pdf["vec_id"].to_numpy()
        x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)  # (m, dims)
        dims = x.shape[1]
        sq = np.zeros(m)
        for d in range(dims):  # sequential over dims == the fold order
            xd = x[:, d]
            sq = sq + xd * xd
        norms = np.sqrt(sq)
        # zero-norm vectors pin sim 0.0, never NaN (repo-wide convention;
        # the oracle's guarded norms do the same) — a zero vector's dot is
        # 0, so dividing by the substituted 1.0 yields exactly 0.0
        norms = np.where(norms == 0.0, 1.0, norms)
        # Pair indices are generated PER CHUNK (ids sorted -> vec_a <
        # vec_b): materializing the full triangle up front
        # (np.triu_indices) allocates m(m-1)/2 int64 pairs before any
        # chunk runs — ~550 GB for a 260k-row degenerate bucket, exactly
        # the case the chunking exists to survive. Each chunk covers a
        # block of anchor rows whose combined pair count stays <= chunk
        # (or one anchor when a single row's pairs exceed it, bounding
        # memory at O(max(chunk, m))).
        outs = []
        cum = np.cumsum(m - 1 - np.arange(m - 1))  # pairs through anchor i
        anchor = 0
        while anchor < m - 1:
            base = int(cum[anchor - 1]) if anchor else 0
            end = int(np.searchsorted(cum, base + chunk)) + 1
            block = np.arange(anchor, min(max(end, anchor + 1), m - 1))
            ja = np.repeat(block, m - 1 - block)
            jb = np.concatenate([np.arange(i + 1, m) for i in block])
            anchor = int(block[-1]) + 1
            a, b = x[ja], x[jb]
            acc = np.zeros(len(ja))
            for d in range(dims):
                acc = acc + a[:, d] * b[:, d]
            sim = _round6_spark(acc / (norms[ja] * norms[jb]))
            keep = sim >= threshold
            if keep.any():
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": ids[ja[keep]],
                            "vec_b": ids[jb[keep]],
                            "sim": sim[keep],
                        }
                    )
                )
        if not outs:
            return empty
        return pd.concat(outs, ignore_index=True)

    vecs = _vectors(emb, id_col, vec_col)
    return (
        buckets.join(vecs, "vec_id")
        .groupBy("table", "bucket")
        .applyInPandas(verify, out_schema)
        .distinct()
    )


def _round6_spark(a):
    """Vectorized replica of Spark's `round(x, 6)` on DOUBLE:
    BigDecimal.valueOf(x) — the shortest decimal representation — quantized
    HALF_UP (away from zero). The fast path floor(|x|*1e6 + 0.5) computes
    the same integer except when the IEEE `*1e6` lands within ~1e-7 of a
    .5 boundary, where scaling error could cross the boundary the exact
    decimal doesn't; those few candidates re-round through Python Decimal
    (repr(float) emits the identical shortest decimal as Java's
    Double.toString, so the arithmetic is bit-for-bit Spark's)."""
    import numpy as np

    absx = np.abs(a)
    scaled = absx * 1e6
    fast = np.floor(scaled + 0.5)
    frac = scaled - np.floor(scaled)
    risky = np.abs(frac - 0.5) < 1e-7
    if risky.any():
        from decimal import ROUND_HALF_UP, Decimal

        flat_a = absx.ravel()
        flat_fast = fast.ravel()
        for i in np.where(risky.ravel())[0]:
            flat_fast[i] = float(
                Decimal(repr(float(flat_a[i])))
                .scaleb(6)
                .to_integral_value(rounding=ROUND_HALF_UP)
            )
        fast = flat_fast.reshape(a.shape)
    return np.sign(a) * fast / 1e6


def _codebook_affinities(x, cents, cnorms):
    """(n, k) rounded cosine affinities of batch `x` to the codebook —
    the SHARED exact arithmetic of `ivf_cells` and the k-means assignment.

    Accumulation is sequential over DIMENSIONS (acc += x_d * c_d), the
    identical left-to-right IEEE fold as the Column-expression form and the
    SQL oracle's list_sum — never a blocked BLAS matmul, whose different
    rounding could flip a ranking."""
    import numpy as np

    n, dims = x.shape
    dots = np.zeros((n, cents.shape[0]))
    self_dot = np.zeros(n)
    for d in range(dims):
        xd = x[:, d]
        dots = dots + xd[:, None] * cents[:, d]
        self_dot = self_dot + xd * xd
    vn = np.sqrt(self_dot)
    # Degenerate-norm guard (same as _codebook_argtop): a zero-norm vector
    # or centroid would emit NaN affinities, and NaN ranks LAST in numpy
    # lexsort but FIRST in a Spark desc() window — the same row set could
    # rank differently depending on which side pruned it, making top-k
    # output partition-dependent. Coalescing the zero norms to 1 keeps the
    # numerator-0 affinities at exactly 0.0 on every path.
    vn = np.where(vn == 0.0, 1.0, vn)
    cnorms = np.where(cnorms == 0.0, 1.0, cnorms)
    return _round6_spark(dots / (vn[:, None] * cnorms))


def _codebook_argtop(x, cents, cnorms, take: int):
    """(n, take) codebook indices of the top-`take` cells by (rounded
    cosine DESC, cell ASC) — bit-identical to ranking the full
    `_codebook_affinities` matrix, at BLAS cost.

    The full exact fold is O(n*k*dims) WITHOUT BLAS (the sequential
    per-dimension accumulation exists precisely because blocked matmul
    rounds differently), so a corpus-scaled codebook (SemDeDup's k ~ n)
    made assignment itself quadratic-ish: 10x tiling measured x17.8 on
    semantic_dedup before this. Here a float64 BLAS matmul produces
    APPROXIMATE affinities first — within ~1e-9 of the exact fold for
    unit-ish 64-dim vectors, against a 1e-6 rounding quantum — and only
    rows' candidate cells inside a 1e-5 margin of their take-th-largest
    approximate affinity are re-folded exactly (sequentially over dims,
    grouped by cell so the recompute is vectorized). Any cell outside the
    margin is > the rounding quantum below the take-th exact-rounded
    value and can never enter the exact top-take, so the shortlist always
    contains it; the final (rounded exact, cell) lexsort reproduces the
    stable argsort of the dense matrix. Only RANKING callers use this
    (cell assignment, Lloyd updates); operators that emit affinity VALUES
    keep the dense exact fold.
    """
    import numpy as np

    n, dims = x.shape
    k = cents.shape[0]
    take = min(take, k)
    # exact self-norms (cheap: n x dims) — these scale the emitted ranks'
    # implicit values, so they stay on the fold path
    sq = np.zeros(n)
    for d in range(dims):
        xd = x[:, d]
        sq = sq + xd * xd
    vn = np.sqrt(sq)
    # Degenerate-norm guard: a zero-norm vector (or centroid) would make
    # the whole affinity row NaN, np.where would then emit no shortlist
    # entries for it, and the starts-based gather below would read the
    # NEXT row's candidates (or run off the end). Coalescing the zero
    # norms to 1 keeps the numerator-0 affinities at exactly 0.0, so the
    # row ranks all cells tied at 0 and the (aff desc, cell asc) lexsort
    # deterministically assigns the lowest cell ids.
    vn_safe = np.where(vn == 0.0, 1.0, vn)
    cn_safe = np.where(cnorms == 0.0, 1.0, cnorms)

    approx = (x @ cents.T) / (vn_safe[:, None] * cn_safe)
    if take >= k:
        kth = np.full(n, -np.inf)
    else:
        kth = np.partition(approx, k - take, axis=1)[:, k - take]
    rows, cols = np.where(approx >= (kth[:, None] - 1e-5))

    exact = np.empty(len(rows))
    order = np.argsort(cols, kind="stable")
    rows, cols = rows[order], cols[order]
    bounds = np.searchsorted(cols, np.arange(k + 1))
    for c in range(k):
        lo, hi = bounds[c], bounds[c + 1]
        if lo == hi:
            continue
        xi = x[rows[lo:hi]]
        acc = np.zeros(hi - lo)
        cc = cents[c]
        for d in range(dims):
            acc = acc + xi[:, d] * cc[d]
        exact[lo:hi] = acc
    aff = _round6_spark(exact / (vn_safe[rows] * cn_safe[cols]))

    # per-row (rounded aff desc, cell asc): lexsort keys are applied
    # last-key-primary
    ordr = np.lexsort((cols, -aff, rows))
    rows_s, cols_s = rows[ordr], cols[ordr]
    starts = np.searchsorted(rows_s, np.arange(n))
    out = np.empty((n, take), dtype=np.int64)
    for t in range(take):
        out[:, t] = cols_s[starts + t]
    return out


def _collect_centroids(
    centroids: DataFrame, id_col: str, vec_col: str
) -> list:
    """THE codebook collect: one sorted driver-side (cell, centroid) row
    list, so a caller assigning BOTH corpus and queries (cosine_topk_ivf,
    cosine_topk_ivfpq) pays the collect job once instead of per call."""
    return sorted(
        centroids.select(
            F.col(id_col).alias("cell"), F.col(vec_col).alias("centroid")
        ).collect(),
        key=lambda r: r.cell,
    )


def _codebook(cent_rows: list):
    """(cells, cents, cnorms) of `_collect_centroids` rows: the cell ids,
    the float64 centroid matrix and its norms in the oracle's fold order
    (`_codebook_arrays`)."""
    import numpy as np

    cents, cnorms = _codebook_arrays([row.centroid for row in cent_rows])
    return np.array([row.cell for row in cent_rows]), cents, cnorms


def _codebook_arrays(vectors):
    """(cents, cnorms) for `_codebook_argtop`/`_codebook_affinities`:
    float64 rows and `_seq_sq_sum` norms (unguarded — the kernels guard)."""
    import numpy as np

    lists = [[float(x) for x in v] for v in vectors]
    return (
        np.array(lists, dtype=np.float64),
        np.array([math_sqrt(_seq_sq_sum(c)) for c in lists]),
    )


def _pq_codes(x, books) -> dict:
    """{code_s: int32}: each subvector's nearest cell in its PQ codebook
    (`books` = `_codebook_arrays` per subspace), ties to the lowest cell —
    the IVF assignment rule per subspace."""
    import numpy as np

    sd = books[0][0].shape[1]
    return {
        f"code_{s}": _codebook_argtop(
            x[:, s * sd : (s + 1) * sd], cents, cnorms, 1
        )[:, 0].astype(np.int32)
        for s, (cents, cnorms) in enumerate(books)
    }


def ivf_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    cent_rows: list | None = None,
) -> DataFrame:
    """(vec_id, cell, cell_rank): the `nprobe` nearest coarse cells per
    vector, ranked by cosine to the centroid set.

    The IVF coarse quantizer: corpus vectors index with nprobe=1 (their one
    home cell); queries probe several. Determinism: cosine rounded to 6
    decimals (Spark-exact HALF_UP, `_round6_spark`), centroid id breaks
    ties (stable argsort over ascending cell order).

    MAP-ONLY and Arrow-vectorized: a codebook is driver-small by definition
    (k vectors — the same object every ANN system broadcasts), so it is
    collected once and ships inside the mapInPandas closure; each batch
    ranks against it with numpy using the oracle's exact fold order
    (`_codebook_affinities`). History of this plan: broadcast crossJoin +
    row_number window (shuffled corpus x k rows — at 100 TB that shuffle IS
    the job), then packed-literal array_sort HOFs (map-only but interpreted
    — the k x dims fold per row dominated the ANN bench the same way the
    LSH folds did). Cells are then bucket-partitioned on disk so probes
    read only the matching buckets.
    """
    import numpy as np
    import pandas as pd

    if cent_rows is None:
        cent_rows = _collect_centroids(centroids, id_col, vec_col)
    cells_arr, cents, cnorms = _codebook(cent_rows)
    cell_type = centroids.schema[id_col].dataType.simpleString()
    id_type = df.schema[id_col].dataType.simpleString()
    take = min(nprobe, len(cells_arr))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            order = _codebook_argtop(x, cents, cnorms, take)
            n = x.shape[0]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), take),
                    "cell": cells_arr[order].reshape(-1),
                    "cell_rank": np.tile(
                        np.arange(1, take + 1, dtype=np.int32), n
                    ),
                }
            )

    return _vectors(df, id_col, vec_col).mapInPandas(
        assign, f"vec_id {id_type}, cell {cell_type}, cell_rank int"
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """(vec_id, dim, q, scale): symmetric per-vector int8 quantization —
    the storage/bandwidth reduction pass an embedding corpus runs before
    ANN indexing (4x smaller than float32, 8x than float64; dot products
    on int8 SIMD-accelerate downstream).

    q[d] = round(x[d] / scale * 127) with scale = max(|x|): HALF_UP
    rounding matches every engine's `round(double)`, the division and
    multiplication are single IEEE ops, so the oracle reproduces the codes
    exactly. Zero vectors quantize to all-zero codes (scale coalesces to 1
    to avoid 0/0). MAP-ONLY: one array fold for the scale + a posexplode —
    no shuffle at any corpus size. Emitted EXPLODED (one row per dimension)
    rather than as an array column so the correctness gate hashes scalar
    cells.
    """
    qmax = float(2 ** (bits - 1) - 1)
    v = F.col(vec_col)
    scale = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = F.when(scale == 0.0, F.lit(1.0)).otherwise(scale)
    src = df.select(
        F.col(id_col).alias("vec_id"), v.alias("__v"), scale.alias("scale")
    )
    return src.select(
        "vec_id",
        F.posexplode(F.col("__v")),
        "scale",
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("col").cast("double") / F.col("scale") * qmax)
        .cast("int")
        .alias("q"),
        F.round(F.col("scale"), 6).alias("scale"),
    )


def int8_code_vectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """(vec_id, q: array<bigint>): the int8 code VECTOR of every embedding
    — `quantize_embeddings`' exact arithmetic (scale = max|x| coalesced to
    1, q = round(x / scale * qmax) HALF_UP) kept in array form for scoring
    instead of exploded for storage. JVM-side Column algebra end to end:
    the codes whole-stage-codegen out of the scan with zero shuffle and
    zero Python at any corpus size.
    """
    qmax = float(2 ** (bits - 1) - 1)
    v = F.col(vec_col)
    scale = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = F.when(scale == 0.0, F.lit(1.0)).otherwise(scale)
    src = df.select(
        F.col(id_col).alias("vec_id"), v.alias("__v"), scale.alias("__s")
    )
    return src.select(
        "vec_id",
        F.transform(
            F.col("__v"),
            lambda x: F.round(x.cast("double") / F.col("__s") * qmax).cast(
                "bigint"
            ),
        ).alias("q"),
    )


def _round_half_away_np(v):
    """Vectorized round-half-away-from-zero on exact binary values.

    numpy has no half-away round (np.rint is banker's), and the naive
    floor(v + 0.5) overcounts for the double just below 0.5 (v + 0.5
    rounds UP to 1.0 in IEEE): the guard subtracts 1 wherever
    floor(|v| + 0.5) - |v| > 0.5, which reproduces round-half-away on the
    exact binary value — the same result as DuckDB's C round() and
    Spark's shortest-repr BigDecimal HALF_UP (shortest-repr comparisons
    against .5 agree with exact-binary ones except at exact ties, where
    all agree). Every Arrow-side quantization MUST use this so it hashes
    identically to the F.round/SQL-round oracles."""
    import numpy as np

    av = np.abs(v)
    r = np.floor(av + 0.5)
    r = np.where(r - av > 0.5, r - 1.0, r)
    return (np.sign(v) * r).astype(np.int64)


def _int8_codes_np(x, bits: int = 8):
    """Vectorized int8 quantization with EXACTLY the engines' HALF_UP
    rounding: q = round(x / scale * qmax), scale = max|x| (1 if zero).
    Verified against the JVM `int8_code_vectors` path in tests.
    """
    import numpy as np

    scale = np.abs(x).max(axis=1)
    scale[scale == 0.0] = 1.0
    qmax = float(2 ** (bits - 1) - 1)
    return _round_half_away_np((x / scale[:, None]) * qmax)


def cosine_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Exact top-k cosine over int8-QUANTIZED vectors — the memory-
    bandwidth-bound scoring path a billion-scale serving tier runs when
    the corpus must fit in RAM (8x smaller than float64; int8 dot products
    SIMD-accelerate 4-16x on every ISA).

    (query_id, neighbor_id, sim, rank) where sim is the cosine of the CODE
    vectors: the per-vector scales cancel in cosine, so the whole score is
    an INTEGER dot over ±127 codes divided by two integer-sum norms —
    exact in any accumulation order on any engine (the one arithmetic in
    this module where no fold-order discipline is needed), with a single
    rounded division at the end. Same per-batch local top-k prune as
    `cosine_topk`: kilobytes reach the final window regardless of corpus
    size.

    Quantization happens INSIDE the Arrow scorer (`_int8_codes_np`), not
    as a JVM Column transform: higher-order array functions evaluate
    interpreted per element, and the 64-element round/divide lambda was
    the whole runtime at 10x tiling (8.4 of 8.7 s). Scoring is a float64
    BLAS matmul that is still EXACT — codes are +-127, so every product
    and partial sum stays far below 2^53, and integer-valued doubles add
    exactly in any order (numpy's int64 matmul has no BLAS path).
    """
    import numpy as np

    q_ids, q_arr, _, _ = _query_set(queries, id_col, vec_col, "cosine_topk_int8")
    q_codes = _int8_codes_np(q_arr, bits)
    q_norms = np.sqrt((q_codes * q_codes).sum(axis=1).astype(np.float64))
    q_norms = np.where(q_norms == 0.0, 1.0, q_norms)  # zero-norm guard
    q_codes_f = q_codes.astype(np.float64)

    def sims_of(pdf):
        raw = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        x = _int8_codes_np(raw, bits)
        dots = x.astype(np.float64) @ q_codes_f.T
        x_norms = np.sqrt((x * x).sum(axis=1).astype(np.float64))
        # zero-norm guard (see _codebook_affinities): numerator is 0
        # anyway, and NaN would rank partition-dependently
        x_norms = np.where(x_norms == 0.0, 1.0, x_norms)
        return _round6_spark(dots / (q_norms[None, :] * x_norms[:, None]))

    return _local_topk(_vectors(corpus, id_col, vec_col), sims_of, q_ids, k)


#: Driver-path cap for Lloyd training (the duplicate_clusters / BPE dual-path
#: pattern): a training frame with at most this many rows is collected ONCE
#: (Arrow) and every merge round runs in-process with bit-identical
#: arithmetic — the same numpy kernels as the distributed partials
#: (`_codebook_argtop` assignment is a pure per-row function, so batching
#: cannot change it; the integer-micro sums are associative, so one
#: whole-matrix `np.add.at` equals any per-task partial order). Above the
#: cap the per-iteration distributed loop takes over unchanged. 250k rows of
#: 64 float64 dims is ~128 MB — driver-trivial; a 100 TB corpus falls back.
DRIVER_TRAIN_MAX_ROWS = 250_000


def _driver_train_probe(df: DataFrame, id_col: str, vec_col: str):
    """Collect the training frame when it fits `DRIVER_TRAIN_MAX_ROWS`.

    Returns (ids list, x float64 matrix) or None when the frame is larger
    than the cap (distributed fallback) or the id type's string rendering
    is not provably identical between Python and Spark's CAST(.. AS STRING)
    (the seed order hashes that rendering).
    """
    import numpy as np
    from pyspark.sql import types as T

    if not isinstance(
        df.schema[id_col].dataType,
        (T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.StringType),
    ):
        return None
    # Cardinality gate BEFORE shipping vectors (r12 ADVICE): the over-cap
    # case — i.e. every at-scale call — previously Arrow-collected 250k+1
    # full rows (ids + embeddings, ~128 MB at 64 dims) just to decide to
    # fall back. An id-only limit+count is a column-pruned scan that moves
    # a few MB at most, so the big collect only ever happens when the
    # driver path will actually be taken.
    n = df.select(F.col(id_col).alias("id")).limit(
        DRIVER_TRAIN_MAX_ROWS + 1
    ).count()
    if n > DRIVER_TRAIN_MAX_ROWS:
        return None
    probe = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .limit(DRIVER_TRAIN_MAX_ROWS + 1)
        .toPandas()
    )
    if len(probe) > DRIVER_TRAIN_MAX_ROWS:
        return None
    if len(probe) == 0:
        return [], None
    # NULL ids break the bit-equality contract (r12 ADVICE, medium): a
    # nullable Long/Int id column with any NULL comes back from toPandas()
    # as float64 (str(id) renders '5.0' while Spark CASTs to '5'), and a
    # None in a string id raises in the (md5, id) tiebreak sort — either
    # way the driver seed order would silently diverge from the
    # distributed orderBy(md5(cast(id as string)), id). Fall back.
    if probe["id"].isna().any():
        return None
    ids = probe["id"].tolist()
    x = np.stack(probe["v"].to_numpy()).astype(np.float64)
    return ids, x


def _driver_seed_order(ids: list) -> list[int]:
    """Row indices in (md5(str(id)), id) order — the distributed seed rule
    `orderBy(md5(cast(id as string)), id)` replayed locally: md5 hex is
    lowercase ASCII on both sides, so Python string order == Spark's UTF8
    binary order, and the id tiebreak compares the same values."""
    import hashlib

    return sorted(
        range(len(ids)),
        key=lambda i: (
            hashlib.md5(str(ids[i]).encode()).hexdigest(),
            ids[i],
        ),
    )


def _lloyd_update(cents: list, counts, totals) -> list:
    """One Lloyd update of integer-micro centroids, shared by the driver
    and distributed trainers: floor(sum * 1.0 / count) evaluated in IEEE
    double (sums stay far below 2^53, so the division is exact
    cross-engine); empty cells keep their previous centroid. Iterates
    `cents`: `counts`/`totals` may be padded to k past fewer seeds."""
    import math

    return [
        [int(math.floor(int(t) * 1.0 / int(counts[j]))) for t in totals[j]]
        if counts[j] > 0
        else list(c)
        for j, c in enumerate(cents)
    ]


def train_ivf_centroids(
    df: DataFrame,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Deterministic k-means codebook for the IVF coarse quantizer.

    Lloyd iterations with every source of nondeterminism removed, so the
    same data yields bit-identical centroids on any run, partitioning, or
    engine (a DuckDB oracle reproduces it exactly):

    * init — the k vectors with smallest (md5(id), id): the engine's
      deterministic id-hash sampler (operators/curation.py uses the same
      trick), standing in for random seeding; cell = rank in that order.
    * assign — cosine affinity to each centroid rounded to 6 decimals
      (Spark-exact, `_round6_spark`), ties to the lowest cell. Map-only and
      Arrow-vectorized: the codebook ships in the mapInPandas closure and
      each batch assigns + partially aggregates in numpy with the oracle's
      exact fold order (`_codebook_affinities`) — no shuffle or window
      touches the corpus, and the per-task partials (k rows each) reduce
      driver-side.
    * update — per-dimension sums of floor(value * 1e6) as LONGS: integer
      addition is associative, so partial aggregation order cannot change
      the result. New centroid micro = floor(sum * 1.0 / count) evaluated
      in IEEE double (sums stay far below 2^53, so the division is exact
      cross-engine). Empty cells keep their previous centroid.
    * stop — early exit when the integer micro-vectors stop changing
      (assignment is a pure function of centroids, so once they repeat the
      remaining iterations are no-ops and early exit preserves equality
      with a fixed-iteration oracle).

    Per iteration: one map-only assignment-and-partial-sum pass whose
    output is k rows PER TASK, reduced on the driver (tasks x k x dims
    longs — megabytes at thousand-executor scale). At 100 TB that is the
    minimum possible data movement for Lloyd's algorithm; k-means|| style
    oversampling would only change the init, which is already O(k) here.

    Returns (id_col int cell, vec_col array<double>) — feed directly to
    `cosine_topk_ivf`. Reference analogue: none (the reference has no ANN);
    this backs the training-data-pipeline ANN path (SURVEY §2 additions).
    """
    import math

    import numpy as np

    spark = df.sparkSession

    # Driver path (normal case): ONE Arrow collect replaces the seeds job
    # plus `iters` (mapInPandas + toPandas) round-trips — the per-query win
    # is pure coordination latency; the arithmetic below is the identical
    # numpy code the distributed partials run, so results are bit-equal.
    probe = _driver_train_probe(df, id_col, vec_col)
    if probe is not None:
        ids, xm = probe
        if xm is None:  # empty frame
            if dims is None:
                raise ValueError("cannot train centroids on an empty frame")
            return spark.createDataFrame(
                [], schema=f"{id_col} int, {vec_col} array<double>"
            )
        if dims is None:
            dims = xm.shape[1]
        seed_idx = _driver_seed_order(ids)[:k]
        cents = [
            [int(math.floor(float(v) * 1e6)) for v in xm[i]] for i in seed_idx
        ]
        k = len(cents)
        micro = np.floor(xm * 1e6).astype(np.int64)
        for _ in range(iters):
            c_arr, c_norms = _codebook_arrays(
                [[m / 1e6 for m in cm] for cm in cents]
            )
            cell = _codebook_argtop(xm, c_arr, c_norms, 1)[:, 0]
            counts = np.bincount(cell, minlength=k).astype(np.int64)
            totals = np.zeros((k, dims), dtype=np.int64)
            np.add.at(totals, cell, micro)
            new_cents = _lloyd_update(cents, counts, totals)
            if new_cents == cents:
                break
            cents = new_cents
        return spark.createDataFrame(
            [(j, [m / 1e6 for m in cm]) for j, cm in enumerate(cents)],
            schema=f"{id_col} int, {vec_col} array<double>",
        )

    if dims is None:
        first = df.select(vec_col).first()
        if first is None:
            raise ValueError("cannot train centroids on an empty frame")
        dims = len(first[0])

    seeds = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(k)
        .collect()
    )
    # centroids as exact integer micros (the canonical representation)
    cents: list[list[int]] = [
        [int(math.floor(float(x) * 1e6)) for x in row.v] for row in seeds
    ]

    # Lloyd re-reads the corpus every iteration: persist the projected
    # training frame once instead of re-scanning per iteration — the
    # standard Spark iterative-ML pattern (MLlib's KMeans does the same).
    # MEMORY_AND_DISK spills gracefully when the corpus outgrows executor
    # memory.
    import numpy as np
    import pandas as pd
    from pyspark import StorageLevel

    src = df.select(F.col(vec_col).alias("v")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    k = len(cents)
    for _ in range(iters):
        c_arr, c_norms = _codebook_arrays(
            [[m / 1e6 for m in cm] for cm in cents]
        )

        def partials(batches, c_arr=c_arr, c_norms=c_norms):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                cell = _codebook_argtop(x, c_arr, c_norms, 1)[:, 0]
                cnt = np.bincount(cell, minlength=k).astype(np.int64)
                micro = np.floor(x * 1e6).astype(np.int64)  # (n, dims)
                sums = np.zeros((k, micro.shape[1]), dtype=np.int64)
                np.add.at(sums, cell, micro)
                yield pd.DataFrame(
                    {
                        "cell": np.arange(k, dtype=np.int32),
                        "cnt": cnt,
                        "sums": list(sums),
                    }
                )

        stats = src.mapInPandas(
            partials, "cell int, cnt long, sums array<long>"
        ).toPandas()
        counts = np.zeros(k, dtype=np.int64)
        totals = np.zeros((k, dims), dtype=np.int64)
        for _i, row in stats.iterrows():
            counts[row["cell"]] += row["cnt"]
            totals[row["cell"]] += np.asarray(row["sums"], dtype=np.int64)
        new_cents = _lloyd_update(cents, counts, totals)
        if new_cents == cents:
            break
        cents = new_cents
    src.unpersist()

    return spark.createDataFrame(
        [(j, [m / 1e6 for m in cm]) for j, cm in enumerate(cents)],
        schema=f"{id_col} int, {vec_col} array<double>",
    )


def pq_subspace_bounds(dims: int, m: int) -> list[tuple[int, int]]:
    """[(lo, hi)) 0-based dim ranges of the `m` equal PQ subspaces."""
    if dims % m != 0:
        raise ValueError("dims must divide evenly into m subspaces")
    sd = dims // m
    return [(s * sd, (s + 1) * sd) for s in range(m)]


def train_pq_codebooks(
    df: DataFrame,
    m: int = 4,
    codebook_k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> list[list[list[float]]]:
    """Per-subspace spherical k-means codebooks for product quantization.

    Each of the `m` dim-slices trains its own `codebook_k`-centroid
    codebook with the SAME deterministic Lloyd arithmetic as the IVF
    coarse quantizer (`train_ivf_centroids` — md5-seeded init, 6-decimal
    cosine assignment with lowest-cell ties, integer-micro updates, empty
    cells carrying over), so the codebooks are bit-reproducible on any
    engine and an oracle replaying each subspace independently matches.
    Spherical (cosine) subquantizers instead of the classical L2 PQ
    because the downstream metric IS cosine.

    FUSED training: all m subspaces assign and partially aggregate in ONE
    Arrow pass per Lloyd iteration (m x k partial rows per task, reduced
    driver-side) instead of m separate k-means runs — `iters` corpus scans
    total rather than m x iters. Equality with the per-subspace runs is
    exact: each subspace's update is a pure function of its own centroids,
    and a subspace that has converged sits at a fixpoint, so fused
    iterations reproduce the unfused sequence bit for bit. At 100 TB the
    scan cost IS the training cost, so the fusion is the difference
    between 2 and 8 passes at the default geometry.

    Returns plain nested lists (m x k x subdims doubles) — codebooks are
    driver-small by definition and ship inside operator closures.
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark import StorageLevel

    bounds = pq_subspace_bounds(dims, m)
    sd = dims // m
    k = codebook_k

    # Driver path (normal case) — same dual-path rule and bit-equality
    # argument as train_ivf_centroids, run per subspace slice: one Arrow
    # collect instead of the seeds job + `iters` distributed passes.
    probe = _driver_train_probe(df, id_col, vec_col)
    if probe is not None:
        ids, xm = probe
        if xm is None:
            raise ValueError("cannot train PQ codebooks on an empty frame")
        seed_idx = _driver_seed_order(ids)[:k]
        cents = [
            [
                [int(math.floor(float(xm[i, lo + d]) * 1e6)) for d in range(sd)]
                for i in seed_idx
            ]
            for lo, _hi in bounds
        ]
        micros = [
            np.floor(xm[:, lo:hi] * 1e6).astype(np.int64) for lo, hi in bounds
        ]
        for _ in range(iters):
            changed = False
            for s, (lo, hi) in enumerate(bounds):
                c_arr, c_norms = _codebook_arrays(
                    [[mc / 1e6 for mc in cm] for cm in cents[s]]
                )
                xs = xm[:, lo:hi]
                cell = _codebook_argtop(xs, c_arr, c_norms, 1)[:, 0]
                counts = np.bincount(cell, minlength=k).astype(np.int64)
                totals = np.zeros((k, sd), dtype=np.int64)
                np.add.at(totals, cell, micros[s])
                new = _lloyd_update(cents[s], counts, totals)
                changed |= new != cents[s]
                cents[s] = new
            if not changed:
                break
        return [
            [[mc / 1e6 for mc in cm] for cm in cents[s]] for s in range(m)
        ]

    seeds = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError("cannot train PQ codebooks on an empty frame")
    # per-subspace centroids as exact integer micros (canonical form)
    cents: list[list[list[int]]] = [
        [
            [int(math.floor(float(row.v[lo + d]) * 1e6)) for d in range(sd)]
            for row in seeds
        ]
        for lo, _hi in bounds
    ]

    src = df.select(F.col(vec_col).alias("v")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    for _ in range(iters):
        books = [
            _codebook_arrays([[mc / 1e6 for mc in cm] for cm in cents[s]])
            for s in range(m)
        ]

        def partials(batches, books=books):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.stack(pdf["v"].to_numpy()).astype(np.float64)
                frames = []
                for s, (lo, hi) in enumerate(bounds):
                    xs = x[:, lo:hi]
                    cell = _codebook_argtop(xs, *books[s], 1)[:, 0]
                    cnt = np.bincount(cell, minlength=k).astype(np.int64)
                    micro = np.floor(xs * 1e6).astype(np.int64)
                    sums = np.zeros((k, sd), dtype=np.int64)
                    np.add.at(sums, cell, micro)
                    frames.append(
                        pd.DataFrame(
                            {
                                "sub": np.full(k, s, dtype=np.int32),
                                "cell": np.arange(k, dtype=np.int32),
                                "cnt": cnt,
                                "sums": list(sums),
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True)

        stats = src.mapInPandas(
            partials, "sub int, cell int, cnt long, sums array<long>"
        ).toPandas()
        counts = np.zeros((m, k), dtype=np.int64)
        totals = np.zeros((m, k, sd), dtype=np.int64)
        for _i, row in stats.iterrows():
            counts[row["sub"], row["cell"]] += row["cnt"]
            totals[row["sub"], row["cell"]] += np.asarray(
                row["sums"], dtype=np.int64
            )
        changed = False
        for s in range(m):
            new = _lloyd_update(cents[s], counts[s], totals[s])
            changed |= new != cents[s]
            cents[s] = new
        if not changed:
            break
    src.unpersist()

    return [
        [[micro / 1e6 for micro in cm] for cm in cents[s]] for s in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, code_0..code_{m-1}): the PQ code of every vector — each
    subvector's nearest codebook centroid by 6-decimal rounded cosine
    (ties to the lowest cell, the IVF assignment rule per subspace).

    MAP-ONLY: the m codebooks ride in the closure; one Arrow pass encodes
    the corpus to m small ints per vector (64 floats -> 4 bytes at the
    default geometry) with zero shuffle at any corpus size.
    """
    import numpy as np
    import pandas as pd

    books = [_codebook_arrays(cb) for cb in codebooks]
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"vec_id {id_type}, " + ", ".join(
        f"code_{s} int" for s in range(len(codebooks))
    )

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            cols = {"vec_id": pdf["vec_id"].to_numpy()}
            cols.update(_pq_codes(x, books))
            yield pd.DataFrame(cols)

    return _vectors(df, id_col, vec_col).mapInPandas(encode, out_schema)


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    codebook_k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation (ADC):
    train m spherical subquantizers, encode the corpus to m-byte codes,
    score sim(q, x) ~ cosine(q, reconstruction(x)) from per-subspace lookup
    tables — never touching the raw corpus vectors at query time.

    (query_id, neighbor_id, sim, rank); self-matches excluded; sim is the
    rounded ADC approximation, deterministic via the shared exact-fold
    arithmetic: per-subspace dots fold sequentially over dims, subspace
    terms accumulate left-to-right, rounding is `_round6_spark`.

    The 100 TB shape: codes are 16x smaller than float32 vectors (4 x 1B
    codes vs 64 x 4B floats), scoring is a map-only gather over two small
    tables per query, and — like `cosine_topk` — each batch prunes to its
    local top-k so the final window ranks tasks x queries x k rows.
    """
    import numpy as np

    codebooks = train_pq_codebooks(
        corpus, m, codebook_k, iters, id_col, vec_col, dims
    )
    codes = pq_encode(corpus, codebooks, id_col, vec_col)

    q_ids, q_arr, q_norms, _ = _query_set(
        queries, id_col, vec_col, "cosine_topk_pq"
    )
    # per-subspace ADC tables (shared with cosine_topk_ivfpq): the
    # reconstruction-dot / reconstruction-norm pieces in oracle fold order
    tq, csq = _adc_tables(q_arr.tolist(), codebooks, dims, m)
    qidx = np.arange(len(q_ids))[None, :]
    code_cols = [f"code_{s}" for s in range(m)]

    def sims_of(pdf):
        codes_n = [pdf[c].to_numpy()[:, None] for c in code_cols]
        return _adc_sims(tq, csq, q_norms, qidx, codes_n)  # (n, nq)

    return _local_topk(codes, sims_of, q_ids, k)


def _seq_sq_sum(xs: list[float]) -> float:
    """Left-to-right sum of squares — the same IEEE fold order as the SQL
    list_sum the oracle uses, so the literal centroid norm matches it."""
    acc = 0.0
    for x in xs:
        acc += x * x
    return acc


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: coarse-quantize the corpus (one cell per
    vector), probe the query's `nprobe` nearest cells, exact cosine re-rank
    inside the probed cells. The complement of the LSH path: recall comes
    from probing more cells instead of more hash tables."""
    cent_rows = _collect_centroids(centroids, id_col, vec_col)
    corpus_cells = ivf_cells(
        corpus, centroids, id_col, vec_col, nprobe=1, cent_rows=cent_rows
    ).select(F.col("vec_id").alias("neighbor_id"), "cell")
    query_cells = ivf_cells(
        queries, centroids, id_col, vec_col, nprobe=nprobe, cent_rows=cent_rows
    ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = corpus_cells.join(F.broadcast(query_cells), "cell")
    return _rerank_exact(cand, queries, k, id_col, vec_col, corpus=corpus)


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    m: int = 4,
    codebook_k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
) -> DataFrame:
    """IVF-PQ composite ANN — the canonical billion-scale index shape
    (coarse inverted file for candidate pruning, product-quantized codes
    for compressed scoring): corpus vectors index to ONE home cell, queries
    probe `nprobe` cells, and only the probed cells' m-byte PQ codes are
    ADC-scored — raw vectors are never touched at query time AND most of
    the corpus is never scored at all.

    (query_id, neighbor_id, sim, rank); sim is the rounded ADC cosine with
    the shared exact fold (subspace terms accumulate left-to-right,
    `_round6_spark`), identical to `cosine_topk_pq`'s scoring, so the SQL
    oracle replays training + encoding + probing + ADC bit-for-bit.

    The 100 TB shape: the corpus-side index row (home cell + m-byte PQ
    code) is produced by ONE fused Arrow pass — both are per-row functions
    of the embedding, so deriving them as separate frames and joining on
    vec_id (the pre-round-6 plan) paid a full corpus shuffle for a join
    whose two sides were the same scan. Candidate generation is then a
    broadcast join of the query probe cells against that map-only indexed
    frame; each (query, neighbor) pair meets in the neighbor's single home
    cell, so no distinct is needed; the ranking window sees only
    probed-cell candidates.
    """
    import numpy as np
    import pandas as pd

    codebooks = train_pq_codebooks(
        corpus, m, codebook_k, iters, id_col, vec_col, dims
    )

    # fused encode + home-cell assignment: one Arrow pass, zero shuffle
    cent_rows = _collect_centroids(centroids, id_col, vec_col)
    coarse_cells, coarse, coarse_norms = _codebook(cent_rows)
    books = [_codebook_arrays(cb) for cb in codebooks]
    id_type_in = corpus.schema[id_col].dataType.simpleString()
    cell_type = centroids.schema[id_col].dataType.simpleString()
    code_cols = [f"code_{s}" for s in range(m)]
    index_schema = f"vec_id {id_type_in}, cell {cell_type}, " + ", ".join(
        f"{c} int" for c in code_cols
    )

    def index_rows(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            home = _codebook_argtop(x, coarse, coarse_norms, 1)[:, 0]
            cols = {
                "vec_id": pdf["vec_id"].to_numpy(),
                "cell": coarse_cells[home],
            }
            cols.update(_pq_codes(x, books))
            yield pd.DataFrame(cols)

    indexed = _vectors(corpus, id_col, vec_col).mapInPandas(
        index_rows, index_schema
    )

    query_cells = ivf_cells(
        queries, centroids, id_col, vec_col, nprobe=nprobe, cent_rows=cent_rows
    ).select(F.col("vec_id").alias("query_id"), "cell")
    cand = indexed.join(F.broadcast(query_cells), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )

    q_ids, q_arr, q_norms, _ = _query_set(
        queries, id_col, vec_col, "cosine_topk_ivfpq"
    )
    tq, csq = _adc_tables(q_arr.tolist(), codebooks, dims, m)  # shared with PQ

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qidx = np.searchsorted(q_ids, pdf["query_id"].to_numpy())
            code_arrs = [pdf[c].to_numpy() for c in code_cols]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["vec_id"].to_numpy(),
                    "sim": _adc_sims(tq, csq, q_norms, qidx, code_arrs),
                }
            )

    sims = cand.select("query_id", "vec_id", *code_cols).mapInPandas(
        score, _pair_schema(corpus, id_col)
    )
    return _rank_topk(sims, k)


def exact_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine re-ranking of an approximate candidate shortlist —
    the REFINEMENT step every production IVF-PQ deployment runs: the
    compressed index proposes `refine x k` candidates cheaply (ADC over
    4-byte codes), then ONLY those candidates' raw vectors are read and
    scored exactly, and the top-k comes from the exact scores. Recovers
    most of the recall the code quantization loses while still never
    scanning raw vectors for the untouched corpus.

    Plan shape at 100 TB: `shortlist` is (queries x refine*k) rows —
    kilobytes — so it BROADCASTS into a semi-join-shaped inner join that
    prunes the corpus scan to candidate rows only; scoring is the same
    map-only Arrow closure as `cosine_topk` (the oracle's exact
    sequential-over-dimensions fold), and the final window ranks a
    shortlist-sized frame. One corpus scan, no corpus shuffle.

    (query_id, neighbor_id, sim, rank) with exact sims, rank <= k.
    """
    import numpy as np
    import pandas as pd

    q_ids, q_arr, q_norms, _ = _query_set(
        queries, id_col, vec_col, "exact_rerank"
    )
    q_index = {qid: i for i, qid in enumerate(q_ids.tolist())}

    cand = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__v")
        )
        .join(
            F.broadcast(shortlist.select("query_id", "neighbor_id")),
            "neighbor_id",
        )
        # self-matches excluded like every top-k operator here (the IVF-PQ
        # shortlist never proposes them, but a caller-built one might)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            # group batch rows by their OWN query and fold only against
            # that query (the _codebook_argtop grouped-recompute trick):
            # a dense (n, nq) affinity matrix would spend nq x the FLOPs
            # and keep one column per row. Each slice is the same exact
            # fold (`_codebook_affinities` against one query), so the
            # scores are bit-equal to the dense form.
            qidx = pdf["query_id"].map(q_index).to_numpy()
            sims = np.empty(len(pdf))
            order = np.argsort(qidx, kind="stable")
            bounds = np.searchsorted(qidx[order], np.arange(len(q_arr) + 1))
            for j in range(len(q_arr)):
                rows_j = order[bounds[j] : bounds[j + 1]]
                if len(rows_j):
                    sims[rows_j] = _codebook_affinities(
                        x[rows_j], q_arr[j : j + 1], q_norms[j : j + 1]
                    )[:, 0]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "sim": sims,
                }
            )

    return _rank_topk(cand.mapInPandas(score, _pair_schema(corpus, id_col)), k)


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell, n_dups, kept): SemDeDup-style semantic deduplication
    (Abbas et al. 2023) — cluster the embedding space with the deterministic
    k-means codebook, verify exact cosine ONLY within each cluster, and
    greedily keep one representative per duplicate relation (a vector is
    dropped when it has an above-threshold neighbor with a smaller id in
    its cell; the paper's keep-farthest-from-centroid rule is swapped for
    the id rule so the result is a pure function of the data — no
    tie-ordering ambiguity across engines). `n_dups` counts a vector's
    above-threshold same-cell neighbors in either direction.

    Scale shape — this is the whole point of SemDeDup over all-pairs
    near-dup: with k chosen ~ n / target_cell_size the per-cell population
    is CONSTANT, so the quadratic exact-verify work is (n/k choose 2) * k
    = O(n * cell_size) — linear in the corpus at fixed cell size — while
    plain LSH near-dup has no such occupancy guarantee under semantic
    clustering drift. The plan is: one map-only home-cell assignment
    (`ivf_cells`, codebook in the closure), ONE shuffle of the corpus to
    its cells, per-cell Arrow pairwise verification emitting only
    above-threshold pairs (`near_dup_pairs_from_buckets`), and a single
    explode+groupBy over those pairs (pair-set-sized, not corpus-sized) to
    derive per-vector dup counts and the keep flag. Training the codebook
    is `train_ivf_centroids` (bounded Lloyd partials).

    Reference analogue: none (the reference has no embedding ops); this
    backs the training-data-pipeline curation path (SURVEY §2 additions).
    """
    cells = ivf_cells(
        emb, centroids, id_col=id_col, vec_col=vec_col, nprobe=1
    ).select("vec_id", "cell")
    buckets = cells.select(
        F.lit(0).alias("table"), F.col("cell").alias("bucket"), "vec_id"
    )
    pairs = near_dup_pairs_from_buckets(
        emb, buckets, threshold, id_col=id_col, vec_col=vec_col
    )
    # one scan of the pair set: each pair contributes a neighbor count to
    # both sides and a "dropped" vote to the larger id (vec_a < vec_b by
    # construction in the verifier)
    sides = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_a").alias("vec_id"), F.lit(0).alias("d")
                ),
                F.struct(
                    F.col("vec_b").alias("vec_id"), F.lit(1).alias("d")
                ),
            )
        ).alias("e")
    ).select("e.vec_id", "e.d")
    agg = sides.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        F.max("d").alias("__dropped"),
    )
    return (
        cells.join(agg, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
            (F.coalesce("__dropped", F.lit(0)) == 0).cast("int").alias("kept"),
        )
    )


def label_centroid_similarity(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """(label_a, label_b, cos): pairwise cosine between per-label SUM
    vectors — the class-separation / source-drift audit (cosine is
    scale-invariant, so the sum IS the centroid direction and no division
    by group count ever happens).

    Exactness discipline: each element quantizes to an exact integer
    (round(x * scale), the milli analog of the cents trick) and the
    per-label per-dimension sums are BIGINT (order-free, associativity-
    proof). The dot/norm folds over the 64-dim sum vectors run in DOUBLE
    over the pos-SORTED array — a sequential left fold, so the order is
    fixed by the array, not by distributed-agg arrival, and the products
    (s_i^2 ~ dims * (scale*n)^2) can no longer silently wrap int64 the
    way a BIGINT square would at a few million rows per label (r7 ADVICE).
    While |s_i^2| < 2^53 the double terms are exact integers and the fold
    equals the old BIGINT math bit-for-bit; beyond that it degrades to
    IEEE rounding instead of wrapping.

    Plan shape: one corpus-sized posexplode feeding a map-side-combined
    groupBy(label, dim) — the ONLY corpus-scan stage; everything after
    runs on |labels| rows (kilobytes), where the pair join broadcasts
    trivially.
    """
    q = F.round(F.col("val").cast("double") * scale, 0).cast("long")
    sums = (
        df.select(
            F.col(label_col).alias("label"),
            F.posexplode(vec_col).alias("pos", "val"),
        )
        .select("label", "pos", q.alias("q"))
        .groupBy("label", "pos")
        .agg(F.sum("q").alias("s"))
    )
    vecs = sums.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda e: e.getField("s").cast("double"),
        ).alias("sv")
    )
    n2 = F.aggregate(
        F.transform(F.col("sv"), lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norms = vecs.select("label", "sv", n2.alias("n2"))
    norms = norms.localCheckpoint(eager=False)  # tiny; feeds both sides
    a = norms.select(
        F.col("label").alias("label_a"),
        F.col("sv").alias("__sa"),
        F.col("n2").alias("__na2"),
    )
    b = norms.select(
        F.col("label").alias("label_b"),
        F.col("sv").alias("__sb"),
        F.col("n2").alias("__nb2"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # zero-norm guard (same as centroid_outlier_scores): a label whose sum
    # vector is all zeros would emit NaN cos for every pair it touches;
    # the numerator is 0 there, so coalescing the norms to 1 pins cos at
    # exactly 0.0
    na = F.when(F.col("__na2") == 0.0, F.lit(1.0)).otherwise(
        F.sqrt(F.col("__na2"))
    )
    nb = F.when(F.col("__nb2") == 0.0, F.lit(1.0)).otherwise(
        F.sqrt(F.col("__nb2"))
    )
    cos = F.round(dot / (na * nb), 6)
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", cos.alias("cos"))
    )


def centroid_outlier_scores(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tau: float = 0.0,
    scale: int = 1000,
) -> DataFrame:
    """(vec_id, centroid_cos, is_outlier): per-vector cosine to the global
    corpus centroid — the standard embedding-space outlier screen a
    curation pipeline runs before semantic dedup (vectors pointing away
    from the corpus bulk are mislabeled/garbage candidates).

    Exactness discipline = `label_centroid_similarity`: elements quantize
    to exact integers (round(x*scale)) and the per-dimension corpus sums
    are BIGINT (order-free, so the centroid is associativity-proof). The
    per-vector side (nq2) stays exact BIGINT — it is bounded by
    dims*(4*scale)^2 regardless of corpus size — but the folds touching
    the SUM vector (dot, ns2) run in DOUBLE over the pos-sorted array:
    ns2 ~ dims*(scale*n)^2 wraps int64 at a few million rows (r7 ADVICE),
    while the double fold is bit-identical to the integer math as long as
    every term stays below 2^53 and degrades to IEEE rounding (not
    wraparound) beyond. The fold is sequential over the array, so it is
    deterministic at any scale. Cosine is scale-invariant, so the SUM
    vector serves as the centroid direction and no division by corpus
    count happens anywhere.

    Plan shape: one corpus-sized posexplode into a map-side-combined
    groupBy(pos) (dims rows out), re-aggregated to a single array row that
    CROSS-JOIN BROADCASTS back onto the corpus scan — a 1-row scalar
    frame, the one shape where a nested-loop join is free. The per-vector
    score is then a map-only zip_with/aggregate fold. Two passes over the
    corpus, zero data-sized shuffles at any scale.

    `is_outlier` compares the ROUNDED cosine strictly below `tau`, so the
    flag is deterministic wherever the rounded value is.
    """
    q = F.round(F.col("val").cast("double") * scale, 0).cast("long")
    qvec = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale, 0).cast("long"),
    )
    sums = (
        df.select(F.posexplode(vec_col).alias("pos", "val"))
        .select("pos", q.alias("q"))
        .groupBy("pos")
        .agg(F.sum("q").alias("s"))
    )
    svec = sums.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda e: e.getField("s"),
        ).alias("sv")
    )
    zipped = F.zip_with(
        F.col("__q"),
        F.col("sv"),
        lambda a, b: a.cast("double") * b.cast("double"),
    )
    dot = F.aggregate(zipped, F.lit(0.0), lambda acc, x: acc + x)
    nq2 = F.aggregate(
        F.transform(F.col("__q"), lambda a: a * a),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    ns2 = F.aggregate(
        F.transform(
            F.col("sv"), lambda a: a.cast("double") * a.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.when(
        (F.col("__nq2") == 0) | (F.col("__ns2") == 0.0), F.lit(0.0)
    ).otherwise(
        F.round(
            F.col("__dot")
            / (F.sqrt(F.col("__nq2").cast("double")) * F.sqrt(F.col("__ns2"))),
            6,
        )
    )
    return (
        df.select(F.col(id_col).alias("vec_id"), qvec.alias("__q"))
        .crossJoin(F.broadcast(svec))
        .select(
            "vec_id",
            dot.alias("__dot"),
            nq2.alias("__nq2"),
            ns2.alias("__ns2"),
        )
        .select(
            "vec_id",
            cos.alias("centroid_cos"),
            (cos < F.lit(tau)).cast("int").alias("is_outlier"),
        )
    )


def decontaminate_vs_eval(
    corpus: DataFrame,
    eval_df: DataFrame,
    tau: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(vec_id, max_eval_sim, nearest_eval, contaminated): for every corpus
    vector, its maximum cosine to ANY eval-set vector — SEMANTIC
    decontamination of training data against a benchmark, the
    embedding-space sibling of the Bloom n-gram filter
    (sketches.bloom_ngram_filter): n-grams catch verbatim leakage, cosine
    catches paraphrased leakage.

    The eval set is SMALL BY CONTRACT (a benchmark slice — the same
    bounded-side assumption every ANN query makes for its codebook): it is
    collected once into an Arrow closure and every corpus partition scores
    against it map-only, so the plan is one corpus scan with zero
    shuffles — at 100 TB the cost is the scan itself.

    Float parity: similarities accumulate SEQUENTIALLY over dims (the
    DuckDB list_sum fold order) and round via `_round6_spark` BEFORE the
    per-row max, so `max_eval_sim` is a max over already-identical
    rounded values; `nearest_eval` ties break to the smallest eval id
    (np.argmax first-hit over ids sorted ascending = SQL min() over the
    argmax set). Zero-norm vectors score 0 against everything.
    """
    import numpy as np
    import pandas as pd

    rows = (
        eval_df.select(F.col(id_col).alias("eid"), F.col(vec_col).alias("ev"))
        .sort("eid")
        .collect()
    )
    if not rows:
        raise ValueError("eval set is empty")
    eval_ids = np.array([r.eid for r in rows], dtype=np.int64)
    ev = np.array([list(r.ev) for r in rows], dtype=np.float64)  # (e, dims)
    dims = ev.shape[1]
    esq = np.zeros(len(rows))
    for d in range(dims):  # sequential fold == oracle list_sum
        esq = esq + ev[:, d] * ev[:, d]
    enorm = np.sqrt(esq)
    enorm_safe = np.where(enorm == 0, 1.0, enorm)

    id_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = (
        f"vec_id {id_type}, max_eval_sim double, nearest_eval bigint,"
        " contaminated int"
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            xsq = np.zeros(len(pdf))
            acc = np.zeros((len(pdf), len(eval_ids)))
            for d in range(dims):
                xd = x[:, d]
                xsq = xsq + xd * xd
                acc = acc + xd[:, None] * ev[None, :, d]
            xnorm = np.sqrt(xsq)
            denom = np.where(xnorm == 0, 1.0, xnorm)[:, None] * enorm_safe
            sims = _round6_spark(acc / denom)
            sims[xnorm == 0, :] = 0.0
            sims[:, enorm == 0] = 0.0
            best = sims.max(axis=1)
            nearest = eval_ids[np.argmax(sims, axis=1)]
            yield pd.DataFrame(
                {
                    "vec_id": pdf["__id"].to_numpy(),
                    "max_eval_sim": best,
                    "nearest_eval": nearest,
                    "contaminated": (best >= tau).astype("int32"),
                }
            )

    return corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).mapInPandas(score, out_schema)


RP_OUT_DIMS = 16
RP_SCALE = 1000


def rp_sign_matrix(out_dims: int = RP_OUT_DIMS, in_dims: int = 64) -> list[list[int]]:
    """Deterministic ±1 Johnson–Lindenstrauss sign matrix: entry (j, i) is
    the parity of md5("rp:j:i") — reproducible from the seed strings alone,
    no RNG state. Generated driver-side once and baked into BOTH the Spark
    plan and the DuckDB oracle as literals, so no cross-engine hash
    agreement is needed at all."""
    import hashlib

    return [
        [
            1
            - 2
            * (
                int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[:12], 16)
                % 2
            )
            for i in range(in_dims)
        ]
        for j in range(out_dims)
    ]


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dims: int = RP_OUT_DIMS,
    scale: int = RP_SCALE,
) -> DataFrame:
    """(vec_id, dim, proj): Johnson–Lindenstrauss ±1 random projection of
    the embedding column to `out_dims` dimensions — the standard cheap
    dimensionality reduction run BEFORE expensive ANN/dedup passes (a ±1
    Achlioptas matrix preserves pairwise distances within the JL bound at
    1/4 the dimensionality here, and the projected vectors are 4x cheaper
    to store, shuffle, and score).

    Exactness: elements quantize to integers (round(x*scale)), the
    projection is a sum of ±q_i per output dim — pure BIGINT arithmetic
    any engine reproduces. The sign matrix is deterministic
    (`rp_sign_matrix`) and enters the plan as LITERALS, so executors do no
    hashing. MAP-ONLY: one zip_with/aggregate fold per output dim over the
    scan, a single posexplode to gate-hashable scalar rows, no shuffle at
    any corpus size.
    """
    signs = rp_sign_matrix(out_dims)
    qvec = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale, 0).cast("long"),
    )
    base = df.select(F.col(id_col).alias("vec_id"), qvec.alias("__q"))
    projs = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col("__q"),
                    F.array(*[F.lit(s) for s in signs[j]]),
                    lambda a, b: a * b,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            for j in range(out_dims)
        ]
    )
    return base.select("vec_id", F.posexplode(projs).alias("dim", "proj"))


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
    scale: int = 1000,
) -> DataFrame:
    """(i, j, s): upper triangle (i <= j, 1-based) of the corpus Gram /
    uncentered second-moment matrix over milli-quantized embeddings — the
    input to PCA/whitening/feature-correlation audits of an embedding
    column.

    Plan: a vectorized Arrow pass computes one dims x dims int64 partial
    per batch (numpy integer matmul — exact, order-free) and emits
    dims*(dims+1)/2 rows per batch; a groupBy(i, j) over those partials
    reduces to one matrix. The shuffle volume is partials * cells
    (kilobytes), never corpus-sized — the same map-side-combine shape as a
    sum, with the quadratic dims work done batch-local in C. Exactness:
    quantized elements are exact integers, int64 sums are associative;
    per-element products bound |s| by dims-free (scale^2 * n), so int64
    holds to ~10^12 rows at scale=1000.
    """
    import numpy as np
    import pandas as pd

    iu = np.triu_indices(dims)
    out_i = (iu[0] + 1).astype(np.int32)
    out_j = (iu[1] + 1).astype(np.int32)

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            q = _round_half_away_np(x * scale)
            g = q.T @ q  # exact int64 matmul
            yield pd.DataFrame(
                {"i": out_i, "j": out_j, "s": g[iu]}
            )

    part = df.select(F.col(vec_col).alias("__v")).mapInPandas(
        partials, schema="i int, j int, s long"
    )
    return part.groupBy("i", "j").agg(F.sum("s").cast("bigint").alias("s"))


def cosine_topk_lsh_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 3,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH top-k: each query probes its own bucket PLUS the
    `num_planes` buckets at Hamming distance 1 (one sign bit flipped) in
    every table, then exact-cosine re-ranks the candidate union.

    The recall/memory trade every production LSH index makes: probing
    b+1 buckets per table buys roughly the recall of (b+1)x as many
    tables while storing (and bucket-building over) L tables' worth of
    corpus — here 3 tables x 5 probes approach the 10-table single-probe
    index (ann_lsh_topk) at 30% of the index footprint. Probe expansion
    happens on the QUERY side only (queries x L x (b+1) rows, broadcast),
    so the corpus-side plan is identical to the single-probe index: one
    map-only bucket pass, join, per-query top-k.
    """
    return _lsh_topk(
        corpus, queries, k, num_planes, num_tables, dims, id_col, vec_col,
        multiprobe=True,
    )
