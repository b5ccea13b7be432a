"""Similarity operators: the engine's core rewrite of the reference.

The reference materializes the full cartesian product of vector pairs and
dots Python dicts per pair (``lab2.py:227, 239-246``) — O(n²) pairs no
matter how sparse the overlap. The engine's production formulation is the
*sparse similarity join* (SURVEY §2.3 J3): explode both sides to
``(id, term, weight)``, inner-join on ``term``, and aggregate
``sum(w_a * w_b)`` per id pair. Pairs sharing zero terms never
materialize; the join and aggregate are ordinary shuffles Catalyst/AQE can
re-plan, salt, or broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def sparse_cosine_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    term_col: str = "term",
    weight_col: str = "weight",
    round_to: int | None = None,
    spread_left: bool = False,
) -> DataFrame:
    """J3/J5 (lab2.py:227,239-246): cosine of L2-normalized sparse vectors.

    Inputs are long-format and already L2-normalized, so the dot product IS
    the cosine (the reference documents the same shortcut, lab2.py:235-236).
    Output: (left_id, right_id, cosine) for pairs with >=1 shared term.

    Scale: one shuffle on term for the join, one on the id pair for the
    aggregate. Hot terms (stopword-like) are the skew risk — remove
    stopwords upstream and/or cap df; AQE skew-join splits the rest.

    ``spread_left=True`` pins the left side to an explicit hash
    repartition on its id at default parallelism. Use it when the left
    side is small and the join fans out: AQE sizes partitions by shuffle
    WRITE bytes, so a kilobytes-sized probe side coalesces to one
    partition and the entire multi-million-row join output runs in a
    single task. An explicit user repartition is exempt from AQE
    coalescing and keeps the explosion parallel.
    """
    lhs = left.select(F.col(left_id), F.col(term_col), F.col(weight_col).alias("_w_l"))
    if spread_left:
        n = left.sparkSession.sparkContext.defaultParallelism
        lhs = lhs.repartition(n, F.col(left_id))
    rhs = right.select(F.col(right_id), F.col(term_col), F.col(weight_col).alias("_w_r"))
    dot = F.sum(F.col("_w_l") * F.col("_w_r"))
    cosine = F.round(dot, round_to) if round_to is not None else dot
    return (
        lhs.join(rhs, term_col)
        .groupBy(left_id, right_id)
        .agg(cosine.alias("cosine"))
    )


def best_match(
    pairs: DataFrame,
    query_id: str,
    match_id: str,
    score_col: str = "cosine",
    all_queries: DataFrame | None = None,
) -> DataFrame:
    """A5/T1 (lab2.py:250-251): deterministic arg-max per query id.

    The reference's reduceByKey tie handling is partition-order-dependent;
    the engine tiebreaks on ascending match id (SURVEY §7). If
    ``all_queries`` (a one-column DataFrame of every query id) is given,
    queries whose vectors share no term with any candidate — dropped by the
    sparse join but present in the reference's cartesian — are restored
    with (NULL, 0.0), keeping row-count parity (SURVEY §7 zero-overlap).
    """
    w = W.partitionBy(query_id).orderBy(F.desc(score_col), F.asc(match_id))
    top = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if all_queries is not None:
        top = all_queries.join(top, query_id, "left").select(
            query_id,
            F.col(match_id),
            F.coalesce(F.col(score_col), F.lit(0.0)).alias(score_col),
        )
    return top


def retrieval_accuracy(
    matches: DataFrame, query_id: str, match_id: str, n_queries: int | None = None
) -> DataFrame:
    """A6 (lab2.py:253-260): fraction of queries whose best match is themselves.

    One global aggregate; with ``n_queries`` the denominator is the full
    corpus (reference semantics: titles with no match still count against
    accuracy via the cartesian's zero rows).
    """
    hit = F.when(F.col(query_id) == F.col(match_id), 1.0).otherwise(0.0)
    if n_queries is None:
        return matches.agg(F.avg(hit).alias("accuracy"))
    return matches.agg((F.sum(hit) / F.lit(float(n_queries))).alias("accuracy"))


def all_pairs_cosine_exact(
    vectors: DataFrame,
    id_col: str,
    term_col: str = "term",
    weight_col: str = "weight",
    round_to: int | None = None,
) -> DataFrame:
    """J4 (lab2.py:291): self all-pairs cosine, sparse-join formulation.

    For small id domains (the reference's category×category matrix) this is
    exact and cheap; zero-overlap pairs are restored with cosine 0 via a
    cross join of the distinct ids (tiny by precondition) so the output is
    the dense |ids|² matrix the reference renders.
    """
    # sparse_cosine_join needs distinct column names for the self-join
    left_v = vectors.withColumnRenamed(id_col, f"{id_col}_l")
    right_v = vectors.withColumnRenamed(id_col, f"{id_col}_r")
    pairs = sparse_cosine_join(
        left_v, right_v, f"{id_col}_l", f"{id_col}_r", term_col, weight_col, round_to=None
    )
    ids = vectors.select(F.col(id_col)).distinct()
    dense = (
        ids.withColumnRenamed(id_col, f"{id_col}_l")
        .crossJoin(ids.withColumnRenamed(id_col, f"{id_col}_r"))
        .join(pairs, [f"{id_col}_l", f"{id_col}_r"], "left")
        .select(
            f"{id_col}_l",
            f"{id_col}_r",
            F.coalesce("cosine", F.lit(0.0)).alias("cosine"),
        )
    )
    if round_to is not None:
        dense = dense.withColumn("cosine", F.round("cosine", round_to))
    return dense


def pivot_matrix(
    dense_pairs: DataFrame,
    row_col: str,
    col_col: str,
    value_col: str = "cosine",
    col_values: list[str] | None = None,
) -> DataFrame:
    """lab2.py:303: the category matrix pivot, Spark-native.

    The reference pivots in pandas on the driver; ``groupBy().pivot()``
    keeps it distributed. Passing ``col_values`` explicitly skips the
    extra distinct-values job (and keeps a stable column order).
    """
    p = dense_pairs.groupBy(row_col).pivot(col_col, col_values)
    return p.agg(F.first(value_col))


# Broadcast bound for dense_topk_neighbors' query matrix: the ANN callers
# in plans/ann.py take the dense path only when |Q| x d doubles fit (~32 MB).
DENSE_MAX_BROADCAST_CELLS = 4_000_000
# Per-task transient ceiling for dense_topk_neighbors' score block: the
# matmul result is (corpus_rows x |Q|) doubles, and |Q| grows with the
# corpus while Spark sizes partitions by INPUT bytes — the input-side
# sizing cannot see the x|Q| expansion, so without a row cap one 64 MB
# input partition can expand to a multi-GB score allocation. 16M cells =
# 128 MB per score block (and per rounded copy), invariant of corpus size
# and partition sizing. SIZED BY MEASUREMENT (r12, interleaved min-of-3 on
# a blocked matmul arg-max at a 16x replica, |Q|=16k): unblocked 258-393 s;
# 4M/16M/64M cells = 11.9/10.7/284 s — the 64M variant's 512 MB blocks
# already re-enter the allocation wall, so the ceiling is load-bearing in
# both directions.
DENSE_BLOCK_CELLS = 16_000_000


def dense_topk_neighbors(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    id_col: str,
    vec_col: str,
    k: int,
    round_to: int = 6,
    prefetched_queries: list | None = None,
) -> DataFrame:
    """Exact cosine top-k via blocked dense matmul — the bounded-query-set
    strategy for brute-force ANN.

    ``prefetched_queries``: already-collected query rows (the auto-strategy
    probe collects them to measure |Q|·d — reuse them instead of a second
    driver action).

    The (|Q| x d) query matrix is broadcast; each corpus partition computes
    its score block with one BLAS matmul, keeps its local top-k per query
    (rounded scores, ascending-id tiebreak), and a tiny window merges the
    per-partition winners — global top-k is always a subset of the union of
    partition top-ks. Self-pairs and zero-norm vectors are excluded exactly
    as the column-expression formulation excludes them.

    Scale: corpus never shuffles (mapInPandas over the scan partitioning);
    candidate rows to the merge are n_partitions x |Q| x k. The caller
    bounds |Q| x d (broadcast) — an unbounded query set needs the
    column-expression or IVF path instead.
    """
    import numpy as np
    import pandas as pd

    q_rows = (
        prefetched_queries
        if prefetched_queries is not None
        else queries.select(query_id, query_vec).collect()
    )
    if not q_rows:
        # empty query set: the (0 x d) matrix has no well-defined d for the
        # BLAS block — return the empty top-k relation directly (callers
        # without the adaptive |Q| probe hit this on empty tables)
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id} long, neighbor_id long, cosine double, rnk long"
        )
    q_ids = np.asarray([r[query_id] for r in q_rows], dtype=np.int64)
    Q = np.asarray([r[query_vec] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)

    out_schema = f"{query_id} long, neighbor_id long, cosine double"
    # Per-task score-block bound (r12, see DENSE_BLOCK_CELLS):
    # S is (corpus_rows x |Q|) doubles and the caller's broadcast bound
    # caps |Q|·d, NOT rows x |Q| — a fat corpus partition times a large
    # query pool expands far beyond its input bytes. Chunking the corpus
    # rows keeps every allocation <= DENSE_BLOCK_CELLS; each chunk yields
    # its local top-k and the existing global rank window merges them
    # (global top-k is a subset of the union of chunk top-ks, and the
    # boundary-tie expansion below keeps every contender in play).
    block = max(1, DENSE_BLOCK_CELLS // max(1, len(q_rows)))

    def block_topk(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) == 0:
            return
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        order = np.argsort(ids)  # ascending ids => stable tiebreak below
        ids = ids[order]
        C = np.asarray(list(pdf[vec_col].to_numpy()[order]), dtype=np.float64)
        cn = np.linalg.norm(C, axis=1)
        out_q, out_n, out_s = [], [], []
        for s0 in range(0, len(ids), block):
            ids_b, C_b, cn_b = ids[s0 : s0 + block], C[s0 : s0 + block], cn[s0 : s0 + block]
            denom = cn_b[:, None] * qn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                S = np.round((C_b @ Q.T) / denom, round_to)
            S[denom == 0.0] = -np.inf  # zero-norm: never a top-k candidate
            S[ids_b[:, None] == q_ids[None, :]] = -np.inf  # exclude self
            kk = min(k, S.shape[0])
            for j in range(S.shape[1]):
                col = S[:, j]
                # argpartition finds the k-th score, but keeps an ARBITRARY
                # subset among candidates tied at that boundary — expand the
                # cut to every candidate scoring >= the k-th value so the
                # (desc score, asc id) contract decides who survives, then
                # stable-sort (ids are pre-sorted ascending) and truncate.
                if kk < len(col):
                    kth = col[np.argpartition(-col, kk - 1)[kk - 1]]
                    cand = np.flatnonzero(col >= kth)
                else:
                    cand = np.arange(len(col))
                cand = cand[np.argsort(-col[cand], kind="stable")][:kk]
                keep = cand[np.isfinite(col[cand])]
                out_q.extend([q_ids[j]] * len(keep))
                out_n.extend(ids_b[keep])
                out_s.extend(col[keep])
        yield pd.DataFrame({query_id: out_q, "neighbor_id": out_n, "cosine": out_s})

    # project to (id, vec) BEFORE the Python boundary: mapInPandas input is
    # not pruned by Catalyst, so an unprojected corpus would ship every
    # column through Arrow (e.g. the embeddings table's `label`)
    candidates = corpus.select(id_col, vec_col).mapInPandas(
        block_topk, schema=out_schema
    )
    w = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )
