"""Product quantization (PQ) for memory-compressed ANN.

The FAISS IVF-PQ lineage (Jégou, Douze & Schmid 2011, "Product
Quantization for Nearest Neighbor Search" — public algorithm): split
the embedding into ``m`` subspaces, k-means each subspace to ``k``
centroids, store every vector as ``m`` small codes (64-dim float32 →
4 bytes at m=4/k=256-class codes — here k defaults to 16 for the
fixture scale). Queries scan COMPRESSED codes with asymmetric
distance (ADC): per subspace a k-entry lookup table of exact
query-to-centroid distances, scored as ``Σ table[s][code[s]]``.

At 100 TB this is the memory story the brute-force and IVF paths
(operators/similarity.py) can't tell: the corpus-resident state per
vector is m bytes instead of 4·dim, the ADC scan is pure Catalyst
(literal lookup tables + element_at sums — no Python, no shuffle
until top-k), and training reuses the deterministic lowest-id-seed
Lloyd sweeps of train_centroids on sliced sub-vectors. Codebooks are
ROUNDED to 6 decimals after training so independent implementations
(tools/make_pq_golden.py) and any cluster layout reproduce identical
codes bit-for-bit.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhouse_learning_spark.operators.similarity import train_centroids


def train_pq(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    refine_iters: int = 2,
) -> list[list[list[float]]]:
    """``codebooks[s][j]`` = centroid j of subspace s. Deterministic:
    lowest-id seeds + fixed Lloyd sweeps per subspace, 6-decimal
    rounding pins the result across layouts and implementations."""
    first = corpus.select(F.size(emb_col).alias("d")).head()
    if first is None:
        raise ValueError("empty corpus")
    dim = int(first["d"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    dsub = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = corpus.select(
            F.col(id_col),
            F.slice(F.col(emb_col), s * dsub + 1, dsub).alias(emb_col),
        )
        cents = train_centroids(
            sub, n_centroids=k, emb_col=emb_col, id_col=id_col,
            refine_iters=refine_iters,
        )
        books.append([[round(float(x), 6) for x in c] for c in cents])
    return books


def encode_pq(
    df: DataFrame,
    books: list[list[list[float]]],
    emb_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Append the m-element code array: per subspace the argmin-
    distance centroid id (ties -> lowest id via strict-<). The argmin
    runs as an ``aggregate`` fold over a LITERAL candidate array — a
    chained when/otherwise would duplicate the accumulator subtree
    per candidate and blow the plan up exponentially (measured OOM at
    k=16); the fold keeps the expression linear and evaluates
    iteratively at runtime. Pure Catalyst, map-only."""
    m = len(books)
    dsub = len(books[0][0])
    codes = []
    for s in range(m):
        sub = F.slice(F.col(emb_col), s * dsub + 1, dsub)
        cand = F.array(*[
            F.struct(
                F.lit(j).alias("i"),
                F.array(*[F.lit(float(x)) for x in c]).alias("c"),
            )
            for j, c in enumerate(books[s])
        ])

        def make_step(sub_col):
            def step(acc, e):  # pyspark reads the 2-arg signature
                d = F.aggregate(
                    F.zip_with(sub_col, e["c"],
                               lambda p, q: (p - q) * (p - q)),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                return F.when(
                    d < acc["d"],
                    F.struct(d.alias("d"), e["i"].alias("i")),
                ).otherwise(acc)
            return step

        step = make_step(sub)

        init = F.struct(
            F.lit(float("inf")).alias("d"),
            F.lit(-1).alias("i"),
        )
        codes.append(F.aggregate(cand, init, step)["i"])
    return df.withColumn(out_col, F.array(*codes))


def encode_pq_arrow(
    df: DataFrame,
    books: list[list[list[float]]],
    emb_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Arrow/BLAS encode — the hot path at scale: Catalyst higher-
    order folds are interpreted (the repo's measured 10-60× penalty),
    so batch the argmin as ``|x - c|² = |x|² - 2x·C + |c|²`` matrix
    ops per subspace. Same spec as :func:`encode_pq` (argmin-first =
    lowest id); the law test pins agreement on fixtures."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    mats = [np.asarray(b, dtype=np.float64) for b in books]
    m = len(mats)
    dsub = mats[0].shape[1]

    @pandas_udf("array<int>")
    def enc(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for v in it:
            if len(v) == 0:
                yield pd.Series([], dtype=object)
                continue
            x = np.array(list(v), dtype=np.float64)
            codes = np.zeros((x.shape[0], m), dtype=np.int32)
            for s in range(m):
                xs = x[:, s * dsub:(s + 1) * dsub]
                c = mats[s]
                d = ((xs * xs).sum(axis=1)[:, None]
                     - 2.0 * xs @ c.T
                     + (c * c).sum(axis=1)[None, :])
                codes[:, s] = d.argmin(axis=1)
            yield pd.Series([row.tolist() for row in codes])

    return df.withColumn(out_col, enc(F.col(emb_col)))


def adc_topk(
    codes_df: DataFrame,
    query: list[float],
    books: list[list[list[float]]],
    top_k: int = 5,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance top-k over compressed codes: the per-
    subspace query→centroid distance tables are computed driver-side
    (m·k floats) and enter the plan as literal arrays; the scan is
    ``Σ element_at(table_s, code_s + 1)`` — codegen, no UDF. Ties
    break on id. Returns (id, adc_dist)."""
    m = len(books)
    dsub = len(books[0][0])
    score = F.lit(0.0)
    for s in range(m):
        qsub = query[s * dsub:(s + 1) * dsub]
        table = [
            round(sum((a - b) ** 2 for a, b in zip(qsub, cent)), 9)
            for cent in books[s]
        ]
        tbl = F.array(*[F.lit(float(x)) for x in table])
        score = score + F.element_at(
            tbl, F.element_at(F.col(code_col), s + 1) + F.lit(1)
        )
    return (
        codes_df.select(F.col(id_col), score.alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(top_k)
    )


# ---------------------------------------------------------------- IVF-PQ
# The composed FAISS workhorse (IndexIVFPQ, Jégou et al. 2011 §V):
# a coarse quantizer partitions the corpus into cells, PQ codes store
# each vector's RESIDUAL from its cell centroid, and a query probes
# only the nearest cells — the ADC tables are rebuilt per probed cell
# from (query − centroid), so the code distance approximates
# ‖query − (centroid + pq_recon(residual))‖², far tighter than PQ on
# raw vectors at the same code budget. Everything deterministic:
# cosine argmax-first coarse assignment (assign_cells), lowest-id-seed
# Lloyd for both quantizer levels, 6dp-rounded codebooks, strict-<
# argmin codes, (dist, id) top-k ties.
#
# Scale shape: residual compute + encode are map-only; the codes table
# is written partitioned by ``cell`` so a probe is a PARTITION-PRUNED
# scan (the IvfIndex layout, similarity.py); the per-cell ADC scan is
# pure Catalyst (a CASE over n_probes literal table sets, m element_at
# lookups each); one global top-k shuffle of k rows per partition.


def _cents_lit(cents: list[list[float]]):
    return F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in cents
    ])


def train_ivfpq(
    corpus: DataFrame,
    n_cells: int = 8,
    m: int = 4,
    k: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    refine_iters: int = 2,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """``(coarse_centroids, residual_codebooks)``. The coarse level is
    train_centroids (cosine Lloyd, the repo's IVF convention); the PQ
    level trains on residuals v − c_cell(v), like FAISS's
    by-residual=true default. Coarse centroids are 6dp-rounded for the
    same cross-implementation determinism as the codebooks."""
    cents = train_centroids(
        corpus, n_centroids=n_cells, emb_col=emb_col, id_col=id_col,
        refine_iters=refine_iters,
    )
    cents = [[round(float(x), 6) for x in c] for c in cents]
    resid = _with_residual(corpus, cents, emb_col)
    books = train_pq(
        resid.select(id_col, F.col("_resid").alias(emb_col)),
        m=m, k=k, emb_col=emb_col, id_col=id_col,
        refine_iters=refine_iters,
    )
    return cents, books


def _with_residual(
    df: DataFrame, cents: list[list[float]], emb_col: str
) -> DataFrame:
    """Append ``cell`` (coarse assignment) and ``_resid`` = v − c_cell
    (pure Catalyst once the cell is known; the assignment itself is
    the Arrow-batched argmax of assign_cells)."""
    from clickhouse_learning_spark.operators.similarity import assign_cells

    out = assign_cells(df, cents, emb_col)
    cent_of_row = F.element_at(_cents_lit(cents), F.col("cell") + 1)
    return out.withColumn(
        "_resid",
        F.zip_with(F.col(emb_col), cent_of_row, lambda a, b: a - b),
    )


def encode_ivfpq(
    corpus: DataFrame,
    cents: list[list[float]],
    books: list[list[list[float]]],
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    arrow: bool = False,
) -> DataFrame:
    """``(id, cell, pq_code)`` — the m-byte-per-vector corpus state.
    ``arrow=True`` uses the BLAS batch encoder (the hot path at scale);
    the default Catalyst fold matches the golden generator's direct
    squared-difference argmin expression-for-expression."""
    resid = _with_residual(corpus, cents, emb_col)
    resid = resid.select(id_col, "cell", F.col("_resid").alias(emb_col))
    enc = encode_pq_arrow if arrow else encode_pq
    return enc(resid, books, emb_col=emb_col).select(
        id_col, "cell", "pq_code"
    )


def ivfpq_topk(
    codes_df: DataFrame,
    query: list[float],
    cents: list[list[float]],
    books: list[list[list[float]]],
    n_probes: int = 4,
    top_k: int = 5,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """ADC top-k over the probed cells only. Probe choice is the
    n_probes highest-cosine centroids (ties → lowest cell, matching
    assign_cells); per probed cell the m·k ADC table is computed
    driver-side from the query's residual and enters the plan as
    literals — the scan is a CASE over probed cells of element_at
    sums: codegen, no UDF, and partition-pruned when ``codes_df`` is
    stored partitioned by cell. Returns (id, cell, adc_dist)."""
    import math as _math

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = _math.sqrt(sum(x * x for x in a))
        nb = _math.sqrt(sum(x * x for x in b))
        return num / (na * nb)

    sims = [(cos(query, c), -i) for i, c in enumerate(cents)]
    probe_cells = [-ni for _, ni in
                   sorted(sims, reverse=True)[:n_probes]]

    m = len(books)
    dsub = len(books[0][0])
    score = None
    for cell in probe_cells:
        resid = [q - c for q, c in zip(query, cents[cell])]
        cell_score = F.lit(0.0)
        for s in range(m):
            rsub = resid[s * dsub:(s + 1) * dsub]
            table = [
                round(sum((a - b) ** 2 for a, b in zip(rsub, cent)), 9)
                for cent in books[s]
            ]
            tbl = F.array(*[F.lit(float(x)) for x in table])
            cell_score = cell_score + F.element_at(
                tbl, F.element_at(F.col(code_col), s + 1) + F.lit(1)
            )
        branch = (F.col("cell") == cell, cell_score)
        score = F.when(*branch) if score is None else score.when(*branch)

    return (
        codes_df.filter(F.col("cell").isin([int(c) for c in probe_cells]))
        .select(F.col(id_col), F.col("cell"), score.alias("adc_dist"))
        .orderBy("adc_dist", id_col)
        .limit(top_k)
    )
