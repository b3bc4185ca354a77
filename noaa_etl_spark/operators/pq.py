"""Product quantization (PQ) for embedding columns — the memory side of
the ANN toolkit (similarity.py covers the search side: brute force,
SRP-LSH, IVF). PQ stores a d-dim float vector as m uint8 codes: split
the vector into m subspaces, k-means each subspace on a sample, and
keep only each subvector's nearest-centroid id. At the default
m=8, k=256 (8-bit codes — the standard PQ setting) a 64-dim float32
vector (256 B) compresses to 8 codes (8 B, 32×) while preserving approximate distances via ADC (asymmetric
distance computation: the query stays exact; per-subspace lookup
tables turn each candidate's distance into m table reads).

Training follows the IVF pattern (similarity.py) and shares its k-means
and nearest-center rule (``_kmeans``, ``_sq_dist_key``): sample-train
driver-side (codebooks converge on any representative sample;
≤ sample_cap vectors ≈ 25 MB), broadcast the (m × k × d/m) codebook
array, and encode distributed via ONE vectorized mapInPandas pass —
the only stage that must see every vector. Jégou, Douze, Schmid,
"Product Quantization for Nearest Neighbor Search" (TPAMI'11).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from noaa_etl_spark.operators.similarity import _kmeans, _sq_dist_key


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 256,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_cap: int = 50_000,
) -> np.ndarray:
    """Driver-side PQ training on ≤ sample_cap vectors (the IVF
    sample-train adjudication — codebooks need a representative sample,
    not the corpus). Returns a (m, k, d/m) float64 array; d must be
    divisible by m. Deterministic given (sample, seed); subspace j uses
    seed+j so codebooks differ across subspaces."""
    rows = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
        .limit(sample_cap)
        .collect()
    )
    if not rows:
        raise ValueError("train_pq_codebooks: empty corpus")
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = np.zeros((m, k, sub), dtype=np.float64)
    for j in range(m):
        cs = _kmeans(mat[:, j * sub : (j + 1) * sub], k, seed + j, max_iter=25)
        books[j, : len(cs)] = cs
        if len(cs) < k:  # degenerate tiny sample: repeat last center
            books[j, len(cs) :] = cs[-1]
    return books


def pq_encode(
    corpus: DataFrame,
    books: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distributed PQ encode: one vectorized mapInPandas pass per
    Arrow batch — for each subspace, argmin over the broadcast (k, sub)
    codebook via one (batch × k) distance matrix; emits the m codes and
    the exact per-vector reconstruction MSE (the quality signal an
    index build monitors). No shuffle: encode is scan-local."""
    m, k, sub = books.shape
    b = books  # closure-captured; ships once per task via pickled closure

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            n = len(mat)
            codes = np.zeros((n, m), dtype=np.int32)
            err = np.zeros(n, dtype=np.float64)
            for j in range(m):
                x = mat[:, j * sub : (j + 1) * sub]
                cj = _sq_dist_key(x, b[j]).argmin(1)
                codes[:, j] = cj
                err += ((x - b[j][cj]) ** 2).sum(1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "codes": list(codes),
                    "recon_mse": err / mat.shape[1],
                }
            )

    out_schema = f"{id_col} bigint, codes array<int>, recon_mse double"
    return corpus.select(id_col, vec_col).mapInPandas(encode, out_schema)


def pq_adc_scores(query: np.ndarray, codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """ADC approximate squared-L2 from a raw query to encoded vectors:
    per-subspace lookup tables (m × k) built once from the query, then
    m table reads per candidate. Test/driver-side helper (the
    distributed form would broadcast the tables into a scan-local
    projection the same way)."""
    m, k, sub = books.shape
    tables = np.stack(
        [((books[j] - query[j * sub : (j + 1) * sub]) ** 2).sum(1) for j in range(m)]
    )  # (m, k)
    return tables[np.arange(m)[None, :], codes].sum(1)
