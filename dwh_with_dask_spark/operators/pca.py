"""Distributed PCA and exact ridge regression over embedding columns.

ABSENT-IN-REFERENCE (SURVEY.md §2B north-star): the dimensionality-
reduction / whitening step embedding pipelines run before clustering,
ANN indexing, or SemDeDup-style pruning (public method: covariance
eigendecomposition, e.g. Jolliffe's standard treatment), plus the
closed-form linear probe (`ridge_fit`) that scores how linearly
recoverable a label is from the representation.

Scale shape — the classic two-phase design:

1. **Fit** never moves vectors to the driver: each partition folds its
   rows into a (count, sum, Gram) partial with one numpy GEMM —
   ``dim + dim²`` floats per partition — and only those partials
   collect (the IVF-centroid metadata idiom). The driver assembles the
   covariance ``(G - n·μμᵀ)/(n-1)`` and runs ``eigh`` on a dim×dim
   matrix — O(dim³) once, independent of corpus size.
2. **Project** broadcasts the k×dim component matrix in a pandas_udf
   closure; each Arrow batch projects with one GEMM. No shuffle at
   all — projection is map-side.

Determinism: eigh is deterministic for a given covariance; the
covariance itself is a float sum over partition partials, so the last
ulp can move under repartitioning — components carry a sign convention
(largest-|loading| coordinate positive) and tests compare within
tolerance, the honest contract for float linear algebra (same class of
caveat as any distributed ML fit).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType

# round-16 A/B toggle for logreg_fit's training-set persist (VERDICT
# r15 ask #3): True = the round-15 behavior (persist the projected
# (vec, target) columns across the GD loop). Flipped only by the
# round-16 A/B experiment (OPTIMIZATION_r16.md); the shipped default
# records the A/B's verdict.
_PERSIST_TRAIN = True


def _gram_partials(df: DataFrame, vec_col: str, dim: int) -> list:
    """One (n, sum_vec, gram) row per partition — executor GEMMs,
    metadata-sized collect."""
    out_schema = "n long, s array<double>, g array<double>"

    def fold(batches):
        import pandas as pd

        n, s, g = 0, np.zeros(dim), np.zeros((dim, dim))
        for pdf in batches:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(x):
                n += len(x)
                s += x.sum(axis=0)
                g += x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    return df.select(vec_col).mapInPandas(fold, schema=out_schema).collect()


def pca_fit(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None, k: int = 8
):
    """Fit PCA: returns (components k×dim, eigvals desc, mean)."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    parts = _gram_partials(df, vec_col, dim)
    if not parts:
        raise ValueError("pca_fit: empty input")
    n = sum(p.n for p in parts)
    s = np.sum([np.asarray(p.s) for p in parts], axis=0)
    g = np.sum([np.asarray(p.g).reshape(dim, dim) for p in parts], axis=0)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / max(n - 1, 1)
    vals, vecs = np.linalg.eigh(cov)          # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T                   # k × dim
    # sign convention: the largest-|loading| coordinate is positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return comps, vals[order], mean


def ridge_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    target_col: str = "label",
    l2: float = 1e-3,
):
    """EXACT distributed ridge regression (linear probe) by normal
    equations: per-partition partials of the bias-augmented
    ``(AᵀA, Aᵀy)`` — one GEMM each, (dim+1)² + (dim+1) floats — then a
    driver solve of ``(AᵀA + λI)w = Aᵀy`` (no penalty on the bias).
    The standard closed form; no iterations, no learning rate, and the
    solution is identical to the single-machine solve up to float-sum
    order. Returns (weights dim-vector, bias, n)."""
    first = df.select(vec_col).first()
    dim = len(first[0])
    out_schema = "n long, g array<double>, xty array<double>"

    def fold(batches):
        import pandas as pd

        d1 = dim + 1
        n, g, xty = 0, np.zeros((d1, d1)), np.zeros(d1)
        for pdf in batches:
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(x) == 0:
                continue
            a = np.hstack([x, np.ones((len(x), 1))])
            y = pdf[target_col].to_numpy(dtype=np.float64)
            n += len(x)
            g += a.T @ a
            xty += a.T @ y
        if n:
            yield pd.DataFrame(
                {"n": [n], "g": [g.ravel().tolist()], "xty": [xty.tolist()]}
            )

    parts = (
        df.select(vec_col, target_col).mapInPandas(fold, schema=out_schema).collect()
    )
    if not parts:
        raise ValueError("ridge_fit: empty input")
    d1 = dim + 1
    n = sum(p.n for p in parts)
    g = np.sum([np.asarray(p.g).reshape(d1, d1) for p in parts], axis=0)
    xty = np.sum([np.asarray(p.xty) for p in parts], axis=0)
    reg = l2 * np.eye(d1)
    reg[-1, -1] = 0.0  # bias unpenalized
    w = np.linalg.solve(g + reg, xty)
    return w[:-1], float(w[-1]), n


def ridge_r2(
    df: DataFrame,
    weights: np.ndarray,
    bias: float,
    vec_col: str = "embedding",
    target_col: str = "label",
) -> float:
    """Training R² of a fitted probe — one map-side scoring pass."""
    w = np.asarray(weights, dtype=np.float64)

    @F.pandas_udf(DoubleType())
    def score(col):
        import pandas as pd

        x = np.asarray([np.asarray(v, dtype=np.float64) for v in col])
        if len(x) == 0:
            return pd.Series([], dtype=float)
        return pd.Series(x @ w + bias)

    scored = df.select(
        F.col(target_col).cast("double").alias("y"),
        score(F.col(vec_col)).alias("yhat"),
    )
    r = scored.agg(
        F.sum((F.col("y") - F.col("yhat")) ** 2).alias("ss_res"),
        F.sum(F.col("y") * F.col("y")).alias("ss_yy"),
        F.sum("y").alias("sy"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    ss_tot = r.ss_yy - r.sy * r.sy / r.n
    return float(1.0 - r.ss_res / ss_tot) if ss_tot > 0 else float("nan")


def pca_project(
    df: DataFrame,
    components: np.ndarray,
    mean: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pc",
) -> DataFrame:
    """Map-side projection: out = C · (x - μ) per row, GEMM per Arrow
    batch. Adds ``out_col`` (array<double>, k entries)."""
    comps = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def project(col):
        import pandas as pd

        x = np.asarray([np.asarray(v, dtype=np.float64) for v in col])
        if len(x) == 0:
            return pd.Series([], dtype=object)
        y = (x - mu) @ comps.T
        return pd.Series(list(y))

    return df.withColumn(out_col, project(F.col(vec_col)))


def logreg_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    target_col: str = "label",
    iters: int = 30,
    lr: float = 1.0,
    l2: float = 1e-4,
):
    """Distributed binary logistic regression (the fastText-style linear
    quality-classifier shape public LLM pipelines train over document
    features) by full-batch gradient descent.

    Per iteration: the current (dim+1)-vector of weights ships to the
    executors in the mapInPandas closure, each partition folds its rows
    into ONE gradient partial with a numpy GEMM (``aᵀ(σ(aw) − y)``,
    dim+1 floats + the running log-loss), and only those metadata-sized
    partials collect — the ridge/PCA idiom iterated. T iterations =
    T scans; nothing ever shuffles, no vector leaves the executors.

    Deterministic contract: fixed iteration count, step size, zero
    init — no RNG anywhere; cross-run drift is float-sum order only
    (~1e-15 relative), so tests compare against the numpy twin at 1e-6.
    Returns (weights dim-vector, bias, n, final mean log-loss).
    """
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("logreg_fit: empty input")
    dim = len(first[0])
    d1 = dim + 1
    out_schema = "n long, g array<double>, loss double"

    w = np.zeros(d1)

    def make_fold(w_now):
        def fold(batches):
            import pandas as pd

            n, g, loss = 0, np.zeros(d1), 0.0
            for pdf in batches:
                x = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                if len(x) == 0:
                    continue
                a = np.hstack([x, np.ones((len(x), 1))])
                y = pdf[target_col].to_numpy(dtype=np.float64)
                z = a @ w_now
                p = 1.0 / (1.0 + np.exp(-z))
                n += len(x)
                g += a.T @ (p - y)
                # stable log-loss: log(1+e^-|z|) + max(z,0) - z*y
                loss += float(
                    np.sum(np.log1p(np.exp(-np.abs(z))) + np.maximum(z, 0) - z * y)
                )
            if n:
                yield pd.DataFrame({"n": [n], "g": [g.tolist()], "loss": [loss]})

        return fold

    # Persist the projected training columns for the duration of the
    # loop (round 15): every iteration re-reads ONLY these two columns,
    # and without materialization each of the T scans re-runs the
    # source scan + projection (the MLlib iterative-training idiom —
    # cache the training set, not the lineage). Round 16: adjudicated
    # by an interleaved same-process A/B (VERDICT r15 ask #3) — see
    # OPTIMIZATION_r16.md for the verdict;
    # ``_PERSIST_TRAIN`` is the A/B toggle. Identical results either
    # way — the fold is per-partition and persist preserves partition
    # contents.
    src = df.select(vec_col, target_col)
    if _PERSIST_TRAIN:
        src = src.persist()
    try:
        n = 0
        mean_loss = float("nan")
        for _ in range(iters):
            parts = src.mapInPandas(
                make_fold(w.copy()), schema=out_schema
            ).collect()
            if not parts:
                raise ValueError("logreg_fit: empty input")
            n = sum(p.n for p in parts)
            grad = np.sum([np.asarray(p.g) for p in parts], axis=0) / n
            mean_loss = sum(p.loss for p in parts) / n
            grad[:-1] += l2 * w[:-1]  # bias unpenalized
            w -= lr * grad
    finally:
        if _PERSIST_TRAIN:
            src.unpersist()
    return w[:-1], float(w[-1]), n, float(mean_loss)


def logreg_accuracy(
    df: DataFrame,
    weights,
    bias: float,
    vec_col: str = "embedding",
    target_col: str = "label",
) -> float:
    """Train accuracy of a fitted probe: map-side dot product via
    ``F.aggregate`` over the zipped weight array (pure Column, no
    Python), one tiny aggregate back."""
    warr = F.array(*[F.lit(float(x)) for x in np.asarray(weights)])
    z = F.aggregate(
        F.zip_with(F.col(vec_col), warr, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ) + F.lit(float(bias))
    pred = (z > 0).cast("int")
    row = df.select(
        F.avg((pred == F.col(target_col).cast("int")).cast("double")).alias("acc")
    ).first()
    return float(row.acc)
