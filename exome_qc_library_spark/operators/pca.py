"""Distributed PCA + projection over embedding columns.

Parity target: ``hl.hwe_normalized_pca(GT, k, compute_loadings)`` (K6,
``/root/reference/shared/samples_qc.py:185,636``) and the manual
``pc_project`` (K7, ``:565-596``): normalize, dot with loadings,
aggregate. Here over ``array<float>`` embedding columns via
``pyspark.ml.feature.PCA`` (RowMatrix SVD under the hood), with the
projection expressed as pure ``zip_with``/``aggregate`` expressions so
scoring new rows needs no MLlib at inference time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import dot_expr


def fit_pca(df: DataFrame, k: int = 4) -> list[list[float]]:
    """Fit PCA on ``embedding``, return k principal axes as plain lists (driver-small,
    broadcastable — the 'loadings' of the reference).

    NULL embeddings are excluded from the fit (pyspark.ml PCA NPEs on a
    null vector); :func:`project_pcs` independently maps them to NULL
    scores, so the NULL-in → NULL-out convention holds end to end."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    ml_df = df.filter(F.col("embedding").isNotNull()).select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = PCA(k=k, inputCol="features", outputCol="pcs").fit(ml_df)
    pc = model.pc.toArray()  # (dim, k)
    return [[float(pc[i][j]) for i in range(pc.shape[0])] for j in range(pc.shape[1])]


def project_pcs(df: DataFrame, loadings: list[list[float]]) -> DataFrame:
    """pc_project analog: ``pc{j}`` = Σ_i embedding_i · loading_j_i, as
    expressions (deterministic left fold, no UDF). NULL vectors score NULL.

    Scores are UNCENTERED — the raw vector is dotted with the axes, which
    is exactly ``pyspark.ml.feature.PCAModel.transform``'s semantics (it
    multiplies by the loading matrix without subtracting the training
    mean). The reference's pc_project likewise projects already-normalized
    inputs (hwe normalization upstream does the centering,
    ``/root/reference/shared/samples_qc.py:565-596``). Consumers
    thresholding a score should therefore threshold against mean ± k·σ of
    the scores, not |score| around zero."""
    cols = {}
    for j, axis in enumerate(loadings):
        plane = F.array(*[F.lit(float(v)) for v in axis])
        cols[f"pc{j + 1}"] = dot_expr(F.col("embedding"), plane)
    return df.withColumns(cols)
