"""Per-combo model dispatch with grouped batch inference (SURVEY
§2.3 A7 + §2.4 J3 + §2.7 M1 — the E2 architecture,
`1_pixel_classification/pixel_classifier_stream.py:128-152`, in its
kernel form).

The reference groups pixels by valid-band combo and runs one
vectorized ``predict_proba`` per group. Here: models (per-combo
centroid matrices) are trained distributively, collected once (tiny:
n_combos × n_labels × n_bands floats), broadcast to executors, and
``groupBy(combo).applyInPandas`` runs one vectorized NumPy predict per
combo group — the group IS the batch. Combos with no model are dropped
by the preceding inner join (J3's semi-filter semantics).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dispatch_predict(
    probe: DataFrame,
    models: DataFrame,
    combo_col: str,
    label_col: str,
    feature_cols: list[str],
    id_cols: list[str],
    out_col: str = "pred",
) -> DataFrame:
    """Broadcast the model table to the driver→executors as a plain
    dict, semi-filter probes to modeled combos, and batch-predict per
    combo group (argmin centroid distance; ties → smaller label)."""
    spark = probe.sparkSession
    model_rows = models.collect()  # bounded: combos*labels model table
    model_map: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for combo in {r[combo_col] for r in model_rows}:
        rows = sorted(
            (r for r in model_rows if r[combo_col] == combo), key=lambda r: r[label_col]
        )
        labels = np.array([r[label_col] for r in rows])
        cents = np.array([[r[c] for c in feature_cols] for r in rows], dtype=np.float64)
        model_map[combo] = (labels, cents)
    bc = spark.sparkContext.broadcast(model_map)

    active = list(model_map.keys())
    filtered = probe.where(F.col(combo_col).isin(active))  # J3 semi-filter

    # id columns keep their INPUT types (hardcoding `long` widened an
    # int32 l_linenumber and broke exact-hash parity with the oracle)
    probe_types = dict(probe.dtypes)
    schema = (
        ", ".join(f"{c} {probe_types[c]}" for c in id_cols)
        + f", {out_col} int, _dist double"
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        combo = pdf[combo_col].iloc[0]
        labels, cents = bc.value[combo]
        feats = pdf[feature_cols].to_numpy(dtype=np.float64)
        d = ((feats[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        # round like the relational twin so tie-breaks agree
        d = np.round(d, 6)
        best = np.argmin(d, axis=1)
        pred = labels[best]
        out = {c: pdf[c].to_numpy() for c in id_cols}
        out[out_col] = pred.astype(np.int32)
        out["_dist"] = d[np.arange(len(best)), best]
        return pd.DataFrame(out)

    scored = filtered.groupBy(combo_col).applyInPandas(kernel, schema=schema)
    # id keys may repeat (duplicate rows in the probe): reduce with the
    # same (dist, pred) struct-min the relational formulation uses
    return scored.groupBy(*id_cols).agg(
        F.min_by(out_col, F.struct(F.col("_dist"), F.col(out_col))).alias(out_col)
    )
