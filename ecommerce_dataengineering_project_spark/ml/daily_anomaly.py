"""The reference's anomaly job over a fetched daily-sales aggregate
(anomaly_detection.py:46-52): log1p features, a seeded
``IsolationForest``, and ``is_anomaly`` for scores above 0.5.

Input is a pandas frame with ``purchase_date``, ``daily_total_sales``
and ``daily_transaction_count``: the output of
``operators.aggregates.daily_sales``, fetched with ``toPandas`` or read
back from where a pipeline persisted it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ecommerce_dataengineering_project_spark.ml.isolation_forest import IsolationForest

_FEATURES = ["daily_total_sales", "daily_transaction_count"]


def _features(daily: pd.DataFrame) -> np.ndarray:
    return np.log1p(daily[_FEATURES].to_numpy())


def fit_daily_forest(daily: pd.DataFrame) -> IsolationForest:
    """The forest fitted on ``daily`` in ``purchase_date`` order. Trees
    subsample rows by position, so fitting in a fixed order makes the
    fit independent of the order the rows were read in."""
    ordered = daily.sort_values("purchase_date", ignore_index=True)
    return IsolationForest(n_estimators=100, max_samples=256, seed=42).fit(_features(ordered))


def score_daily_sales(daily: pd.DataFrame) -> pd.DataFrame:
    """``daily`` in ``purchase_date`` order with ``anomaly_score``
    (rounded to 6 places) and ``is_anomaly``."""
    daily = daily.sort_values("purchase_date", ignore_index=True)
    scores = fit_daily_forest(daily).score_samples(_features(daily))
    return pd.DataFrame(
        {
            "purchase_date": daily["purchase_date"],
            "daily_total_sales": daily["daily_total_sales"],
            "daily_transaction_count": daily["daily_transaction_count"],
            "anomaly_score": np.round(scores, 6),
            "is_anomaly": scores > 0.5,
        }
    )
