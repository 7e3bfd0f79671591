"""Ratcliff–Obershelp similarity (reference parity: C8).

``difflib.SequenceMatcher(...).ratio()`` has no JVM builtin (``levenshtein``
is a different metric), so this is one of the few places we pay the Python
round-trip — as an **Arrow-batched pandas UDF**, never row-at-a-time.

Reference: /root/reference/main.py:1274-1283 (lowercased both sides).
"""

from __future__ import annotations

import difflib
from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


def _make_ratio_batch(skip_below: float | None):
    def _ratio_batch(a: pd.Series, b: pd.Series) -> pd.Series:
        # One matcher reused across rows: set_seq2 builds the O(len) b2j
        # index, set_seq1 is free — consecutive pairs out of a broadcast
        # nested-loop join share the same seq2, so the index is built once
        # per distinct right-hand string instead of once per pair.
        m = difflib.SequenceMatcher()
        last_y = None

        def ratio(x, y):
            nonlocal last_y
            if not x or not y or not isinstance(x, str) or not isinstance(y, str):
                return 0.0
            yl = y.lower()
            if yl != last_y:
                m.set_seq2(yl)
                last_y = yl
            m.set_seq1(x.lower())
            if skip_below is not None:
                # real_quick_ratio/quick_ratio are UPPER bounds on ratio():
                # returning 0 for pairs that cannot reach the threshold is
                # exact w.r.t. any `>= skip_below` filter while skipping the
                # O(n*m) matching.
                if m.real_quick_ratio() < skip_below or m.quick_ratio() < skip_below:
                    return 0.0
            return m.ratio()

        # tolist() first: iterating raw lists is several times faster than
        # iterating pandas Series in this hot loop
        return pd.Series([ratio(x, y) for x, y in zip(a.tolist(), b.tolist())], dtype="float64")

    return _ratio_batch


# DoubleType() (not a DDL string) so the UDF can be defined without an
# active SparkSession at import time.
#
# The UDF is (correctly) marked deterministic.  Callers that filter on the
# score must keep the filter from being substituted back into the scoring
# projection via a structural barrier — fuzzy_best_match does this with its
# max_by aggregation (the threshold is applied to the aggregated max, which
# cannot push below the agg), so the score is evaluated exactly once.
_ratcliff_ratio = pandas_udf(_make_ratio_batch(None), returnType=DoubleType())

# Memoized per threshold.  A FRESH pandas_udf per call is not just wasted
# pickling: every distinct Python function cycles the reused worker pool, and
# repeated invocations in one session degrade monotonically (measured 5.5s →
# 52s over 5 runs of an identical scoring stage, executor CPU ~25% of wall —
# tasks blocked on worker churn, then a pool reset).  One UDF object per
# threshold keeps the stage at steady-state ~2.8s.
_ratio_at: dict[float, Callable[[Column, Column], Column]] = {}


def similarity(a: Column, b: Column, skip_below: float | None = None) -> Column:
    """difflib ratio of the lowercased strings; empty/null → 0.0.

    ``skip_below``: if given, pairs whose difflib upper bounds prove
    ``ratio() < skip_below`` short-circuit to 0.0 — exact for callers that
    filter on ``>= skip_below``, ~10× cheaper on non-matching pairs.
    """
    if skip_below is None:
        return _ratcliff_ratio(a, b)
    if skip_below not in _ratio_at:
        _ratio_at[skip_below] = pandas_udf(_make_ratio_batch(skip_below), returnType=DoubleType())
    return _ratio_at[skip_below](a, b)

