"""Cleansing scalar functions (reference parity: C1, C2, C2b, C7).

All are **native column expressions** — they stay inside whole-stage codegen,
no Python round-trip. Reference semantics re-derived from
/root/reference/main.py:1262-1272 (clean_invisible_chars),
main.py:1285-1318 (clean_article_vitya_simple),
main.py:1508-1526 (clean_article_dimi_simple),
main.py:2037-2055 (safe_color_processing).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mistocksync_spark.functions.exprmemo import memoized


def strip_ws(col: Column) -> Column:
    """Python ``str.strip()`` equivalent: trim any leading/trailing whitespace
    (not just spaces, which is all plain ``trim`` removes)."""
    return F.regexp_replace(col, r"^\s+|\s+$", "")


@memoized
def clean_invisible_chars(col: Column) -> Column:
    """Collapse internal whitespace runs to single spaces, trim ends;
    null/empty → null.  (ref main.py:1262-1272: ``" ".join(s.split())``)"""
    collapsed = F.regexp_replace(strip_ws(col.cast("string")), r"\s+", " ")
    return F.nullif(collapsed, F.lit(""))


def _prepped_article(col: Column) -> Column:
    """Shared prefix of both article cleaners: stringify, strip, treat
    ''/'nan' as null, drop apostrophes, drop one leading '000' prefix."""
    s = strip_ws(col.cast("string"))
    s = F.when(s.isNull() | (s == "") | (F.lower(s) == "nan"), F.lit(None)).otherwise(s)
    s = F.replace(s, F.lit("'"), F.lit(""))
    return F.when(s.startswith("000"), F.substring(s, 4, 2147483647)).otherwise(s)


@memoized
def clean_article_vitya(col: Column) -> Column:
    """Vitya article cleaner → always integer (LongType, null on null input).

    Semantics (ref main.py:1285-1318): strip apostrophes, strip a single
    leading ``000`` prefix, then concatenate **all digit runs** and cast to
    int (``AB12CD34`` → 1234); no digits at all → 0.
    """
    s = _prepped_article(col)
    digits = F.concat_ws("", F.regexp_extract_all(s, F.lit(r"\d+"), 0))
    # try_cast: '' and overflow → null (ANSI-safe), then 0 like the reference
    out = F.coalesce(digits.try_cast("long"), F.lit(0).cast("long"))
    return F.when(s.isNull(), F.lit(None).cast("long")).otherwise(out)


@memoized
def clean_article_dimi(col: Column) -> Column:
    """Dimi article cleaner → keeps the **string** SKU (alphanumeric allowed).

    Semantics (ref main.py:1508-1526): strip apostrophes, strip a single
    leading ``000`` prefix; empty result → null.
    """
    s = _prepped_article(col)
    return F.nullif(s, F.lit(""))


@memoized
def safe_color(col: Column) -> Column:
    """Null-safe color normalizer → lowercase trimmed string, with
    null / '' / 'nan' / 'none' collapsing to '' (ref main.py:2037-2055)."""
    s = F.lower(strip_ws(col.cast("string")))
    return F.when(s.isNull() | s.isin("nan", "none", ""), F.lit("")).otherwise(s)
