"""Product-code / capacity extractors (reference parity: C3, C4, C5, C6).

Native column expressions throughout — regexp_extract / regexp_extract_all /
higher-order ``filter`` keep everything JVM-side and codegen-friendly.

Reference semantics re-derived from /root/reference/main.py:1591-1638
(find_product_code_in_name), 1640-1666 (find_product_code_in_brackets),
1668-1710 (find_battery_capacity), 1712-1750 (find_product_code_unified).

Note on word boundaries: the ordered code patterns use ``\\b``.  Java's
boundary determination is empirically Unicode-aware like Python's ``re``
(Cyrillic letters are word chars in both), so the Spark extractor matches
the reference EXACTLY, including on cross-script islands like 'яC60'
(no boundary → no match in both; pinned by tests/test_property_codes.py).
The explicit character classes on the Cyrillic pattern keep the DuckDB
oracle (RE2, ASCII ``\\b``) aligned for that pattern; RE2's ASCII
boundary on the LATIN patterns diverges only on cross-script islands,
which the synthetic corpus does not contain (oracle hash-matches prove
it).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mistocksync_spark.functions.cleaning import strip_ws
from mistocksync_spark.functions.exprmemo import memoized

BRANDS = ["GREENOE", "XIAOMI", "SAMSUNG", "APPLE", "HUAWEI", "OPPO", "VIVO", "ONEPLUS"]

CODE_STOPLIST = ["USB-C", "POWER", "PORTABLE", "CHARGER", "BANK"]

# Ordered patterns, highest priority first (ref main.py:1599-1612).
CODE_PATTERNS = [
    r"\b[A-Z0-9]+(?:-[A-Z0-9]+)+\b",        # dashed codes: AC-M25-SC, P27QDA-RGP
    r"\b[A-Z]{2,}[0-9]{2,}[A-Z]*\b",         # letters-digits(-letters): MJKDDYJ02HT
    r"\b[0-9]{3,}[A-Z]{1,3}\b",              # digits-letters: 123XM
    r"\b[A-Z][0-9]{4,}[A-Z][0-9]+\b",        # M2319E1-style
    r"\b[A-Z]{4,8}\b",                       # 4-8 uppercase letters (brand-like)
    r"\b[A-Z][0-9]{1,3}\b",                  # C60, D30
    r"(?:^|[^A-Za-z0-9_А-Яа-я])([А-Я][0-9]{1,3})(?:$|[^A-Za-z0-9_А-Яа-я])",  # Cyrillic С20
]


@memoized
def bracket_code(name: Column) -> Column:
    """First parenthesized token, uppercased; valid only if it is purely
    [Latin|Cyrillic|digit|-] and length ≥ 4 (ref main.py:1640-1666)."""
    raw = F.regexp_extract(name, r"\(([^)]+)\)", 1)
    code = F.upper(strip_ws(raw))
    ok = code.rlike(r"^[A-Za-zА-Яа-я0-9\-]+$") & (F.length(code) >= 4)
    return F.when(ok, code).otherwise(F.lit(None).cast("string"))


def _not_excluded(m: Column) -> Column:
    """Exclusion rules applied to each candidate match (ref main.py:1617-1633):
    spec-like tokens (mah/w/wh/ma), ≥5-digit pure numbers, and the stoplist."""
    lower = F.lower(m)
    return (
        ~lower.rlike(r"^\d+mah$|^\d+w$|^\d+wh$|^\d+ma$")
        & ~m.rlike(r"^\d{5,}$")
        & ~m.isin(CODE_STOPLIST)
    )


@memoized
def product_code_in_name(name: Column) -> Column:
    """Ordered multi-pattern extractor: for each pattern (priority order) take
    the first match that survives the exclusion rules (ref main.py:1591-1638)."""
    up = F.upper(name)
    result = F.lit(None).cast("string")
    # Build coalesce(p1_first_ok, p2_first_ok, ...) preserving priority.
    per_pattern = []
    for i, pat in enumerate(CODE_PATTERNS):
        group = 1 if i == len(CODE_PATTERNS) - 1 else 0
        matches = F.regexp_extract_all(up, F.lit(pat), group)
        surviving = F.filter(matches, _not_excluded)
        # F.get is null-safe on the empty array, so ONE instance of the
        # regexp_extract_all+filter tree suffices — the previous
        # `when(size(X) > 0, element_at(X, 1))` form evaluated the whole
        # regex pipeline twice per pattern in codegen (the dominant cost
        # of the code-match bench entries)
        per_pattern.append(F.get(surviving, 0))
    result = F.coalesce(*per_pattern)
    return F.when(name.isNull(), F.lit(None).cast("string")).otherwise(result)


@memoized
def battery_capacity(name: Column) -> Column:
    """Battery capacity (mAh) as a **string** of the captured digits.

    For each pattern in order, the *first* match is range-checked
    (5 ≤ v ≤ 999999); out-of-range falls through to the next pattern
    (ref main.py:1668-1710).
    """
    low = F.lower(name)
    pats = [r"(\d+)\s*mah", r"(\d+)mah", r"(\d+)\s*мач", r"(\d+)мач", r"(\d+)\s*мч", r"(\d+)мч"]
    candidates = []
    for pat in pats:
        cap = F.nullif(F.regexp_extract(low, pat, 1), F.lit(""))
        v = cap.try_cast("long")
        candidates.append(F.when((v >= 5) & (v <= 999999), cap))
    return F.coalesce(*candidates, F.lit(None).cast("string"))


@memoized
def product_code_unified(name: Column) -> Column:
    """Priority: bracket code → first known brand contained in the name →
    general name code if length ≥ 4 (ref main.py:1712-1750)."""
    up = F.upper(name)
    brand = F.coalesce(
        *[F.when(up.contains(b), F.lit(b)) for b in BRANDS],
        F.lit(None).cast("string"),
    )
    # Single instance of the (large) C5 expression: the length-guard is
    # applied via array filter instead of `when(length(x)>=4, x)`, which
    # would duplicate the whole expression tree in the generated code.
    name_code_ge4 = F.get(
        F.filter(F.array(product_code_in_name(name)), lambda x: x.isNotNull() & (F.length(x) >= 4)),
        0,
    )  # F.get is null-safe on the empty array (ANSI element_at would throw)
    return F.coalesce(bracket_code(name), brand, name_code_ge4)
