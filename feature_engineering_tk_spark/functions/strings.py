"""String cleaning — reference ``clean_string_columns``
(``preprocessing.py:912-998``), 7 ops applied in caller order, plus
``handle_whitespace_variants`` (``preprocessing.py:1000-1054``) and
``extract_string_length`` (``preprocessing.py:1056-1106``).

Parity traps:
- 'title': pandas ``str.title()`` titlecases after ANY non-alpha
  (``"a-b c" → "A-B C"``) while Spark ``initcap`` splits on whitespace
  only → routed through a vectorized pandas UDF for exact parity.
- 'remove_punctuation': Python ``re`` ``\\w`` is Unicode-aware; Java
  regex needs the ``(?U)`` flag to match. An ``_ascii`` variant uses a
  plain ASCII class (identical in every engine — used for the DuckDB
  oracle queries).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _title_udf(c):
    # built per call: a UDF object keeps the accumulator of the
    # SparkContext it was first used in, so a cached one fails to
    # report after that context stops
    @pandas_udf("string")
    def title(s: pd.Series) -> pd.Series:
        # exact pandas .str.title() semantics (Python str.title)
        return s.str.title()

    return title(c)


_OPS: dict[str, callable] = {
    "strip": F.trim,
    "lower": F.lower,
    "upper": F.upper,
    "title": lambda c: _title_udf(c),
    # (?U) makes Java \w / \s Unicode-aware like Python re
    "remove_punctuation": lambda c: F.regexp_replace(c, r"(?U)[^\w\s]", ""),
    "remove_punctuation_ascii": lambda c: F.regexp_replace(c, r"[^a-zA-Z0-9 ]", ""),
    "remove_digits": lambda c: F.regexp_replace(c, r"\d+", ""),
    "remove_extra_spaces": lambda c: F.trim(F.regexp_replace(c, r" +", " ")),
    "normalize_whitespace": lambda c: F.trim(F.regexp_replace(c, r"(?U)\s+", " ")),
}


def clean_strings(df: DataFrame, columns: list[str], operations: list[str]) -> DataFrame:
    """Apply cleaning ops in caller order (reference ``:968-982``)."""
    unknown = [o for o in operations if o not in _OPS]
    if unknown:
        raise ValueError(f"unknown string operations: {unknown}")
    upd = {}
    for col in columns:
        c: Column = F.col(col)
        for op in operations:
            c = _OPS[op](c)
        upd[col] = c
    return df.withColumns(upd)


def handle_whitespace_variants(df: DataFrame, columns: list[str]) -> DataFrame:
    """strip + collapse internal whitespace (preprocessing.py:1000-1054)."""
    return clean_strings(df, columns, ["normalize_whitespace"])


def extract_string_length(df: DataFrame, columns: list[str], suffix: str = "_length") -> DataFrame:
    """Character count — pandas ``str.len()`` and ``F.length`` both
    count characters (not bytes) ⇒ direct parity. Nulls stay null."""
    return df.withColumns({f"{c}{suffix}": F.length(F.col(c)) for c in columns})
