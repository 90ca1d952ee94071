"""Normalization / validation scalar functions (reference P1-P6, P10).

Re-expresses the reference's pure-Python row functions
(``/root/reference/backend/worker.py:19-81``) as Catalyst column
expressions — zero per-row Python, fully codegen'd, vectorizable over
columnar parquet. Semantics parity is unit-tested against a Python
oracle in ``tests/test_functions.py``.

Notes on fidelity:
- Python ``str.strip()`` / ``str.split()`` treat *all* whitespace; Spark
  ``trim`` only strips spaces, so we use regexp-based strip/collapse.
- The comment-strip regex ``\\s*\\(.*?\\)\\s*$`` is end-anchored, so a
  single ``regexp_replace`` matches Python ``re.sub`` behavior.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Matches /root/reference/backend/worker.py:55 (pattern string is public
# reference *behavior*, identical in Java and Python regex dialects).
EMAIL_PATTERN = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"

_WS_EDGE = r"^\s+|\s+$"
_WS_RUN = r"\s+"


def _strip(col: Column) -> Column:
    """Python-``str.strip()``-faithful trim (all whitespace classes)."""
    return F.regexp_replace(col, _WS_EDGE, "")


def _collapse_ws(col: Column) -> Column:
    """Collapse internal whitespace runs to a single space."""
    return F.regexp_replace(col, _WS_RUN, " ")


def normalize_email(col: Column) -> Column:
    """P1 (`worker.py:19-31`): strip → lower → drop trailing ``(comment)``
    → collapse whitespace → empty ⇒ NULL."""
    e = F.lower(_strip(col))
    e = F.regexp_replace(e, r"\s*\(.*?\)\s*$", "")
    e = _collapse_ws(_strip(e))
    return F.nullif(e, F.lit(""))


def is_valid_email_format(col: Column) -> Column:
    """P2 (`worker.py:34-56`): length ≤ 254, no ``;``/``,``, anchored
    email regex. The reference's split-based @/domain checks are implied
    by the regex; parity is property-tested."""
    return (
        col.isNotNull()
        & (F.length(col) <= 254)
        & ~col.rlike("[;,]")
        & col.rlike(EMAIL_PATTERN)
    )


def clean_field(col: Column) -> Column:
    """P3 (`worker.py:59-70`): strip + collapse whitespace, empty ⇒ NULL."""
    return F.nullif(_collapse_ws(_strip(col)), F.lit(""))


def identity_signature(first_name: Column, last_name: Column, company: Column) -> Column:
    """P4 (`worker.py:73-81`): normalized (fn, ln, co) struct; NULL ⇒ ''.

    Same normalized key ⇒ silent dedup; differing key under one natural
    key ⇒ conflict. Struct columns group/compare natively in Spark.
    """

    def norm(c: Column) -> Column:
        return F.lower(_strip(F.coalesce(c, F.lit(""))))

    return F.struct(
        norm(first_name).alias("fn"),
        norm(last_name).alias("ln"),
        norm(company).alias("co"),
    )


def validation_issues(
    normalized_email: Column,
    first_name: Column,
    last_name: Column,
    company: Column,
) -> Column:
    """P6 (`worker.py:338-356`): per-row issue-type array.

    Returns ``array<string>`` of issue codes (empty array = valid row).
    Mirrors the reference's issue taxonomy
    (`/root/reference/backend/constants.py:10-16`).
    """
    issues = F.array()

    def add_if(cond: Column, code: str, acc: Column) -> Column:
        return F.when(cond, F.array_append(acc, F.lit(code))).otherwise(acc)

    issues = add_if(normalized_email.isNull(), "MISSING_EMAIL", issues)
    issues = add_if(
        normalized_email.isNotNull() & ~is_valid_email_format(normalized_email),
        "INVALID_EMAIL_FORMAT",
        issues,
    )
    issues = add_if(clean_field(first_name).isNull(), "MISSING_FIRST_NAME", issues)
    issues = add_if(clean_field(last_name).isNull(), "MISSING_LAST_NAME", issues)
    issues = add_if(clean_field(company).isNull(), "MISSING_COMPANY", issues)
    return issues
