"""Text/scalar helper expressions — SURVEY.md §2.7 (F1-F11) as Column exprs.

Each function cites the reference code whose semantics it reproduces; all are
built-in-function compositions (JVM-side, codegen'd), never Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def to_path_name(col: Column | str, max_len: int = 255) -> Column:
    """F1 — path-safe sanitize (contract_crawler.py:44-46):
    replace ``[^a-zA-Z0-9\\-_\\.]`` with ``_`` and truncate."""
    return F.substring(F.regexp_replace(_c(col), r"[^a-zA-Z0-9\-_\.]", "_"), 1, max_len)


def strip_comments_normalize(col: Column | str) -> Column:
    """F4 — comment/whitespace normalization (solidity-naive-checksum.py:6-10):
    remove ``/*...*/`` (dotall), remove ``//...`` to end-of-line, collapse
    whitespace runs to a single space, trim."""
    c = _c(col)
    c = F.regexp_replace(c, r"(?s)/\*.*?\*/", "")
    c = F.regexp_replace(c, r"//[^\n]*", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def extract_count_int(col: Column | str, pattern: str = r"a total of ([\d,]+)") -> Column:
    """F5 — regex-extract an integer with thousands separators
    (contract_crawler.py:170-175): capture, strip commas, cast int."""
    return F.replace(F.regexp_extract(_c(col), pattern, 1), F.lit(","), F.lit("")).cast("int")


def import_basename(line: Column | str) -> Column:
    """F6 — import-line basename capture (fix-imports-solidity.py:36-39)."""
    return F.regexp_extract(_c(line), r"""['"].*/(\w+\.sol)['"];""", 1)


def strip_seq_prefix(fname: Column | str) -> Column:
    """Inverse of F7 used by the import-fix join (fix-imports-solidity.py:31):
    drop the 6-char ``NN_NN_`` prefix."""
    return F.substring(_c(fname), 7, 2_000_000)


def starts_with_digit(col: Column | str) -> Column:
    """P4 — numeric-prefix predicate (contract_crawler.py:48-49, :224)."""
    return F.regexp_like(_c(col), F.lit(r"^\d"))
