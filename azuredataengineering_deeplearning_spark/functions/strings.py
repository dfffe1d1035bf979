"""String expression helpers (SURVEY §2.8 F1-F7).

All pure Column expressions — JVM-side, inside whole-stage codegen. The
reference does most of these in pandas (``daily_eval.py:52-64`` regex
cleaning chains, ``prepare_dataset.py:15`` serial scrub); here they are
vectorized expressions that scale with the scan.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def regex_scrub(col: Column | str, pattern: str, replacement: str = "") -> Column:
    """F1: regexp_replace (serial scrub ``prepare_dataset.py:15``, HTML
    strip ``daily_eval.py:52-64``)."""
    return F.regexp_replace(_c(col), pattern, replacement)


def collapse_whitespace(col: Column | str) -> Column:
    """F1/F5: collapse runs of whitespace and trim
    (``devops_batch_download_all.py:195-200``)."""
    return F.trim(F.regexp_replace(_c(col), r"\s+", " "))


def strip_html(col: Column | str) -> Column:
    """F1: remove markup tags (``daily_eval.py:52-64``)."""
    return F.regexp_replace(_c(col), r"<[^>]+>", " ")


def regex_extract(col: Column | str, pattern: str, group: int = 0) -> Column:
    """F2: regexp_extract (``generate_data.py:249-250`` ``MSF-\\d{6}``)."""
    return F.regexp_extract(_c(col), pattern, group)


def split_part(col: Column | str, delimiter: str, index: int) -> Column:
    """F3: split + element access (``spark_stream.py:23`` path parsing).
    ``index`` is 0-based like the reference's ``getItem``."""
    return F.split(_c(col), re.escape(delimiter)).getItem(index)


def truncate_chars(col: Column | str, max_chars: int) -> Column:
    """F4: cap string length (``databricks_synapse_sql_writer.py:318-321``
    truncates ≥400k-char cells before export)."""
    return F.when(
        F.length(_c(col)) > max_chars, F.substring(_c(col), 1, max_chars)
    ).otherwise(_c(col))


def clean_text(col: Column | str) -> Column:
    """F1+F5 composite: html-strip → whitespace-collapse → trim — the
    reference's ticket-text cleaning chain (``daily_eval.py:52-65``)."""
    return collapse_whitespace(strip_html(_c(col)))


def concat_kv(pairs: list[tuple[str, Column | str]], sep: str = " | ") -> Column:
    """F7: 'k: v' prompt-style concatenation
    (``parallel_sentence_embedding_databricks.py:10-30``) as one
    ``concat_ws`` — no UDF."""
    parts = [F.concat_ws(": ", F.lit(k), _c(v).cast("string")) for k, v in pairs]
    return F.concat_ws(sep, *parts)


def normalize_column_names(columns: list[str]) -> dict[str, str]:
    """F6: driver-side rename map — lowerCamelCase, strip separators
    (``camel_case_generator.py:4-5``). Pure metadata, no data movement."""
    out: dict[str, str] = {}
    for name in columns:
        tokens = [t for t in re.split(r"[\s._/\-]+", name.strip()) if t]
        camel = "".join(
            t.lower() if i == 0 else t[:1].upper() + t[1:].lower()
            for i, t in enumerate(tokens)
        )
        out[name] = camel or name
    return out


def sql_ident(name: str) -> str:
    """Any column name as a SQL identifier for expression strings."""
    return "`" + name.replace("`", "``") + "`"


def quote_if_needed(name: str) -> str:
    """Backtick-quote column names containing separators
    (``merge_generator.py:59``, ``AIO_delta_table_generator.py:39``)."""
    return f"`{name}`" if re.search(r"[.\-/\s]", name) else name
