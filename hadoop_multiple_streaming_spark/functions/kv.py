"""Key/value line semantics — the reference's only data model.

A record is one UTF-8 line with an optional ``key SEP value`` split:
key = bytes up to the k-th occurrence of the separator (default tab,
k = stream.num.map.output.key.fields); if the line has fewer than k
separators the WHOLE line is the key and the value is empty
(reference splitKeyVal: MultiPipeMapRed.java:403-425, empty-value
branch :414-418, multi-field loop :409-413; separator config
MultiPipeMapper.java:117-124).

All functions here are pure Column expressions — they stay inside
Catalyst/whole-stage codegen, no Python UDFs.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType


def split_key_val(
    line: Column | str,
    separator: str = "\t",
    num_key_fields: int = 1,
) -> tuple[Column, Column]:
    """Return ``(key, value)`` columns from a line column.

    Exact Hadoop-streaming splitKeyVal semantics: if the line contains
    at least ``num_key_fields`` separators, key = the first
    ``num_key_fields`` fields joined by the separator and value = the
    remainder (possibly empty); otherwise key = whole line, value = "".
    """
    col = F.col(line) if isinstance(line, str) else line
    k = int(num_key_fields)
    if k < 1:
        raise ValueError("num_key_fields must be >= 1")
    if k == 1:
        # fast path (the overwhelmingly common config): one instr +
        # two substrings per row instead of regex split + array ops —
        # this is the text hot path feeding every pipe/aggregate job.
        pos = F.instr(col, separator)
        key = F.when(pos > 0, F.substring(col, F.lit(1), pos - 1)).otherwise(col)
        value = F.when(
            pos > 0, col.substr(pos + F.lit(len(separator)), F.length(col))
        ).otherwise(F.lit(""))
        return key, value
    # split(-1) keeps trailing empty fields, so "a\t" -> ["a", ""] and
    # the value correctly round-trips as the empty string.
    arr = F.split(col, re.escape(separator), -1)
    has_enough = F.size(arr) > F.lit(k)
    key = F.when(has_enough, F.array_join(F.slice(arr, 1, k), separator)).otherwise(col)
    # value = everything after the k-th separator, separators preserved
    value = F.when(
        has_enough,
        F.array_join(F.slice(arr, k + 1, F.size(arr) - k), separator),
    ).otherwise(F.lit(""))
    return key, value


def with_key_val(
    df: DataFrame,
    line_col: str = "line",
    separator: str | bytes = "\t",
    num_key_fields: int = 1,
    drop_line: bool = True,
) -> DataFrame:
    """Add ``key``/``value`` columns to a line DataFrame: strings for a
    string line, BINARY for a binary line (:func:`split_key_val_bytes`)."""
    binary = isinstance(df.schema[line_col].dataType, BinaryType)
    split = split_key_val_bytes if binary else split_key_val
    key, value = split(F.col(line_col), separator, num_key_fields)
    out = df.withColumn("key", key).withColumn("value", value)
    return out.drop(line_col) if drop_line else out


def join_key_val(
    key: Column | str,
    value: Column | str,
    separator: str = "\t",
    pad_empty_value: bool = True,
) -> Column:
    """Serialize (key, value) back to a line.

    Hadoop-faithful default: the separator is ALWAYS written, even for
    an empty value (`key\\t`) — Hadoop's Text values are non-null so
    TextOutputFormat emits `key SEP value` unconditionally, and the
    reference's intermediate rewrite hardcodes the tab
    (MultiPipeMapRed.java:458-463). Pass ``pad_empty_value=False`` for
    clean `key`-only lines when the value is empty.
    """
    k = F.col(key) if isinstance(key, str) else key
    v = F.col(value) if isinstance(value, str) else value
    joined = F.concat(k, F.lit(separator), v)
    if pad_empty_value:
        return joined
    return F.when(v == "", k).otherwise(joined)


def _separator_bytes(separator: str | bytes) -> bytes:
    """The byte form of a KV separator: a str is encoded ISO-8859-1
    (one byte per char, the lossless byte↔char bijection below)."""
    sep = (
        separator.encode("iso-8859-1")
        if isinstance(separator, str)
        else bytes(separator)
    )
    if not sep:
        raise ValueError("KV separator must be non-empty")
    return sep


def split_key_val_bytes(
    line: Column | str,
    separator: str | bytes = b"\t",
    num_key_fields: int = 1,
) -> tuple[Column, Column]:
    """Byte-faithful splitKeyVal over a BINARY line column — the
    reference's ``Text``-is-bytes KV contract extended past
    ``pipe_lines`` over a binary column to the full map→shuffle→reduce chain
    (its splitKeyVal scans RAW BYTES for the separator,
    MultiPipeMapRed.java:403-425: first-k-separators loop :409-413,
    empty-value branch :414-418), so a latin-1 or mixed-binary key
    survives bit-exactly where the string path would U+FFFD-mangle it.

    Mechanism: decode to ISO-8859-1 — a LOSSLESS byte↔char bijection
    (every byte 0x00-0xFF maps to exactly U+0000-U+00FF) — run the
    same separator-scan expressions as the string path, and encode the
    split halves back to binary. Pure Column expressions end to end:
    whole-stage codegen, no Python fence, and byte positions are
    preserved 1:1 so the scan IS a byte scan. Returns
    ``(key: binary, value: binary)``.
    """
    col = F.col(line) if isinstance(line, str) else line
    sep_s = _separator_bytes(separator).decode("iso-8859-1")
    s = F.decode(col, "ISO-8859-1")
    key_s, val_s = split_key_val(s, sep_s, num_key_fields)
    return (
        F.encode(key_s, "ISO-8859-1"),
        F.encode(val_s, "ISO-8859-1"),
    )


def join_key_val_bytes(
    key: Column | str,
    value: Column | str,
    separator: str | bytes = b"\t",
) -> Column:
    """Serialize BINARY (key, value) back to a binary line — the
    separator always written (Hadoop TextOutputFormat contract, as in
    :func:`join_key_val`); plain binary concat, no decode anywhere."""
    k = F.col(key) if isinstance(key, str) else key
    v = F.col(value) if isinstance(value, str) else value
    return F.concat(k, F.lit(_separator_bytes(separator)), v)


def to_lines(
    df: DataFrame,
    separator: str = "\t",
    columns: list[str] | None = None,
) -> DataFrame:
    """Serialize arbitrary typed columns to text lines (the bridge from
    parquet/csv tables into the line-oriented pipe world; reference data
    model §1.1). NULLs render as empty fields (concat_ws skips nulls —
    force empty string to keep field positions stable)."""
    cols = columns or df.columns
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
    return df.select(F.concat_ws(separator, *parts).alias("line"))
