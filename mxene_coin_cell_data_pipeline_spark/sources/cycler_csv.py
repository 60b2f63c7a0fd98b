"""Cycler CSV source with delimiter fallback (SURVEY.md §2.1 S1/S2).

Reference behavior: ``pd.read_csv`` then retry with ``sep=";"`` on
failure (/root/reference/pipeline.py:19-23). pandas fails on a
semicolon file because the comma-sniffed parse yields ragged rows; a
Spark CSV read never "fails" that way, so the equivalent detection is:
if the first line holds ``;`` and no ``,``, read with ``sep=";"``. The
distributed scan happens once, with the right delimiter.

All columns are read as strings (header=True, no inferSchema): the
normalize operator owns every cast, so semantics never depend on
Spark's CSV type inference.

A single uncompressed file costs no Spark job before the scan. Its
first lines are read on the driver through the path's Hadoop
``FileSystem``; the header is tokenized by Spark's own CSV parser
(``from_csv`` over a ``VALUES`` row, which runs locally) and named by
Spark's header rules; the scan gets that all-string schema. The
columns and rows are the ones Spark's header inference gives. A
directory, a glob, a compressed or an empty file is read as before:
one Spark job for the first line, one for the header inference.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

#: characters that make Spark expand a path as a glob
_GLOB = re.compile(r"[{}\[\]*?\\]")


def _pick_sep(first_line: str | None) -> str:
    """``;`` when the file's first line holds ``;`` and no ``,``."""
    if first_line and ";" in first_line and "," not in first_line:
        return ";"
    return ","


def _first_lines(spark: SparkSession, path: str) -> tuple[str, str] | None:
    """The first line of the file at ``path`` and its first line that
    is not all spaces, which is the header Spark's inference takes (it
    filters with SQL ``trim``, which strips spaces only). Both are
    decoded as UTF-8 like Spark's text reader, with a leading byte-order
    mark dropped as Hadoop's line reader drops it. None when ``path`` is
    not one uncompressed file with such a line."""
    if _GLOB.search(path):
        return None
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    if not fs.isFile(p):
        return None
    if jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(p):
        return None
    io = jvm.java.io
    reader = io.BufferedReader(io.InputStreamReader(fs.open(p), "UTF-8"))
    try:
        first = line = reader.readLine()
        if first is not None and first.startswith("\ufeff"):
            first = line = first[1:]
        while line is not None and not line.strip(" "):
            line = reader.readLine()
    finally:
        reader.close()
    return None if line is None else (first, line)


def _header_tokens(spark: SparkSession, line: str, sep: str) -> list[str | None]:
    """``line`` split by Spark's CSV parser (quotes, escapes) in a local
    query: no Spark job. ``schema_of_csv`` gives the field count.
    ``from_csv`` parses into a bound on it: one field more than the
    separators for a one-character ``sep``, else one more than the
    line's characters, since Spark also takes escaped spellings such as
    ``\\t`` (the longer schema costs some 9 ms on a 200-character
    header). The line is a bound parameter, so no ``${...}`` in it is
    substituted."""
    bound = line.count(sep) + 1 if len(sep) == 1 else len(line) + 1
    fields = ", ".join(f"_c{i} STRING" for i in range(bound))
    (row,) = spark.sql(
        "SELECT schema_of_csv(:line, map('sep', :sep)) AS s, "
        f"from_csv(col1, '{fields}', map('sep', :sep)) AS t FROM VALUES (:line)",
        args={"line": line, "sep": sep},
    ).collect()
    return list(row["t"])[: len(re.findall(r"\b_c\d+:", row["s"]))]


def _safe_header(tokens: list[str | None], case_sensitive: bool) -> list[str]:
    """Spark's header names (``CSVUtils.makeSafeHeader``): an empty
    name becomes ``_c<i>``, a duplicate (case-insensitively unless the
    session is case-sensitive) gets its index appended."""
    fold = (lambda s: s) if case_sensitive else str.lower
    counts = Counter(fold(t) for t in tokens if t is not None)
    return [
        f"_c{i}" if not t else f"{t}{i}" if counts[fold(t)] > 1 else t
        for i, t in enumerate(tokens)
    ]


def read_cycler_csv(spark: SparkSession, path: str, sep: str | None = None) -> DataFrame:
    """Read a vendor cycler CSV with delimiter fallback; all-string schema."""
    reader = spark.read.option("header", True).option("mode", "PERMISSIVE")
    lines = _first_lines(spark, path)
    if lines is None:
        if sep is None:
            first = spark.read.text(path).limit(1).collect()
            sep = _pick_sep(first[0][0] if first else None)
        df = reader.option("sep", sep).csv(path)
    else:
        first, header = lines
        if sep is None:
            sep = _pick_sep(first)
        case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
        names = _safe_header(_header_tokens(spark, header, sep), case_sensitive)
        schema = StructType([StructField(n, StringType()) for n in names])
        df = reader.schema(schema).option("sep", sep).csv(path)
    # trim header whitespace (pipeline.py:26)
    trimmed = [c.strip() for c in df.columns]
    if trimmed != list(df.columns):
        df = df.toDF(*trimmed)
    return df
