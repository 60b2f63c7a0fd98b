"""``read_cycler_csv`` names and reads a CSV as Spark's header inference
does.

A single file's header is read on the driver and tokenized by Spark's
CSV parser; a directory or a glob goes through Spark's own inference.
Either way the columns and the rows must be those of
``spark.read.option("header", True).csv(path)`` with the same
delimiter (and the header whitespace trimmed), and naming a single
file runs no Spark job.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.errors import AnalysisException

from mxene_coin_cell_data_pipeline_spark.sources import read_cycler_csv
from test_plan_shapes import _jobs_in

ROWS = b"1,2,3\n4,5,6\n"

CASES = {
    "plain": b"a,b,c\n" + ROWS,
    "bom": b"\xef\xbb\xbfa,b,c\n" + ROWS,
    "bom_then_blank_line": b"\xef\xbb\xbf\na,b,c\n" + ROWS,
    "doubled_quotes": b'"a ""x""",b,"c,d"\n' + ROWS,
    "backslash_escape": b'"a\\"b",c\\"d,e\n' + ROWS,
    "case_duplicates": b"a,A,b\n" + ROWS,
    "duplicate_and_indexed": b"a,a,a1\n" + ROWS,
    "empty_fields": b'a,,"",b\n1,2,3,4\n',
    "ragged_rows": b"a,b,c\n1,2\n1,2,3,4\n\n5,6,7\n",
    "semicolon": b"a;b;c\n1;2;3\n",
    "semicolon_with_comma_value": b"a;b\n1,5;2\n",
    "non_utf8": b"caf\xe9,b\xff\xfe,c\n" + ROWS,
    "padded_names": b" a , b ,c \n" + ROWS,
    "blank_lines_first": b"\n \t\na,b,c\n" + ROWS,
    "crlf": b"a,b,c\r\n1,2,3\r\n",
    "dollar_braces": b"a,${spark.app.name},${x}\n" + ROWS,
    "header_only": b"a,b,c\n",
    "empty_file": b"",
}


def _outcome(read):
    """Columns and rows of ``read()``, or the condition of the analysis
    error it raised (Spark refuses a header whose safe names still
    collide)."""
    try:
        df = read()
    except AnalysisException as e:
        return e.getCondition()
    return df.columns, df.collect()


def _read_jobs(spark, path: str) -> int:
    """Spark jobs that building ``read_cycler_csv(path)`` runs."""

    def build():
        with contextlib.suppress(AnalysisException):  # compared in _assert_same
            read_cycler_csv(spark, path)

    return _jobs_in(spark, "csv-header", build)[1]


def _assert_same(spark, path: str, sep: str, given: str | None = None) -> None:
    """Same outcome as Spark's read with ``sep``; ``given`` is passed to
    ``read_cycler_csv`` as its ``sep`` (None: it picks one)."""

    def spark_read():
        df = spark.read.option("header", True).option("sep", sep).csv(path)
        return df.toDF(*(c.strip() for c in df.columns))

    ours = _outcome(lambda: read_cycler_csv(spark, path, sep=given))
    assert ours == _outcome(spark_read)


@pytest.mark.parametrize("case", sorted(CASES))
def test_single_file_header_matches_spark(spark, tmp_path, case):
    path = tmp_path / "raw.csv"
    path.write_bytes(CASES[case])
    _assert_same(spark, str(path), ";" if case.startswith("semicolon") else ",")
    assert _read_jobs(spark, str(path)) == 0


@pytest.mark.parametrize("pattern", ["dir", "dir/*.csv"])
def test_directory_and_glob_match_spark(spark, tmp_path, pattern):
    (tmp_path / "dir").mkdir()
    (tmp_path / "dir" / "part.csv").write_bytes(CASES["case_duplicates"])
    _assert_same(spark, str(tmp_path / pattern), ",")


@pytest.mark.parametrize(
    "sep, data",
    [
        ("\\t", b"a\tb\tc\n1\t2\t3\n"),
        ("\t", b"a\tb\tc\n1\t2\t3\n"),
        ("||", b"a||b||c\n1||2||3\n"),
    ],
    ids=["escaped_tab", "tab", "two_chars"],
)
def test_given_sep_matches_spark(spark, tmp_path, sep, data):
    """A ``sep`` passed in any spelling Spark takes names every column."""
    path = tmp_path / "raw.csv"
    path.write_bytes(data)
    _assert_same(spark, str(path), sep, given=sep)
    assert read_cycler_csv(spark, str(path), sep=sep).columns == ["a", "b", "c"]
