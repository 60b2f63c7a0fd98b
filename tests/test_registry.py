"""The registry's layout and order.

``_registry.ORDER`` is the driver-facing order; the family modules may
move and regroup freely as long as these hold.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

from mxene_coin_cell_data_pipeline_spark.plans._registry import ORDER, QUERIES
from mxene_coin_cell_data_pipeline_spark.plans.queries import oracle_sqls, query_fns

#: sha256 of the ordered (name, oracle, survey, note) records, taken
#: before the queries moved into family modules. A change here is a
#: change to what the driver sees: a reorder, or an edited oracle or tag.
REGISTRY_SHA256 = "21136c295af2717924b868d19186c587e4df1f584901fdc3b97e047e40ce983b"

FAMILY_MODULE = {
    "d": "dedup",
    "s": "similarity",
    "t": "text",
    "m": "multimodal",
    "g": "graph",
    "st": "streaming",
    "src": "sources",
    "p": "pipelines",
    "o": "curation",
    "e": "events",
    "q": "tpch",
    "j": "joins",
    "a": "aggregates",
    "qc": "aggregates",
    "w": "windows",
    "c": "casts",
    "u": "udfs",
}


def test_order_names_every_query_once():
    assert len(ORDER) == len(set(ORDER))
    assert set(ORDER) == set(QUERIES)
    assert list(query_fns()) == ORDER
    assert list(oracle_sqls()) == [n for n in ORDER if QUERIES[n].oracle is not None]


def test_ordered_records_hash():
    records = [[n, QUERIES[n].oracle, QUERIES[n].survey, QUERIES[n].note] for n in ORDER]
    digest = hashlib.sha256(json.dumps(records).encode()).hexdigest()
    assert digest == REGISTRY_SHA256


def test_each_query_lives_in_its_family_module():
    misplaced = {}
    for name, spec in QUERIES.items():
        want = FAMILY_MODULE[re.match(r"[a-z]+", name).group()]
        got = spec.spark.__module__.rsplit(".", 1)[-1]
        if got != want:
            misplaced[name] = got
    assert misplaced == {}


def test_one_family_imports_without_the_registry():
    """Importing one family module registers that family only; the
    package's ``QUERIES`` still loads every family on first use."""
    pkg = "mxene_coin_cell_data_pipeline_spark.plans"
    code = (
        f"import {pkg}.casts\n"
        f"from {pkg}._registry import QUERIES\n"
        "print(sorted(QUERIES))\n"
        f"from {pkg} import QUERIES as ALL\n"
        "print(len(ALL), ALL is QUERIES)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ).stdout.split("\n")
    casts = sorted(n for n, spec in QUERIES.items() if spec.spark.__module__.endswith(".casts"))
    assert out[0] == str(casts)
    assert out[1] == f"{len(ORDER)} True"
