"""Driver-contract query registry — aggregator.

Importing this module registers every query: it imports the sixteen
family modules, one per query-name prefix (``d*`` → ``dedup``, ``st*`` →
``streaming`` ...; COVERAGE.md, "Registry layout and order"). Import
order does not matter: the driver-facing order is ``_registry.ORDER``,
and a module whose oracle reuses another family's registered oracle
imports that family itself.

Core (QuerySpec, the registry dict, ``_register``/``_ctx``/``_dsum6``,
``ORDER``) lives in ``_registry``; this module re-exports the registry
surface (``QUERIES``, ``ORDER``, ``query_fns``, ``oracle_sqls``).
"""

from __future__ import annotations

from . import (  # noqa: F401
    aggregates,
    casts,
    curation,
    dedup,
    events,
    graph,
    joins,
    multimodal,
    pipelines,
    similarity,
    sources,
    streaming,
    text,
    tpch,
    udfs,
    windows,
)
from ._registry import ORDER, QUERIES, oracle_sqls, query_fns  # noqa: F401
