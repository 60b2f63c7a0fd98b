"""Registered driver-contract queries, one module per family.

``QUERIES``, ``query_fns`` and ``oracle_sqls`` are re-exported lazily
(PEP 562): the first lookup imports ``queries``, which registers all
sixteen families. Importing one family module (``plans.casts``, or a
Python worker unpickling a kernel defined in ``plans.multimodal``)
imports only that module and what it imports itself.
"""

_REGISTRY_NAMES = ("QUERIES", "query_fns", "oracle_sqls")


def __getattr__(name):
    if name in _REGISTRY_NAMES:
        from . import queries

        return getattr(queries, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
