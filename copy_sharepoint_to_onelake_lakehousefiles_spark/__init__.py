"""copy_sharepoint_to_onelake_lakehousefiles_spark — a PySpark-native analytics engine.

Built from scratch against the capability surface of the reference repo
``fahmifahim/Copy-SharePoint-To-OneLake-LakehouseFiles`` (an idempotent recursive
SharePoint→OneLake copy notebook), generalized to a DataFrame engine:

- ``tables``      — schema-declared loaders for the fixture star schema
- ``operators``   — relational / text / dedup / similarity / as-of operators
- ``sources``     — custom Data Sources (the ``graph_manifest`` tree listing,
                    lite lakehouse readers, stream sources and sinks)
- ``plans``       — the copy subsystem (plan = anti-join, execute = mapInPandas
                    with atomic per-file publish)
- ``streaming``   — Structured Streaming tier over the events table
- ``multimodal``  — binary-column plumbing with stubbed decoders

Everything is public PySpark API; no custom Catalyst extensions.
"""

from . import registry
from .session import get_spark

__all__ = ["registry", "get_spark", "all_queries", "all_oracles"]


def _load_all_operator_modules() -> None:
    # Import for registration side effects (the @query decorator).
    from .operators import (  # noqa: F401
        asof,
        contamination,
        dedup,
        graph,
        incremental,
        pipeline,
        pq,
        profile,
        rangejoin,
        regression,
        relational,
        similarity,
        sketches,
        skew,
        text,
    )
    from . import plans as _plans  # noqa: F401
    from .plans import (  # noqa: F401
        copy_plan,
        deltalog,
        iceberg,
        joinplan,
        metatables,
    )
    from .sources import formats  # noqa: F401
    from .streaming import tws, windows  # noqa: F401
    from .multimodal import media  # noqa: F401


def all_queries():
    _load_all_operator_modules()
    return dict(registry.QUERIES)


def all_oracles():
    _load_all_operator_modules()
    return dict(registry.ORACLES)
