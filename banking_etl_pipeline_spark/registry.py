"""Central query registry: key → QuerySpec(spark builder, duckdb oracle SQL).

A static list of the operator modules; `all_queries()` concatenates their
query dicts in list order. `__spark_entry__.py` exposes this to the driver;
`tests/driver_sim.py` and `tests/test_oracle_parity.py` compare every key
with its DuckDB oracle. An operator module that fails to import fails the
import of this module: a broken module never silently shrinks the registry.
"""

from __future__ import annotations

from .operators import (
    analytics,
    bitext,
    calibration,
    corpus,
    curation,
    curriculum,
    dataops,
    dedup,
    epochs,
    etl,
    features,
    graphs,
    ivm,
    kmv,
    layout,
    lshscale,
    multimodal,
    planner,
    pquant,
    preference,
    privacy,
    quality,
    relational,
    reports,
    retrieval,
    safety,
    sampling,
    shards,
    similarity,
    skew,
    substrings,
    text,
    tokenizer,
    weaklabel,
    windows,
)
from .sources import scan_queries
from .spec import QuerySpec
from .streaming import stateful as stream_stateful
from .streaming import windows as stream_windows

MODULES = (
    quality, scan_queries, etl, windows, dedup, corpus, similarity, text,
    multimodal, stream_windows, stream_stateful, relational, analytics, skew,
    sampling, layout, curation, reports, tokenizer, privacy, bitext, safety,
    preference, curriculum, weaklabel, substrings, pquant, shards, dataops,
    retrieval, epochs, ivm, features, calibration, graphs, kmv, planner,
    lshscale,
)


def module_queries(mod) -> dict[str, QuerySpec]:
    """A module's query dict: its `QUERIES` attribute or `queries()`."""
    qs = getattr(mod, "QUERIES", None)
    return dict(qs) if qs is not None else mod.queries()


def all_queries() -> dict[str, QuerySpec]:
    out: dict[str, QuerySpec] = {}
    for mod in MODULES:
        for key, spec in module_queries(mod).items():
            if key in out:
                raise ValueError(f"duplicate query key {key!r}")
            out[key] = spec
    return out
