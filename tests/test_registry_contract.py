"""Registry contract: `registry.MODULES` lists every query module exactly
once, each binds a `QUERIES` dict of `QuerySpec`s (the one registry form),
the keys are unique, and every key carries a well-typed DuckDB oracle.
Pure-Python apart from the oracle DESCRIBE pass.
"""

from __future__ import annotations

import ast
import pathlib

from banking_etl_pipeline_spark import registry
from banking_etl_pipeline_spark.registry import all_queries
from banking_etl_pipeline_spark.spec import QuerySpec

PACKAGE = pathlib.Path(registry.__file__).parent
QUERY_MODULE_FILES = sorted(
    path for sub in ("operators", "streaming", "sources")
    for path in (PACKAGE / sub).glob("*.py")
)


def _module_name(path: pathlib.Path) -> str:
    return f"banking_etl_pipeline_spark.{path.parent.name}.{path.stem}"


def _binds_queries(path: pathlib.Path) -> bool:
    """True if the module binds `QUERIES` at top level."""
    for node in ast.parse(path.read_text()).body:
        targets = (
            node.targets if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, ast.AnnAssign) else []
        )
        if any(isinstance(t, ast.Name) and t.id == "QUERIES" for t in targets):
            return True
    return False


def test_every_query_module_registered_once():
    """Every module under operators/, streaming/ and sources/ that binds
    `QUERIES` appears exactly once in the static module list, and nothing
    else does; the 276 keys are unique."""
    expected = sorted(
        _module_name(path) for path in QUERY_MODULE_FILES
        if _binds_queries(path)
    )
    listed = [mod.__name__ for mod in registry.MODULES]
    assert len(listed) == len(set(listed)), "a module is listed twice"
    assert sorted(listed) == expected
    # all_queries() is the modules' keys in list order, each key once
    keys = [k for mod in registry.MODULES for k in mod.QUERIES]
    assert len(keys) == len(set(keys)) == 276
    assert list(all_queries()) == keys


def test_one_registry_form():
    """Every registered module exports its queries one way: a module-level
    `QUERIES` dict of `QuerySpec`s. No query module defines a `queries()`
    function beside or instead of it."""
    for mod in registry.MODULES:
        assert isinstance(mod.QUERIES, dict), mod.__name__
        assert all(isinstance(spec, QuerySpec)
                   for spec in mod.QUERIES.values()), mod.__name__
    with_function = [
        _module_name(path) for path in QUERY_MODULE_FILES
        if any(isinstance(node, ast.FunctionDef) and node.name == "queries"
               for node in ast.parse(path.read_text()).body)
    ]
    assert with_function == []


def test_every_query_has_an_oracle():
    """Round-2 invariant: zero rows-only queries — every registered key
    carries a DuckDB oracle for the hash comparison."""
    missing = [k for k, s in all_queries().items() if s.oracle is None]
    assert missing == []


def test_no_oracle_emits_hugeint(sf_dir):
    """r4 driver lesson (priority_line_counts, pack_sequences): DuckDB
    SUM(int)→HUGEINT and DECIMAL(38,*) pandas-convert to float64/object
    while Spark emits bigint — invisible to fetchall() compares, fails the
    driver's value hash. DESCRIBE every oracle and reject those types at
    the top level; <1 s for the whole surface."""
    from tests.oracle_compare import duck_connection, oracle_type_offenders

    con = duck_connection(sf_dir)
    offenders = {}
    for key, spec in all_queries().items():
        if spec.oracle is None:
            continue
        bad = oracle_type_offenders(con, spec.oracle)
        if bad:
            offenders[key] = bad
    assert offenders == {}, (
        f"oracles emitting HUGEINT/DECIMAL(38) columns: {offenders} — "
        "add CAST(... AS BIGINT) in the oracle SQL"
    )


def test_r6_registration_landed():
    """The round-6 registrations: the eleven r4/r5 tiers plus the two tiers
    built that round (planner, lshscale) are all in the registry (276
    keys), each spec complete."""
    merged = all_queries()
    assert len(merged) == 276
    for key in ("substring_dup_coverage", "pq_encode", "shard_assignment",
                "dataset_diff", "retrieval_ndcg", "epoch_shuffle_heads",
                "ivm_join_delta", "target_encoding_oof", "ece_report",
                "bfs_layers", "kmv_jaccard_report",
                "shuffle_partition_plan", "lsh_candidate_report",
                "lsh_paramscan_report", "dedup_embedding_cosine_scaled"):
        assert key in merged, f"tier key {key!r} missing from the registry"
        spec = merged[key]
        assert isinstance(spec, QuerySpec) and callable(spec.build), key
        assert spec.oracle and spec.oracle.strip().upper().startswith(
            ("WITH", "SELECT")), f"{key}: oracle missing/odd"
        assert spec.doc, f"{key}: missing description"
