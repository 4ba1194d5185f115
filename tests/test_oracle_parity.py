"""Every registered query must match its DuckDB oracle exactly at
sf0.001 — the local version of the driver's t2 correctness gate. The same
build also carries the plan invariants that hold for every key."""

from __future__ import annotations

import pytest

from banking_etl_pipeline_spark.plans import plan_of
from banking_etl_pipeline_spark.registry import all_queries

from .oracle_compare import assert_oracle_parity, compare, duck_connection

_QUERIES = all_queries()

# explicit Arrow mapInPandas plumbing: the only operators that may run Python
_PYTHON_EVAL_OK = {"multimodal_decode", "multimodal_resize",
                   "multimodal_features", "multimodal_frame_sample",
                   "multimodal_audio_windows"}


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


def _assert_plan_invariants(key, df):
    """No batch query plans a CartesianProduct: every cross join in the
    engine is a broadcast of a scalar/tiny relation (BroadcastNestedLoopJoin),
    never a shuffled n×m product. No query broadcasts an exploded fact-side
    relation. Relational/window/dedup/text operators stay JVM-side; only the
    multimodal operators may run Python."""
    p = plan_of(df)
    if key != "banking_txn_pipeline":
        assert "CartesianProduct" not in p, f"{key}: CartesianProduct in plan"
        bad = _unbounded_broadcast_explodes(plan_of(df, "simple"))
        assert not bad, f"{key}: broadcast over unbounded explode: {bad}"
    if key not in _PYTHON_EVAL_OK:
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                       "FlatMapGroupsInPandas"):
            assert marker not in p, f"{key}: Python eval node ({marker})"


def _unbounded_broadcast_explodes(plan: str) -> list[str]:
    """BroadcastExchange subtrees whose content is an UN-bounded explode:
    a Generate reached from the exchange with no aggregate / persisted
    relation between them, whose own input hits a FileScan before any
    bounding node. Catalyst keeps the pre-explode size estimate for
    Generate, so such a relation can slip under the broadcast threshold
    locally while being ∝ corpus size — the lm_score pathology
    (the exploded bigram FACT side broadcast at sf3: 8.0 s → 1.77 s once
    the stats side carried the explicit broadcast; at 100 TB it would
    have OOMed the build side). Bounded shapes stay legal: explode over
    an aggregate (quantile targets, salt fan-out), over a Range dimension
    (range_join's bands), or over a persisted relation whose stats are
    accurate (the minhash band index)."""
    bounding = ("HashAggregate", "SortAggregate", "ObjectHashAggregate",
                "InMemoryRelation", "InMemoryTableScan", "Range ")
    lines = [ln for ln in plan.splitlines() if not ln.startswith("(")]

    def indent_of(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-*"))

    bad = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        base = indent_of(ln)
        blocked = False
        for j in range(i + 1, len(lines)):
            ln2 = lines[j]
            if ln2.strip() and indent_of(ln2) <= base:
                break
            if any(b in ln2 for b in bounding):
                blocked = True
            if "Generate" in ln2 and not blocked:
                # bounded iff the explode's input is bounded: walk below
                # the Generate — a bounding node before any FileScan means
                # the exploded relation cannot scale with the corpus
                gind = indent_of(ln2)
                verdict = "filescan"
                for ln3 in lines[j + 1:]:
                    if ln3.strip() and indent_of(ln3) <= gind:
                        break
                    if any(b in ln3 for b in bounding):
                        verdict = "bounded"
                        break
                    if "FileScan" in ln3:
                        break
                if verdict == "filescan":
                    bad.append(ln2.strip()[:100])
                blocked = True  # deeper Generates judged on their own input
        # (multiple exchanges per plan each get their own walk)
    return bad


@pytest.mark.parametrize("key", list(_QUERIES))
def test_oracle_parity(key, spark, sf_dir, con):
    spec = _QUERIES[key]
    df = spec.build(spark, sf_dir)
    if not key.startswith("streaming_"):
        _assert_plan_invariants(key, df)
    assert_oracle_parity(df, con, spec.oracle, key)


def test_compare_rejects_array_outputs(spark, sf_dir, con):
    """Driver-canonicalizer contract: a top-level array/map output column
    crashes the driver's pandas sort (unhashable 'list'), so compare() must
    reject it before the tuple-izing local comparison can mask the class
    (embedding_quantize and multimodal_features once returned arrays and
    passed local compares while failing the driver)."""
    df = spark.createDataFrame([(1, [1, 2])], "id int, xs array<int>")
    with pytest.raises(AssertionError, match="array/map"):
        compare(df, con, "SELECT 1 AS id, [1, 2] AS xs")

