"""Property-based invariants (SURVEY.md §5.4) — hypothesis generates the
row data, Spark evaluates, the invariant must hold for ALL generated inputs:

- running balance telescopes: last running_balance == sum of signed amounts;
- currency conversion is monotone: amount_usd >= amount for EUR/GBP, == USD;
- exact dedup is idempotent: dedup(dedup(x)) == dedup(x) keepers;
- merge_upsert is idempotent and right-biased;
- the gate's duplicate count equals the reference's total − distinct(keys)
  when key components are null.

Spark-session-per-example would be prohibitive, so examples are small row
lists evaluated on the shared session with deadline disabled.
"""

from __future__ import annotations

import datetime as dt
import decimal

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from banking_etl_pipeline_spark.domain.schemas import TRANSACTION_SCHEMA
from banking_etl_pipeline_spark.domain.transactions import (
    clean_transactions,
    enrich_transactions,
    transaction_metrics,
)
from banking_etl_pipeline_spark.operators.quality import (
    QualityChecker,
    QualityConfig,
)
from banking_etl_pipeline_spark.sinks.writers import merge_upsert

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

amounts = st.decimals(min_value=decimal.Decimal("0.01"),
                      max_value=decimal.Decimal("5000.00"), places=2)
currencies = st.sampled_from(["USD", "EUR", "GBP"])
types = st.sampled_from(["deposit", "withdrawal", "payment", "transfer"])
offsets = st.integers(min_value=0, max_value=10_000_000)

txn_rows = st.lists(
    st.tuples(amounts, currencies, types, offsets),
    min_size=1, max_size=25, unique_by=lambda t: t[3],
)


def _df(spark, rows):
    base = dt.datetime(2025, 1, 1)
    data = [
        (f"T{i}", "ACC1", base + dt.timedelta(seconds=off), ttype, amt, ccy,
         "d", "m", "retail", "completed", "online", "USA", False)
        for i, (amt, ccy, ttype, off) in enumerate(rows)
    ]
    return spark.createDataFrame(data, TRANSACTION_SCHEMA)


@given(rows=txn_rows)
@settings(**SETTINGS)
def test_running_balance_telescopes(spark, rows):
    out = transaction_metrics(enrich_transactions(clean_transactions(
        _df(spark, rows))))
    rows_out = out.orderBy("transaction_date", "transaction_id").collect()
    total = sum(float(r.amount_signed) for r in rows_out)
    assert abs(float(rows_out[-1].running_balance) - total) < 1e-6


@given(rows=txn_rows)
@settings(**SETTINGS)
def test_fx_conversion_monotone(spark, rows):
    out = enrich_transactions(clean_transactions(_df(spark, rows))).collect()
    for r in out:
        usd, amt = float(r.amount_usd), float(r.amount)
        if r.currency == "USD":
            assert usd == amt
        else:
            assert usd >= amt  # EUR ×1.1, GBP ×1.3


@given(texts=st.lists(st.text(
    alphabet=st.characters(codec="ascii", categories=("L", "N")),
    min_size=0, max_size=12), min_size=1, max_size=20))
@settings(**SETTINGS)
def test_exact_dedup_idempotent(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    once = df.withColumn("k", F.md5("text")).dropDuplicates(["k"])
    twice = once.dropDuplicates(["k"])
    assert sorted(r.doc_id for r in once.collect()) == \
        sorted(r.doc_id for r in twice.collect())


kv_rows = st.lists(st.tuples(st.integers(0, 20), st.integers(-100, 100)),
                   min_size=0, max_size=20, unique_by=lambda t: t[0])


@given(target=kv_rows, updates=kv_rows)
@settings(**SETTINGS)
def test_merge_upsert_idempotent_and_right_biased(spark, target, updates):
    t = spark.createDataFrame(target, "k int, v int") if target else \
        spark.createDataFrame([], "k int, v int")
    u = spark.createDataFrame(updates, "k int, v int") if updates else \
        spark.createDataFrame([], "k int, v int")
    merged = {r.k: r.v for r in merge_upsert(t, u, ["k"]).collect()}
    again = {r.k: r.v for r in
             merge_upsert(merge_upsert(t, u, ["k"]), u, ["k"]).collect()}
    assert merged == again  # idempotent
    for k, v in updates:
        assert merged[k] == v  # update side wins
    tkeys = dict(target)
    ukeys = dict(updates)
    for k, v in target:
        if k not in ukeys:
            assert merged[k] == v  # unmatched target survives
    assert set(merged) == set(tkeys) | set(ukeys)


nullable_keys = st.lists(
    st.tuples(st.none() | st.integers(0, 3),
              st.none() | st.sampled_from(["a", "b"])),
    min_size=0, max_size=20)


@pytest.mark.parametrize("keys", [["k1"], ["k1", "k2"]])
@given(rows=nullable_keys)
@example(rows=[(None, "a")])
@example(rows=[(None, "a"), (None, "b")])
@settings(**SETTINGS)
def test_duplicate_count_matches_reference_with_null_keys(spark, keys, rows):
    df = spark.createDataFrame(rows, "k1 int, k2 string")
    # the reference: total − select(keys).distinct().count(), where a null
    # key component is a value like any other
    want = len(rows) - df.select(*keys).distinct().count()
    checker = QualityChecker()
    assert checker.duplicate_count(df, keys) == want
    result = checker.run_all_checks(df, QualityConfig(key_columns=keys))
    assert result["duplicate_count"] == want
    assert result["overall_passed"] == (want == 0)


# ---------------------------------------------------------------------------
# label propagation matches a pure-Python k-hop min-label model
# ---------------------------------------------------------------------------

edge_lists = st.lists(
    st.tuples(st.integers(min_value=0, max_value=12),
              st.integers(min_value=0, max_value=12)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1, max_size=20,
)


def _model_propagate(edges, iterations):
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {v: v for v in adj}
    for _ in range(iterations):
        labels = {
            v: min([labels[v]] + [labels[u] for u in adj[v]]) for v in adj
        }
    return labels


@given(edges=edge_lists, iterations=st.integers(min_value=1, max_value=4))
@settings(**SETTINGS)
def test_propagate_min_labels_matches_model(spark, edges, iterations):
    from banking_etl_pipeline_spark.operators.corpus import (
        propagate_min_labels,
    )

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["v"]: r["label"]
        for r in propagate_min_labels(df, iterations).collect()
    }
    assert got == _model_propagate(edges, iterations)


# ---------------------------------------------------------------------------
# Deterministic invariants over the driver test tables (not hypothesis-
# generated: the operators are pure functions of the fixed parquet inputs,
# so each invariant is a single evaluated claim)
# ---------------------------------------------------------------------------


def test_table_checksum_detects_single_row_change(spark, sf_dir):
    """Flipping one row's amount must flip the XOR fingerprint — the
    sensitivity that makes the checksum usable for replica anti-entropy."""
    from banking_etl_pipeline_spark.functions.hashing import md5_long
    from banking_etl_pipeline_spark.functions.numeric import cents
    from banking_etl_pipeline_spark.catalog import table

    o = table(spark, sf_dir, "orders")

    def xor_of(df):
        d = md5_long(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                cents(F.col("o_totalprice")).cast("string"),
            )
        )
        return df.select(d.alias("d")).agg(F.expr("bit_xor(d)")).collect()[0][0]

    base = xor_of(o)
    perturbed = o.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 7, F.col("o_totalprice") + 0.01)
        .otherwise(F.col("o_totalprice")),
    )
    assert xor_of(perturbed) != base


def test_hll_merge_law_equals_direct(spark, sf_dir):
    """Sharded register-max merge must reproduce the direct global
    estimate EXACTLY (max is associative) — Spark-side twin of the
    DuckDB-oracle proof."""
    from banking_etl_pipeline_spark.operators.skew import hll_distinct, hll_merge

    direct = hll_distinct(spark, sf_dir).collect()[0]
    merged = hll_merge(spark, sf_dir).collect()[0]
    assert merged["hll_estimate"] == direct["hll_estimate"]
    assert merged["nonzero_buckets"] == direct["nonzero_buckets"]


def test_ohlc_hierarchy_law_in_spark(spark, sf_dir):
    """Day-from-hour must equal day-from-raw inside Spark as well (the
    oracle proves it cross-engine; this pins the Spark-only algebra)."""
    from banking_etl_pipeline_spark.catalog import table
    from banking_etl_pipeline_spark.operators.windows import ohlc_reaggregate

    e = table(spark, sf_dir, "events")
    key = F.format_string(
        "%020d:%010d", F.unix_micros(F.col("ts")), F.col("event_id")
    )
    raw_day = (
        e.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "event_type", "value", key.alias("k"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min_by("value", "k").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "k").alias("close"),
        )
    )
    a = {tuple(r) for r in ohlc_reaggregate(spark, sf_dir).collect()}
    b = {tuple(r) for r in raw_day.collect()}
    assert a == b


def test_zorder_buckets_localize_both_dimensions(spark, sf_dir):
    """Z-order bounding boxes must be small in BOTH keys: the mean box
    area is a small fraction of the full domain rectangle (random
    bucketing would give ~full-domain boxes)."""
    from banking_etl_pipeline_spark.operators.layout import zorder_layout

    rows = zorder_layout(spark, sf_dir).collect()
    assert len(rows) > 8
    xmax = max(r["max_order"] for r in rows)
    ymax = max(r["max_part"] for r in rows)
    domain = float(xmax) * float(ymax)
    areas = [
        (r["max_order"] - r["min_order"] + 1)
        * (r["max_part"] - r["min_part"] + 1)
        for r in rows
    ]
    mean_frac = (sum(areas) / len(areas)) / domain
    # 64 buckets over a 2-D Z-curve: each box ~1/64 of the domain (plus
    # curve-seam slack); random assignment would put this near 1.0
    assert mean_frac < 0.25, f"mean box fraction {mean_frac:.3f}"


def test_pps_estimator_unbiasedness(spark, sf_dir):
    """The Horvitz–Thompson estimate of the population count must land
    near the true count (deterministic draw — one fixed realization, so
    assert a loose relative-error bound aggregated over all classes)."""
    from banking_etl_pipeline_spark.operators.sampling import pps_sample

    rows = pps_sample(spark, sf_dir).collect()
    n_pop = sum(r["n_pop"] for r in rows)
    est = sum(r["ht_estimate_micro"] for r in rows) / 1_000_000.0
    assert n_pop > 0 and est > 0
    rel_err = abs(est - n_pop) / n_pop
    assert rel_err < 0.25, f"HT rel err {rel_err:.3f} (est {est}, pop {n_pop})"


intervals_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3 * 86_400_000_000),  # start µs
        st.integers(min_value=0, max_value=12 * 3_600_000_000),  # duration µs
    ),
    min_size=1,
    max_size=25,
)


@given(iv=intervals_strategy)
@settings(**SETTINGS)
def test_sweepline_peak_matches_bruteforce(spark, iv):
    """Sweep-line peak-per-day must equal the brute-force overlap count:
    for every day, max over interval start points of how many clipped
    intervals contain that point (peaks occur at starts)."""
    from banking_etl_pipeline_spark.operators.windows import (
        DAY_US,
        peak_daily_concurrency,
    )

    rows = [(s, s + d) for s, d in iv]
    df = spark.createDataFrame(rows, "s_us long, e_us long")
    got = {
        r.dayn: (r.peak_concurrency, r.n_sessions)
        for r in peak_daily_concurrency(df).collect()
    }

    expect = {}
    for dayn in {d for s, e in rows for d in range(s // DAY_US, e // DAY_US + 1)}:
        lo, hi = dayn * DAY_US, (dayn + 1) * DAY_US - 1
        clipped = [
            (max(s, lo), min(e, hi)) for s, e in rows if s <= hi and e >= lo
        ]
        peak = max(
            sum(1 for cs2, ce2 in clipped if cs2 <= cs <= ce2)
            for cs, _ in clipped
        )
        expect[dayn] = (peak, len(clipped))
    assert got == expect


obs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),          # user
        st.integers(min_value=0, max_value=10**9),      # t_us
        st.integers(min_value=-10_000, max_value=10_000),  # value_c
    ),
    min_size=2,
    max_size=40,
    unique_by=lambda r: (r[0], r[1]),
)


@given(obs=obs_strategy)
@settings(**SETTINGS)
def test_twap_matches_bruteforce_integral(spark, obs):
    from banking_etl_pipeline_spark.operators.windows import twap_per_key

    rows = [(u, i, v, t) for i, (u, t, v) in enumerate(obs)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, value_c long, t_us long"
    )
    got = {r.user_id: (r.span_us, r.twap_num) for r in twap_per_key(df).collect()}

    expect = {}
    for u in {r[0] for r in rows}:
        pts = sorted((t, v) for (uu, _, v, t) in rows if uu == u)
        if len(pts) < 2:
            continue
        span = sum(pts[i + 1][0] - pts[i][0] for i in range(len(pts) - 1))
        num = sum(
            pts[i][1] * (pts[i + 1][0] - pts[i][0]) for i in range(len(pts) - 1)
        )
        expect[u] = (span, num)
    assert got == expect


@given(
    d1=st.integers(min_value=0, max_value=5000),
    span=st.integers(min_value=0, max_value=400),
)
@settings(**SETTINGS)
def test_business_day_formula_matches_model(spark, d1, span):
    """The closed-form g(d2)-g(d1) must equal a literal weekday walk for
    arbitrary date pairs (weekend starts, same-day, multi-year spans)."""
    import datetime as dt

    anchor = dt.date(1990, 1, 1)  # Monday
    a = anchor + dt.timedelta(days=d1)
    b = a + dt.timedelta(days=span)
    expected = sum(
        1
        for i in range(span)
        if (a + dt.timedelta(days=i)).weekday() < 5
    )

    def g(n):
        return 5 * (n // 7) + min(n % 7, 5)

    assert g((b - anchor).days) - g((a - anchor).days) == expected


# ---------------------------------------------------------------------------
# Cross-engine determinism foundation (hypothesis → batch → one Spark job +
# one DuckDB query per example): every oracle in the registry leans on these
# four identities — if any drifts on some input class, dozens of hash gates
# fail at once. Property tests catch the drift input-first.
# ---------------------------------------------------------------------------

def _duck():
    import duckdb

    return duckdb.connect()


@given(xs=st.lists(
    st.floats(min_value=-1e9, max_value=1e9,
              allow_nan=False, allow_infinity=False),
    min_size=1, max_size=50))
@settings(**SETTINGS)
def test_cents_and_ftrunc_cross_engine_bit_parity(spark, xs):
    """cents(x) = floor(x·100 + 0.5) and ftrunc(x, 6) must agree with the
    DuckDB spellings BIT-FOR-BIT on arbitrary doubles (the fixed-point
    policy every money/float oracle rides)."""
    from banking_etl_pipeline_spark.functions.numeric import cents, ftrunc

    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)],
                               "i int, x double")
    got = {r.i: (r.c, r.t) for r in df.select(
        "i", cents(F.col("x")).alias("c"), ftrunc(F.col("x"), 6).alias("t")
    ).collect()}
    con = _duck()
    con.execute("CREATE TABLE t (i INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, x) for i, x in enumerate(xs)])
    from banking_etl_pipeline_spark.functions.numeric import sql_ftrunc

    want = {i: (c, t) for i, c, t in con.execute(
        "SELECT i, CAST(FLOOR(x * 100.0 + 0.5) AS BIGINT),"
        f" {sql_ftrunc('x', 6)} FROM t").fetchall()}
    for i in got:
        assert got[i][0] == want[i][0], f"cents diverged on {xs[i]!r}"
        # bit-parity with NO carve-outs: sql_ftrunc's trailing `+ 0.0`
        # canonicalizes the -0.0 divergence this test originally found
        # (Spark floor→LONG drops the zero sign, DuckDB double FLOOR
        # keeps it), so repr-compare is exact on the full double range.
        g, w = got[i][1], want[i][1]
        assert repr(g) == repr(w), f"ftrunc diverged on {xs[i]!r}"


@given(ss=st.lists(st.text(
    alphabet=st.characters(codec="ascii",
                           categories=("L", "N", "P", "S", "Z")),
    min_size=0, max_size=40), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_md5_long_cross_engine(spark, ss):
    """md5_long (60-bit positive int from the md5 hex prefix) must equal
    the DuckDB spelling on arbitrary ASCII strings — every deterministic
    sample/split/bucket assignment in the repo is this hash."""
    from banking_etl_pipeline_spark.functions.hashing import (
        md5_long,
        sql_md5_long,
    )

    df = spark.createDataFrame([(i, s) for i, s in enumerate(ss)],
                               "i int, s string")
    got = {r.i: r.h for r in df.select(
        "i", md5_long(F.col("s")).alias("h")).collect()}
    con = _duck()
    con.execute("CREATE TABLE t (i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, s) for i, s in enumerate(ss)])
    want = dict(con.execute(
        f"SELECT i, {sql_md5_long('s')} FROM t").fetchall())
    assert got == want


@given(pairs=st.lists(
    st.tuples(st.integers(-2**62, 2**62),
              st.integers(-2**62, 2**62).filter(lambda b: b != 0)),
    min_size=1, max_size=50))
@settings(**SETTINGS)
def test_integer_div_mod_cross_engine(spark, pairs):
    """Spark `div`/`%` vs DuckDB `//`/`%`: BOTH truncate toward zero —
    including negatives (neither floors, as a Python model would). Every
    closed-form date/bucket/quantile formula in the repo assumes this."""
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a long, b long")
    got = {r.i: (r.d, r.m) for r in df.selectExpr(
        "i", "a div b AS d", "a % b AS m").collect()}
    con = _duck()
    con.execute("CREATE TABLE t (i INT, a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)",
                    [(i, a, b) for i, (a, b) in enumerate(pairs)])
    want = {i: (d, m) for i, d, m in con.execute(
        "SELECT i, a // b, a % b FROM t").fetchall()}
    assert got == want


@given(xs=st.lists(
    st.floats(min_value=-1e6, max_value=1e6,
              allow_nan=False, allow_infinity=False),
    min_size=1, max_size=60))
@settings(**SETTINGS)
def test_sequential_double_fold_cross_engine(spark, xs):
    """The EWMA-style sequential fold (order-sensitive, non-associative)
    must be bit-identical between F.aggregate and DuckDB list_reduce on
    arbitrary double series — the property the streaming/batch parity
    proofs stand on."""
    from banking_etl_pipeline_spark.operators.windows import EWMA_ALPHA

    df = spark.createDataFrame([(xs,)], "xs array<double>")
    folded = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at(F.col("xs"), 1),
        lambda acc, x: acc * F.lit(1.0 - EWMA_ALPHA) + x * F.lit(EWMA_ALPHA),
    )
    got = df.select(folded.alias("s")).collect()[0].s
    con = _duck()
    want = con.execute(
        f"SELECT list_reduce(?::DOUBLE[], "
        f"(acc, x) -> acc * {1.0 - EWMA_ALPHA!r} + x * {EWMA_ALPHA!r})",
        [xs]).fetchone()[0]
    assert repr(got) == repr(want), f"fold diverged on {xs!r}"


@given(texts=st.lists(st.text(
    alphabet=st.sampled_from(list("ab ,.!")),  # spaces + punctuation runs
    min_size=0, max_size=30), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_whitespace_split_cross_engine(spark, texts):
    """F.split(text, ' ') (regex-based) vs DuckDB string_split(text, ' ')
    (literal) must produce identical token arrays — including empty
    tokens from consecutive/leading/trailing spaces and the empty
    string. Every token count / shingle / tokenizer in the repo assumes
    this equivalence."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, t string")
    got = {r.i: (list(r.toks), r.n) for r in df.select(
        "i", F.split(F.col("t"), " ").alias("toks"),
        F.size(F.split(F.col("t"), " ")).alias("n")).collect()}
    con = _duck()
    con.execute("CREATE TABLE t (i INT, t VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, t) for i, t in enumerate(texts)])
    want = {i: (toks, n) for i, toks, n in con.execute(
        "SELECT i, string_split(t, ' '), CAST(len(string_split(t, ' ')) "
        "AS INT) FROM t").fetchall()}
    assert got == want


@given(ss=st.lists(st.text(
    alphabet=st.characters(min_codepoint=1, max_codepoint=0x10FFFF,
                           exclude_categories=("Cs",)),
    min_size=0, max_size=20), min_size=1, max_size=25))
@settings(**SETTINGS)
def test_md5_unicode_cross_engine(spark, ss):
    """md5 over arbitrary (non-surrogate) unicode must agree — both
    engines hash the UTF-8 bytes. Guards every content digest and
    deterministic hash against non-ASCII documents."""
    df = spark.createDataFrame([(i, s) for i, s in enumerate(ss)],
                               "i int, s string")
    got = {r.i: r.h for r in df.select("i", F.md5("s").alias("h")).collect()}
    con = _duck()
    con.execute("CREATE TABLE t (i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, s) for i, s in enumerate(ss)])
    want = dict(con.execute("SELECT i, md5(s) FROM t").fetchall())
    assert got == want


@given(pairs=st.lists(
    st.tuples(st.integers(0, 4 * 10**15),       # epoch-µs range (to ~2096)
              st.integers(0, 9_999_999_999)),   # id range the %010d assumes
    min_size=1, max_size=40))
@settings(**SETTINGS)
def test_sortable_key_cross_engine_and_order(spark, pairs):
    """The zero-padded '%020d:%010d' sort key (the repo-wide collect_list
    determinism discipline) must (a) render identically in Spark
    format_string and DuckDB printf, and (b) sort lexicographically in
    the same order as the (epoch, id) tuple sorts numerically."""
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a long, b long")
    got = {r.i: r.k for r in df.select(
        "i", F.format_string("%020d:%010d", "a", "b").alias("k")).collect()}
    con = _duck()
    con.execute("CREATE TABLE t (i INT, a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)",
                    [(i, a, b) for i, (a, b) in enumerate(pairs)])
    want = dict(con.execute(
        "SELECT i, printf('%020d:%010d', a, b) FROM t").fetchall())
    assert got == want
    keys = [got[i] for i in range(len(pairs))]
    assert sorted(range(len(pairs)), key=lambda i: keys[i]) == \
        sorted(range(len(pairs)), key=lambda i: pairs[i])


@given(pairs=st.lists(
    st.tuples(st.text(alphabet=st.sampled_from(list("abcde")), max_size=12),
              st.text(alphabet=st.sampled_from(list("abcde")), max_size=12)),
    min_size=1, max_size=30))
@settings(**SETTINGS)
def test_levenshtein_cross_engine(spark, pairs):
    """F.levenshtein vs DuckDB levenshtein on arbitrary short strings —
    the fuzzy_join primitive."""
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i int, a string, b string")
    got = {r.i: r.d for r in df.select(
        "i", F.levenshtein("a", "b").alias("d")).collect()}
    con = _duck()
    con.execute("CREATE TABLE t (i INT, a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)",
                    [(i, a, b) for i, (a, b) in enumerate(pairs)])
    want = dict(con.execute("SELECT i, levenshtein(a, b) FROM t").fetchall())
    assert got == want


@given(texts=st.lists(
    st.lists(st.sampled_from(["slow", "big", "the", "scan", "join", ""]),
             min_size=0, max_size=20).map(" ".join),
    min_size=1, max_size=30))
@settings(**SETTINGS)
def test_lexicon_filter_count_cross_engine(spark, texts):
    """size(filter(tokens, x.isin(lexicon))) vs DuckDB
    len(list_filter(tokens, x IN lexicon)) on arbitrary word-salad
    strings — the safety-tier lexicon-hit primitive (hits counted over
    the SAME split-on-space token arrays both sides)."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, t string")
    tk = F.split(F.col("t"), " ")
    got = {r.i: r.h for r in df.select(
        "i",
        F.size(F.filter(tk, lambda x: x.isin("slow", "big", "the")))
        .alias("h")).collect()}
    con = _duck()
    con.execute("CREATE TABLE t (i INT, t VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, t) for i, t in enumerate(texts)])
    want = dict(con.execute(
        "SELECT i, len(list_filter(string_split(t, ' '),"
        " x -> x IN ('slow', 'big', 'the'))) FROM t").fetchall())
    assert got == want


@given(texts=st.lists(st.text(
    alphabet=st.sampled_from(list("keybig <>/scrpt")),
    min_size=0, max_size=40), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_rlike_alternation_cross_engine(spark, texts):
    """Column.rlike(alternation-of-literals) vs DuckDB regexp_matches on
    arbitrary strings built from the pattern alphabet — the
    injection-scan primitive. Both are RE2-style unanchored containment
    searches; this pins that equivalence."""
    pat = "(key key)|(big big)|(<script)"
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, t string")
    got = {r.i: r.m for r in df.select(
        "i", F.col("t").rlike(pat).alias("m")).collect()}
    con = _duck()
    con.execute("CREATE TABLE t (i INT, t VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, t) for i, t in enumerate(texts)])
    want = dict(con.execute(
        f"SELECT i, regexp_matches(t, '{pat}') FROM t").fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# substring span merge matches a pure-Python interval model
# ---------------------------------------------------------------------------

dup_positions = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),
              st.integers(min_value=1, max_value=60)),
    min_size=1, max_size=40, unique_by=lambda t: t,
)


def _model_spans(rows, w):
    by_doc: dict[int, list[int]] = {}
    for d, p in rows:
        by_doc.setdefault(d, []).append(p)
    out = {}
    for d, ps in by_doc.items():
        spans = []
        for p in sorted(ps):
            if spans and p - spans[-1][1] <= w:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        lens = [e - s + w for s, e in spans]
        out[d] = (len(spans), sum(lens), max(lens))
    return out


@given(rows=dup_positions, w=st.integers(min_value=1, max_value=8))
@settings(**SETTINGS)
def test_merge_dup_spans_matches_model(spark, rows, w):
    from banking_etl_pipeline_spark.operators.substrings import (
        merge_dup_spans,
    )

    df = spark.createDataFrame(rows, "doc_id long, pos long")
    got = {
        r["doc_id"]: (r["n_spans"], r["covered_tokens"], r["max_span_len"])
        for r in merge_dup_spans(df, w).collect()
    }
    assert got == _model_spans(rows, w)


# ---------------------------------------------------------------------------
# PQ composite-key argmin matches a pure-Python (dist, code) min model
# ---------------------------------------------------------------------------

pq_candidates = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),   # vec_id
              st.integers(min_value=0, max_value=2),   # m
              st.integers(min_value=0, max_value=15),  # code
              st.integers(min_value=0, max_value=10**9)),  # dist
    min_size=1, max_size=60,
    unique_by=lambda t: (t[0], t[1], t[2]),
)


@given(rows=pq_candidates)
@settings(**SETTINGS)
def test_pq_argmin_code_matches_model(spark, rows):
    from banking_etl_pipeline_spark.operators.pquant import argmin_code

    df = spark.createDataFrame(
        rows, "vec_id long, m int, code int, dist long")
    got = {
        (r["vec_id"], r["m"]): (r["code"], r["dist"])
        for r in argmin_code(df, 16).collect()
    }
    want: dict[tuple, tuple] = {}
    for v, m, c, d in rows:
        k = (v, m)
        if k not in want or (d, c) < (want[k][1], want[k][0]):
            want[k] = (c, d)
    assert got == want


# ---------------------------------------------------------------------------
# distributed rank / ntile match Spark's own single-partition windows
# ---------------------------------------------------------------------------

rank_rows = st.lists(
    st.tuples(st.integers(min_value=-50, max_value=50),
              st.integers(min_value=0, max_value=10**6)),
    min_size=1, max_size=60, unique_by=lambda t: t[1],
)


@given(rows=rank_rows, b=st.integers(min_value=1, max_value=7))
@settings(**SETTINGS)
def test_distributed_rank_and_ntile_match_global_windows(spark, rows, b):
    from pyspark.sql import Window as W

    from banking_etl_pipeline_spark.functions.ranks import (
        distributed_ntile,
        distributed_row_number,
    )

    df = spark.createDataFrame(rows, "v int, k long").repartition(7)
    order = [F.col("v").desc(), F.col("k").asc()]
    got = {
        r.k: (r.rn, r.nt)
        for r in distributed_ntile(
            distributed_row_number(df, order, "rn", num_partitions=5),
            order, b, "nt",
        ).collect()
    }
    w = W.orderBy(*order)
    want = {
        r.k: (r.rn, r.nt)
        for r in df.select(
            "k", F.row_number().over(w).alias("rn"),
            F.ntile(b).over(w).alias("nt"),
        ).collect()
    }
    assert got == want


def test_rfm_dual_path_identical(spark, sf_dir):
    """The size-dispatched RFM quintiles: distributed exact ntile and the
    single-task global window must produce identical rows on the same
    input (the ewma_smoothing dual-path discipline)."""
    from collections import Counter

    from banking_etl_pipeline_spark.operators.analytics import rfm_features

    from .oracle_compare import _norm

    sets = []
    for forced in (False, True):
        rows = rfm_features(spark, sf_dir, force_distributed=forced).collect()
        sets.append(Counter(
            tuple(_norm(r[c]) for c in sorted(r.asDict())) for r in rows
        ))
    assert sets[0] == sets[1]


@given(rows=rank_rows)
@settings(**SETTINGS)
def test_distributed_prefix_sum_matches_global_window(spark, rows):
    from pyspark.sql import Window as W

    from banking_etl_pipeline_spark.functions.ranks import (
        distributed_prefix_sum,
    )

    df = spark.createDataFrame(rows, "v int, k long").repartition(7)
    order = [F.col("v").asc(), F.col("k").asc()]
    got = {
        r.k: r.ps
        for r in distributed_prefix_sum(
            df, order, "v", out="ps", num_partitions=5
        ).collect()
    }
    w = W.orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        r.k: r.ps
        for r in df.select("k", F.sum("v").over(w).alias("ps")).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# generic snapshot diff matches a pure-Python dict-diff model
# ---------------------------------------------------------------------------

snap_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=15),        # key
              st.one_of(st.none(), st.integers(0, 3)),       # x
              st.one_of(st.none(), st.sampled_from("ab"))),  # y
    min_size=0, max_size=20, unique_by=lambda t: t[0],
)


@given(a=snap_rows, b=snap_rows)
@settings(**SETTINGS)
def test_snapshot_diff_matches_model(spark, a, b):
    from banking_etl_pipeline_spark.operators.dataops import (
        snapshot_diff_counts,
    )

    schema = "k long, x int, y string"
    da = spark.createDataFrame(a, schema)
    db = spark.createDataFrame(b, schema)
    got = snapshot_diff_counts(da, db, "k", {"x": "x", "y": "y"}) \
        .collect()[0].asDict()
    ma = {r[0]: (r[1], r[2]) for r in a}
    mb = {r[0]: (r[1], r[2]) for r in b}
    both = set(ma) & set(mb)
    want = {
        "added": len(set(mb) - set(ma)),
        "removed": len(set(ma) - set(mb)),
        "changed": sum(1 for k in both if ma[k] != mb[k]),
        "unchanged": sum(1 for k in both if ma[k] == mb[k]),
        "chg_x": sum(1 for k in both if ma[k][0] != mb[k][0]),
        "chg_y": sum(1 for k in both if ma[k][1] != mb[k][1]),
    }
    assert got == want


@given(vals=st.lists(
    st.one_of(st.none(), st.integers(-1_000, 1_000)),
    min_size=1, max_size=60))
@settings(**SETTINGS)
def test_distributed_prefix_sum_null_semantics(spark, vals):
    """The documented NULL contract of functions/ranks.py::
    distributed_prefix_sum — NULLs count as 0 in BOTH phases, so a
    NULL-heavy range partition can never poison later partitions'
    offsets — against a pure-Python model, across partition layouts."""
    from banking_etl_pipeline_spark.functions.ranks import (
        distributed_prefix_sum,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, v long"
    )
    run, want = 0, {}
    for i, v in enumerate(vals):
        run += v or 0
        want[i] = run
    for p in (1, 3, 7):
        out = distributed_prefix_sum(
            df, [F.col("i").asc()], "v", out="p", num_partitions=p
        )
        got = {r.i: r.p for r in out.collect()}
        assert got == want, f"partitions={p}"


@given(rows=st.lists(
    st.tuples(st.integers(0, 50), st.integers(-10**6, 10**6)),
    min_size=1, max_size=60))
@settings(**SETTINGS)
def test_distributed_row_number_is_long_and_exact(spark, rows):
    """Regression pin: the global rank column is LongType (an
    int rank wraps past 2.15 B rows) and matches the enumeration of the
    total order exactly, across partition layouts."""
    from banking_etl_pipeline_spark.functions.ranks import (
        distributed_row_number,
    )

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "i long, a long, b long",
    )
    order = sorted(range(len(rows)), key=lambda i: (rows[i], i))
    want = {idx: rank + 1 for rank, idx in enumerate(order)}
    for p in (1, 4):
        out = distributed_row_number(
            df,
            [F.col("a").asc(), F.col("b").asc(), F.col("i").asc()],
            out="rn",
            num_partitions=p,
        )
        assert dict(out.dtypes)["rn"] == "bigint"
        got = {r.i: r.rn for r in out.collect()}
        assert got == want, f"partitions={p}"
