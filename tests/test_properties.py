"""Property-based cross-engine parity (hypothesis).

Each example generates a BATCH of values and makes one Spark round-trip,
keeping runtime sane while covering arbitrary unicode/malformed input.

This file is the ``slow`` wave (round 19 — VERDICT r18 item 2): ~1000 s
of the ~1790 s full suite, so it is excluded from the default run by
pytest.ini's ``addopts = -m "not slow"`` to fit the CI/driver pytest
budget. Run it explicitly with::

    python -m pytest tests/ -m "slow or not slow"   # everything
    python -m pytest tests/test_properties.py -m slow

It still runs in full at every round close.
"""

import hashlib
import math
import re

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sales_analytics_etl_sql_powerbi_spark.functions.cleaning import normalize_colname
from sales_analytics_etl_sql_powerbi_spark.functions.keys import (
    stable_id_expr,
    stable_id_sql,
)

text_values = st.one_of(
    st.none(),
    st.text(max_size=40),
    st.text(alphabet="0123456789.-x ", max_size=12),
)

#: file-level marker: every test here belongs to the slow wave
pytestmark = pytest.mark.slow

SLOW = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def py_key(parts):
    s = "|".join("" if p is None else p for p in parts)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:16], 16) & (2**63 - 1)


@SLOW
@given(st.lists(st.tuples(text_values, text_values), min_size=1, max_size=25))
def test_stable_id_parity_arbitrary_unicode(spark, rows):
    df = spark.createDataFrame(rows, "a string, b string")
    got = [r.v for r in df.select(stable_id_expr(["a", "b"]).alias("v")).collect()]
    assert got == [py_key(p) for p in rows]

    con = duckdb.connect()
    con.execute("CREATE TABLE t (a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = stable_id_sql(["a", "b"])
    assert [r[0] for r in con.execute(f"SELECT {sql} FROM t").fetchall()] == [
        py_key(p) for p in rows
    ]


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=30))
def test_normalize_colname_reference_parity(name):
    # reference etl/order_info_etl.py:31-35 semantics
    expected = re.sub(r"[ \-]", "_", name.replace("﻿", "").strip())
    got = normalize_colname(name)
    assert got == expected
    assert normalize_colname(got) == got or " " in got or "-" in got  # idempotent


@SLOW
@given(
    st.lists(
        st.one_of(
            st.none(),
            # pandas parity holds within int32 — outside it we
            # deliberately fall to the default (documented divergence,
            # pinned by test_int_with_default_overflow_to_default)
            st.integers(-(2**31) + 1, 2**31 - 1).map(str),
            st.floats(-2e9, 2e9, allow_nan=False).map(lambda f: f"{f:.3f}"),
            st.text(alphabet="abcx.", max_size=6),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_int_with_default_matches_pandas_semantics(spark, values):
    import pandas as pd

    from sales_analytics_etl_sql_powerbi_spark.functions.cleaning import (
        int_with_default,
    )

    df = spark.createDataFrame([(v,) for v in values], "n string")
    got = [r.v for r in df.select(int_with_default("n").alias("v")).collect()]
    # reference: pd.to_numeric(errors='coerce').fillna(1).astype(int)
    want = (
        pd.to_numeric(pd.Series(values, dtype="object"), errors="coerce")
        .fillna(1)
        .astype(int)
        .tolist()
    )
    assert got == want


def test_int_with_default_overflow_to_default(spark):
    """Outside int32: default, not a wrapped/raised value (documented
    divergence from pandas int64 — SQL Server INT would reject those)."""
    from sales_analytics_etl_sql_powerbi_spark.functions.cleaning import (
        int_with_default,
    )

    df = spark.createDataFrame(
        [("3000000000",), ("-3000000000",), ("2147483647",)], "n string"
    )
    got = [r.v for r in df.select(int_with_default("n").alias("v")).collect()]
    assert got == [1, 1, 2147483647]


# ---------------------------------------------------------------------------
# Rules-compiler equivalence fuzz: arbitrary pass structures must compile
# identically to Catalyst expressions (apply_passes) and ANSI SQL
# (passes_to_sql → DuckDB). Operands stay ASCII — the property under test
# is the COMPILER (pass order, guards, ELSE modes, first-match-wins), not
# unicode case folding.
# ---------------------------------------------------------------------------

_word = st.text(alphabet="abcdefgh ", min_size=1, max_size=8)
_operand = st.builds(
    lambda w, pre, suf: f"{'%' if pre else ''}{w}{'%' if suf else ''}",
    _word,
    st.booleans(),
    st.booleans(),
)
_pred = st.tuples(
    st.sampled_from(["main_sku_code", "english_name", "category"]),
    st.sampled_from(["like", "eq"]),
    _operand,
)
_when = st.builds(
    lambda v, preds: __import__(
        "sales_analytics_etl_sql_powerbi_spark.operators.rules", fromlist=["When"]
    ).When(v, tuple(preds)),
    st.text(alphabet="ABCDEFxyz", min_size=1, max_size=6),
    st.lists(_pred, min_size=1, max_size=2),
)


def _mk_guard(kind, col, val):
    from sales_analytics_etl_sql_powerbi_spark.operators.rules import Guard

    if kind == "none":
        return None
    if kind == "null":
        return Guard(null=(col,))
    if kind == "null_or_blank":
        return Guard(null_or_blank=(col,))
    return Guard(eq=((col, val),))


_rule_pass = st.builds(
    lambda target, whens, gkind, gcol, gval, else_kind, else_val: __import__(
        "sales_analytics_etl_sql_powerbi_spark.operators.rules", fromlist=["RulePass"]
    ).RulePass(
        target=target,
        whens=tuple(whens),
        guard=_mk_guard(gkind, gcol, gval),
        else_={"keep": "__KEEP__", "lit": else_val, "null": None}[else_kind],
    ),
    st.sampled_from(["category", "subcategory"]),
    st.lists(_when, max_size=3),
    st.sampled_from(["none", "null", "null_or_blank", "eq"]),
    st.sampled_from(["category", "subcategory"]),
    st.text(alphabet="abcdXY", max_size=5),
    st.sampled_from(["keep", "lit", "null"]),
    st.text(alphabet="KLMn", min_size=1, max_size=4),
)

_cell = st.one_of(
    st.none(),
    st.just(""),
    st.just("  "),
    st.text(alphabet="ABCDEFGHabcdefgh %_", max_size=14),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(_rule_pass, min_size=1, max_size=4),
    st.lists(st.tuples(_cell, _cell, _cell, _cell), min_size=1, max_size=12),
)
def test_rules_compilers_agree_on_arbitrary_passes(spark, passes, cells):
    from sales_analytics_etl_sql_powerbi_spark.operators.rules import (
        apply_passes,
        passes_to_sql,
    )

    cols = ["main_sku_code", "english_name", "category", "subcategory"]
    rows = [(str(i),) + c[1:] for i, c in enumerate(cells)]  # unique key col
    df = spark.createDataFrame(
        rows,
        "main_sku_code string, english_name string, category string, subcategory string",
    )
    spark_out = {
        r.main_sku_code: (r.category, r.subcategory)
        for r in apply_passes(df, passes).collect()
    }
    # three-way: the Column-object compiler must agree with the
    # F.expr(SQL) fast path (both Spark) before either meets DuckDB
    column_out = {
        r.main_sku_code: (r.category, r.subcategory)
        for r in apply_passes(df, passes, compile_via_sql=False).collect()
    }
    assert spark_out == column_out
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE base (main_sku_code VARCHAR, english_name VARCHAR,"
        " category VARCHAR, subcategory VARCHAR)"
    )
    con.executemany("INSERT INTO base VALUES (?, ?, ?, ?)", rows)
    sql = passes_to_sql("SELECT * FROM base", passes, base_columns=cols)
    duck_out = {r[0]: (r[2], r[3]) for r in con.execute(sql).fetchall()}
    assert spark_out == duck_out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 120)),
        min_size=1,
        max_size=20,
    ),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 120)),
        min_size=1,
        max_size=20,
    ),
    st.sampled_from([None, 10.0, 30.0]),
)
def test_asof_property_parity_vs_pandas(spark, lrows, rrows, tol):
    """Arbitrary key/ts shapes (dup left ts, empty keys, all-late, all-
    early) must match pandas merge_asof backward and forward ± tolerance.
    Right (key, ts) deduped so pandas' unspecified equal-ts winner can't
    diverge from our tiebreak."""
    import pandas as pd

    from sales_analytics_etl_sql_powerbi_spark.operators.asof import (
        asof_backward,
        asof_forward,
    )

    left = pd.DataFrame(
        {"k": [k for k, _ in lrows], "ts": [float(t) for _, t in lrows]}
    )
    left["lid"] = range(len(left))
    rseen = {}
    for k, t in rrows:
        rseen[(k, t)] = float(k * 1000 + t)
    right = pd.DataFrame(
        [(k, float(t), v) for (k, t), v in sorted(rseen.items())],
        columns=["k", "ts", "value"],
    )

    def pandas_side(direction):
        out = pd.merge_asof(
            left.sort_values(["ts", "lid"]),
            right.sort_values("ts"),
            on="ts",
            by="k",
            direction=direction,
            tolerance=tol,
        )
        return {
            int(r.lid): (None if pd.isna(r.value) else float(r.value))
            for r in out.itertuples()
        }

    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    for fn, direction, kw in (
        (asof_backward, "backward", {}),
        (asof_forward, "forward", {}),
    ):
        got = {
            int(r.lid): r.asof_value
            for r in fn(
                ldf, rdf, on="k", ts="ts", payload=("value",),
                tolerance_seconds=tol, **kw
            ).collect()
        }
        assert got == pandas_side(direction), direction


# ---------------------------------------------------------------------------
# CDC + SCD2 property fuzz vs pure-Python references (round 6)
# ---------------------------------------------------------------------------

_cdc_ops = st.sampled_from(["I", "U", "D"])
_cdc_keys = st.integers(min_value=0, max_value=6)


def _py_cdc(snapshot: dict, batch):
    """Reference: per key keep highest (seq, op) change; D deletes."""
    latest = {}
    for k, v, op, seq in batch:
        cur = latest.get(k)
        if cur is None or (seq, op) > (cur[3], cur[2]):
            latest[k] = (k, v, op, seq)
    out = dict(snapshot)
    for k, (kk, v, op, seq) in latest.items():
        if op == "D":
            out.pop(k, None)
        else:
            out[k] = v
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(  # two sequential batches of (k, v, op, seq)
        st.lists(
            st.tuples(
                _cdc_keys,
                st.text(alphabet="abc", max_size=3),
                _cdc_ops,
                st.integers(min_value=0, max_value=50),
            ),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=2,
    )
)
def test_cdc_apply_matches_python_reference(spark, batches):
    from sales_analytics_etl_sql_powerbi_spark.operators.dims import cdc_apply

    # seq must totally order each key's changes within a batch — the
    # documented contract; dedupe (k, seq) pairs per batch to honor it
    snap_py = {0: "z", 1: "z"}
    snap = spark.createDataFrame(list(snap_py.items()), "k long, v string")
    for batch in batches:
        seen = set()
        clean = []
        for k, v, op, seq in batch:
            if (k, seq) not in seen:
                seen.add((k, seq))
                clean.append((k, v, op, seq))
        snap_py = _py_cdc(snap_py, clean)
        if clean:
            ch = spark.createDataFrame(clean, "k long, v string, op string, seq long")
            snap = cdc_apply(snap, ch, "k")
    got = {r.k: r.v for r in snap.collect()}
    assert got == snap_py


def _py_scd2(history, changes_batches):
    """Reference: in-effective-time-order SCD2 over one tracked attr.
    history: list of [key, val, vf, vt, cur]."""
    for eff, batch in changes_batches:
        cur_by_key = {h[0]: h for h in history if h[4]}
        for k, val in batch.items():
            cur = cur_by_key.get(k)
            if cur is None:
                history.append([k, val, eff, None, True])
            elif cur[1] != val:
                cur[3] = eff
                cur[4] = False
                history.append([k, val, eff, None, True])
    return sorted(
        (h[0], h[1], h[2], h[3], h[4]) for h in history
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(  # per effective-instant: {key: new value}
        st.dictionaries(
            st.integers(min_value=0, max_value=5),
            st.sampled_from(["A", "B", "C"]),
            max_size=5,
        ),
        min_size=1,
        max_size=3,
    )
)
def test_scd2_apply_matches_python_reference(spark, batches):
    import datetime as dt

    from sales_analytics_etl_sql_powerbi_spark.operators.dims import (
        SCD2_END_OF_TIME,
        scd2_apply,
    )

    eot = dt.datetime.fromisoformat(SCD2_END_OF_TIME.replace(" ", "T"))
    t0 = dt.datetime(2024, 1, 1)
    seed = {0: "A", 1: "B"}
    dim = spark.createDataFrame(
        [(k, v, t0, eot, True) for k, v in seed.items()],
        "k long, state string, valid_from timestamp, valid_to timestamp,"
        " is_current boolean",
    )
    history = [[k, v, t0, None, True] for k, v in seed.items()]
    eff_batches = []
    for i, batch in enumerate(batches):
        eff = t0 + dt.timedelta(days=30 * (i + 1))
        eff_batches.append((eff, batch))
        if batch:
            ch = spark.createDataFrame(
                [(k, v, eff) for k, v in batch.items()],
                "k long, state string, effective_ts timestamp",
            )
            dim = scd2_apply(dim, ch, "k", ["state"], strict=True)
    want = _py_scd2(history, eff_batches)
    got = sorted(
        (r.k, r.state, r.valid_from, None if r.valid_to == eot else r.valid_to,
         r.is_current)
        for r in dim.collect()
    )
    assert got == want


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**40), max_value=2**40),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=9),
)
def test_global_prefix_sum_property(spark, rows, num_buckets):
    """For ANY unique-key weighted list and ANY bucket count, the
    two-level distributed scan equals the sequential exclusive prefix
    sum — including negative keys, zero weights, and single-bucket
    degeneracy."""
    from sales_analytics_etl_sql_powerbi_spark.operators import packing

    df = spark.createDataFrame(rows, "k long, w long")
    got = {
        r.k: r.offset
        for r in packing.global_prefix_sum(
            df, "k", "w", num_buckets=num_buckets
        ).collect()
    }
    acc = 0
    for k, w in sorted(rows):
        assert got[k] == acc
        acc += w


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.sampled_from(["a", "b", "c", None]),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.dictionaries(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=400),
        max_size=2,
    ),
    st.integers(min_value=1, max_value=8),
)
def test_token_budget_mix_property(spark, rows, quotas, num_buckets):
    """For ANY keyed weighted groups (including NULL groups and zero
    weights), ANY quota map, and ANY bucket count: the flag equals the
    sequential per-group hash-order prefix decision, and no row is
    ever dropped."""
    from sales_analytics_etl_sql_powerbi_spark.operators import sampling as S

    df = spark.createDataFrame(rows, "doc_id long, lang string, w long")
    hashed = {
        r.doc_id: r.h
        for r in df.select(
            "doc_id", S.hash_bucket("doc_id", "tok").alias("h")
        ).collect()
    }
    got = {
        r.doc_id: r.in_token_budget
        for r in S.token_budget_mix(
            df, "lang", quotas, "w", num_buckets=num_buckets
        ).collect()
    }
    assert len(got) == len(rows)  # nothing dropped, NULL groups included
    cum: dict = {}
    for doc_id, lang, w in sorted(
        rows, key=lambda t: (t[1] is None, t[1] or "", hashed[t[0]], t[0])
    ):
        cum[lang] = cum.get(lang, 0) + w
        # round 14: absent-from-quotas groups (and the NULL group) are
        # unconditionally all-false — the old ELSE-0 reference let a
        # ZERO-WEIGHT row at the head of such a group flag true, which
        # this very suite had pinned as if intended
        quota = quotas.get(lang) if lang is not None else None
        want = quota is not None and cum[lang] <= quota
        assert got[doc_id] == want, (doc_id, lang, w, quotas)


@SLOW
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=14),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=2, max_value=3),
)
def test_duplicated_spans_property(spark, token_docs, k):
    """For ANY small-alphabet corpus (repeats forced by a 3-token
    alphabet) and k ∈ {2,3}: duplicated_spans equals the sequential
    Lee-et-al reference — gram counting, ≥2 filter, coverage-gap
    island merge, inclusive span bounds. The round-7 bug (islands
    breaking on start positions instead of coverage) lived exactly in
    this space."""
    from collections import Counter

    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    docs = {i: toks for i, toks in enumerate(token_docs)}
    grams: Counter = Counter()
    for toks in docs.values():
        for i in range(len(toks) - k + 1):
            grams[tuple(toks[i : i + k])] += 1
    want = []
    for d, toks in sorted(docs.items()):
        pos = [
            i
            for i in range(len(toks) - k + 1)
            if grams[tuple(toks[i : i + k])] >= 2
        ]
        start = prev = None
        for p in pos:
            if start is None:
                start = prev = p
            elif p - prev > k:  # coverage gap: gram at prev ends prev+k-1
                want.append((d, start, prev + k - 1, prev + k - start))
                start = prev = p
            else:
                prev = p
        if start is not None:
            want.append((d, start, prev + k - 1, prev + k - start))

    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in docs.items()],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dedup.duplicated_spans(df, k=k, min_count=2).collect()
    )
    assert got == sorted(want)


@SLOW
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12),
        min_size=1,
        max_size=4,
    ),
    st.integers(min_value=2, max_value=3),
)
def test_cut_duplicated_spans_property(spark, token_docs, k):
    """The rewrite side: for ANY corpus, the rebuilt text is exactly
    the tokens OUTSIDE the reference spans, space-joined, with kept/
    cut counts consistent — no row ever dropped, fully-cut docs
    surface as empty text."""
    from collections import Counter

    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    docs = {i: toks for i, toks in enumerate(token_docs)}
    grams: Counter = Counter()
    for toks in docs.values():
        for i in range(len(toks) - k + 1):
            grams[tuple(toks[i : i + k])] += 1
    covered = {}
    for d, toks in docs.items():
        cov = set()
        for i in range(len(toks) - k + 1):
            if grams[tuple(toks[i : i + k])] >= 2:
                cov.update(range(i, i + k))
        covered[d] = cov

    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in docs.items()],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text, r.n_tokens_kept, r.n_tokens_cut)
        for r in dedup.cut_duplicated_spans(df, k=k, min_count=2).collect()
    }
    assert set(got) == set(docs)  # nothing dropped, fully-cut included
    for d, toks in docs.items():
        keep = [t for i, t in enumerate(toks) if i not in covered[d]]
        assert got[d] == (" ".join(keep), len(keep), len(covered[d])), (
            d,
            toks,
            got[d],
        )


@SLOW
@given(
    st.lists(
        st.text(alphabet="ab c", max_size=20),
        min_size=1,
        max_size=8,
    )
)
def test_minhash_signature_parity(spark, texts):
    """The distributed MinHash signature equals a pure-Python
    recomputation of the whole chain — lowercase/trim/split
    tokenization, k=3 shingle sets (whole-text fallback for short
    docs), md5→63-bit→mod-P31 hashing, and all 16 affine-permutation
    minima. Pins the hash arithmetic the LSH bands (and therefore
    every neardup gate) sit on."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    k = 3
    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: [r[f"m{i}"] for i in range(dedup._N_PERM)]
        for r in dedup.minhash_signatures(df, k=k).collect()
    }

    def shingles(t):
        toks = re.split(" +", t.strip().lower())
        if len(toks) >= k:
            return set(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
        return {" ".join(toks)}

    for d, t in docs:
        hs = []
        for s in shingles(t):
            hx = hashlib.md5(s.encode("utf-8")).hexdigest()
            h63 = (int(hx[:8], 16) & 0x7FFFFFFF) * 4294967296 + int(hx[8:16], 16)
            hs.append(h63 % dedup._P31)
        want = [
            min((h * dedup._A[i] + dedup._B[i]) % dedup._P31 for h in hs)
            for i in range(dedup._N_PERM)
        ]
        assert got[d] == want, (d, t)


@SLOW
@given(
    st.lists(
        st.tuples(
            st.one_of(
                st.none(),
                st.text(alphabet="AaBb.,- Zz0", min_size=0, max_size=10),
            ),
            st.sampled_from(["CA", "FL", None]),
        ),
        min_size=1,
        max_size=14,
    ),
    st.integers(min_value=1, max_value=3),
)
def test_entity_match_pairs_property(spark, rows, max_distance):
    """For ANY name/state table (punctuation, case, NULL names, NULL
    states): entity_match_pairs equals the sequential reference —
    normalize, drop empty norms, block on (null-safe state, 2-char
    norm prefix), verify with levenshtein ≤ max_distance, key_a <
    key_b. NULL states must block TOGETHER (sentinel, not dropped)."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dims

    def norm(s):
        if s is None:
            return ""
        t = re.sub(r"[^a-z0-9 ]", " ", s.lower())
        return re.sub(r" +", " ", t).strip()

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    recs = [(i, name, state) for i, (name, state) in enumerate(rows)]
    want = set()
    for i, na, sa in recs:
        for j, nb, sb in recs:
            if i >= j:
                continue
            va, vb = norm(na), norm(nb)
            if not va or not vb:
                continue
            if sa != sb:  # None == None blocks together
                continue
            if va[:2] != vb[:2]:
                continue
            if lev(va, vb) <= max_distance:
                want.add((i, j))

    df = spark.createDataFrame(
        recs, "customer_id long, customer_name string, state_code string"
    )
    got = {
        (r.key_a, r.key_b)
        for r in dims.entity_match_pairs(
            df, max_distance=max_distance
        ).collect()
    }
    assert got == want, (sorted(got - want), sorted(want - got))


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.sampled_from(["a", "b", None]),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    st.dictionaries(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=300),
        max_size=2,
    ),
)
def test_token_budget_mix_duckdb_twin_parity(spark, rows, quotas):
    """THREE-WAY parity Spark ≡ DuckDB twin on corpora WITH NULL
    groups and zero weights — the exact blind spot that let the
    round-11 NULL-group scan bug pass the driver gate (whose sf
    corpus has no NULL langs). The oracle layer itself is under test
    here, not just the operator."""
    from sales_analytics_etl_sql_powerbi_spark.operators import sampling as S

    df = spark.createDataFrame(rows, "doc_id long, lang string, w long")
    got = {
        r.doc_id: r.in_token_budget
        for r in S.token_budget_mix(df, "lang", quotas, "w").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, lang VARCHAR, w BIGINT)")
    con.executemany("INSERT INTO docs VALUES (?, ?, ?)", rows)
    sql = S.token_budget_mix_sql("SELECT * FROM docs", "lang", quotas, "w")
    want = {
        r[0]: bool(r[-1])
        for r in con.execute(
            f"SELECT doc_id, in_token_budget FROM ({sql}) q"
        ).fetchall()
    }
    assert got == want


@SLOW
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.just(""),
            st.lists(
                st.sampled_from(["x", "yy", "zzz"]), min_size=0, max_size=9
            ).map(" ".join),
        ),
        min_size=1,
        max_size=10,
    ),
    st.integers(min_value=1, max_value=7),
)
def test_pack_assemble_duckdb_twin_parity(spark, texts, budget):
    """THREE-WAY parity for the packing family: the distributed
    two-level scan + segment cut + example assembly must equal the
    DuckDB single-window twins on ANY corpus (NULL/empty/whitespace
    docs, every budget) — the oracle layer under test, same rationale
    as the token-budget twin test."""
    from sales_analytics_etl_sql_powerbi_spark.operators import packing

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    segs = packing.pack_sequences(df, budget=budget)
    got_segs = sorted(
        (r.doc_id, r.example_id, r.pos_in_example, r.n_seg_tokens, r.seg_text)
        for r in segs.collect()
    )
    got_ex = sorted(
        (r.example_id, r.n_tokens, r.n_docs, r.text)
        for r in packing.assemble_examples(segs).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want_segs = sorted(
        tuple(r)
        for r in con.execute(packing.pack_sequences_sql(budget)).fetchall()
    )
    want_ex = sorted(
        tuple(r)
        for r in con.execute(
            packing.assemble_examples_sql(budget)
        ).fetchall()
    )
    assert got_segs == want_segs
    assert got_ex == want_ex


@SLOW
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12),
        min_size=1,
        max_size=5,
    ),
    st.integers(min_value=2, max_value=3),
)
def test_duplicated_spans_duckdb_twin_parity(spark, token_docs, k):
    """THREE-WAY parity: the distributed span finder vs its DuckDB
    list_slice/gaps-and-islands twin on small-alphabet corpora."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dedup.duplicated_spans(df, k=k, min_count=2).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            dedup.duplicated_spans_sql(k=k, min_count=2)
        ).fetchall()
    )
    assert got == want


@SLOW
@given(
    st.lists(
        st.text(alphabet="ab c", min_size=1, max_size=16),
        min_size=1,
        max_size=6,
    )
)
def test_minhash_duckdb_twin_parity(spark, texts):
    """THREE-WAY parity: distributed MinHash signatures vs the DuckDB
    twin (independent shingling + the same md5→63-bit→P31 chain)."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in dedup.minhash_signatures(df).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        tuple(r) for r in con.execute(dedup.minhash_signatures_sql()).fetchall()
    )
    assert got == want


@SLOW
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(["t", "uu", "vvv"]), min_size=0, max_size=20
            ).map(" ".join),
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=8),
    st.integers(min_value=0, max_value=6),
)
def test_chunk_documents_duckdb_twin_parity(spark, texts, chunk_size, overlap):
    """THREE-WAY parity for overlapping-window chunking at ANY
    (chunk_size, overlap < chunk_size) and corpora with NULL/empty
    docs — window start arithmetic is exactly the off-by-one habitat."""
    if overlap >= chunk_size:
        overlap = chunk_size - 1
    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.chunk_id, r.n_chunk_tokens, r.chunk_text)
        for r in T.chunk_documents(
            df, chunk_size=chunk_size, overlap=overlap
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            T.chunk_documents_sql(chunk_size=chunk_size, overlap=overlap)
        ).fetchall()
    )
    assert got == want


@SLOW
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "fr", "xx"]),
            st.lists(
                st.sampled_from(
                    ["the", "and", "le", "la", "et", "zz", "q1", ""]
                ),
                min_size=0,
                max_size=12,
            ).map(" ".join),
        ),
        min_size=1,
        max_size=10,
    )
)
def test_langid_fingerprint_simhash_twin_parity(spark, rows):
    """THREE-WAY parity for the remaining deterministic text twins on
    marker-dense fuzz corpora: lang_id (argmax over marker counts with
    the documented tie order), doc_fingerprint (sorted-distinct-token
    md5), and the 32-bit SimHash."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup
    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    recs = [(i, lang, txt) for i, (lang, txt) in enumerate(rows)]
    df = spark.createDataFrame(recs, "doc_id long, lang string, text string")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, lang VARCHAR, text VARCHAR)"
    )
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", recs)

    got = sorted(tuple(r) for r in T.lang_id(df).collect())
    want = sorted(tuple(r) for r in con.execute(T.lang_id_sql()).fetchall())
    assert got == want

    got = sorted(tuple(r) for r in T.doc_fingerprint(df).collect())
    want = sorted(
        tuple(r) for r in con.execute(T.DOC_FINGERPRINT_SQL).fetchall()
    )
    assert got == want

    got = sorted(tuple(r) for r in dedup.simhash(df).collect())
    want = sorted(
        tuple(r) for r in con.execute(dedup.simhash_sql()).fetchall()
    )
    assert got == want


@SLOW
@given(
    st.lists(
        st.text(
            alphabet="ab the #.…-*• \n",
            min_size=1,
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_text_stats_twin_parity(spark, texts):
    """THREE-WAY parity for text_stats on fuzz text with newlines,
    bullets, symbols, and stopwords: every ratio is exact integer
    counts divided in binary64, so the twins must agree BIT-FOR-BIT —
    no tolerance."""
    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in T.text_stats(df).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        tuple(r) for r in con.execute(T.text_stats_sql()).fetchall()
    )
    assert got == want


@SLOW
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", ""]), min_size=0, max_size=10
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=6),
)
def test_vocab_topk_twin_parity(spark, texts, topk):
    """THREE-WAY parity for vocab top-k at ANY k on tiny-alphabet
    corpora where count TIES are guaranteed — the (count desc, token
    asc) tiebreak must produce the identical cut in both engines."""
    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [tuple(r) for r in T.vocab_topk(df, topk=topk).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = [
        tuple(r) for r in con.execute(T.vocab_topk_sql(topk=topk)).fetchall()
    ]
    assert got == want


# ---------------------------------------------------------------------------
# round 13 (VERDICT r12 item 1): the three ln()-bearing quantized-score
# twins — tfidf_terms / bm25_search / unigram_logprob — were the only
# twins outside the parity campaign. The entry gates their scores as
# round(score·1e6) integers; these suites fuzz BOTH the gate (quantized
# equality, in-engine rounding) and its ROBUSTNESS: the cross-engine raw
# delta must be orders of magnitude below the quantum, and every observed
# score must sit far enough from a .5 quantum boundary that the delta
# cannot flip the rounded integer. Margins/deltas accumulate into
# _QUANTUM_OBS and test_quantum_margin_summary asserts the floors and
# prints the measured worst case (recorded in PLAN_AUDIT r13).
# ---------------------------------------------------------------------------

_QUANTUM_OBS: dict = {"margins": [], "deltas": [], "values": 0}


def _quantum_check(pairs):
    """pairs: [(spark_raw, duck_raw)] of non-null doubles. Asserts the
    per-value gate-safety invariants and accumulates observations.

    THIS is the gate-robustness floor (ADVICE r13): every invariant
    that matters — margin > that value's own delta, delta < 1e-3
    quantum widths — is asserted HERE, per value, inside each suite.
    The module-level summary below is informational only, so pytest
    ordering (xdist, randomization, -k subsets) can never weaken the
    floor: a suite that runs asserts its own values, always."""
    for s, d in pairs:
        delta = abs(s - d) * 1e6  # in quantum widths
        for x in (s, d):
            scaled = x * 1e6
            margin = abs(scaled - math.floor(scaled) - 0.5)
            _QUANTUM_OBS["margins"].append(margin)
            # a value this close to a .5 boundary could flip on the
            # OTHER engine only if the cross-engine delta reached the
            # margin; assert the strict inequality per value
            assert margin > delta, (
                f"score {x!r} sits {margin:.3e} quantum widths from a .5 "
                f"boundary but engines differ by {delta:.3e} — the "
                "round(x*1e6) gate could flip"
            )
        _QUANTUM_OBS["deltas"].append(delta)
        _QUANTUM_OBS["values"] += 1
        assert delta < 1e-3, f"raw cross-engine delta {delta:.3e} quantum widths"


_score_texts = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "aa", "the", ""]),
        min_size=0,
        max_size=12,
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@SLOW
@given(_score_texts)
def test_tfidf_quantum_twin_parity(spark, texts):
    """tfidf_terms vs its DuckDB twin: quantized (round·1e6, in-engine
    rounding) values EQUAL per (doc, token); raw deltas ≪ quantum;
    every score clear of .5 boundaries by more than the delta."""
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.token): (r.tfidf, r.q)
        for r in T.tfidf_terms(df)
        .select(
            "doc_id",
            "token",
            "tfidf",
            F.round(F.col("tfidf") * 1e6).cast("long").alias("q"),
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(
            "SELECT doc_id, token, tfidf, CAST(round(tfidf*1e6) AS BIGINT) "
            f"FROM ({T.tfidf_terms_sql()})"
        ).fetchall()
    }
    assert got.keys() == want.keys()
    for k in got:
        assert got[k][1] == want[k][1], (k, got[k], want[k])
    _quantum_check([(got[k][0], want[k][0]) for k in got])


@SLOW
@given(
    _score_texts,
    st.lists(
        st.sampled_from(["a", "b", "the", "zz"]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
def test_bm25_quantum_twin_parity(spark, texts, qtokens):
    """bm25_search vs its DuckDB twin, topk wide enough to keep every
    matching doc (no rank-cut sensitivity): quantized scores equal per
    doc, same gate-safety floors. 'zz' never occurs — zero-match query
    terms must not perturb the parity."""
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.score, r.q, r.n_matched_terms)
        for r in T.bm25_search(df, qtokens, topk=100)
        .select(
            "doc_id",
            "score",
            F.round(F.col("score") * 1e6).cast("long").alias("q"),
            "n_matched_terms",
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            "SELECT doc_id, score, CAST(round(score*1e6) AS BIGINT), "
            "n_matched_terms FROM "
            f"({T.bm25_search_sql(qtokens, topk=100)})"
        ).fetchall()
    }
    assert got.keys() == want.keys()
    for k in got:
        assert got[k][1] == want[k][1], (k, got[k], want[k])
        assert got[k][2] == want[k][2]
    _quantum_check([(got[k][0], want[k][0]) for k in got])


@SLOW
@given(_score_texts)
def test_unigram_quantum_twin_parity(spark, texts):
    """unigram_logprob (self-corpus LM) vs its DuckDB twin: NULL for
    token-less docs on BOTH sides, quantized avg_logprob equal
    elsewhere, same gate-safety floors."""
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.avg_logprob, r.q, r.n_tokens)
        for r in T.unigram_logprob(df)
        .select(
            "doc_id",
            "avg_logprob",
            F.round(F.col("avg_logprob") * 1e6).cast("long").alias("q"),
            "n_tokens",
        )
        .collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            "SELECT doc_id, avg_logprob, "
            "CAST(round(avg_logprob*1e6) AS BIGINT), n_tokens "
            f"FROM ({T.unigram_logprob_sql()})"
        ).fetchall()
    }
    assert got.keys() == want.keys()
    for k in got:
        assert (got[k][0] is None) == (want[k][0] is None), (k, got[k], want[k])
        assert got[k][1] == want[k][1], (k, got[k], want[k])
        assert got[k][2] == want[k][2]
    _quantum_check(
        [
            (got[k][0], want[k][0])
            for k in got
            if got[k][0] is not None and want[k][0] is not None
        ]
    )


def test_quantum_margin_summary():
    """INFORMATIONAL summary over whatever scores the three suites
    above contributed in this process (ADVICE r13: under pytest-xdist
    or randomized ordering this may be a partial — or empty — sample,
    so nothing load-bearing lives here; the actual gate-robustness
    floor is asserted per value inside :func:`_quantum_check`, which
    runs with each suite regardless of ordering). Prints the worst
    observed boundary margin and cross-engine delta in quantum (1e-6)
    widths for PLAN_AUDIT accounting; the aggregate re-asserts are
    redundant with the per-value form whenever they cover the same
    values (margin_i > delta_i for every i is the sound invariant —
    min(margin) > max(delta) compares across unrelated values)."""
    import pytest as _pytest

    obs = _QUANTUM_OBS
    if obs["values"] == 0:
        # deselected or not-yet-run upstream suites: nothing to
        # summarize — skip; the per-value gate asserts still ran (or
        # will run) inside whichever suites execute this session
        _pytest.skip("quantum suites contributed nothing (yet) in this session")
    min_margin = min(obs["margins"])
    max_delta = max(obs["deltas"])
    print(
        f"\nquantum-gate fuzz: {obs['values']} scores, "
        f"min .5-boundary margin = {min_margin:.6e} quantum widths, "
        f"max cross-engine delta = {max_delta:.6e} quantum widths, "
        f"headroom = {min_margin / max(max_delta, 1e-300):.3e}x"
    )


# ---------------------------------------------------------------------------
# round 13: fuzz the round's new surface — the LSH bounded-candidates
# cap (invariants vs the uncapped run) and semantic decontamination
# (vs a brute-force numpy reference).
# ---------------------------------------------------------------------------


@SLOW
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=3,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_lsh_cap_invariants_property(spark, texts, cap):
    """For ANY corpus and cap: capped candidate pairs ⊆ uncapped; a
    pair survives whenever some band's bucket holds both docs within
    the cap ranks (so caps beyond every bucket size change nothing);
    and the riding audit (or its AQE fallback) counts exactly the
    doc×band entries past the cap."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dedup.minhash_signatures(docs).persist()
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in dedup.lsh_candidate_pairs(sig).collect()
    }
    audit: dict = {}
    capped_df = dedup.lsh_candidate_pairs(
        sig, max_bucket_size=cap, audit=audit
    )
    capped = {(r.doc_a, r.doc_b) for r in capped_df.collect()}
    assert capped <= uncapped
    counters = dedup.lsh_cap_audit(audit)

    # python reference: rebuild buckets from the signature rows and
    # apply keep-cap-smallest per bucket
    buckets: dict = {}
    for r in sig.select(
        "doc_id",
        *[f"m{i}" for i in range(16)],
    ).collect():
        for b in range(8):
            key = (b, tuple(r[f"m{b * 2 + j}"] for j in range(2)))
            buckets.setdefault(key, []).append(r.doc_id)
    want_pairs = set()
    dropped = oversized = 0
    for members in buckets.values():
        members = sorted(members)
        kept = members[:cap]
        dropped += len(members) - len(kept)
        if len(members) > cap:
            oversized += 1
        for i in range(len(kept)):
            for j in range(i + 1, len(kept)):
                want_pairs.add((kept[i], kept[j]))
    sig.unpersist()
    assert capped == want_pairs
    assert counters == {
        "dropped_entries": dropped,
        "oversized_buckets": oversized,
    }


# ---------------------------------------------------------------------------
# Multimodal codec fuzz campaign (round 14 — VERDICT r13 item 5): the
# codecs were the largest un-fuzzed surface (hand-built payloads only).
# Pure-Python suites (no Spark round-trip): encode→decode round-trips
# against independently-generated payloads, and a reject-contract
# invariant — a corrupted payload must raise ValueError (the documented
# reject-don't-misparse contract), NEVER IndexError/struct.error/
# KeyError or a silent garbage parse.
# ---------------------------------------------------------------------------

_CODEC = settings(max_examples=120, deadline=None)


def _png_filter_row(ftype: int, row: bytes, prev: bytes, bpp: int = 3) -> bytes:
    """Independent test-side PNG scanline FILTERER (the encoder's
    inverse of decode_png's unfiltering) so the decoder's five filter
    paths are checked against a second implementation, not against
    encode_png (which only ever emits filter 0)."""
    out = bytearray()
    for x in range(len(row)):
        a = row[x - bpp] if x >= bpp else 0
        b = prev[x]
        c = prev[x - bpp] if x >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) >> 1
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out.append((row[x] - pred) & 0xFF)
    return bytes(out)


@_CODEC
@given(
    st.integers(1, 12),
    st.integers(1, 12),
    st.binary(min_size=0, max_size=0),  # draw marker; pixels derived below
    st.randoms(use_true_random=False),
)
def test_png_roundtrip_and_all_filter_types_fuzz(w, h, _unused, rnd):
    """encode_png→decode_png is the identity on random images, and
    decode_png recovers the original pixels from payloads whose
    scanlines were filtered with RANDOM per-row filter types by an
    independent filterer — all five T.81... er, RFC 2083 filters."""
    import struct
    import zlib

    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    pixels = bytes(rnd.randrange(256) for _ in range(3 * w * h))
    assert M.decode_png(M.encode_png(w, h, pixels)) == (w, h, pixels)

    # independently-built payload with random filter types per row
    stride = 3 * w
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        row = pixels[y * stride : (y + 1) * stride]
        ftype = rnd.randrange(5)
        raw += bytes([ftype]) + _png_filter_row(ftype, row, prev)
        prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw), rnd.randrange(10)))
        + chunk(b"IEND", b"")
    )
    assert M.decode_png(payload) == (w, h, pixels)


@_CODEC
@given(
    st.integers(1, 6),
    st.integers(1, 6),
    st.randoms(use_true_random=False),
    st.integers(0, 2),
)
def test_png_reject_contract_fuzz(w, h, rnd, mode):
    """Corrupting a valid PNG — one flipped byte, a truncation, or a
    random-garbage prefix — must raise ValueError (every byte is under
    the signature, a structural check, or a chunk CRC), never another
    exception type and never a silent wrong parse."""
    import pytest

    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    pixels = bytes(rnd.randrange(256) for _ in range(3 * w * h))
    payload = M.encode_png(w, h, pixels)
    if mode == 0:  # single byte flip
        i = rnd.randrange(len(payload))
        bad = payload[:i] + bytes([payload[i] ^ (1 + rnd.randrange(255))]) + payload[i + 1 :]
        with pytest.raises(ValueError):
            M.decode_png(bad)
    elif mode == 1:  # strict-prefix truncation
        bad = payload[: rnd.randrange(len(payload))]
        with pytest.raises(ValueError):
            M.decode_png(bad)
    else:  # arbitrary bytes
        bad = bytes(rnd.randrange(256) for _ in range(rnd.randrange(64)))
        with pytest.raises(ValueError):
            M.decode_png(bad)


@_CODEC
@given(
    st.integers(1, 4),
    st.integers(1, 3),
    st.randoms(use_true_random=False),
)
def test_jpeg_roundtrip_fuzz(bw, bh, rnd):
    """encode_jpeg→decode_jpeg round-trips random coefficient images:
    decoded blocks are the originals DEQUANTIZED by the shipped table.
    Coefficients are drawn within the shipped Huffman alphabet (DC
    category ≤ 11, AC (run ≤ 2, size ≤ 2) at zigzag 1..3 — the
    encoder's documented domain; outside it the ENCODER raises)."""
    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    blocks = []
    for _ in range(bw * bh):
        coeff = [0] * 64
        coeff[0] = rnd.randrange(-512, 512)
        for k in (1, 2, 3):
            if rnd.random() < 0.6:
                coeff[k] = rnd.choice([-3, -2, -1, 1, 2, 3])
        blocks.append(coeff)
    payload = M.encode_jpeg(8 * bw, 8 * bh, blocks)
    w, h, nf, got = M.decode_jpeg(payload)
    assert (w, h, nf) == (8 * bw, 8 * bh, 1)
    want = [[c * q for c, q in zip(b, M._JPEG_QZ)] for b in blocks]
    assert got == want


@_CODEC
@given(
    st.integers(1, 3),
    st.randoms(use_true_random=False),
    st.integers(0, 2),
)
def test_jpeg_reject_contract_fuzz(bw, rnd, mode):
    """JPEG carries no CRC, so a flipped byte may legitimately decode
    to different coefficients — but the decoder must NEVER escape with
    anything other than ValueError or a clean (possibly different)
    parse: no IndexError/KeyError/struct.error, no hang."""
    import pytest

    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    w, h, blocks = M._jpeg_formula_blocks(rnd.randrange(12))
    payload = M.encode_jpeg(w, h, blocks)
    if mode == 0:
        i = rnd.randrange(len(payload))
        bad = payload[:i] + bytes([payload[i] ^ (1 + rnd.randrange(255))]) + payload[i + 1 :]
    elif mode == 1:
        bad = payload[: rnd.randrange(len(payload))]
    else:
        bad = bytes(rnd.randrange(256) for _ in range(rnd.randrange(80)))
    try:
        M.decode_jpeg(bad)
    except ValueError:
        pass  # the contract
    # any OTHER exception type propagates and fails the test


def test_jpeg_reject_short_segment_bodies():
    """Round 14 regressions (found probing the fuzz corners): SOF0
    bodies of 5-8 bytes escaped as struct.error/IndexError and SOS
    bodies under 3 bytes as IndexError, instead of the documented
    ValueError reject."""
    import struct

    import pytest

    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    cases = [
        seg(0xFFC0, b"\x08\x00\x10\x00\x10"),  # 5B SOF0 → struct.error
        seg(0xFFC0, struct.pack(">BHHB", 8, 16, 16, 1)),  # 6B → IndexError
        seg(0xFFDA, b""),  # empty SOS → IndexError
        seg(0xFFDA, b"\x01\x01"),  # 2B SOS → IndexError
    ]
    for mid in cases:
        with pytest.raises(ValueError):
            M.decode_jpeg(b"\xff\xd8" + mid + b"\xff\xd9")


def _wav_payload(rate: int, samples: list[int], junk: bytes | None) -> bytes:
    import struct

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    data = b"".join(struct.pack("<h", s) for s in samples)
    body = chunk(b"fmt ", fmt)
    if junk is not None:
        body += chunk(b"LIST", junk)  # foreign chunk: walked over, unused
    body += chunk(b"data", data)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


@_CODEC
@given(
    st.integers(1, 192_000),
    st.lists(st.integers(-32768, 32767), max_size=50),
    st.one_of(st.none(), st.binary(max_size=9)),
    st.randoms(use_true_random=False),
)
def test_wav_roundtrip_and_reject_fuzz(rate, samples, junk, rnd):
    """An independently-built RIFF/WAVE (word-aligned chunks, optional
    foreign chunk between fmt and data, odd-size junk exercising the
    pad walk) decodes to exactly (rate, 1, samples); corrupting the
    envelope or truncating must raise ValueError."""
    import pytest

    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    payload = _wav_payload(rate, samples, junk)
    assert M.decode_wav(payload) == (rate, 1, samples)

    # reject: declared-size mismatch via truncation anywhere
    cut = rnd.randrange(len(payload))
    with pytest.raises(ValueError):
        M.decode_wav(payload[:cut])
    # reject: stereo / wrong bit depth / compressed fmt
    import struct as _struct

    bad_fmt = _struct.pack("<HHIIHH", 1, 2, rate, rate * 4, 4, 16)
    with pytest.raises(ValueError):
        M.decode_wav(payload.replace(
            _struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16), bad_fmt, 1
        ))


_Y4M_SPACES = ["420jpeg", "420", "420mpeg2", "444", "444alpha", "mono"]


@_CODEC
@given(
    st.integers(1, 8),
    st.integers(1, 8),
    st.integers(0, 4),
    st.sampled_from(_Y4M_SPACES),
    st.booleans(),
    st.randoms(use_true_random=False),
)
def test_y4m_roundtrip_and_reject_fuzz(w2, h2, nf, cs, with_fps, rnd):
    """An independently-built YUV4MPEG2 stream (random colorspace,
    optional F tag, 0..4 frames) parses to exactly its parameters and
    frame bytes; truncating a frame body or corrupting a FRAME marker
    raises ValueError."""
    import pytest

    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    w, h = 2 * w2, 2 * h2  # even dims valid for every colorspace
    if cs.startswith("420"):
        fsz = w * h * 3 // 2
    elif cs == "444alpha":
        fsz = 4 * w * h
    elif cs.startswith("444"):
        fsz = 3 * w * h
    else:
        fsz = w * h
    frames = [bytes(rnd.randrange(256) for _ in range(fsz)) for _ in range(nf)]
    hdr = f"YUV4MPEG2 W{w} H{h}"
    if with_fps:
        hdr += " F30:1"
    hdr += f" C{cs}"
    payload = hdr.encode() + b"\n" + b"".join(
        b"FRAME\n" + fr for fr in frames
    )
    got = M.decode_y4m(payload)
    assert got == (w, h, (30, 1) if with_fps else (0, 0), cs, frames)

    if frames:
        with pytest.raises(ValueError):
            M.decode_y4m(payload[:-1])  # truncated final frame body
        bad = payload.replace(b"FRAME\n", b"FRAMX\n", 1)
        with pytest.raises(ValueError):
            M.decode_y4m(bad)
    # odd dims under 4:2:0 must reject
    if cs.startswith("420"):
        with pytest.raises(ValueError):
            M.decode_y4m(f"YUV4MPEG2 W{w + 1} H{h} C{cs}".encode() + b"\n")


@_CODEC
@given(
    st.integers(0, 5),
    st.randoms(use_true_random=False),
    st.integers(0, 2),
)
def test_avi_mjpeg_roundtrip_and_reject_fuzz(nf, rnd, mode):
    """encode_avi_mjpeg→decode_avi_mjpeg returns the exact frame bytes
    (odd-length frames exercise the RIFF pad walk); corrupting the
    container must raise ValueError or (no CRC in AVI) re-parse
    cleanly — never another exception type."""
    import pytest

    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    # frames: real encoder output and raw SOI-prefixed bytes (odd and
    # even lengths) — decode_avi_mjpeg only validates the SOI prefix
    frames = []
    for f in range(nf):
        if rnd.random() < 0.5:
            w, h, blocks = M._mjpeg_formula_blocks(rnd.randrange(9), f)
            frames.append(M.encode_jpeg(w, h, blocks))
        else:
            frames.append(
                b"\xff\xd8" + bytes(rnd.randrange(256) for _ in range(rnd.randrange(9)))
            )
    payload = M.encode_avi_mjpeg(16, 8, frames, fps=1 + rnd.randrange(60))
    assert M.decode_avi_mjpeg(payload) == (16, 8, frames)

    if mode == 0:
        i = rnd.randrange(len(payload))
        bad = payload[:i] + bytes([payload[i] ^ (1 + rnd.randrange(255))]) + payload[i + 1 :]
    elif mode == 1:
        bad = payload[: rnd.randrange(len(payload))]
    else:
        bad = bytes(rnd.randrange(256) for _ in range(rnd.randrange(64)))
    try:
        M.decode_avi_mjpeg(bad)
    except ValueError:
        pass
    # any OTHER exception type propagates and fails the test


@_CODEC
@given(
    st.integers(1, 10),
    st.integers(1, 10),
    st.randoms(use_true_random=False),
    st.integers(0, 2),
)
def test_ppm_roundtrip_and_reject_fuzz(w, h, rnd, mode):
    """P6 payloads round-trip through decode_ppm (and resize_ppm keeps
    the P6 contract); corrupt/truncated/garbage payloads raise
    ValueError — including NON-POSITIVE header dimensions, which must
    reject rather than slice a garbage 'image' out of the body."""
    import pytest

    from sales_analytics_etl_sql_powerbi_spark.operators import multimodal as M

    pixels = bytes(rnd.randrange(256) for _ in range(3 * w * h))
    payload = b"P6\n%d %d\n255\n" % (w, h) + pixels
    assert M.decode_ppm(payload) == (w, h, pixels)
    # resize returns HEADERLESS rgb by contract; check size + exact
    # nearest-neighbor sampling against the formula
    rw, rh = 1 + rnd.randrange(8), 1 + rnd.randrange(8)
    rz = M.resize_ppm(payload, rw, rh)
    assert len(rz) == 3 * rw * rh
    x, y = rnd.randrange(rw), rnd.randrange(rh)
    src = ((y * h // rh) * w + (x * w // rw)) * 3
    assert rz[(y * rw + x) * 3 : (y * rw + x) * 3 + 3] == pixels[src : src + 3]

    if mode == 0:  # negative / zero dims must reject, not misparse
        for bad_dims in ((-w, -h), (0, h), (w, 0), (-1, -1)):
            bad = b"P6\n%d %d\n255\n" % bad_dims + pixels
            with pytest.raises(ValueError):
                M.decode_ppm(bad)
    elif mode == 1:
        with pytest.raises(ValueError):
            M.decode_ppm(payload[: rnd.randrange(len(payload))])
    else:
        try:
            M.decode_ppm(bytes(rnd.randrange(256) for _ in range(rnd.randrange(40))))
        except ValueError:
            pass


# ---------------------------------------------------------------------------
# Excel reader fuzz (round 14, extending the codec campaign to the
# other binary parsers): round-trip through the minimal writers, and
# the same reject contract — a corrupt container raises ValueError,
# never struct.error/IndexError/zipfile's exception zoo/a silent
# truncated parse. The exploratory 40k/20k-trial sweeps that found the
# five fixed escapes are summarized in PLAN_AUDIT r14; these suites
# keep the surface covered.
# ---------------------------------------------------------------------------

_XL_CELL = st.one_of(
    st.none(),
    st.integers(-(2**29), 2**29 - 1),  # RK range
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.booleans(),
    st.text(max_size=20),
)


@_CODEC
@given(
    st.lists(_XL_CELL, min_size=1, max_size=5),
    st.lists(st.lists(_XL_CELL, min_size=1, max_size=5), max_size=6),
    st.randoms(use_true_random=False),
    st.integers(0, 2),
)
def test_xls_roundtrip_and_reject_fuzz(tmp_path_factory, hdr_vals, rows, rnd, mode):
    """write_minimal_xls→read_xls_table round-trips arbitrary cell
    grids (strings/RK ints/doubles/bools/None, ragged rows padded);
    corrupting the container (flip, truncation, garbage, 3-byte
    compound flips) raises ValueError or — BIFF has no checksums —
    re-parses cleanly; never another exception type."""
    import os

    from sales_analytics_etl_sql_powerbi_spark.sources.xls import (
        read_xls_table,
        write_minimal_xls,
    )

    width = max([len(hdr_vals)] + [len(r) for r in rows])
    headers = [f"h{i}" for i in range(width)]
    p = os.path.join(str(tmp_path_factory.mktemp("fz")), "t.xls")
    write_minimal_xls(p, headers, rows)
    got_h, got_rows = read_xls_table(p)
    assert got_h == headers
    # exact reconstruction (ADVICE r14: the old `== X or <= len(rows)`
    # disjunction was vacuous — a silent row-dropper would have
    # passed): the writer emits no record for None cells, so the grid
    # ends at the LAST row holding any non-None cell; interior
    # all-None rows survive as None padding, trailing ones vanish
    padded = [list(r) + [None] * (width - len(r)) for r in rows]
    last = max(
        (i for i, r in enumerate(padded) if any(v is not None for v in r)),
        default=-1,
    )
    assert len(got_rows) == last + 1
    for i in range(last + 1):
        for c in range(width):
            v, g = padded[i][c], got_rows[i][c]
            if v is None:
                assert g is None
            elif isinstance(v, bool):
                assert g == ("TRUE" if v else "FALSE")
            elif isinstance(v, str):
                assert g == v
            else:  # int (RK) / float (NUMBER): numeric round-trip
                assert g is not None and float(g) == float(v)

    data = open(p, "rb").read()
    if mode == 0:
        i = rnd.randrange(len(data))
        bad = data[:i] + bytes([data[i] ^ (1 + rnd.randrange(255))]) + data[i + 1 :]
    elif mode == 1:
        bad = data[: rnd.randrange(len(data))]
    else:
        bad = bytes(rnd.randrange(256) for _ in range(rnd.randrange(1024)))
    try:
        read_xls_table(bad)
    except ValueError:
        pass
    # any OTHER exception type propagates and fails the test


# xlsx cells: XML 1.0 cannot carry C0 controls / lone surrogates at
# all — the writer now REJECTS them (round 14, pinned below); the
# round-trip strategy stays inside representable text
_XLSX_CELL = st.one_of(
    st.none(),
    st.integers(-(2**29), 2**29 - 1),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.booleans(),
    st.text(
        st.characters(min_codepoint=0x20, blacklist_categories=("Cs",)),
        max_size=20,
    ),
)


@_CODEC
@given(
    st.lists(st.lists(_XLSX_CELL, min_size=1, max_size=4), max_size=5),
    st.randoms(use_true_random=False),
    st.integers(0, 2),
)
def test_xlsx_reject_contract_fuzz(tmp_path_factory, rows, rnd, mode):
    """Corrupting an xlsx (zip) container must raise ValueError — the
    reader normalizes zipfile's BadZipFile/EOFError/
    NotImplementedError/RuntimeError and XML ParseError into the one
    documented reject type (round 14 fix) — or re-parse cleanly."""
    import io
    import os

    from sales_analytics_etl_sql_powerbi_spark.sources.xlsx import (
        read_xlsx_table,
        write_minimal_xlsx,
    )

    width = max([1] + [len(r) for r in rows])
    headers = [f"h{i}" for i in range(width)]
    p = os.path.join(str(tmp_path_factory.mktemp("fz")), "t.xlsx")
    write_minimal_xlsx(p, headers, rows)
    assert read_xlsx_table(p)[0] == headers

    data = open(p, "rb").read()
    if mode == 0:
        i = rnd.randrange(len(data))
        bad = data[:i] + bytes([data[i] ^ (1 + rnd.randrange(255))]) + data[i + 1 :]
    elif mode == 1:
        bad = data[: rnd.randrange(len(data))]
    else:
        bad = bytes(rnd.randrange(256) for _ in range(rnd.randrange(700)))
    try:
        read_xlsx_table(io.BytesIO(bad))
    except ValueError:
        pass
    # any OTHER exception type propagates and fails the test


def test_xlsx_writer_rejects_xml_unrepresentable_chars(tmp_path):
    """Round 14 (reader fuzz): the writer embedded C0 control chars
    raw, producing a file its own reader rejects as not-well-formed
    XML — now the WRITE fails loudly (XML 1.0 can't carry them even
    as entities; the binary .xls writer can, pinned here too)."""
    import pytest

    from sales_analytics_etl_sql_powerbi_spark.sources.xls import (
        read_xls_table,
        write_minimal_xls,
    )
    from sales_analytics_etl_sql_powerbi_spark.sources.xlsx import (
        write_minimal_xlsx,
    )

    with pytest.raises(ValueError, match="XML-unrepresentable"):
        write_minimal_xlsx(str(tmp_path / "bad.xlsx"), ["h"], [["a\x00b"]])
    # \t\n\r are the representable controls — accepted
    write_minimal_xlsx(str(tmp_path / "ok.xlsx"), ["h"], [["a\tb\nc"]])
    # the BIFF8 container has no such limit
    p = str(tmp_path / "ok.xls")
    write_minimal_xls(p, ["h"], [["a\x00b"]])
    assert read_xls_table(p)[1] == [["a\x00b"]]


# ---------------------------------------------------------------------------
# Stateful-merge semantics fuzz (round 14, beyond the verdict list):
# cdc_apply and scd2_apply carry the subtlest semantics in the dims
# family (last-writer-wins with op tie-breaks; close-out interval
# bookkeeping). Each is checked against an independent pure-Python
# simulator on arbitrary generated batches — the same
# twin-implementation discipline as the PNG filterer and the DuckDB
# oracles.
# ---------------------------------------------------------------------------

_CDC_OPS = st.sampled_from(["I", "U", "D"])


def _cdc_sim(snapshot: dict, changes: list[tuple]) -> dict:
    """Python twin of cdc_apply: per key the (seq, op-rank)-highest
    change wins ('U' > 'I' > 'D' on equal seq via string desc order);
    winning D deletes, winning I/U upserts."""
    best: dict = {}
    for k, v, op, seq in changes:
        cand = (seq, op)
        if k not in best or cand > best[k][0]:
            best[k] = (cand, v, op)
    out = dict(snapshot)
    for k, ((_seq, op), v, _o) in best.items():
        if op == "D":
            out.pop(k, None)
        else:
            out[k] = v
    return out


@SLOW
@given(
    st.dictionaries(st.integers(0, 8), st.integers(0, 100), max_size=6),
    st.lists(
        st.tuples(
            st.integers(0, 8),      # key
            st.integers(0, 100),    # value
            _CDC_OPS,
            st.integers(0, 5),      # seq (small: force ties)
        ),
        max_size=12,
    ),
)
def test_cdc_apply_matches_python_simulator(spark, snapshot, changes):
    """cdc_apply == the simulator on arbitrary batches (duplicate
    seqs, same-key I/U/D mixes, deletes of absent keys, empty batch),
    and re-applying the same batch is a no-op (at-least-once replay)."""
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators.dims import cdc_apply

    snap = spark.createDataFrame(
        [(k, v) for k, v in snapshot.items()] or [(None, None)],
        "k long, v long",
    ).where(F.col("k").isNotNull())
    chg = spark.createDataFrame(
        [(k, v, op, s) for k, v, op, s in changes] or [(None, None, None, None)],
        "k long, v long, op string, seq long",
    ).where(F.col("k").isNotNull())

    once = cdc_apply(snap, chg, "k")
    got = {r.k: r.v for r in once.collect()}
    assert got == _cdc_sim(snapshot, changes)

    # idempotent under replay
    twice = cdc_apply(once, chg, "k")
    assert {r.k: r.v for r in twice.collect()} == got


def _scd2_sim(rows: list[tuple], batch: dict, eff, eot) -> set:
    """Python twin of scd2_apply: rows = (key, val, from, to, cur);
    batch = {key: new_val} applied at effective ts ``eff``."""
    out = set()
    current = {r[0]: r for r in rows if r[4]}
    for r in rows:
        if not r[4]:
            out.add(r)  # history passes through
    for k, v in batch.items():
        if k in current:
            ck, cv, cfrom, _cto, _ = current[k]
            if cv == v:
                continue  # unchanged: handled below as untouched
            out.add((ck, cv, cfrom, eff, False))        # closed
            out.add((k, v, eff, eot, True))             # new current
        else:
            out.add((k, v, eff, eot, True))             # brand new key
    for k, r in current.items():
        if k not in batch or batch[k] == r[1]:
            out.add(r)  # untouched current rows
    return out


@SLOW
@given(
    st.dictionaries(st.integers(0, 6), st.integers(0, 3), max_size=5),
    st.dictionaries(st.integers(0, 6), st.integers(0, 3), max_size=5),
)
def test_scd2_apply_matches_python_simulator(spark, current, batch):
    """scd2_apply == the simulator on arbitrary (current-dim, change
    batch) pairs: changed keys close at the effective ts and reopen,
    value-identical changes are no-ops, new keys insert, untouched
    keys pass through — and re-applying the same batch is a no-op."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators.dims import (
        SCD2_END_OF_TIME,
        scd2_apply,
    )

    t0 = dt.datetime(2024, 1, 1)
    eff = dt.datetime(2024, 6, 1)
    eot = dt.datetime.fromisoformat(SCD2_END_OF_TIME.replace(" ", "T"))
    rows = [(k, str(v), t0, eot, True) for k, v in current.items()]
    dim = spark.createDataFrame(
        rows or [(None, None, None, None, None)],
        "k long, val string, valid_from timestamp, valid_to timestamp,"
        " is_current boolean",
    ).where(F.col("k").isNotNull())
    chg = spark.createDataFrame(
        [(k, str(v), eff) for k, v in batch.items()]
        or [(None, None, None)],
        "k long, val string, effective_ts timestamp",
    ).where(F.col("k").isNotNull())

    out = scd2_apply(dim, chg, "k", ["val"])
    got = {
        (r.k, r.val, r.valid_from, r.valid_to, r.is_current)
        for r in out.collect()
    }
    want = _scd2_sim(
        [(k, str(v), t0, eot, True) for k, v in current.items()],
        {k: str(v) for k, v in batch.items()},
        eff,
        eot,
    )
    assert got == want

    # idempotent: the new current rows equal the batch, so a replay
    # detects no real change
    again = scd2_apply(out, chg, "k", ["val"])
    got2 = {
        (r.k, r.val, r.valid_from, r.valid_to, r.is_current)
        for r in again.collect()
    }
    assert got2 == got


_ASOF_TS = st.integers(0, 20)


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 2), _ASOF_TS), min_size=1, max_size=8
    ),  # left: (group, ts)
    st.lists(
        st.tuples(st.integers(0, 2), _ASOF_TS, st.integers(0, 9)),
        max_size=10,
    ),  # right: (group, ts, value)
    st.integers(0, 6),  # tolerance seconds
)
def test_asof_all_directions_match_python_simulator(spark, lefts, rights, tol):
    """asof_backward/forward and events_asof_directions' nearest ==
    a pure-Python simulator on arbitrary (group, ts) data — equal-ts
    inclusivity on both sides, equal-ts tiebreak (backward: LAST in
    tiebreak order; forward: FIRST), nearest's ties-go-backward and
    NULL-side rules, and the tolerance mask — the merge_asof
    semantics triangle."""
    from pyspark.sql import functions as F  # noqa: F401 (parity w/ siblings)

    from sales_analytics_etl_sql_powerbi_spark.operators import asof

    left = spark.createDataFrame(
        [(i, g, t) for i, (g, t) in enumerate(lefts)],
        "eid long, g long, ts long",
    )
    right = spark.createDataFrame(
        rights or [(None, None, None)], "g long, ts long, value long"
    ).where("g is not null")

    def sim_b(g, t):
        cand = [(rt, v) for (rg, rt, v) in rights if rg == g and rt <= t]
        return max(cand, default=None)  # max (ts, tiebreak=value)

    def sim_f(g, t):
        cand = [(rt, v) for (rg, rt, v) in rights if rg == g and rt >= t]
        return min(cand, default=None)  # min (ts, tiebreak=value)

    def sim_n(g, t):
        b, f = sim_b(g, t), sim_f(g, t)
        if b is None:
            return f
        if f is None:
            return b
        return b if (t - b[0]) <= (f[0] - t) else f

    def masked(m, t):
        if m is None:
            return None
        return m[1] if abs(t - m[0]) <= tol else None

    got_b = {
        r.eid: r.asof_value
        for r in asof.asof_backward(left, right, "g", "ts").collect()
    }
    assert got_b == {
        i: (sim_b(g, t)[1] if sim_b(g, t) else None)
        for i, (g, t) in enumerate(lefts)
    }
    got_f = {
        r.eid: r.asof_value
        for r in asof.asof_forward(left, right, "g", "ts").collect()
    }
    assert got_f == {
        i: (sim_f(g, t)[1] if sim_f(g, t) else None)
        for i, (g, t) in enumerate(lefts)
    }
    # nearest: the events-shaped composition, views tie-broken by
    # event_id = value like the simulator
    events = spark.createDataFrame(
        [(i, g, t, "purchase", None) for i, (g, t) in enumerate(lefts)]
        + [(v, g, t, "view", v) for (g, t, v) in rights],
        "event_id long, user_id long, ts long, event_type string, value long",
    )
    got_n = {
        r.event_id: r.nearest_view_value
        for r in asof.events_asof_directions(events).collect()
    }
    assert got_n == {
        i: (sim_n(g, t)[1] if sim_n(g, t) else None)
        for i, (g, t) in enumerate(lefts)
    }
    # tolerance masks far matches to NULL
    got_bt = {
        r.eid: r.asof_value
        for r in asof.asof_backward(
            left, right, "g", "ts", tolerance_seconds=tol
        ).collect()
    }
    assert got_bt == {
        i: masked(sim_b(g, t), t) for i, (g, t) in enumerate(lefts)
    }


@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)),
        min_size=1,
        max_size=12,
    ),
    st.integers(1, 6),
)
def test_pagerank_fixed_mode_matches_python_power_iteration(spark, edges, iters):
    """pagerank(fixed iterations) == an independent Python power
    iteration on arbitrary small multigraphs — duplicate edges count
    with multiplicity, self-loops feed themselves, dangling mass
    redistributes uniformly each iteration, teleport = (1−d)/n — and
    mass is conserved to fp precision."""
    from collections import Counter

    from sales_analytics_etl_sql_powerbi_spark.operators.graph import pagerank

    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank
        for r in pagerank(e, max_iter=iters, checkpoint_every=3).collect()
    }

    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    deg = Counter(s for s, _ in edges)
    d = 0.85
    t = (1 - d) / n
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dm = sum(r[v] for v in nodes if deg[v] == 0)
        inn = {v: 0.0 for v in nodes}
        for s, dst in edges:
            inn[dst] += r[s] / deg[s]
        r = {v: t + d * (inn[v] + dm / n) for v in nodes}

    assert set(got) == set(r)
    for v in r:
        assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9


@SLOW
@given(
    st.lists(st.integers(1, 9), min_size=1, max_size=8),  # tokens per doc
    st.integers(1, 7),  # budget
)
def test_pack_sequences_matches_python_packer(spark, doc_lens, budget):
    """pack_sequences == an independent Python stream packer on
    arbitrary (doc count, token count, budget) shapes — segment
    boundaries, in-example positions, token text, ceil(total/budget)
    example count, and per-document reassembly — the distributed
    prefix-sum machinery vs five lines of sequential Python."""
    from sales_analytics_etl_sql_powerbi_spark.operators.packing import (
        pack_sequences,
    )

    texts = [
        (i, " ".join(f"t{i}_{j}" for j in range(n)))
        for i, n in enumerate(doc_lens)
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.doc_id, r.example_id): (r.pos_in_example, r.n_seg_tokens, r.seg_text)
        for r in pack_sequences(docs, budget=budget).collect()
    }

    # sequential reference: walk the concatenated token stream
    want = {}
    off = 0
    for i, n in enumerate(doc_lens):
        toks = [f"t{i}_{j}" for j in range(n)]
        for ex in range(off // budget, (off + n - 1) // budget + 1):
            s = max(ex * budget - off, 0)
            e = min((ex + 1) * budget - off, n)
            want[(i, ex)] = (max(off - ex * budget, 0), e - s, " ".join(toks[s:e]))
        off += n
    assert got == want
    total = sum(doc_lens)
    assert len({ex for _, ex in got}) == (total + budget - 1) // budget


@SLOW
@given(
    st.lists(
        st.tuples(st.sampled_from(["en", "fr", "de"]), st.integers(0, 9)),
        max_size=10,
    ),
    st.dictionaries(
        st.sampled_from(["en", "fr"]), st.integers(0, 20), max_size=2
    ),
)
def test_token_budget_mix_prefix_invariants(spark, rows, quotas):
    """token_budget_mix's kept set is EXACTLY the maximal hash-order
    prefix whose inclusive weight sum fits the group quota — checked
    by recomputing the prefix in Python from the SAME hash order
    (independent of the bucketed-scan machinery), plus the
    absent-group all-false rule."""
    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators.sampling import (
        hash_bucket,
        token_budget_mix,
    )

    df = spark.createDataFrame(
        [(i, g, w) for i, (g, w) in enumerate(rows)]
        or [(None, None, None)],
        "doc_id long, lang string, w long",
    ).where(F.col("doc_id").isNotNull())
    out = token_budget_mix(df, "lang", quotas, "w")
    got = {r.doc_id: r.in_token_budget for r in out.collect()}

    order = {
        r.doc_id: (r.h, r.doc_id)
        for r in df.select(
            "doc_id", hash_bucket("doc_id", "tok").alias("h")
        ).collect()
    }
    want = {}
    for g in {g for g, _ in rows}:
        members = sorted(
            (i for i, (gg, _) in enumerate(rows) if gg == g),
            key=lambda i: order[i],
        )
        run = 0
        quota = quotas.get(g)
        for i in members:
            run += rows[i][1]
            want[i] = quota is not None and run <= quota
    assert got == want


# text for the text_stats twin: non-surrogate unicode incl. newlines,
# bullets, symbols, CJK, zero-width — the gate only ever sees the fixed
# corpus; regex/split/length semantics across engines are classic drift
_STATS_TEXT = st.text(
    st.one_of(
        st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
        st.sampled_from(list("abc the of -*• #…\n\t\r .")),
    ),
    max_size=60,
)


@SLOW
@given(st.lists(_STATS_TEXT, min_size=1, max_size=8))
def test_text_stats_twin_parity_arbitrary_unicode(spark, texts):
    """text_stats == its DuckDB twin BIT-FOR-BIT on arbitrary unicode —
    every count is exact-integer and every ratio a single binary64
    division, so exact equality is the bar (the driver's hash compares
    exact doubles). Covers newline/bullet/symbol/CJK/zero-width text
    the fixed gated corpus never exercises."""
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import text as T

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in T.text_stats(docs).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    res = con.execute(T.text_stats_sql())
    cols = [d[0] for d in res.description]
    want = {r[0]: dict(zip(cols, r)) for r in res.fetchall()}

    assert set(got) == set(want)
    for i in got:
        for c in cols:
            assert got[i][c] == want[i][c], (i, c, got[i][c], want[i][c], texts[i])


def test_lower_unicode_case_mapping_divergence(spark):
    """Round 14 (found probing the twins' lower() on non-ASCII): Spark
    and Python apply Unicode FULL case mapping, DuckDB the simple
    one — İ (U+0130) and word-final Σ diverge. The PRODUCT contract
    is Spark's (== Python str.lower, pinned here for a canary set);
    the DuckDB half pins the CURRENT divergence so an engine upgrade
    that changes it turns the documented caveat (shingle/entity twins
    lowercase in-SQL; a corpus carrying these code points would
    hash-mismatch its gate) into a red test instead of a silent
    drift."""
    import duckdb

    from pyspark.sql import functions as F

    cases = ["İstanbul", "ΣΙΓΜΑ ΤΕΛΟΣ", "STRASSE ß", "ǅungla", "ﬁle FFI"]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = [r.l for r in df.select(F.lower("t").alias("l")).collect()]
    assert got == [c.lower() for c in cases]  # Spark == Python, always

    con = duckdb.connect()
    duck = [con.execute("select lower(?)", [c]).fetchone()[0] for c in cases]
    same = [d == p for d, p in zip(duck, [c.lower() for c in cases])]
    # current duckdb: simple mapping for İ and final sigma, full
    # mapping agreement elsewhere — update the caveat if this changes
    assert same == [False, False, True, True, True], list(zip(cases, duck, same))


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),                      # user
            st.sampled_from(["view", "cart", "purchase", "other"]),
            st.integers(0, 20),                     # ts (seconds)
        ),
        max_size=16,
    ),
    st.one_of(st.none(), st.floats(0.0, 0.0003)),   # within ~0-26s
)
def test_funnel_conversion_matches_python_simulator(spark, evs, within_days):
    """funnel_conversion == an independent per-user Python walk on
    arbitrary event sequences: strictly-after ordering, first-touch
    (earliest qualifying event per step), the within-days window
    anchored at step 1, duplicate timestamps, and users who skip or
    reorder steps — counts non-increasing down the funnel."""
    import datetime as dt

    from pyspark.sql import functions as F

    from sales_analytics_etl_sql_powerbi_spark.operators.analytics import (
        funnel_conversion,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (u, t, base + dt.timedelta(seconds=s)) for (u, t, s) in evs
    ]
    events = spark.createDataFrame(
        rows or [(None, None, None)], "user_id long, event_type string, ts timestamp"
    ).where(F.col("user_id").isNotNull())
    steps = ("view", "cart", "purchase")
    got = {
        r.step_index: r.users
        for r in funnel_conversion(events, steps, within_days).collect()
    }

    users = {u for u, _, _ in evs}
    counts = []
    converted: dict = {}
    for k, step in enumerate(steps):
        cur = {}
        for u in users:
            times = sorted(s for uu, t, s in evs if uu == u and t == step)
            if k == 0:
                if times:
                    cur[u] = (times[0], times[0])  # (t1, t_prev)
            elif u in converted:
                t1, t_prev = converted[u]
                q = [
                    s
                    for s in times
                    if s > t_prev
                    and (within_days is None or s - t1 <= within_days * 86400.0)
                ]
                if q:
                    cur[u] = (t1, min(q))
        converted = cur
        counts.append(len(cur))
    assert got == {k: c for k, c in enumerate(counts)}
    assert all(counts[i] >= counts[i + 1] for i in range(len(counts) - 1))


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),                       # user
            st.sampled_from(["view", "purchase"]),
            st.integers(0, 4000),                    # ts seconds
        ),
        max_size=14,
    )
)
def test_interval_join_matches_python_pairs(spark, evs):
    """view_purchase_interval_join (batch route) == the quadratic
    Python pair walk on arbitrary sequences: inclusive [-lookback, 0]
    boundary on BOTH ends, same-user equi, exact integer-microsecond
    gaps — including pairs exactly AT the 30-minute boundary and
    view_ts == purchase_ts (gap 0)."""
    import datetime as dt

    from pyspark.sql import functions as F  # noqa: F401

    from sales_analytics_etl_sql_powerbi_spark.streaming.windows import (
        view_purchase_interval_join,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, u, t, base + dt.timedelta(seconds=s))
        for i, (u, t, s) in enumerate(evs)
    ]
    events = spark.createDataFrame(
        rows or [(None, None, None, None)],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).where("event_id is not null")
    got = {
        (r.purchase_id, r.view_id): r.gap_seconds
        for r in view_purchase_interval_join(events).collect()
    }
    want = {}
    for pi, (pu, pt, ps) in enumerate(evs):
        if pt != "purchase":
            continue
        for vi, (vu, vt, vs) in enumerate(evs):
            if vt == "view" and vu == pu and 0 <= ps - vs <= 1800:
                want[(pi, vi)] = float(ps - vs)
    assert got == want


# ---------------------------------------------------------------------------
# Streaming-family simulator fuzz (round 15 — VERDICT r14 item 4): the
# last major un-fuzzed surface. Each windowed/stateful operator's BATCH
# route (the oracle-gated contract) is twinned against an independent
# pure-Python event-time walk on arbitrary generated event streams —
# microsecond-precision timestamps, deliberate window-boundary hits,
# duplicate ids, equal-ts ties, multi-session users. The stream-only
# watermark semantics get their own multi-batch simulator in
# tests/test_streaming.py.
# ---------------------------------------------------------------------------

_US_HOUR = 3_600_000_000
_US_HALF = 1_800_000_000
_US_GAP = 300_000_000  # 5-minute session gap

# offsets mix arbitrary microseconds with exact window/session
# boundaries so edge semantics (event AT window start, gap EXACTLY 5
# minutes) are generated often, not once in a blue moon
_EVT_OFF = st.one_of(
    st.integers(0, 9_000_000_000),  # 0 .. 2.5h, µs precision
    st.sampled_from(
        [0, _US_GAP, 2 * _US_GAP, _US_HALF, _US_HOUR, _US_HOUR + _US_GAP,
         2 * _US_HOUR, _US_HOUR - 1, _US_HALF + 1]
    ),
)
_EVT = st.tuples(
    st.integers(0, 6),                               # event_id: collisions
    st.integers(0, 3),                               # user_id
    st.sampled_from(["view", "purchase", "click"]),  # event_type
    _EVT_OFF,                                        # ts offset (µs)
    st.integers(-40, 40),                            # value in quarters
)


def _evt_frame(spark, evs):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (eid, base + dt.timedelta(microseconds=off), uid, et, q * 0.25)
        for (eid, uid, et, off, q) in evs
    ]
    return rows, spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


@SLOW
@given(st.lists(_EVT, min_size=1, max_size=30))
def test_windowed_aggs_match_python_simulator(spark, evs):
    """tumbling_counts / sliding_counts / session_windows ==
    independent Python event-time walks on arbitrary event streams.
    Values are exact quarters so every decimal(12,2) sum is exact in
    both engines; boundary hits pin that a window is [start, end) and
    an event exactly 5 minutes after the previous one MERGES into the
    same session — Spark's session_window coalesces ADJACENT sessions
    (strict-> gap starts a new one), which this fuzz falsified against
    the r14 exclusive-end assumption (and the oracle's >= twin)."""
    import datetime as dt
    from collections import defaultdict

    from sales_analytics_etl_sql_powerbi_spark.streaming import windows as W

    base = dt.datetime(2024, 1, 1)
    rows, df = _evt_frame(spark, evs)

    # --- tumbling: floor to the hour ---
    want_t = defaultdict(lambda: [0, 0.0])
    for (eid, uid, et, off, q) in evs:
        ws = base + dt.timedelta(microseconds=off - off % _US_HOUR)
        want_t[(ws, et)][0] += 1
        want_t[(ws, et)][1] += q * 0.25
    got_t = {
        (r.window_start, r.event_type): [r.event_count, r.sum_value]
        for r in W.tumbling_counts(df).collect()
    }
    assert got_t == dict(want_t)

    # --- sliding 1h/30m: each event lands in exactly two windows ---
    want_s = defaultdict(int)
    for (eid, uid, et, off, q) in evs:
        w30 = off - off % _US_HALF
        for start in (w30 - _US_HALF, w30):
            want_s[(base + dt.timedelta(microseconds=start), et)] += 1
    got_s = {
        (r.window_start, r.event_type): r.event_count
        for r in W.sliding_counts(df).collect()
    }
    assert got_s == dict(want_s)

    # --- session windows: per-user walk, new session only when the gap
    # to the PREVIOUS EVENT is STRICTLY > 5 minutes (an exact-gap event
    # merges: Spark coalesces adjacent sessions) ---
    by_user = defaultdict(list)
    for (eid, uid, et, off, q) in evs:
        by_user[uid].append((off, q * 0.25))
    want_sess = set()
    for uid, evts in by_user.items():
        evts.sort(key=lambda p: p[0])
        cur = None  # [start_off, last_off, count, sum]
        for off, v in evts:
            if cur is not None and off - cur[1] <= _US_GAP:
                cur[1] = off
                cur[2] += 1
                cur[3] += v
            else:
                if cur is not None:
                    want_sess.add(
                        (uid,
                         base + dt.timedelta(microseconds=cur[0]),
                         base + dt.timedelta(microseconds=cur[1] + _US_GAP),
                         cur[2], cur[3])
                    )
                cur = [off, off, 1, v]
        if cur is not None:
            want_sess.add(
                (uid,
                 base + dt.timedelta(microseconds=cur[0]),
                 base + dt.timedelta(microseconds=cur[1] + _US_GAP),
                 cur[2], cur[3])
            )
    got_sess = {
        (r.user_id, r.session_start, r.session_end, r.event_count, r.sum_value)
        for r in W.session_windows(df).collect()
    }
    assert got_sess == want_sess


@SLOW
@given(st.lists(_EVT, min_size=1, max_size=30))
def test_stateful_totals_and_dedup_match_python_simulator(spark, evs):
    """running_totals_stateful's batch twin == a per-user Python
    accumulator; dedup_within_watermark's batch route keeps exactly
    one INPUT row per event_id."""
    from collections import defaultdict

    from sales_analytics_etl_sql_powerbi_spark.streaming import windows as W

    rows, df = _evt_frame(spark, evs)

    want_tot = defaultdict(lambda: [0, 0.0])
    for (eid, uid, et, off, q) in evs:
        want_tot[uid][0] += 1
        want_tot[uid][1] += q * 0.25
    got_tot = {
        r.user_id: [r.event_count, r.value_sum]
        for r in W.running_totals_stateful(df).collect()
    }
    assert got_tot == dict(want_tot)

    got_d = W.dedup_within_watermark(df, ["event_id"]).collect()
    input_rows = {tuple(r) for r in rows}
    assert {r.event_id for r in got_d} == {e[0] for e in evs}
    assert len(got_d) == len({e[0] for e in evs})
    for r in got_d:  # every survivor is a real input row, intact
        assert (r.event_id, r.ts, r.user_id, r.event_type, r.value) in input_rows


_POISON_ELEM = st.one_of(
    st.floats(-150.0, 150.0, allow_nan=False, allow_infinity=False),
    st.sampled_from(
        [float("nan"), float("inf"), float("-inf"), 5e3, 1e13, -400.0, 0.0]
    ),
    st.none(),
)


@SLOW
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(_POISON_ELEM, min_size=8, max_size=8),
        ),
        min_size=2,
        max_size=10,
    ),
)
def test_cosine_topk_poison_parity_with_duckdb_twin(spark, vecs):
    """cosine_topk == its DuckDB twin on POISON-LACED corpora (round
    15): NaN/±Inf/NULL/huge-finite/zero vectors — the gated corpus is
    clean, so the r15 _Q_DUCK whole-vector-NULL encoding (DuckDB's
    list_sum ignores NULL elements where Spark's fold propagates) is
    pinned here instead. Both engines must produce the same rows,
    ranks, and NULL cosines."""
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S

    rows = [(i, v) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r.query_id, r.vec_id, r.cosine, r.rn)
        for r in S.cosine_topk(emb, n_queries=2, topk=5).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding DOUBLE[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            S.cosine_topk_sql(n_queries=2, topk=5, dim=8)
        ).fetchall()
    )
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1] and g[3] == w[3], (got, want)
        if g[2] is None or w[2] is None:
            assert g[2] is None and w[2] is None, (g, w)
        else:
            assert abs(g[2] - w[2]) < 1e-12, (g, w)


# ---------------------------------------------------------------------------
# Round 15: ANN fuzz — IVF and LSH vs pure-Python references on arbitrary
# (tiny, tie-heavy, poison-laced) corpora. The DuckDB twins gate both
# operators on the fixed driver corpus; these pin the assignment/probe/
# score/tie-break arithmetic — and the NULL-poison degradation paths the
# clean gate corpus never exercises — against an independent sequential
# implementation on hypothesis-generated shapes.
# ---------------------------------------------------------------------------

_ANN_DIM = 6
_MICRO = st.integers(min_value=-2_000_000, max_value=2_000_000)

# poison classes: NULL element, NaN, ±Inf, beyond-long-domain finite,
# the ADVICE-r14 finite-overflow window (3e3..9.2e12), and just past the
# square-sum-safe bound (~189.81 at _DIM=64)
_POISON_ELEM = st.sampled_from(
    [None, float("nan"), float("inf"), float("-inf"), 1e14, 5.0e3, 3.2e3, 250.0]
)


def _clean_vec_st(dim=_ANN_DIM):
    return st.lists(_MICRO, min_size=dim, max_size=dim).map(
        lambda ks: [k / 1e6 for k in ks]
    )


def _any_vec_st(dim=_ANN_DIM):
    laced = st.tuples(
        st.lists(_MICRO, min_size=dim, max_size=dim),
        st.integers(min_value=0, max_value=dim - 1),
        _POISON_ELEM,
    ).map(
        lambda t: [t[2] if i == t[1] else k / 1e6 for i, k in enumerate(t[0])]
    )
    return st.one_of(_clean_vec_st(dim), laced, st.none())


def _round9_like_spark(x: float) -> float:
    """Spark's round(x, 9) on DoubleType = BigDecimal.valueOf(x)
    .setScale(9, HALF_UP): shortest-decimal repr, then decimal
    HALF_UP — Python's round() is HALF_EVEN, which differs on exact
    decimal ties (reachable only by dyadic cosines, but a fuzz exists
    to find exactly those)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP))


def _py_qgate(vec, bound):
    """Python twin of quantized()'s per-element square-sum-safe gate."""
    if vec is None:
        return None
    out = []
    for x in vec:
        xf = None if x is None else float(x)
        if xf is None or math.isnan(xf) or not (abs(xf) <= bound):
            out.append(None)
        else:
            out.append(int(round(xf * 1_000_000)))
    return out


def _py_dot(a, b):
    return sum(x * y for x, y in zip(a, b))


def _py_cos(qq, cq):
    """NULL-propagating rounded cosine: any NULL element (either side)
    or a zero norm product -> None, matching _cos + the NULL fold."""
    if qq is None or cq is None or any(e is None for e in qq) or any(
        e is None for e in cq
    ):
        return None
    den = math.sqrt(float(_py_dot(qq, qq))) * math.sqrt(float(_py_dot(cq, cq)))
    if den == 0:
        return None
    return _round9_like_spark(float(_py_dot(qq, cq)) / den)


def _py_topk_rows(scored, topk):
    """(query_id -> [(vec_id, cos), ...]) -> ranked rows, Spark order:
    cosine DESC NULLS LAST, vec_id ASC, row_number <= topk."""
    rows = []
    for qid, cands in scored.items():
        ranked = sorted(
            cands, key=lambda t: (t[1] is None, -(t[1] or 0.0), t[0])
        )
        for rn, (vid, cos) in enumerate(ranked[:topk], 1):
            rows.append((qid, vid, cos, rn))
    return sorted(rows)


def _assert_ann_rows(got, want):
    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1] and g[-1] == w[-1], (got, want)
        gc, wc = g[2], w[2]
        if gc is None or wc is None:
            assert gc is None and wc is None, (g, w)
        else:
            assert abs(gc - wc) < 1e-12, (g, w)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(_clean_vec_st(), min_size=2, max_size=2),  # queries 0,1: clean
    _any_vec_st(),  # query 2: may be poison (NULLS-FIRST probe routing)
    st.lists(_any_vec_st(), min_size=1, max_size=9),  # corpus tail
    st.sampled_from([1, 2, 3, 5]),  # n_clusters
    st.sampled_from([1, 2]),  # nprobe
)
def test_ann_ivf_topk_matches_python_reference(
    spark, qclean, qany, tail, n_clusters, nprobe
):
    """ann_ivf_topk == a sequential Python IVF on arbitrary corpora:
    md5-ordered codebook sample, exact-integer cell argmin (ties to the
    lowest cell), probe routing by (sq-dist, cell) with Spark's
    NULLS-FIRST asc for poison queries, NULL-cell corpus rows dropped
    by the probe equi-join, NULL-propagating rounded cosine, and
    (cosine DESC NULLS LAST, vec_id) tie-breaks."""
    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S

    vecs = qclean + [qany] + tail
    rows = [(i, v) for i, v in enumerate(vecs)]
    n_queries, topk = 3, 3
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r.query_id, r.vec_id, r.cosine, r.rn)
        for r in S.ann_ivf_topk(
            emb, n_queries=n_queries, topk=topk, n_clusters=n_clusters,
            nprobe=nprobe,
        ).collect()
    )

    # --- Python reference ------------------------------------------------
    bound = S._q_elem_bound(S._DIM) / 1e6
    sample = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    cents = S.train_ivf_codebook(
        S._quantize_finite_sample([v for _, v in sample]), n_clusters
    )
    q_by_id = {i: _py_qgate(v, bound) for i, v in rows}

    def cell_of(q):
        if q is None or any(e is None for e in q):
            return None
        dists = [
            sum((x - y) * (x - y) for x, y in zip(q, c)) for c in cents
        ]
        return dists.index(min(dists))

    cells = {i: cell_of(q) for i, q in q_by_id.items()}

    scored = {}
    for qid in range(n_queries):
        qq = q_by_id[qid]
        if qq is None or any(e is None for e in qq):
            order = list(range(len(cents)))  # all NULL cdist: cell asc
        else:
            order = sorted(
                range(len(cents)),
                key=lambda j: (
                    sum((x - y) * (x - y) for x, y in zip(qq, cents[j])),
                    j,
                ),
            )
        probe = set(order[:nprobe])
        scored[qid] = [
            (vid, _py_cos(qq, q_by_id[vid]))
            for vid, _ in rows
            if vid != qid and cells[vid] is not None and cells[vid] in probe
        ]
    _assert_ann_rows(got, _py_topk_rows(scored, topk))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(_clean_vec_st(), min_size=2, max_size=2),  # queries: clean
    st.lists(_any_vec_st(), min_size=2, max_size=10),  # corpus tail
    st.sampled_from([1, 2]),  # n_probes (multi-probe bit flips)
)
def test_ann_lsh_topk_matches_python_reference(spark, qclean, tail, n_probes):
    """ann_lsh_topk == a sequential Python LSH on arbitrary corpora:
    sign-bit bucketing over the shared hyperplanes (a NULL projection
    contributes bit 0, so poison corpus rows land in bucket 0 and can
    only surface with a NULL cosine when a bucket starves below top-k —
    pinned here, the gate corpus never shows it), query-directed
    single-bit multi-probe by ascending |margin|, and the shared
    cosine/tie-break path."""
    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S

    vecs = qclean + tail
    rows = [(i, v) for i, v in enumerate(vecs)]
    n_queries, topk = 2, 3
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r.query_id, r.vec_id, r.bucket, r.cosine, r.rn)
        for r in S.ann_lsh_topk(
            emb, n_queries=n_queries, topk=topk, n_probes=n_probes,
            dim=_ANN_DIM,
        ).collect()
    )

    # --- Python reference ------------------------------------------------
    n_planes = S.auto_n_planes(len(rows))
    planes = S.hyperplanes(n_planes, _ANN_DIM)
    bound = S._q_elem_bound(S._DIM) / 1e6
    q_by_id = {i: _py_qgate(v, bound) for i, v in rows}

    def proj(q, plane):
        if q is None or any(e is None for e in q):
            return None
        return _py_dot(q, plane)

    def bucket_of(q):
        b = 0
        for j, plane in enumerate(planes):
            d = proj(q, plane)
            if d is not None and d >= 0:
                b += 2**j
        return b

    buckets = {i: bucket_of(q) for i, q in q_by_id.items()}

    scored = {}
    out_rows = []
    for qid in range(n_queries):
        qq = q_by_id[qid]
        probes = [buckets[qid]]
        if n_probes > 1:
            margins = sorted(
                (abs(proj(qq, plane)), 2**j)
                for j, plane in enumerate(planes)
            )
            for _, p in margins[: n_probes - 1]:
                probes.append(buckets[qid] ^ p)
        probe_set = set(probes)
        scored[qid] = [
            (vid, _py_cos(qq, q_by_id[vid]))
            for vid, _ in rows
            if vid != qid and buckets[vid] in probe_set
        ]
    want_no_bucket = _py_topk_rows(scored, topk)
    want = sorted(
        (qid, vid, buckets[vid], cos, rn)
        for qid, vid, cos, rn in want_no_bucket
    )
    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3] and g[4] == w[4], (got, want)
        if g[3] is None or w[3] is None:
            assert g[3] is None and w[3] is None, (g, w)
        else:
            assert abs(g[3] - w[3]) < 1e-12, (g, w)


# ---------------------------------------------------------------------------
# Round 15: near-dup LSH end-to-end + cluster collapse vs sequential Python.
# The minhash SIGNATURE arithmetic is parity-pinned above; these extend the
# pin through banding, the band-hash equi-join, exact-Jaccard verification,
# thresholding, and the min-label-propagation connected components — against
# a quadratic Python LSH and a union-find, on collision-heavy tiny corpora.
# ---------------------------------------------------------------------------

_NEARDUP_TEXTS = st.lists(
    st.one_of(st.none(), st.text(alphabet="ab ", max_size=14)),
    min_size=2,
    max_size=12,
)


def _py_sets_and_bands(docs, k=3):
    """Shared sequential-LSH pieces: (doc -> shingle set, doc -> set of
    (band_id, band_hash)) — NULL-text docs excluded, matching
    shingle_sets' convention."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    sets, bands = {}, {}
    for d, t in docs:
        if t is None:
            continue
        toks = re.split(" +", t.strip().lower())
        if len(toks) >= k:
            sets[d] = set(
                " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
            )
        else:
            sets[d] = {" ".join(toks)}
        hs = []
        for s in sets[d]:
            hx = hashlib.md5(s.encode("utf-8")).hexdigest()
            h63 = (int(hx[:8], 16) & 0x7FFFFFFF) * 4294967296 + int(hx[8:16], 16)
            hs.append(h63 % dedup._P31)
        sig = [
            min((h * dedup._A[i] + dedup._B[i]) % dedup._P31 for h in hs)
            for i in range(dedup._N_PERM)
        ]
        rpb = dedup._ROWS_PER_BAND
        bands[d] = {
            (
                b,
                hashlib.md5(
                    ",".join(str(sig[b * rpb + r]) for r in range(rpb)).encode()
                ).hexdigest(),
            )
            for b in range(dedup._BANDS)
        }
    return sets, bands


def _py_neardup_pairs(docs, k=3, threshold=0.0):
    """Sequential LSH twin: shingle sets -> 16 minhash perms -> 8x2
    band hashes -> bucket-collision candidates -> exact Jaccard."""
    from collections import defaultdict

    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    sets = {}
    for d, t in docs:
        if t is None:
            continue
        toks = re.split(" +", t.strip().lower())
        if len(toks) >= k:
            sets[d] = set(
                " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
            )
        else:
            sets[d] = {" ".join(toks)}
    sigs = {}
    for d, sh in sets.items():
        hs = []
        for s in sh:
            hx = hashlib.md5(s.encode("utf-8")).hexdigest()
            h63 = (int(hx[:8], 16) & 0x7FFFFFFF) * 4294967296 + int(hx[8:16], 16)
            hs.append(h63 % dedup._P31)
        sigs[d] = [
            min((h * dedup._A[i] + dedup._B[i]) % dedup._P31 for h in hs)
            for i in range(dedup._N_PERM)
        ]
    buckets = defaultdict(set)
    rows_per_band = dedup._ROWS_PER_BAND
    for d, m in sigs.items():
        for b in range(dedup._BANDS):
            key = ",".join(
                str(m[b * rows_per_band + r]) for r in range(rows_per_band)
            )
            buckets[(b, hashlib.md5(key.encode()).hexdigest())].add(d)
    cand = set()
    for members in buckets.values():
        for a in members:
            for c in members:
                if a < c:
                    cand.add((a, c))
    out = {}
    for a, c in cand:
        inter = len(sets[a] & sets[c])
        union = len(sets[a]) + len(sets[c]) - inter
        j = inter / union
        if threshold <= 0 or j >= threshold:
            out[(a, c)] = j
    return out


@SLOW
@given(_NEARDUP_TEXTS, st.sampled_from([0.0, 0.34, 1.0]))
def test_neardup_pairs_matches_python_lsh_reference(spark, texts, threshold):
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.neardup_pairs(df, k=3, threshold=threshold).collect()
    }
    want = _py_neardup_pairs(docs, k=3, threshold=threshold)
    assert set(got) == set(want), (sorted(got), sorted(want))
    for key, j in want.items():
        assert abs(got[key] - j) < 1e-12, (key, got[key], j)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_NEARDUP_TEXTS)
def test_neardup_clusters_matches_union_find(spark, texts):
    """neardup_clusters == union-find over the sequential LSH pairs:
    cluster_id is the min doc_id reachable through Jaccard>=t edges;
    docs without edges (including NULL-text docs) are their own
    cluster; label propagation must converge to the same fixpoint the
    sequential union-find reaches directly."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    threshold = 0.34
    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.neardup_clusters(df, k=3, threshold=threshold).collect()
    }

    parent = {i: i for i, _ in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (a, b) in _py_neardup_pairs(docs, k=3, threshold=threshold):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for i, _ in docs:
        comps.setdefault(find(i), []).append(i)
    want = {i: min(comps[find(i)]) for i, _ in docs}
    assert got == want, (got, want)


# ---------------------------------------------------------------------------
# Round 15, wave 3: BPE trainer and int8 quantization vs sequential Python
# on arbitrary corpora — both are pinned on one fixed corpus in their unit
# suites; these extend the pin to hypothesis-generated tie-heavy shapes
# (BPE argmax ties, repeated words, early stop; int8 exact .5 rounding
# ties, negative values, absmax edge cases).
# ---------------------------------------------------------------------------


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(st.text(alphabet="abc ", max_size=16), min_size=1, max_size=6),
    st.integers(min_value=1, max_value=8),
    st.sampled_from([1, 2]),
)
def test_bpe_train_matches_python_on_arbitrary_corpora(
    spark, texts, n_merges, min_pair
):
    """Distributed trainer == pure-Python reference
    on arbitrary word multisets: same argmax, same lexicographic
    tie-break, same greedy left-to-right merge application, same early
    stop on min_pair_count."""
    from collections import Counter

    from sales_analytics_etl_sql_powerbi_spark.operators import bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = bpe.bpe_train(
        docs, n_merges=n_merges, min_pair_count=min_pair, checkpoint_every=3
    )
    wc = Counter()
    for t in texts:
        for w in re.split(" +", t.strip()):
            if w:
                wc[w] += 1
    want = bpe.bpe_train_py(dict(wc), n_merges=n_merges, min_pair_count=min_pair)
    assert got == want, (texts, got, want)


def _round0_like_spark(x: float) -> int:
    """Spark round(x) on DoubleType: BigDecimal.valueOf(x).setScale(0,
    HALF_UP) — half-away-from-zero on the shortest-decimal repr.
    Python's round() is HALF_EVEN and WOULD diverge on the exact .5
    quotients this fuzz generates (e.g. 1/ (254/127) = 0.5)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(x)).quantize(Decimal(1), ROUND_HALF_UP))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(_clean_vec_st(), min_size=2, max_size=2),
    st.lists(
        st.one_of(
            _clean_vec_st(),
            # integer-valued vectors make exact .5 code quotients easy
            st.lists(
                st.integers(min_value=-254, max_value=254),
                min_size=_ANN_DIM,
                max_size=_ANN_DIM,
            ).map(lambda ks: [float(k) for k in ks]),
            _any_vec_st(),
        ),
        min_size=2,
        max_size=10,
    ),
)
def test_int8_cosine_topk_matches_python_reference(spark, qclean, tail):
    """int8_cosine_topk == a sequential Python SQ8 walk: per-vector
    symmetric scale (absmax/127), HALF_UP code rounding (exact .5
    quotients pinned — Python's banker's round would diverge), all-zero
    vectors dropped (zero norm), poison vectors NULL-coded and dropped,
    integer dots with the shared 9-dp cosine and tie-breaks."""
    from sales_analytics_etl_sql_powerbi_spark.operators import similarity as S

    vecs = qclean + tail
    rows = [(i, v) for i, v in enumerate(vecs)]
    n_queries, topk = 2, 4
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r.query_id, r.vec_id, r.cosine, r.rn)
        for r in S.int8_cosine_topk(emb, n_queries=n_queries, topk=topk).collect()
    )

    def codes_of(v):
        if v is None:
            return None
        fs = [None if x is None else float(x) for x in v]
        if any(x is None or math.isnan(x) or math.isinf(x) for x in fs):
            return None
        absmax = max(abs(x) for x in fs)
        if absmax == 0:
            return [0] * len(fs)
        scale = absmax / 127.0
        return [_round0_like_spark(x / scale) for x in fs]

    c_by_id = {i: codes_of(v) for i, v in rows}
    norm = {
        i: math.sqrt(float(sum(x * x for x in c))) if c is not None else None
        for i, c in c_by_id.items()
    }
    live = {i for i in c_by_id if norm[i] is not None and norm[i] > 0}
    scored = {}
    for qid in range(n_queries):
        if qid not in live:
            continue
        qq = c_by_id[qid]
        cands = []
        for vid in sorted(live):
            if vid == qid:
                continue
            dot = sum(x * y for x, y in zip(qq, c_by_id[vid]))
            den = norm[qid] * norm[vid]
            cands.append(
                (vid, _round9_like_spark(float(dot) / den) if den != 0 else None)
            )
        scored[qid] = cands
    _assert_ann_rows(got, _py_topk_rows(scored, topk))


def _py_bucket(key, salt=""):
    hx = hashlib.md5((salt + str(key)).encode()).hexdigest()
    h = (int(hx[:8], 16) & 0x7FFFFFFF) * 4294967296 + int(hx[8:16], 16)
    return h % 1_000_000


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.sampled_from(["a", "b", None]),
            st.sampled_from(
                [None, float("nan"), 0.0, -1.5, 0.25, 1.0, 3.0, 0.001]
            ),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from([0.0, 0.37, 1.0]),
    st.integers(min_value=1, max_value=3),
)
def test_sampler_family_matches_python_md5_walk(spark, rows, rate, n):
    """deterministic_sample / split_assign / sample_per_group /
    weighted_sample == a sequential Python replay of the shared
    md5-bucket arithmetic on arbitrary keys — Bernoulli thresholding,
    cumulative split bounds, per-group (bucket, key) quota order
    (NULL groups quota'd together), and the Efraimidis–Spirakis
    ln(u)/w top-n with NULL/NaN/non-positive weights excluded."""
    from sales_analytics_etl_sql_powerbi_spark.operators import sampling as SA

    df = spark.createDataFrame(rows, "id long, grp string, w double")

    got_b = sorted(r.id for r in SA.deterministic_sample(df, "id", rate).collect())
    want_b = sorted(
        i for i, _, _ in rows if _py_bucket(i, "s1") < int(rate * 1_000_000)
    )
    assert got_b == want_b

    got_s = {r.id: r.split for r in SA.split_assign(df, "id").collect()}
    def py_split(i):
        b = _py_bucket(i, "split")
        if b < int(0.8 * 1_000_000):
            return "train"
        if b < int(0.9 * 1_000_000):
            return "val"
        return "test"
    assert got_s == {i: py_split(i) for i, _, _ in rows}

    got_q = [
        (r.grp, r.id) for r in SA.sample_per_group(df, "grp", "id", n).collect()
    ]
    from collections import defaultdict
    by_grp = defaultdict(list)
    for i, g, _ in rows:
        by_grp[g].append(i)
    want_q = sorted(
        [
            (g, i)
            for g, ids in by_grp.items()
            for i in sorted(ids, key=lambda i: (_py_bucket(i, "grp"), i))[:n]
        ],
        key=lambda t: (t[0] is None, t),  # None groups sort last, stably
    )
    assert sorted(got_q, key=lambda t: (t[0] is None, t)) == want_q

    got_w = sorted(r.id for r in SA.weighted_sample(df, "id", "w", n).collect())
    live = [
        (i, w)
        for i, _, w in rows
        if w is not None and not math.isnan(w) and w > 0
    ]
    scores = {
        i: math.log((_py_bucket(i, "w1") + 0.5) / 1_000_000.0) / w
        for i, w in live
    }
    want_w = sorted(
        sorted(scores, key=lambda i: (-scores[i], i))[:n]
    )
    assert got_w == want_w, (got_w, want_w, scores)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.one_of(
                st.none(),
                st.floats(
                    min_value=-5.0,
                    max_value=15.0,
                    allow_nan=False,
                    allow_infinity=False,
                ),
            ),
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=0, max_value=39),  # split point for the merge leg
    st.sampled_from([1, 3, 8]),
)
def test_histogram_quantiles_property(spark, rows, cut, n_bins):
    """Mergeable-histogram invariants on arbitrary (group, value)
    data with NULLs and out-of-range mass: (1) exact accounting —
    sum(bins)+under+over+null == group size; (2) split-merge equals
    whole-build bit-exactly; (3) every quantile estimate lands within
    one bin width of the true order statistic; (4) zero-in-range
    groups yield NULL quantile rows, never vanish."""
    import math as m

    from sales_analytics_etl_sql_powerbi_spark.operators import histograms as H

    lo, hi = 0.0, 10.0
    qs = [0.25, 0.5, 0.99]
    df = spark.createDataFrame(rows, "g string, v double")
    hist = H.histogram_table(df, ["g"], "v", lo, hi, n_bins=n_bins)
    got = {r.g: r for r in hist.collect()}

    from collections import defaultdict
    vals = defaultdict(list)
    for g, v in rows:
        vals[g].append(v)
    for g, vs in vals.items():
        r = got[g]
        assert sum(r.bins) + r.n_under + r.n_over + r.n_null == len(vs)
        assert r.n_null == sum(1 for v in vs if v is None)
        assert r.n_under == sum(1 for v in vs if v is not None and v < lo)
        assert r.n_over == sum(1 for v in vs if v is not None and v >= hi)

    # split-merge == whole-build, bit-exact
    a, b = rows[:cut], rows[cut:]
    parts = [
        H.histogram_table(
            spark.createDataFrame(part, "g string, v double"),
            ["g"], "v", lo, hi, n_bins=n_bins,
        )
        for part in (a, b)
        if part
    ]
    merged = {
        r.g: r for r in H.merge_histogram_tables(parts, ["g"]).collect()
    }
    assert set(merged) == set(got)
    for g in got:
        assert list(merged[g].bins) == list(got[g].bins)
        assert (merged[g].n_under, merged[g].n_over, merged[g].n_null) == (
            got[g].n_under, got[g].n_over, got[g].n_null,
        )

    # quantile error <= one bin width vs the true order statistic
    width = (hi - lo) / n_bins
    est = {
        (r.g, r.q): r.quantile
        for r in H.quantile_estimate(hist, ["g"], qs).collect()
    }
    for g, vs in vals.items():
        in_range = sorted(v for v in vs if v is not None and lo <= v < hi)
        for q in qs:
            key = (g, float(q))
            assert key in est, key
            if not in_range:
                assert est[key] is None
            else:
                k = max(1, m.ceil(q * len(in_range)))
                truth = in_range[k - 1]
                assert abs(est[key] - truth) <= width + 1e-9, (
                    g, q, est[key], truth, width,
                )


_PII_FRAGMENT = st.one_of(
    st.text(alphabet="ab 01.-@+()", max_size=12),  # adversarial junk
    st.builds(
        lambda u, d: f"{u}@{d}.com",
        st.text(alphabet="ab01._%+-", min_size=1, max_size=6),
        st.text(alphabet="ab01.-", min_size=1, max_size=5),
    ),
    st.builds(lambda p: f"http://{p}", st.text(alphabet="ab01./", max_size=8)),
    st.builds(
        lambda a, b, c, d: f"{a}.{b}.{c}.{d}",
        *([st.integers(min_value=0, max_value=999)] * 4),
    ),
    st.builds(
        lambda a, b, c, s: f"({a}){s}{b}{s}{c}",
        st.integers(min_value=100, max_value=999),
        st.integers(min_value=100, max_value=999),
        st.integers(min_value=1000, max_value=9999),
        st.sampled_from(["-", ".", " "]),
    ),
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(_PII_FRAGMENT, max_size=5).map(" ".join),
        min_size=1,
        max_size=12,
    )
)
def test_scrub_pii_three_way_parity(spark, texts):
    """scrub_pii == its DuckDB twin == a Python re walk on PII-laced
    ASCII text (emails, URLs, dotted quads, phone shapes, adversarial
    junk): same scrubbed output under the email→url→ip→phone
    replacement order and same independent per-pattern counts. The
    patterns are constrained to the RE2∩Java∩(ASCII re) dialect — this
    fuzz is the check that all three engines actually agree on it."""
    import duckdb

    from sales_analytics_etl_sql_powerbi_spark.operators import text as TX

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.scrubbed_text, r.n_emails, r.n_urls, r.n_ipv4, r.n_phones)
        for r in TX.scrub_pii(df).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    duck = {
        r[0]: tuple(r[1:])
        for r in con.execute(TX.scrub_pii_sql()).fetchall()
    }

    pats = [TX._EMAIL_RE, TX._URL_RE, TX._IPV4_RE, TX._PHONE_RE]
    reps = ["<EMAIL>", "<URL>", "<IP>", "<PHONE>"]
    want = {}
    for i, t in docs:
        counts = [len(re.findall(p, t)) for p in pats]
        s = t
        for p, rep in zip(pats, reps):
            s = re.sub(p, rep, s)
        want[i] = (s, *counts)
    assert got == want, (got, want)
    assert duck == want, (duck, want)


@SLOW
@given(
    st.lists(
        st.one_of(st.none(), st.text(alphabet="ab ", max_size=10)),
        min_size=2,
        max_size=10,
    ),
)
def test_simhash_matches_python_simhash(spark, texts):
    """simhash == a pure-Python SimHash on arbitrary corpora:
    per-occurrence md5 bit votes and sign packing; NULL text yields no
    row."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}

    def py_simhash(t):
        votes = [0] * 32
        for tok in re.split(" +", t.strip().lower()):
            hx = hashlib.md5(tok.encode("utf-8")).hexdigest()
            h = (int(hx[:8], 16) & 0x7FFFFFFF) * 4294967296 + int(hx[8:16], 16)
            for j in range(32):
                votes[j] += 1 if (h >> j) & 1 else -1
        return sum(2**j for j in range(32) if votes[j] >= 0)

    want = {i: py_simhash(t) for i, t in docs if t is not None}
    assert got == want, (got, want)


@SLOW
@given(_NEARDUP_TEXTS, st.integers(min_value=1, max_value=3))
def test_ngram_jaccard_topk_matches_python_walk(spark, texts, topk):
    """ngram_jaccard_topk == a quadratic Python walk on arbitrary
    corpora: only overlap>0 candidates appear (inner shingle join),
    jaccard over exact shingle sets, (jaccard DESC, doc_id) ranking,
    row_number <= topk — queries with NULL text emit nothing."""
    from sales_analytics_etl_sql_powerbi_spark.operators import dedup

    n_queries = 2
    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r.query_id, r.doc_id, r.jaccard, r.rn)
        for r in dedup.ngram_jaccard_topk(
            df, n_queries=n_queries, topk=topk
        ).collect()
    )

    sets, _ = _py_sets_and_bands(docs)
    want = []
    for q in range(n_queries):
        if q not in sets:
            continue
        cands = []
        for d, sd in sets.items():
            if d == q:
                continue
            inter = len(sets[q] & sd)
            if inter == 0:
                continue
            cands.append((d, inter / (len(sets[q]) + len(sd) - inter)))
        cands.sort(key=lambda t: (-t[1], t[0]))
        for rn, (d, j) in enumerate(cands[:topk], 1):
            want.append((q, d, j, rn))
    want = sorted(want)
    assert len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1] and g[3] == w[3], (got, want)
        assert abs(g[2] - w[2]) < 1e-12


_JSON_K = st.one_of(
    st.integers(min_value=-(2**40), max_value=2**40),  # incl. int32 overflow
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
    # \t \x00 (cast-trimmed by Spark) and \xa0 (NOT trimmed by Spark
    # but stripped by DuckDB's default trim — the divergence the twin's
    # explicit [\x00-\x20] strip exists to avoid)
    st.text(alphabet="0123456789+- .ab\t\x00\xa0", max_size=8),
    st.booleans(),
    st.none(),
    st.lists(st.integers(0, 9), max_size=2),
)
_PROPS = st.one_of(
    st.none(),
    st.just("{}"),
    st.text(alphabet='{}":abk ', max_size=10),  # mostly-malformed JSON
    st.builds(
        lambda k: __import__("json").dumps({"k": k}),
        _JSON_K,
    ),
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_PROPS, min_size=1, max_size=20))
def test_events_json_prop_parse_three_way_parity(spark, props):
    """The events_json prop-parse contract on POISON props (round 15 —
    found probing this surface: under ANSI a single non-integral
    props.k used to kill the whole Spark job with CAST_INVALID_INPUT,
    and a single malformed-JSON props row killed the DuckDB ORACLE
    query): Spark get_json_object+try_cast == the guarded DuckDB twin
    == a Python reference — malformed JSON, missing/null/bool/array
    k, decimal strings (DuckDB TRY_CAST alone would round them),
    padded integral strings, and int32 overflow all degrade to NULL;
    integral literals parse identically."""
    import duckdb
    import json as _json

    import __spark_entry__ as E

    from pyspark.sql import functions as F

    rows = [(i, p) for i, p in enumerate(props)]
    df = spark.createDataFrame(rows, "i long, props string")
    got = {
        r.i: r.k
        for r in df.select(
            "i", F.get_json_object("props", "$.k").try_cast("int").alias("k")
        ).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE e (i BIGINT, props VARCHAR)")
    con.executemany("INSERT INTO e VALUES (?, ?)", rows)
    duck = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT i, {E._JSON_K_INT_DUCK} FROM e"
        ).fetchall()
    }

    def py_parse(p):
        if p is None:
            return None
        try:
            obj = _json.loads(p)
        except ValueError:
            return None
        if not isinstance(obj, dict) or "k" not in obj or obj["k"] is None:
            return None
        k = obj["k"]
        if isinstance(k, bool) or isinstance(k, (list, dict)):
            return None
        if isinstance(k, float):
            return None  # serialized with a fraction/exponent -> non-integral
        if isinstance(k, str):
            # Spark's cast trims chars <= 0x20 (tab, NUL — NOT NBSP);
            # Python str.strip() would wrongly strip NBSP and keep NUL
            t = re.sub(r"^[\x00-\x20]+|[\x00-\x20]+$", "", k)
            if not re.fullmatch(r"[+-]?[0-9]+", t):
                return None
            k = int(t)
        if not (-(2**31) <= k < 2**31):
            return None
        return int(k)

    want = {i: py_parse(p) for i, p in rows}
    assert got == want, (got, want, props)
    assert duck == want, (duck, want, props)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            st.sampled_from(["en", "fr", "de"]),
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    ),
    st.dictionaries(
        st.sampled_from(["en", "fr"]),
        st.integers(min_value=0, max_value=6),
        max_size=2,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_stratified_mix_and_shards_match_python_walk(spark, rows, quotas, n_shards):
    """stratified_mix == a Python quota walk over the shared md5-bucket
    hash order (groups absent from the quota map dropped, short groups
    kept whole); training_shards' shard assignment and within-shard
    order hash replay the same arithmetic with the salt-decorrelated
    '#ord' suffix."""
    from sales_analytics_etl_sql_powerbi_spark.operators import sampling as SA

    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = sorted(
        (r.lang, r.doc_id)
        for r in SA.stratified_mix(df, "lang", quotas).collect()
    )
    from collections import defaultdict
    by = defaultdict(list)
    for i, g in rows:
        by[g].append(i)
    want = sorted(
        (g, i)
        for g, q in quotas.items()
        for i in sorted(by[g], key=lambda i: (_py_bucket(i, "mix"), i))[:q]
    )
    assert got == want, (got, want)

    sh = {
        r["doc_id"]: (r["shard"], r["__ord"])
        for r in SA.training_shards(df, n_shards).collect()
    }
    for i, _ in rows:
        assert sh[i] == (
            _py_bucket(i, "") % n_shards,
            _py_bucket(i, "#ord"),
        ), (i, sh[i])


# ---------------------------------------------------------------------------
# Streaming ingest/sink simulator fuzz (round 16 — VERDICT r15 item 5):
# the last probe-pinned-but-not-fuzzed surface. The foreachBatch
# handler is a plain function over on-disk state, so the micro-batch
# protocol (arbitrary splits, out-of-order delivery, forced replays)
# is driven directly — no StreamingQuery
# per example; the streaming wiring itself stays pinned by
# tests/test_streaming.py's end-to-end queries.
# ---------------------------------------------------------------------------

_STREAM_SIM = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_STREAM_SIM
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 99)),  # (key, val)
        min_size=1,
        max_size=18,
    ),
    st.lists(st.integers(0, 18), max_size=4),  # split cuts
    st.data(),
)
def test_foreach_batch_upsert_replay_fuzz(spark, tmp_path_factory, rows, cuts, data):
    """upsert_batch_into_parquet under ARBITRARY micro-batch splits and
    FORCED REPLAYS: (1) exactly one surviving row per key; (2) every
    key's survivor comes from the FIRST batch that carried it (the
    insert-if-missing contract — in-batch duplicate choice is
    dropDuplicates', so the assertion is membership in that batch's
    values); (3) replaying every already-applied batch once more, in
    an arbitrary order, changes NOTHING (at-least-once delivery is a
    no-op by key-level dedup, not by luck of checkpointing)."""
    import os

    from sales_analytics_etl_sql_powerbi_spark.streaming.sinks import (
        upsert_batch_into_parquet,
    )

    out = os.path.join(str(tmp_path_factory.mktemp("ups")), "tbl")
    bounds = sorted({min(c, len(rows)) for c in cuts} | {0, len(rows)})
    batches = [
        rows[a:b] for a, b in zip(bounds, bounds[1:]) if rows[a:b]
    ] or [rows]

    def bdf(batch):
        return spark.createDataFrame(batch, "k int, v int")

    for batch in batches:
        upsert_batch_into_parquet(bdf(batch), out, ["k"])

    def table():
        return {
            (r.k, r.v) for r in spark.read.parquet(out).collect()
        }

    got = table()
    # (1) one row per key, key set == union
    all_keys = {k for k, _ in rows}
    assert {k for k, _ in got} == all_keys and len(got) == len(all_keys)
    # (2) first-batch-wins membership
    first_batch_vals: dict[int, set] = {}
    for batch in batches:
        for k, v in batch:
            if k not in first_batch_vals:
                first_batch_vals[k] = {v2 for k2, v2 in batch if k2 == k}
    for k, v in got:
        assert v in first_batch_vals[k], (k, v, first_batch_vals[k])
    # (3) replays are no-ops — exact table identity
    replay_order = data.draw(st.permutations(range(len(batches))))
    for i in replay_order:
        upsert_batch_into_parquet(bdf(batches[i]), out, ["k"])
    assert table() == got


_INGEST = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_CSV_CELL = st.one_of(
    st.none(),
    st.text(
        alphabet="abXY ,\"'0123456789.-\tÜ縦✓",
        max_size=12,
    ),
)

_INGEST_COUNTER = iter(range(10**9))


@_INGEST
@given(
    st.lists(
        st.tuples(*([_CSV_CELL] * 8)),
        min_size=1,
        max_size=12,
    ),
    st.lists(st.integers(0, 12), max_size=3),  # file split cuts
)
def test_stream_ingest_arbitrary_file_splits_fuzz(
    spark, tmp_path_factory, rows, cuts
):
    """stream_order_export over an ARBITRARY split of the export into
    files (maxFilesPerTrigger=1 → one micro-batch per file) produces
    exactly the batch path's typed staging frame on ADVERSARIAL cell
    values — quotes, commas, tabs, unicode, NULLs. Both paths share
    the cleaning plan by construction; what this pins is the part
    that can drift: the stream's schema derivation (a batch header
    read), reader options, and per-file batching."""
    import csv
    import os

    from sales_analytics_etl_sql_powerbi_spark.pipeline import clean_order_export
    from sales_analytics_etl_sql_powerbi_spark.sources.readers import read_input
    from sales_analytics_etl_sql_powerbi_spark.streaming.ingest import (
        stream_order_export,
    )

    header = [
        "Order ID",
        " Line-Number ",
        "Submit Time",
        "Units",
        "mainSkuCode",
        "Second SKU",
        "State",
        "Notes",
    ]
    tmp = tmp_path_factory.mktemp("ing")
    src = str(tmp / "export.csv")  # extension-dispatched directory, as
    os.makedirs(src)               # the fixture exporter lays it out
    bounds = sorted({min(c, len(rows)) for c in cuts} | {0, len(rows)})
    chunks = [
        rows[a:b] for a, b in zip(bounds, bounds[1:]) if rows[a:b]
    ] or [rows]
    for i, chunk in enumerate(chunks):
        with open(
            os.path.join(src, f"part-{i}.csv"), "w", newline="", encoding="utf-8"
        ) as f:
            w = csv.writer(f)
            w.writerow(header)
            for r in chunk:
                w.writerow(["" if c is None else c for c in r])

    batch = clean_order_export(read_input(spark, src))

    out = stream_order_export(spark, src, max_files_per_trigger=1)
    qname = f"ing_fuzz_{next(_INGEST_COUNTER)}"
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .option("checkpointLocation", str(tmp / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table(qname)
    assert got.schema == batch.schema

    def _key(t):  # None-safe, mixed-type-safe row ordering
        return tuple((v is None, str(type(v)), str(v)) for v in t)

    assert sorted(map(tuple, got.collect()), key=_key) == sorted(
        map(tuple, batch.collect()), key=_key
    )


# ---------------------------------------------------------------------------
# BPE encode: the vocab-sized fold chain against an in-order Python
# application of the same merges, on arbitrary (unicode) words.
# ---------------------------------------------------------------------------

_BPE_WORD = st.text(alphabet="abcdéあ", min_size=1, max_size=6)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(_BPE_WORD, min_size=1, max_size=10),  # corpus words
    st.integers(1, 25),                            # merges to learn
)
def test_bpe_encode_vocab_matches_python_fold_fuzz(spark, words, n_merges):
    """bpe_encode_vocab == each merge applied in learned order, greedy
    left-to-right, on merges learned from the same arbitrary corpus."""
    from sales_analytics_etl_sql_powerbi_spark.operators import bpe

    docs = spark.createDataFrame(
        [(0, " ".join(words))], "doc_id long, text string"
    )
    wc: dict = {}
    for w in words:
        wc[w] = wc.get(w, 0) + 1
    merges = bpe.bpe_train_py(wc, n_merges, min_pair_count=1)
    got = {
        r.token: tuple(r.subwords)
        for r in bpe.bpe_encode_vocab(bpe.exploded_tokens(docs), merges).collect()
    }
    assert set(got) == set(wc)
    for tok, sw in got.items():
        syms = list(tok) + [bpe._EOW]
        for a, b in merges:
            out: list = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms = out
        assert tuple(syms) == sw, tok
