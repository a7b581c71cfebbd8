"""The engine's compile cache: each rule is compiled once per engine and
input schema, and phase 1, the chunk probe, phase 2, with_valid_flag
and coverage_report all read that one build.

The ruleset mixes every kind the cache treats specially — the Arrow UDF
kinds (whose Columns phase 1 and phase 2 share), ``iter_`` of email,
``map_values_``, variant-gated rules, a presence rule, a pandas_udf
``custom`` rule and a DataFrame-callable schema rule — and its static
weight is above the single-chunk budget, so phase 2 is multi-chunk and
the ``custom`` rule makes the chunk probe run."""

import datetime as dt
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

import validify_spark as vs
from validify_spark import compiler as C
from validify_spark import engine as E
from validify_spark.rules import Rule

RUN_TS = dt.datetime(2026, 1, 1)

SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("payload_key", T.StringType()),
    T.StructField("email", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("phone", T.StringType()),
    T.StructField("ip", T.StringType()),
    T.StructField("cc", T.ArrayType(T.StringType())),
    T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    T.StructField("kind", T.StringType()),
    T.StructField("amount", T.DoubleType()),
    T.StructField("user", T.StringType()),
    T.StructField("note", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])

ROWS = [
    (1, "k", "a@example.com", "https://example.com/x", "+14155550101",
     "10.0.0.1", ["b@example.org"], {"src": "web"}, "purchase", 10.0,
     " Alice ", "fine", dt.datetime(2025, 1, 1)),
    (2, "k", "not-an-email", "ht!tp://bad", "12", "999.1.1.1",
     ["c@example.org", "nope"], {"src": "", "ref": "r" * 12}, "purchase",
     -5.0, " bob", "tab\there", dt.datetime(2027, 1, 1)),
    (3, None, "x@example.com", "https://example.com", "+14155550102",
     None, None, None, "api", 9000.0, "Carol", "n", None),
    (4, "k", None, None, None, "2001:db8::1", [], {}, "mystery", None,
     "dave ", "x" * 30, dt.datetime(2024, 6, 1)),
    (5, "k", "üñí@exämple.com", "https://例え.jp/パス", "+44 20 7946 0958",
     "::1", ["ok@example.org", None], {"a": "v"}, "signup", 1.0, "Eve",
     "ok", dt.datetime(2025, 12, 31)),
    (6, "k", "y@example.com", "https://example.com/y", "+14155550103",
     None, ["d@example.org"], {"src": "web"}, "api", 7000.0, "Frank", "ok",
     dt.datetime(2025, 3, 3)),
]


@F.pandas_udf(T.BooleanType())
def _starts_upper(s: pd.Series) -> pd.Series:
    return s.str[:1].str.isupper()


def _ruleset():
    return vs.RuleSet(
        name="events",
        rules=[
            vs.required("payload_key", stage="presence"),
            vs.email("email"),
            vs.url("url"),
            vs.phone("phone"),
            vs.ip("ip"),
            vs.iter_("cc", Rule(kind="email", column=None)),
            vs.map_values_("attrs", Rule(kind="length", column=None,
                                         params={"min": 1, "max": 8})),
            *vs.variant_rules("kind", {
                "signup": [],
                "purchase": [vs.range_("amount", min=0, max=1000)],
                "api": [vs.required("ip")],
            }, known_only=True),
            vs.custom("user", lambda c: _starts_upper(c), code="user_case"),
            vs.length("note", max=20),
            vs.non_control_char("note"),
            vs.time("ts", op="before", target=RUN_TS, inclusive=True),
            vs.schema_rule(lambda df: F.coalesce(df["amount"] < 5000,
                                                 F.lit(True)),
                           code="amount_cap"),
        ],
        modifiers=[vs.trim("user")],
    )


def _engine():
    return vs.ValidationEngine(_ruleset(), key_cols=["event_id"],
                               run_ts=RUN_TS)


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def _rows(df):
    return sorted((r.event_id, r.rule_id, r.location, r.code,
                   tuple(sorted((r.params or {}).items())))
                  for r in df.collect())


def test_each_rule_compiled_once(events, monkeypatch):
    compiled, oks = Counter(), Counter()
    real_compile, real_ok = C.compile_rule, C.ok_and_params

    def count_compile(rule, *a, **kw):
        compiled[id(rule)] += 1
        return real_compile(rule, *a, **kw)

    def count_ok(rule, *a, **kw):
        oks[id(rule)] += 1
        return real_ok(rule, *a, **kw)

    probes = []
    real_probe = E._unit_line_counts

    def count_probe(df):
        probes.append(1)
        return real_probe(df)

    monkeypatch.setattr(C, "compile_rule", count_compile)
    monkeypatch.setattr(C, "ok_and_params", count_ok)
    monkeypatch.setattr(E, "_unit_line_counts", count_probe)

    eng = _engine()
    viols = eng.violations(events)
    assert probes, "the custom rule must make the chunk probe run"
    assert eng._phase_caches, "phase 2 must be multi-chunk"
    flagged = eng.with_valid_flag(events)
    coverage = eng.coverage_report(events)

    rules = eng.ruleset.rules
    for r in rules:
        if r.kind == "schema":
            assert compiled[id(r)] == 0
            continue
        assert compiled[id(r)] == 1, (r.rule_id, compiled[id(r)])
        if r.kind not in ("iter", "map_values"):
            assert oks[id(r)] == 1, (r.rule_id, oks[id(r)])
    # nested inner rules are built once with their parent's array
    assert all(n == 1 for n in oks.values()), oks

    # the shared trees still evaluate: every row either fails phase 1
    # or reports no violation
    failing = {r.event_id for r in flagged.filter(~F.col("is_valid"))
               .collect()}
    assert failing == {r.event_id for r in viols.collect()}
    fired = {r.rule_id: r.n_failed for r in coverage.collect()}
    assert set(fired) == {r.rule_id for r in rules}


def test_cached_output_matches_fused_and_fresh(events):
    eng = _engine()
    chunked = _rows(eng.violations(events))
    assert eng._phase_caches, "phase 2 must be multi-chunk"
    # a second call on the same engine reads every tree from the cache
    assert _rows(eng.violations(events)) == chunked
    assert _rows(eng.violations(events, barrier=False)) == chunked
    assert _rows(_engine().violations(events)) == chunked
    assert _rows(_engine().violations(events, barrier=False)) == chunked
    codes = Counter(code for _, _, _, code, _ in chunked)
    # every rule kind of the ruleset fires somewhere
    for code in ("required", "email", "url", "phone", "ip", "length",
                 "in", "range", "user_case", "non_control_char",
                 "before_or_equal", "amount_cap"):
        assert codes[code] > 0, code

    flag = {r.event_id: r.is_valid
            for r in eng.with_valid_flag(events).collect()}
    fresh_flag = {r.event_id: r.is_valid
                  for r in _engine().with_valid_flag(events).collect()}
    assert flag == fresh_flag
    assert (sorted(eng.coverage_report(events).collect())
            == sorted(_engine().coverage_report(events).collect()))
    eng.release_caches()
