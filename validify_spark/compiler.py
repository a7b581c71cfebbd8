"""Rule compiler: lowers the Rule IR to vectorized Spark Column expressions.

Analog of the reference's codegen (validify_derive/src/tokens.rs:80-264):
where the proc macro emits one inlined ``if !check {...}`` block per rule,
we emit one Column expression per rule — an ``array<violation-struct>``
that is empty when the rule passes — and fuse ALL rules into a single
projection so the table is scanned once (SURVEY.md §4.2 "rule fusion").
Catalyst then gives CSE + whole-stage codegen for free.

Option semantics (fields.rs:355-396): every rule except ``required`` passes
on NULL — compiled as ``c.isNull() | pred``.
"""

from __future__ import annotations

import datetime as _dt
from typing import Optional

from pyspark.sql import Column, functions as F, types as T

from .rules import Rule
from .validators import sql_builders as V
from .validators import udf_tier as U

# The uniform violation element type — every rule compiles to an array of
# these (usually 0/1 elements; iter rules may emit several). Mirrors
# ValidationError::Field (validify/src/error.rs:5-35).
VIOLATION_STRUCT_DDL = (
    "struct<rule_id:string,field:string,location:string,"
    "code:string,message:string,params:map<string,string>>"
)
VIOLATION_ARRAY_DDL = f"array<{VIOLATION_STRUCT_DDL}>"


def empty_violations() -> Column:
    # one parsed expression is one JVM round trip; array().cast() is more
    return F.expr(f"cast(array() as {VIOLATION_ARRAY_DDL})")


def make_violation(rule_id: str, field: Optional[str], location,
                   code: str, message: Optional[str],
                   params: dict) -> Column:
    """Build one violation struct. ``params`` values are Columns (cast to
    string — the reference serializes params as JSON values,
    tokens.rs:318-341); ``location`` is a str or Column."""
    loc = location if isinstance(location, Column) else F.lit(location)
    if params:
        kv = []
        for k, v in params.items():
            vc = v if isinstance(v, Column) else F.lit(v)
            kv += [F.lit(k), vc.cast("string")]
        pmap = F.create_map(*kv)
    else:
        pmap = F.lit(None)
    # one struct cast names and types the fields by position: each
    # alias or cast is a round trip to the JVM, and a rule compiles
    # one struct per violation flavor
    return F.struct(F.lit(rule_id), F.lit(field), loc, F.lit(code),
                    F.lit(message), pmap).cast(VIOLATION_STRUCT_DDL)


# ---------------------------------------------------------------------------
# type resolution for dotted paths
# ---------------------------------------------------------------------------


def resolve_type(schema: T.StructType, dotted: str) -> Optional[T.DataType]:
    cur: T.DataType = schema
    for part in dotted.split("."):
        if isinstance(cur, T.StructType):
            try:
                cur = cur[part].dataType
            except KeyError:
                return None
        else:
            return None
    return cur


# ---------------------------------------------------------------------------
# per-kind pass predicates (+ violation params)
# ---------------------------------------------------------------------------


def _length_count(c: Column, dtype: Optional[T.DataType]) -> Column:
    # strings count chars not bytes (traits.rs:26-42 uses .chars().count());
    # arrays/maps count elements (traits.rs:44-96)
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return F.size(c)
    return F.length(c)


def ok_and_params(rule: Rule, c: Column, dtype: Optional[T.DataType],
                  run_ts: _dt.datetime,
                  schema: Optional[T.StructType] = None):
    """Return (ok_predicate, params_dict) for a rule applied to Column ``c``.

    ``ok`` is True ⇔ the value PASSES. NULL handling is applied by the
    caller (compile_rule), not here. ``schema`` (when available) lets
    time rules detect string-typed target_columns that must parse at
    runtime.
    """
    p = rule.params
    kind = rule.kind

    if kind == "length":
        n = _length_count(c, dtype)
        mn, mx, eq = p.get("min"), p.get("max"), p.get("equal")
        if eq is not None:
            ok = n == F.lit(eq)  # equal overrides (length.rs:8-32)
            prm = {"actual": n, "equal": F.lit(eq)}
        else:
            ok = F.lit(True)
            prm = {"actual": n}
            if mn is not None:
                ok = ok & (n >= F.lit(mn))
                prm["min"] = F.lit(mn)
            if mx is not None:
                ok = ok & (n <= F.lit(mx))
                prm["max"] = F.lit(mx)
        return ok, prm

    if kind == "range":
        # inclusive bounds, compared as f64 (range.rs:4-22; tokens.rs:410-427)
        v = c.cast("double")
        mn, mx = p.get("min"), p.get("max")
        ok = F.lit(True)
        prm = {"actual": c}
        if mn is not None:
            ok = ok & (v >= F.lit(float(mn)))
            prm["min"] = F.lit(float(mn))
        if mx is not None:
            ok = ok & (v <= F.lit(float(mx)))
            prm["max"] = F.lit(float(mx))
        return ok, prm

    if kind == "required":
        return c.isNotNull(), {}

    if kind == "regex":
        # unanchored search, same as Regex::is_match (tokens.rs:594-618)
        return c.rlike(p["pattern"]), {"actual": c}

    if kind == "non_control_char":
        # Unicode Cc = U+0000-U+001F + U+007F-U+009F
        # (unic_ucd_common::control; non_control_char.rs:3-12)
        return ~c.rlike(r"[\x00-\x1F\x7F-\x9F]"), {"actual": c}

    if kind == "contains" or kind == "contains_not":
        v = p["value"]
        if isinstance(dtype, T.ArrayType):
            ok = F.array_contains(c, v)
        elif isinstance(dtype, T.MapType):
            # map containment = KEY membership (traits.rs:158-180)
            ok = F.map_contains_key(c, F.lit(v))
        else:
            ok = c.contains(F.lit(v))
        if kind == "contains_not":
            ok = ~ok
        return ok, {"actual": c, "target": F.lit(v)}

    if kind == "is_in":
        return c.isin(*p["values"]), {"actual": c}

    if kind == "not_in":
        return ~c.isin(*p["values"]), {"actual": c}

    if kind == "must_match":
        other = F.col(p["other"])
        return c.eqNullSafe(other), {"actual": c, "target": other}

    if kind == "email":
        return V.email_ok(c, with_slow_path=p.get("slow_path", True)), {
            "actual": c}

    if kind == "url":
        # two-tier: regex fast path in codegen, WHATWG-parse UDF fed
        # NULL for decided rows (sql_builders.url_ok)
        return V.url_ok(c), {"actual": c}

    if kind == "ip":
        fmt = p.get("format")
        if fmt == "v4":
            ok = V.ipv4_ok(c)
        elif fmt == "v6":
            ok = V.ipv6_ok_gated(c)
        else:
            ok = V.ip_any_ok(c)
        return ok, {"actual": c}

    if kind == "phone":
        return U.phone_ok(c), {"actual": c}

    if kind == "credit_card":
        return V.credit_card_ok(c), {"actual": c}

    if kind == "custom":
        # caller-supplied violation params (ValidationError::with_param,
        # derive_tests/tests/custom.rs field-override case): values are
        # literals or Column-builders evaluated against the column
        prm = {"actual": c}
        for k, v in (p.get("params") or {}).items():
            prm[k] = v(c) if callable(v) else F.lit(v)
        return p["builder"](c), prm

    if kind == "time":
        return _time_ok(rule, c, run_ts, schema, dtype)

    raise ValueError(f"ok_and_params: unsupported kind {kind}")


def _coerce_target(p: dict) -> Optional[_dt.datetime]:
    tgt = p.get("target")
    if isinstance(tgt, str):
        return _dt.datetime.strptime(tgt, p["format"])
    return tgt


def _time_string_target(rule: Rule,
                        schema: Optional[T.StructType]) -> Optional[str]:
    """The target_column's name iff it is string-typed (⇒ parsed at
    runtime with the rule's format), else None. Only the three
    target-taking ops qualify (the RuleSet sanity pass rejects targets
    on now-relative ops)."""
    if rule.kind != "time" or schema is None:
        return None
    if rule.params.get("op") not in ("before", "after", "in_period"):
        return None
    tc = rule.params.get("target_column")
    if tc and isinstance(resolve_type(schema, tc), T.StringType):
        return tc
    return None


def _parse_target_col(tc: str, fmt: Optional[str]) -> Column:
    """Per-row runtime parse of a string target (NULL ⇔ unparseable) —
    the table-lifted analog of chrono parse_from_str in
    quote_time_with_target (tokens.rs:900-914)."""
    return (F.try_to_timestamp(F.col(tc), F.lit(fmt)) if fmt
            else F.try_to_timestamp(F.col(tc)))


def _time_ok(rule: Rule, c: Column, run_ts: _dt.datetime,
             schema: Optional[T.StructType] = None,
             dtype: Optional[T.DataType] = None):
    """The 7 time ops (validify/src/validation/time.rs:3-87). All bound
    arithmetic is folded driver-side into literals (constant folding the
    reference does at parse time, parser.rs:455-483). String-typed
    target_columns parse per row; an unparseable target is never proven
    ok (the violation-side parse error lives in
    _compile_time_string_target). Date-typed columns route to the
    whole-day *_date/*_today variants."""
    if isinstance(dtype, T.DateType):
        return _time_ok_date(rule, c, run_ts, schema)
    p = rule.params
    op = p["op"]
    inclusive = bool(p.get("inclusive", False))
    dur = _dt.timedelta(seconds=p.get("interval_seconds", 0))

    if p.get("target_column"):
        if _time_string_target(rule, schema):
            tlit: Column = _parse_target_col(p["target_column"],
                                             p.get("format"))
        else:
            tlit = F.col(p["target_column"])
        tstr: Column = tlit
    else:
        t = _coerce_target(p)
        tlit = F.lit(t) if t is not None else None
        tstr = tlit

    if op == "before":
        ok = (c <= tlit) if inclusive else (c < tlit)
        return ok, {"actual": c, "target": tstr}
    if op == "after":
        ok = (c >= tlit) if inclusive else (c > tlit)
        return ok, {"actual": c, "target": tstr}
    if op == "before_now":
        # eq flag supported like before/after (time.rs:3-11)
        ok = (c <= F.lit(run_ts)) if inclusive else (c < F.lit(run_ts))
        return ok, {"actual": c, "target": F.lit(run_ts)}
    if op == "after_now":
        ok = (c >= F.lit(run_ts)) if inclusive else (c > F.lit(run_ts))
        return ok, {"actual": c, "target": F.lit(run_ts)}
    if op == "before_from_now":
        # now - actual >= duration  ⇔  actual <= now - duration (time.rs:39-44)
        bound = run_ts - dur
        return c <= F.lit(bound), {"actual": c, "target": F.lit(bound)}
    if op == "after_from_now":
        # actual - now >= duration (time.rs:46-49)
        bound = run_ts + dur
        return c >= F.lit(bound), {"actual": c, "target": F.lit(bound)}
    if op == "in_period":
        if p.get("target_column"):
            # dynamic target: bounds as Column arithmetic with an
            # interval literal (the duration is still compile-time)
            tcol = tlit
            shifted = tcol + F.make_dt_interval(
                secs=F.lit(float(dur.total_seconds())))
            lo_c, hi_c = ((tcol, shifted) if dur >= _dt.timedelta(0)
                          else (shifted, tcol))
            return c.between(lo_c, hi_c), {
                "actual": c, "from": lo_c, "to": hi_c}
        t = _coerce_target(p)
        try:
            lo, hi = ((t, t + dur) if dur >= _dt.timedelta(0)
                      else (t + dur, t))
        except OverflowError:
            # reference semantics: bound overflow ⇒ check is false
            # (time.rs:63-70 checked_add returning None fails the rule)
            return F.lit(False), {"actual": c, "target": F.lit(str(t))}
        return c.between(F.lit(lo), F.lit(hi)), {
            "actual": c, "from": F.lit(lo), "to": F.lit(hi)}
    raise ValueError(f"unknown time op {op}")


def _time_ok_date(rule: Rule, c: Column, run_ts: _dt.datetime,
                  schema: Optional[T.StructType] = None):
    """Date-typed columns use the reference's *_date / *_today variants
    (time.rs:13-21, 31-37, 51-61, 78-87) — the reference selects them
    at macro time from the field type (has_time=false); we select from
    the column's Spark type. Whole-day semantics: now truncates to its
    date, from-now ops compare day-diffs (in seconds) against the full
    duration, and in_period adds only the WHOLE DAYS of the duration
    (NaiveDate::checked_add_signed drops sub-day parts)."""
    p = rule.params
    op = p["op"]
    inclusive = bool(p.get("inclusive", False))
    dur = _dt.timedelta(seconds=p.get("interval_seconds", 0))
    dur_secs = dur.total_seconds()
    run_date = run_ts.date()

    if p.get("target_column"):
        if _time_string_target(rule, schema):
            tlit: Column = F.to_date(_parse_target_col(
                p["target_column"], p.get("format")))
        else:
            # truncate timestamp-typed targets to dates too — same
            # whole-day semantics as literal/string targets (a
            # date-typed target column passes through to_date unchanged)
            tlit = F.to_date(F.col(p["target_column"]))
    else:
        t = _coerce_target(p)
        if isinstance(t, _dt.datetime):
            t = t.date()  # before_date/after_date take date targets
        tlit = F.lit(t) if t is not None else None

    if op == "before":
        ok = (c <= tlit) if inclusive else (c < tlit)
        return ok, {"actual": c, "target": tlit}
    if op == "after":
        ok = (c >= tlit) if inclusive else (c > tlit)
        return ok, {"actual": c, "target": tlit}
    if op in ("before_now", "after_now"):
        lim = F.lit(run_date)  # before_today/after_today (time.rs:13-21)
        if op == "before_now":
            ok = (c <= lim) if inclusive else (c < lim)
        else:
            ok = (c >= lim) if inclusive else (c > lim)
        return ok, {"actual": c, "target": lim}
    if op == "before_from_now":
        # today - actual >= duration, day-diff in seconds (time.rs:51-57)
        ok = (F.datediff(F.lit(run_date), c).cast("long") * 86400
              >= F.lit(dur_secs))
        return ok, {"actual": c, "target": F.lit(run_date)}
    if op == "after_from_now":
        ok = (F.datediff(c, F.lit(run_date)).cast("long") * 86400
              >= F.lit(dur_secs))
        return ok, {"actual": c, "target": F.lit(run_date)}
    if op == "in_period":
        dur_days = int(dur_secs / 86400)  # trunc toward 0 = num_days
        if p.get("target_column"):
            end = F.date_add(tlit, dur_days)
            lo_c, hi_c = ((tlit, end) if dur_days >= 0 else (end, tlit))
            return c.between(lo_c, hi_c), {
                "actual": c, "from": lo_c, "to": hi_c}
        t = _coerce_target(p)
        if isinstance(t, _dt.datetime):
            t = t.date()
        try:
            end_d = t + _dt.timedelta(days=dur_days)
        except OverflowError:
            return F.lit(False), {"actual": c, "target": F.lit(str(t))}
        lo, hi = ((t, end_d) if dur_days >= 0 else (end_d, t))
        return c.between(F.lit(lo), F.lit(hi)), {
            "actual": c, "from": F.lit(lo), "to": F.lit(hi)}
    raise ValueError(f"unknown time op {op}")


def _compile_time_string_target(rule: Rule, run_ts: _dt.datetime,
                                schema=None) -> Column:
    """Violation array for a time rule whose target_column is a STRING
    parsed at runtime. Two failure flavors, mirroring the reference
    (tokens.rs:738-747 quoted_parse_error + :900-914
    quote_time_with_target):

    - target unparseable (or NULL) under ``format`` ⇒ violation with
      params {actual: <validated value>, format: <format>} — same code
      as the op;
    - target parses but the comparison fails ⇒ the normal violation
      ({actual, target} / {actual, from, to}).

    NULL validated value passes (Option semantics) — the reference
    skips the whole check, parse included, for None fields. A
    date-typed rule column truncates the parsed target to a date and
    uses whole-day in_period arithmetic (the *_date variants)."""
    p = rule.params
    tc, fmt = p["target_column"], p.get("format")
    c = F.col(rule.column)
    parsed = _parse_target_col(tc, fmt)
    is_date = (schema is not None and isinstance(
        resolve_type(schema, rule.column), T.DateType))
    if is_date:
        parsed = F.to_date(parsed)
    op = p["op"]
    inclusive = bool(p.get("inclusive", False))
    dur = _dt.timedelta(seconds=p.get("interval_seconds", 0))
    field = rule.display_name or rule.column.split(".")[-1]

    if op == "before":
        cmp_ok = (c <= parsed) if inclusive else (c < parsed)
        cmp_prm = {"actual": c, "target": parsed}
    elif op == "after":
        cmp_ok = (c >= parsed) if inclusive else (c > parsed)
        cmp_prm = {"actual": c, "target": parsed}
    elif op == "in_period":
        if is_date:
            dur_days = int(dur.total_seconds() / 86400)
            shifted = F.date_add(parsed, dur_days)
            lo, hi = ((parsed, shifted) if dur_days >= 0
                      else (shifted, parsed))
        else:
            shifted = parsed + F.make_dt_interval(
                secs=F.lit(float(dur.total_seconds())))
            lo, hi = ((parsed, shifted) if dur >= _dt.timedelta(0)
                      else (shifted, parsed))
        cmp_ok = c.between(lo, hi)
        cmp_prm = {"actual": c, "from": lo, "to": hi}
    else:
        raise ValueError(
            f"time op {op} does not take a target_column")

    parse_viol = make_violation(
        rule.rule_id, field, rule.location, rule.effective_code,
        rule.message, {"actual": c, "format": F.lit(fmt)})
    cmp_viol = make_violation(
        rule.rule_id, field, rule.location, rule.effective_code,
        rule.message, cmp_prm)
    return (F.when(c.isNull(), empty_violations())
            .when(parsed.isNull(),
                  F.array(parse_viol).cast(VIOLATION_ARRAY_DDL))
            .when(cmp_ok, empty_violations())
            .otherwise(F.array(cmp_viol).cast(VIOLATION_ARRAY_DDL)))


# ---------------------------------------------------------------------------
# rule → array<violation> Column
# ---------------------------------------------------------------------------


def _gate_expr(rule: Rule) -> Optional[Column]:
    """Optional row-level applicability gate (enum-variant analog,
    derive_tests/tests/enum.rs: per-variant fields validate only when
    the row IS that variant). NULL/false gate ⇒ rule doesn't apply."""
    gate = rule.params.get("_gate")
    if gate is None:
        return None
    return F.expr(gate) if isinstance(gate, str) else gate


def gated(rule: Rule, expr: Column, otherwise: Column) -> Column:
    """``expr`` where the rule's variant gate holds, ``otherwise`` on
    rows of another variant (or NULL gate); ``expr`` when ungated."""
    g = _gate_expr(rule)
    return expr if g is None else F.when(g, expr).otherwise(otherwise)


def pass_expr(rule: Rule, ok: Column, prefilter: bool = False) -> Column:
    """Compact boolean pass-predicate for a column rule: True ⇔ the row
    has no violation. ``ok`` is the rule's validity Column from
    ``ok_and_params`` — the same tree ``compile_rule`` wraps in its
    violation struct, built once by the engine. NULL results mean "not
    proven ok" — callers must coalesce to False (a NULL predicate
    outcome is a violation, matching compile_rule). iter/map_values
    rules pass iff their violation array is empty, and schema rules
    use ``schema_pass_expr``.

    This is the cheap phase-1 expression of the two-phase evaluation:
    the engine filters rows on the conjunction of pass_exprs (small
    expression → whole-stage codegen) and builds the expensive
    violation structs only for the failing minority.

    ``prefilter=True`` (r6) returns a SOUND UNDER-approximation of pass
    for the two-tier validator kinds whose full verdict needs the Arrow
    UDF tier: only the pure-codegen fast path may answer True (fast
    True ⇒ valid by construction), so a slow-tier-valid row is merely
    over-captured into phase 2, where the exact expression evaluates it
    and emits no violation. The engine's violations() prefilter is the
    ONLY caller — it moves the JVM↔Python boundary off the full-table
    scan entirely (guide §4): the UDF then runs over the post-barrier
    failing minority instead of every row. Exact-verdict consumers
    (with_valid_flag, partition_report, coverage_report) keep the
    default. Applied to email/url only: their fast paths decide the
    overwhelming majority by design; `phone` has no sufficient pure-SQL
    validity condition (over-capturing every row would shuffle the
    whole table into phase 2), and an `ip any` rule over v6-heavy data
    would pay the same — both stay exact in phase 1.
    """
    c = F.col(rule.column)
    if prefilter and rule.kind in ("email", "url"):
        ok = _fast_path_ok(rule, c)
    if rule.kind != "required":
        ok = c.isNull() | ok
    return gated(rule, ok, F.lit(True))


def schema_pass_expr(rule: Rule, df) -> Column:
    """Pass predicate of a whole-row schema rule on ``df`` (see
    ``pass_expr``)."""
    pred = rule.params["predicate"]
    ok = F.expr(pred) if isinstance(pred, str) else pred(df)
    return gated(rule, ok, F.lit(True))


def _fast_path_ok(rule: Rule, c: Column) -> Column:
    """Codegen-only sufficient-validity condition for the two-tier
    kinds: True ⇒ the full two-tier verdict is also True. Rows it
    cannot prove valid fall through to phase 2's exact expression."""
    if rule.kind == "email":
        return V.email_ok_fast(c)
    return V.url_ok_fast(c)


def compile_rule(rule: Rule, schema: T.StructType,
                 run_ts: _dt.datetime, ok_params) -> Column:
    """Compile one rule into an ``array<violation-struct>`` Column
    (empty array ⇔ pass). ``ok_params``: the rule's ``ok_and_params``
    pair on its own column, shared with its pass predicate; None for
    iter/map_values, which build one pair per element."""
    if rule.kind == "schema":
        raise ValueError("schema rules are compiled by the engine")
    return gated(rule, _compile_ungated(rule, schema, run_ts, ok_params),
                 empty_violations())


def _compile_ungated(rule: Rule, schema: T.StructType,
                     run_ts: _dt.datetime, ok_params) -> Column:
    if rule.kind == "iter":
        return _compile_iter(rule, schema, run_ts)
    if rule.kind == "map_values":
        return _compile_map_values(rule, schema, run_ts)
    if _time_string_target(rule, schema):
        # string targets parse at runtime; parse failure emits its own
        # violation flavor (actual + format params)
        return _compile_time_string_target(rule, run_ts, schema)

    c = F.col(rule.column)
    ok, prm = ok_params

    viol = make_violation(
        rule.rule_id, rule.display_name or rule.column.split(".")[-1],
        rule.location, rule.effective_code, rule.message, prm)
    one = F.array(viol).cast(VIOLATION_ARRAY_DDL)

    if rule.kind == "required":
        # the only validator that fires on NULL (required.rs:2-5)
        return F.when(ok, empty_violations()).otherwise(one)
    # NULL passes every other rule (fields.rs:355-396)
    return F.when(c.isNull() | ok, empty_violations()).otherwise(one)


def _compile_iter(rule: Rule, schema: T.StructType,
                  run_ts: _dt.datetime) -> Column:
    """Per-element validation on an array column with index-suffixed
    locations (tokens.rs:167-235; golden '/test/1' iter.rs:26).

    Implemented as a higher-order ``transform`` with the 2-arg (element,
    index) lambda — stays in codegen, no explode/shuffle.
    """
    inner: Rule = rule.params["inner"]
    arr = F.col(rule.column)
    atype = resolve_type(schema, rule.column)
    etype = atype.elementType if isinstance(atype, T.ArrayType) else None
    sub = inner.column  # optional subfield of struct elements

    base_loc = rule.location
    field_name = (rule.display_name or rule.column.split(".")[-1])

    # Spark bans Python UDF calls inside higher-order-function lambdas
    # (UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_PYTHON_UDF), so for
    # UDF-backed kinds we precompute one array<boolean> ok-vector with a
    # single top-level Arrow UDF and zip it against the array — the
    # lambdas below then stay pure Catalyst.
    udf_kind = None
    if inner.kind in ("email", "url", "phone"):
        udf_kind = inner.kind
    elif inner.kind == "ip":
        fmt = inner.params.get("format")
        udf_kind = {"v4": "ipv4", "v6": "ipv6"}.get(fmt, "ip_any")
    if udf_kind is not None:
        values = F.transform(arr, lambda x: x[sub] if sub else x)
        ok_arr = U.iter_ok(udf_kind)(values)
        zipped = F.zip_with(
            arr, ok_arr,
            lambda x, ok: F.struct(x.alias("v"), ok.alias("ok")))

        def per_element_udf(p: Column, i: Column) -> Column:
            elem = p["v"][sub] if sub else p["v"]
            loc = F.concat(F.lit(base_loc + "/"), i.cast("string"),
                           F.lit("/" + sub) if sub else F.lit(""))
            viol = make_violation(rule.rule_id, field_name, loc,
                                  inner.effective_code,
                                  inner.message or rule.message,
                                  {"actual": elem})
            passes = elem.isNull() | p["ok"]
            return F.when(passes,
                          F.lit(None).cast(VIOLATION_STRUCT_DDL)) \
                    .otherwise(viol)

        viols = F.filter(F.transform(zipped, per_element_udf),
                         lambda v: v.isNotNull())
        return F.when(arr.isNull(), empty_violations()).otherwise(viols)

    def per_element(x: Column, i: Column) -> Column:
        elem = x[sub] if sub else x
        edt = (resolve_type(etype, sub)
               if (sub and isinstance(etype, T.StructType)) else etype)
        # top-level ``schema`` threaded so a nested time rule with a
        # string-typed (top-level) target_column gets the same
        # runtime-parse semantics as at top level. One documented
        # difference: the dedicated parse-error violation flavor
        # (_compile_time_string_target) is top-level only — nested
        # parse failures emit the rule's normal code (unparseable
        # target is still never proven ok).
        ok, prm = ok_and_params(inner, elem, edt, run_ts, schema)
        # inner display_name renames the location leaf, like
        # ValidationError::new_field_named (error_location.rs:186-190
        # golden '/second/invalid_grandchildren/2/obfuscated')
        subloc = inner.display_name or sub
        loc = F.concat(F.lit(base_loc + "/"), i.cast("string"),
                       F.lit("/" + subloc) if subloc else F.lit(""))
        viol = make_violation(rule.rule_id, field_name, loc,
                              inner.effective_code, inner.message
                              or rule.message, prm)
        passes = elem.isNull() | ok
        if inner.kind == "required":
            passes = ok
        return F.when(passes, F.lit(None).cast(VIOLATION_STRUCT_DDL)) \
                .otherwise(viol)

    viols = F.filter(F.transform(arr, per_element),
                     lambda v: v.isNotNull())
    # NULL array passes (option-of-array, iter.rs option cases)
    return F.when(arr.isNull(), empty_violations()).otherwise(viols)


def _compile_map_values(rule: Rule, schema: T.StructType,
                        run_ts: _dt.datetime) -> Column:
    """Per-value validation on a map column; locations carry the map KEY
    (error.rs:117-158 — golden '/name/3/stuff',
    derive_tests/tests/error_location.rs). Inner rule may target a
    subfield of struct values."""
    inner: Rule = rule.params["inner"]
    col = F.col(rule.column)
    mtype = resolve_type(schema, rule.column)
    vtype = mtype.valueType if isinstance(mtype, T.MapType) else None
    sub = inner.column

    base_loc = rule.location
    field_name = (rule.display_name or rule.column.split(".")[-1])

    def per_entry(e: Column) -> Column:
        elem = e["value"][sub] if sub else e["value"]
        edt = (resolve_type(vtype, sub)
               if (sub and isinstance(vtype, T.StructType)) else vtype)
        # schema threaded for nested time string-target parse parity
        # (see _compile_iter.per_element)
        ok, prm = ok_and_params(inner, elem, edt, run_ts, schema)
        subloc = inner.display_name or sub
        loc = F.concat(F.lit(base_loc + "/"), e["key"].cast("string"),
                       F.lit("/" + subloc) if subloc else F.lit(""))
        viol = make_violation(rule.rule_id, field_name, loc,
                              inner.effective_code,
                              inner.message or rule.message, prm)
        passes = elem.isNull() | ok
        if inner.kind == "required":
            passes = ok
        return F.when(passes, F.lit(None).cast(VIOLATION_STRUCT_DDL)) \
                .otherwise(viol)

    viols = F.filter(F.transform(F.map_entries(col), per_entry),
                     lambda v: v.isNotNull())
    return F.when(col.isNull(), empty_violations()).otherwise(viols)


def rule_input_columns(rule: Rule) -> list:
    """Dotted column paths a rule reads — used by the engine's payload
    column-existence pre-check (validate_from semantics: a rule naming
    an absent column reports `required` instead of failing analysis,
    validify_derive/src/payload.rs:123-135)."""
    cols = []
    if rule.kind != "schema" and rule.column:
        cols.append(rule.column)
    if rule.kind == "must_match":
        cols.append(rule.params["other"])
    if rule.kind == "time" and rule.params.get("target_column"):
        cols.append(rule.params["target_column"])
    return cols


def compile_missing_column(rule: Rule, col: str) -> Column:
    """Constant violation for a rule whose input column is absent from
    the DataFrame schema: code `required` at the missing field's
    location, emitted for every row (derive_tests/tests/payload.rs:14-22
    — missing payload fields report `required`)."""
    viol = make_violation(
        rule.rule_id, col.split(".")[-1], "/" + col.replace(".", "/"),
        "required", rule.message, {})
    return F.array(viol).cast(VIOLATION_ARRAY_DDL)


def compile_schema_rule(rule: Rule, df) -> Column:
    """Whole-row predicate → 0/1-element violation array; location '/'
    and no field, like ValidationError::Schema (error.rs:62-68)."""
    pred = rule.params["predicate"]
    ok = F.expr(pred) if isinstance(pred, str) else pred(df)
    viol = make_violation(rule.rule_id, None, "/", rule.effective_code,
                          rule.message, {})
    one = F.array(viol).cast(VIOLATION_ARRAY_DDL)
    # a NULL predicate result counts as failure (unknown ⇒ not proven ok)
    out = F.when(ok, empty_violations()).otherwise(one)
    # honor the variant gate in phase 2 exactly like schema_pass_expr
    # does in phase 1: a row of another variant that reached phase 2 by
    # failing a DIFFERENT rule must not collect this variant's schema
    # violation
    return gated(rule, out, empty_violations())
