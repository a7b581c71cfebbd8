"""Reference results from DuckDB over the same generated parquet.

Computed once per run, outside every timed region. Where the repo
already ships an oracle (``__spark_entry__.oracle_sql()``) it is reused
as is; the rest mirror the library's documented semantics.
"""

from __future__ import annotations

import duckdb

import gen

ROLES = ("system", "user", "assistant", "tool")


def connect():
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def _pairs(con, sql: str) -> dict:
    return {k: int(v) for k, v in con.execute(sql).fetchall()}


def _sql_list(values) -> str:
    return ", ".join("'" + v.replace("'", "''") + "'" for v in values)


# -- turns ---------------------------------------------------------------


def turns(con, turns_glob: str, meta_glob: str) -> dict:
    """Row-rule violations of the standard turns ruleset by
    ``location|code``, duplicate keys, ordering codes, whole-conversation
    rule failures and referential orphans."""
    con.execute(f"CREATE OR REPLACE VIEW turns AS "
                f"SELECT * FROM read_parquet('{turns_glob}')")
    run_ts = gen.RUN_TS.isoformat(sep=" ")
    out = {"rows": con.execute("SELECT count(*) FROM turns").fetchone()[0]}
    out["violations"] = _pairs(con, f"""
      WITH n AS (SELECT conv_id, turn_idx, lower(role) AS role,
                        trim(text) AS text, tool, ts FROM turns)
      SELECT '/role|required', count(*) FROM n WHERE role IS NULL
      UNION ALL SELECT '/ts|required', count(*) FROM n WHERE ts IS NULL
      UNION ALL SELECT '/text|length', count(*) FROM n
        WHERE text IS NOT NULL AND NOT (length(text) BETWEEN 1 AND 4000)
      UNION ALL SELECT '/role|in', count(*) FROM n
        WHERE role IS NOT NULL AND role NOT IN ({_sql_list(ROLES)})
      UNION ALL SELECT '/tool|not_in', count(*) FROM n
        WHERE tool IN ('', 'forbidden')
      UNION ALL SELECT '/text|non_control_char', count(*) FROM n
        WHERE regexp_matches(text, '[\\x00-\\x1F\\x7F-\\x9F]')
      UNION ALL SELECT '/turn_idx|range', count(*) FROM n
        WHERE NOT (turn_idx BETWEEN 0 AND 100000)
      UNION ALL SELECT '/ts|before_or_equal', count(*) FROM n
        WHERE ts > TIMESTAMPTZ '{run_ts}+00'""")
    out["violations"] = {k: v for k, v in out["violations"].items() if v}
    dup = con.execute("""
      SELECT count(*), coalesce(sum(c), 0) FROM (
        SELECT count(*) AS c FROM turns GROUP BY conv_id, turn_idx
        HAVING count(*) > 1)""").fetchone()
    out["dup_keys"], out["dup_rows"] = int(dup[0]), int(dup[1])
    out["ordering"] = _pairs(con, """
      WITH w AS (
        SELECT turn_idx, ts,
               lag(turn_idx) OVER o AS p_idx, lag(ts) OVER o AS p_ts
        FROM turns
        WINDOW o AS (PARTITION BY conv_id
                     ORDER BY turn_idx ASC NULLS FIRST, ts ASC NULLS FIRST))
      SELECT 'dup_turn_idx', count(*) FROM w WHERE turn_idx = p_idx
      UNION ALL SELECT 'turn_idx_gap', count(*) FROM w
        WHERE turn_idx > p_idx + 1
      UNION ALL SELECT 'ts_out_of_order', count(*) FROM w
        WHERE ts < p_ts""")
    out["conv_violations"] = con.execute("""
      WITH c AS (
        SELECT conv_id,
               bool_or(lower(role) = 'assistant') AS has_asst,
               count(*) AS n,
               min(CASE WHEN lower(role) = 'tool' THEN turn_idx END) AS t,
               min(CASE WHEN lower(role) = 'assistant' THEN turn_idx END)
                 AS a
        FROM turns GROUP BY conv_id)
      SELECT sum(CASE WHEN has_asst IS NOT TRUE THEN 1 ELSE 0 END)
           + sum(CASE WHEN n > 512 THEN 1 ELSE 0 END)
           + sum(CASE WHEN t IS NULL OR (a IS NOT NULL AND a < t)
                      THEN 0 ELSE 1 END)
      FROM c""").fetchone()[0]
    out["orphans"] = con.execute(f"""
      SELECT count(DISTINCT conv_id) FROM turns
      WHERE conv_id NOT IN (
        SELECT conv_id FROM read_parquet('{meta_glob}')
        WHERE conv_id IS NOT NULL)""").fetchone()[0]
    return out


# -- payload events --------------------------------------------------------


def events(con, events_glob: str) -> dict:
    """Violations of ``gen.payload_ruleset`` by ``location|code``, from
    the generator's construction: a field violates exactly when it
    holds a value from its BAD_* pool (or its documented bad shape)."""
    con.execute(f"CREATE OR REPLACE VIEW events AS "
                f"SELECT * FROM read_parquet('{events_glob}')")
    run_ts = gen.RUN_TS.isoformat(sep=" ")
    bad_email = _sql_list(gen.BAD_EMAILS)
    v = _pairs(con, f"""
      SELECT '/email|email', count(*) FROM events
        WHERE email IN ({bad_email})
      UNION ALL SELECT '/url|url', count(*) FROM events
        WHERE url IN ({_sql_list(gen.BAD_URLS)})
      UNION ALL SELECT '/phone|phone', count(*) FROM events
        WHERE phone IN ({_sql_list(gen.BAD_PHONES)})
      UNION ALL SELECT '/ip|ip', count(*) FROM events
        WHERE ip IN ({_sql_list(gen.BAD_IPS)})
      UNION ALL SELECT '/cc/1|email', count(*) FROM events
        WHERE cc[2] IN ({bad_email})
      UNION ALL SELECT '/attrs/src|length', count(*) FROM events
        WHERE length(attrs['src'][1]) < 1
      UNION ALL SELECT '/attrs/ref|length', count(*) FROM events
        WHERE length(attrs['ref'][1]) > {gen.ATTR_MAX}
      UNION ALL SELECT '/kind|in', count(*) FROM events
        WHERE kind NOT IN ({_sql_list(gen.KINDS)})
      UNION ALL SELECT '/amount|range', count(*) FROM events
        WHERE kind = 'purchase' AND NOT (amount BETWEEN 0 AND 1000)
      UNION ALL SELECT '/ip|required', count(*) FROM events
        WHERE kind = 'api' AND ip IS NULL
      UNION ALL SELECT '/user|user_min', count(*) FROM events
        WHERE length(trim(user)) < {gen.USER_MIN}
      UNION ALL SELECT '/note|length', count(*) FROM events
        WHERE length(note) > {gen.NOTE_MAX}
      UNION ALL SELECT '/note|non_control_char', count(*) FROM events
        WHERE regexp_matches(note, '[\\x00-\\x1F\\x7F-\\x9F]')
      UNION ALL SELECT '/ts|before_or_equal', count(*) FROM events
        WHERE ts > TIMESTAMPTZ '{run_ts}+00'""")
    return {"rows": con.execute("SELECT count(*) FROM events").fetchone()[0],
            "violations": {k: n for k, n in v.items() if n}}


# -- document corpus -------------------------------------------------------


def corpus(con, docs_glob: str) -> dict:
    """Aggregates of the shipped oracles for the dedup and text
    operators, over the generated corpus registered as ``documents``."""
    import __spark_entry__ as E

    con.execute(f"CREATE OR REPLACE VIEW documents AS "
                f"SELECT * FROM read_parquet('{docs_glob}')")
    sql = E.oracle_sql()

    def agg(name: str, select: str) -> tuple:
        row = con.execute(f"SELECT {select} FROM ({sql[name]})").fetchone()
        return tuple(float(x or 0) for x in row)

    return {
        "docs": con.execute("SELECT count(*) FROM documents").fetchone()[0],
        "exact": agg("dedup_exact", EXACT_AGG),
        "jaccard": agg("dedup_jaccard", PAIRS_AGG),
        "jaccard_pairs": set(con.execute(
            f"SELECT id_a, id_b FROM ({sql['dedup_jaccard']})").fetchall()),
        "simhash": agg("simhash_pairs", PAIRS_AGG),
        "clusters": agg("dedup_clusters", CLUSTERS_AGG),
        "token_stats": agg("token_stats", TOKENS_AGG),
        "quality": agg("quality", QUALITY_AGG),
        "redact_pii": agg("redact_pii", REDACT_AGG),
    }


# Order-independent aggregates over each operator's output, written in
# SQL both engines accept, so Spark and DuckDB reduce the same way.
EXACT_AGG = "count(*), sum(doc_id), sum(canonical_id), sum(group_size)"
PAIRS_AGG = "count(*), sum(id_a), sum(id_b)"
CLUSTERS_AGG = "count(*), count(DISTINCT cluster_id), sum(cluster_id)"
TOKENS_AGG = ("count(*), sum(CASE WHEN family = 'tokens' THEN 1 END), "
              "sum(m1), sum(m2), sum(m3)")
QUALITY_AGG = ("count(*), sum(n_chars), sum(alpha_ratio), "
               "sum(stopword_ratio), sum(quality)")
REDACT_AGG = "count(*), sum(n_redactions), sum(length(clean_text))"
