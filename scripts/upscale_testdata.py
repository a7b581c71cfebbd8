"""Deterministic x10 upscale of sf0.1 -> a synthetic sf1.0 for TIMING
ONLY (bench_extra / plan probes). Correctness is always checked against
the real driver-generated SFs (compare_oracle.py at sf0.001/0.01/0.1);
this dataset exists because the driver's measurement SF (sf1.0) is not
present in this sandbox and several costs (candidate-pair blowup, C2
ramp, row-group-bound scan parallelism) only show at that scale.

Construction notes:
- every fact table is replicated 10x with a contiguous key offset, so
  key-modulus poison patterns (%7/%11/%13/%17/%19/%23/%97) keep their
  density and the per-conversation structure of each replica is intact;
- documents text is perturbed PER REPLICA (every 7th word, cycled by
  replica, replaced with a replica-unique token) so cross-replica pairs
  are NOT near-duplicates — without this the jaccard/simhash pair count
  would grow ~quadratically instead of the ~linear growth real data has;
- embeddings get a per-replica, per-dimension multiplicative perturbation
  for the same reason;
- row-group sizes mimic the driver layout recorded in OPTIMIZATION_r06.md
  (lineitem 6M/6 groups, orders 1.5M/2, single-group small tables), so
  scan-parallelism behavior matches what the driver measures.

Usage: python scripts/upscale_testdata.py [out_dir]  (default
/root/testdata_synth/sf1.0)
"""

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata_synth/sf1.0"
R = 10  # replication factor

os.makedirs(OUT, exist_ok=True)
con = duckdb.connect()
con.sql("SET threads TO 8")


def src(t):
    return f"'{SRC}/{t}.parquet'"


def write(t, sql, row_group_size):
    con.sql(f"COPY ({sql}) TO '{OUT}/{t}.parquet' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE {row_group_size})")
    n = con.sql(f"SELECT count(*) FROM '{OUT}/{t}.parquet'").fetchone()[0]
    print(f"{t}: {n} rows")


def replicate(t, key_offsets, extra="", select="*", order=""):
    """UNION ALL of R shifted copies. key_offsets: {col: stride}."""
    parts = []
    for r in range(R):
        cols = select
        for col, stride in key_offsets.items():
            cols = cols.replace(f"@{col}", f"({col} + {stride * r})")
        parts.append(f"SELECT {cols} FROM {src(t)}")
    return " UNION ALL ".join(parts) + (f" {order}" if order else "")


# strides = contiguous ranges: max key + 1 per source table, rounded up
MAXK = {}
for t, k in [("lineitem", "l_orderkey"), ("orders", "o_orderkey"),
             ("customer", "c_custkey"), ("documents", "doc_id"),
             ("embeddings", "vec_id"), ("events", "event_id"),
             ("part", "p_partkey"), ("supplier", "s_suppkey")]:
    MAXK[t] = con.sql(f"SELECT max({k}) + 1 FROM {src(t)}").fetchone()[0]
USER_STRIDE = con.sql(
    f"SELECT max(user_id) + 1 FROM {src('events')}").fetchone()[0]
print("strides:", MAXK, "events.user_id:", USER_STRIDE)

write("lineitem", replicate(
    "lineitem", {"l_orderkey": MAXK["lineitem"]},
    select=("@l_orderkey AS l_orderkey, l_partkey, l_suppkey, "
            "l_linenumber, l_quantity, l_extendedprice, l_discount, "
            "l_tax, l_returnflag, l_linestatus, l_shipdate")),
    row_group_size=1_000_000)

write("orders", replicate(
    "orders", {"o_orderkey": MAXK["orders"],
               "o_custkey": MAXK["customer"]},
    select=("@o_orderkey AS o_orderkey, @o_custkey AS o_custkey, "
            "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority")),
    row_group_size=750_000)

write("customer", replicate(
    "customer", {"c_custkey": MAXK["customer"]},
    select=("@c_custkey AS c_custkey, c_name, c_nationkey, c_acctbal, "
            "c_mktsegment")),
    row_group_size=2_000_000)

# documents: per-replica word perturbation (see module docstring)
doc_parts = []
for r in range(R):
    if r == 0:
        doc_parts.append(f"SELECT * FROM {src('documents')}")
    else:
        doc_parts.append(
            f"SELECT doc_id + {MAXK['documents'] * r} AS doc_id, "
            f"array_to_string(list_transform(string_split(text, ' '), "
            f"(w, i) -> CASE WHEN i % 7 = {r % 7} THEN 'zq{r}x' || i "
            f"ELSE w END), ' ') AS text, lang, source, n_chars "
            f"FROM {src('documents')}")
write("documents", " UNION ALL ".join(doc_parts),
      row_group_size=2_000_000)

# embeddings: per-replica per-dimension multiplicative perturbation
emb_parts = []
for r in range(R):
    if r == 0:
        emb_parts.append(f"SELECT * FROM {src('embeddings')}")
    else:
        emb_parts.append(
            f"SELECT vec_id + {MAXK['embeddings'] * r} AS vec_id, "
            f"list_transform(embedding, (x, i) -> CAST(x * "
            f"(1.0 + 0.03 * {r} * sin(i * 2.3)) AS FLOAT)) AS embedding, "
            f"label FROM {src('embeddings')}")
write("embeddings", " UNION ALL ".join(emb_parts),
      row_group_size=2_000_000)

write("events", replicate(
    "events", {"event_id": MAXK["events"], "user_id": USER_STRIDE},
    select=("@event_id AS event_id, ts, @user_id AS user_id, "
            "event_type, value, props")),
    row_group_size=2_000_000)

write("part", replicate(
    "part", {"p_partkey": MAXK["part"]},
    select=("@p_partkey AS p_partkey, p_name, p_brand, p_type, p_size, "
            "p_retailprice")),
    row_group_size=2_000_000)

write("supplier", replicate(
    "supplier", {"s_suppkey": MAXK["supplier"]},
    select=("@s_suppkey AS s_suppkey, s_name, s_nationkey, s_acctbal")),
    row_group_size=2_000_000)

for t in ("nation", "region"):
    write(t, f"SELECT * FROM {src(t)}", row_group_size=2_000_000)

open(os.path.join(OUT, "_DONE"), "w").write("synthetic x10 of sf0.1\n")
print("done ->", OUT)
