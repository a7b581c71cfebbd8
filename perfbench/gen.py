"""Seeded input generators.

Every generator is a pure function of (size, seed): rows come from
``spark.range`` and every choice is keyed on ``xxhash64(id, seed,
salt)``, so the same seed writes the same parquet on any host. The
program under test only ever reads the parquet these write.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from validify_spark import rules as R
from validify_spark.data import generate_conv_meta, generate_turns

RUN_TS = dt.datetime(2030, 1, 1)

# -- turns (audited_job and its traced streaming twins) ---------------------


def write_turns(spark, path: str, n_rows: int, seed: int,
                files: int) -> None:
    """``generate_turns`` as parquet, each conversation in exactly one
    file, so a file-at-a-time stream sees whole conversations."""
    generate_turns(spark, n_rows, seed=seed, partitions=files) \
        .repartition(files, "conv_id").write.parquet(path)


def write_conv_meta(spark, path: str, n_rows: int, seed: int) -> None:
    generate_conv_meta(spark, n_rows, seed=seed).coalesce(1) \
        .write.parquet(path)


# -- payload events (payload_udf) --------------------------------------------

KINDS = ["signup", "purchase", "api"]
UNKNOWN_KIND = "refund"
# Values each validator rejects, drawn for the "bad" share of a field.
# The oracle counts violations by membership in these pools.
BAD_EMAILS = ["not-an-email", "a@@b.com", "user@", "@example.com",
              "us er@example.com"]
BAD_URLS = ["not a url", "http//missing-colon.com", "://nohost", "www"]
BAD_PHONES = ["12", "phone", "+", "555-CALL-NOW"]
BAD_IPS = ["256.1.1.1", "1.2.3", "::g", "10.0.0.01", "abc"]
BAD_PCT = 7          # per-field percentage of invalid values
NOTE_MAX = 200
ATTR_MAX = 16
USER_MIN = 3


def _h(seed: int, salt: int):
    return F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt)))


def _pick(seed: int, salt: int, pool: list):
    return F.element_at(F.array(*[F.lit(v) for v in pool]),
                        (_h(seed, salt) % len(pool) + 1).cast("int"))


def events_frame(spark, n_rows: int, seed: int, partitions: int):
    """Wide event/payload rows; about half fail at least one rule."""
    def bad(salt):
        return _h(seed, salt) % 100 < BAD_PCT

    i = F.col("id").cast("string")
    email = F.when(bad(1), _pick(seed, 101, BAD_EMAILS)) \
        .otherwise(F.concat(F.lit("user"), i, F.lit("@example.com")))
    url = F.when(bad(2), _pick(seed, 102, BAD_URLS)) \
        .otherwise(F.concat(F.lit("https://www.example.com/item/"), i))
    phone = F.when(bad(3), _pick(seed, 103, BAD_PHONES)) \
        .otherwise(F.concat(F.lit("+1415555"),
                            F.lpad((F.col("id") % 10000).cast("string"),
                                   4, "0")))
    octet = (F.col("id") % 250).cast("string")
    good_ip = F.when(_h(seed, 40) % 4 == 0,
                     F.concat(F.lit("2001:db8::"),
                              F.hex(F.col("id") % 65535)))
    good_ip = good_ip.otherwise(F.concat(F.lit("10.1."), octet,
                                         F.lit("."), octet))
    ip = (F.when(_h(seed, 14) % 100 < 5, F.lit(None).cast("string"))
           .when(bad(4), _pick(seed, 104, BAD_IPS))
           .otherwise(good_ip))
    cc = F.array(
        F.concat(F.lit("a"), i, F.lit("@example.org")),
        F.when(bad(5), _pick(seed, 105, BAD_EMAILS))
         .otherwise(F.concat(F.lit("b"), i, F.lit("@example.org"))))
    attrs = F.create_map(
        F.lit("src"), F.when(bad(6), F.lit(""))
                       .otherwise(F.lit("web")),
        F.lit("ref"), F.when(bad(7), F.repeat(F.lit("r"), ATTR_MAX + 4))
                       .otherwise(F.concat(F.lit("r"),
                                           (F.col("id") % 97)
                                           .cast("string"))))
    kind = F.when(_h(seed, 8) % 100 < 3, F.lit(UNKNOWN_KIND)) \
        .otherwise(_pick(seed, 108, KINDS))
    amount = F.when(bad(9), -1.0 - (_h(seed, 109) % 100)) \
        .otherwise((_h(seed, 109) % 100000) / 100.0)
    user = F.when(bad(10), F.lit(" Ab ")) \
        .otherwise(F.concat(F.lit("  User"), i, F.lit(" ")))
    words = F.repeat(F.lit("lorem ipsum "), (_h(seed, 11) % 8 + 1)
                     .cast("int"))
    note = (F.when(bad(11), F.repeat(F.lit("n"), NOTE_MAX + 50))
             .when(bad(12), F.concat(words, F.lit("\x07")))
             .otherwise(words))
    base = int(dt.datetime(2024, 1, 1).timestamp())
    ts = F.when(bad(13), F.lit(dt.datetime(2600, 1, 1))) \
        .otherwise(F.timestamp_seconds(F.lit(base) + F.col("id") * 7))
    return (spark.range(0, n_rows, 1, partitions)
            .select(F.col("id").alias("event_id"),
                    kind.alias("kind"), email.alias("email"),
                    url.alias("url"), phone.alias("phone"),
                    ip.alias("ip"), cc.alias("cc"), attrs.alias("attrs"),
                    amount.alias("amount"), user.alias("user"),
                    note.alias("note"), ts.alias("ts")))


def payload_ruleset() -> R.RuleSet:
    """Mixes the Arrow-UDF kinds (email, url, phone, ip, iter_ of
    email), map_values_, variant rules, modifiers and one custom rule.
    Its static weight is above the engine's single-chunk budget, so
    phase 2 runs in several chunks and the chunk probe measures it."""
    return R.RuleSet(
        name="events",
        rules=[
            R.email("email"),
            R.url("url"),
            R.phone("phone"),
            R.ip("ip"),
            R.iter_("cc", R.Rule(kind="email", column=None)),
            R.map_values_("attrs", R.Rule(
                kind="length", column=None,
                params={"min": 1, "max": ATTR_MAX, "equal": None})),
            *R.variant_rules("kind", {
                "signup": [],
                "purchase": [R.range_("amount", min=0, max=1000)],
                "api": [R.required("ip")],
            }, known_only=True),
            R.custom("user", lambda c: F.length(c) >= USER_MIN,
                     code="user_min"),
            R.length("note", max=NOTE_MAX),
            R.non_control_char("note"),
            R.time("ts", op="before", target=RUN_TS, inclusive=True),
        ],
        modifiers=[R.trim("user"), R.lowercase("user")],
    )


# -- document corpus (traced with payload_udf) -----------------------------

VOCAB = 4096
DOC_WORDS = 60
NEAR_DUP_MOD = 7     # every 7th doc is a one-word edit of its predecessor


def corpus_frame(spark, n_docs: int, seed: int, partitions: int):
    """Documents of DOC_WORDS words from a seeded vocabulary. Every
    NEAR_DUP_MOD-th doc repeats its predecessor with one word changed:
    a distinct shingle set with 3-gram Jaccard near 0.9, which the
    set-digest collapse cannot fold."""
    d = F.col("id")
    case_variant = d % 50 == 1
    near = (d % NEAR_DUP_MOD == NEAR_DUP_MOD - 1) & ~case_variant
    src = F.when(case_variant | near, d - 1).otherwise(d)
    edit_pos = F.when(near, F.abs(F.xxhash64(d, F.lit(seed), F.lit(1)))
                      % (DOC_WORDS - 20) + 10).otherwise(F.lit(-1))
    vocab = F.array(*[F.lit(w) for w in _vocab()])

    def word(pos):
        w = F.abs(F.xxhash64(src, pos, F.lit(seed))) % VOCAB
        w = F.when(pos == edit_pos,
                   F.abs(F.xxhash64(d, pos, F.lit(seed + 1))) % VOCAB
                   ).otherwise(w)
        return F.element_at(vocab, (w + 1).cast("int"))

    words = F.transform(F.sequence(F.lit(0), F.lit(DOC_WORDS - 1)), word)
    text = F.concat_ws(" ", words)
    # a case-and-spacing variant of its predecessor, which the
    # exact-dedup normalization folds
    text = F.when(case_variant, F.concat(F.lit("  "), F.upper(text))) \
        .otherwise(text)
    return (spark.range(0, n_docs, 1, partitions)
            .select(d.alias("doc_id"), text.alias("text")))


def _vocab() -> list:
    stems = ["the", "and", "of", "data", "model", "train", "spark",
             "token", "valid", "rule", "table", "query", "scan", "join",
             "shard", "batch"]
    return [f"{stems[k % len(stems)]}{k}" if k >= len(stems)
            else stems[k] for k in range(VOCAB)]
