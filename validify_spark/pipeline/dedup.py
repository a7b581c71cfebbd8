"""Deduplication operators for large-scale text corpora.

Scale design (the 100 TB path):
- exact: one hash-aggregate on md5(normalized text) — partial+final agg,
  no driver data.
- n-gram Jaccard: shingle → inverted-index self-join. The document-
  frequency cap (``max_df``) bounds the quadratic blowup of hot shingles
  — a shingle appearing in d docs contributes d² candidate pairs, so
  dropping ubiquitous shingles (stop-shingles) is the standard trick.
- MinHash+LSH: fixed-size signatures (num_perm mins) per doc, banded into
  buckets; only same-bucket docs are joined. Cost is linear in corpus
  size + candidate pairs, never all-pairs. Hashes are md5 hex strings so
  an external SQL engine (DuckDB oracle) reproduces them bit-for-bit.
- SimHash: 64-bit fingerprints via one Arrow UDF pass, then banded
  Hamming join (4×16-bit bands → any near-dup within distance k<=3 shares
  a band by pigeonhole when k < n_bands).
"""

from __future__ import annotations

import hashlib
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     normalize: bool = True) -> DataFrame:
    """Docs whose (optionally whitespace/case-normalized) text appears
    more than once. Output: <id_col>, canonical_id (min id of the
    group), text_hash, group_size."""
    t = F.col(text_col)
    if normalize:
        t = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
    h = F.md5(t)
    w = Window.partitionBy("text_hash")
    return (df
            .select(F.col(id_col), h.alias("text_hash"))
            .withColumn("group_size", F.count(F.lit(1)).over(w))
            .withColumn("canonical_id", F.min(id_col).over(w))
            .filter(F.col("group_size") > 1)
            .select(id_col, "canonical_id", "text_hash", "group_size"))


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------


def word_shingles(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle). ONE
    anchored-lookahead regexp_extract_all over whitespace-normalized
    text — overlapping n-grams straight from the regex engine, inside
    whole-stage codegen. (The transform(sequence, i -> concat_ws(
    slice(words, i, n))) formulation yields the identical set but
    ~14x slower: higher-order-function lambdas are interpreted per
    element — see text.py decontaminate.) Docs with < n tokens never
    match (= generate_series(1,0) = empty in the SQL oracle)."""
    from .text import word_shingles_expr
    shingles = word_shingles_expr(F.col(text_col), n)
    return (df
            .select(F.col(id_col), F.explode(
                F.array_distinct(shingles)).alias("shingle")))


def _doc_sizes(sh: DataFrame, id_col: str) -> DataFrame:
    return sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))


# ---------------------------------------------------------------------------
# n-gram Jaccard via inverted-index self-join
# ---------------------------------------------------------------------------


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3,
                  threshold: float = 0.7,
                  max_df: Optional[int] = None) -> DataFrame:
    """All doc pairs with shingle-set Jaccard ≥ threshold.

    Output: id_a, id_b (id_a < id_b), intersection, size_a, size_b,
    jaccard. Default is EXACT (max_df=None): every shingle participates,
    so a clone cluster of any size surfaces in full.

    .. versionchanged:: r3
       The default flipped from ``max_df=1000`` to ``max_df=None``
       (exact). Corpus-scale callers relying on the old implicit
       stop-shingle cap must now pass ``max_df`` explicitly — with the
       old default a ubiquitous shingle was silently dropped; with the
       new one it regains the d-squared candidate blowup. ``max_df`` is the
    opt-in stop-shingle cap for corpus scale: shingles present in more
    than max_df docs are dropped from the index (a shingle in d docs
    contributes d² candidate pairs). When capping, set sizes AND
    intersections are both computed over the surviving shingle universe,
    so the Jaccard estimate is consistent (not downward-biased by
    uncapped denominators) — but note a near-dup cluster larger than
    max_df has ALL its shared shingles above the cap and will not
    surface through this operator; route hot clusters through
    exact_duplicates (clones) or minhash_lsh_pairs (banded buckets
    don't blow up quadratically) instead.

    Execution shape (r6, measured at sf1.0 — 55k docs, 2.88M shingle
    rows, 154M raw candidate-pair rows):

    - **Set-digest collapsing** (r6b): docs with IDENTICAL shingle sets
      are collapsed to one representative (sha256 of the sorted distinct
      shingle array) BEFORE the quadratic pair machinery, and results
      are expanded back afterwards. Exact by construction: two docs
      with equal sets have jaccard 1.0 with each other and identical
      (intersection, jaccard) against any third doc, so intra-group
      pairs are emitted directly (j = round(1.0, 6)) and every
      rep-level pair expands to all member cross pairs with the same
      numbers. Near-dup corpora are dominated by exact-duplicate
      clusters (measured: a 10x-clustered 55k-doc corpus collapses to
      5k reps, shrinking the inverted-index join output ~100x); on a
      fully-distinct corpus the collapse is a no-op costing one narrow
      groupBy over doc digests. A pathological mega exact-dup cluster
      makes the members array (and the operator's own quadratic pair
      OUTPUT) large — route such corpora through exact_duplicates
      first, as pipeline/corpus.py already does.
    - The rep-level shingle relation is materialized ONCE
      (``localCheckpoint``, hash-partitioned by shingle). r5 relied on
      exchange reuse to serve the consumers (hot-shingle agg, both
      self-join sides, sizes) from one shuffle; the executed plan
      shows reuse never fires (0 ReusedExchange nodes) and the
      shingling scan+regex+exchange ran 4-8x per query. With the
      checkpoint every consumer reads the materialized blocks and the
      self-join is co-partitioned — zero further exchanges on the
      shingle side. At corpus scale the blocks are executor
      memory+disk; a lost executor fails the job (same trade
      simhash_pairs documents — its ``checkpoint_dir`` seam is the
      durable variant).
    - ``max_df`` document frequencies are computed with group-size
      WEIGHTS (sum of member counts per shingle), so the hot-shingle
      set is identical to the uncollapsed computation; capped sizes
      are per-rep counts over the surviving shingle universe and
      groups whose capped set is empty emit no pairs (matching the
      uncollapsed behavior where such docs vanish from the index).
    - Set sizes are attached to BOTH join sides up front and the join
      is prefiltered with the lossless size-ratio bound implied by
      ``jaccard >= threshold``: intersection <= min(sa, sb) and
      j = i/(sa+sb-i) >= t together force
      ``min(sa,sb)*(1+t) >= t*(sa+sb)``. Measured at sf1.0/t=0.8 this
      drops the join output 154M -> 57M rows before the pair shuffle
      (guide §3.2: reduce the big side before shuffling). The bound is
      evaluated at t-1e-6 because the final filter reads the ROUNDED
      jaccard — every pair the final filter can keep satisfies it, so
      the result set is bit-identical.
    - the pair groupBy keys are the two ids only; sa/sb (functionally
      dependent on the ids) ride as first() aggregates — measured
      faster than carrying them as grouping keys (narrower hash keys),
      and there are no post-aggregation re-joins against sizes.

    Duplicate ``id_col`` values: like the pre-collapse implementation,
    this operator assumes ids are unique (rows sharing an id are
    treated as distinct docs by digest, not merged)."""
    from ..session import checkpoint_partitioned
    from .text import word_shingles_expr

    # one regex pass per doc, no explode: the sorted distinct shingle
    # array is both the digest input and (exploded, reps only) the
    # inverted index. The regex runs in the SCAN stage, whose
    # parallelism is capped by parquet row-group count (measured: a
    # single-row-group documents table ran the whole shingling regex
    # on 1 task of 32) — spread the slim (id, text) projection first
    # when the source has fewer partitions than cores; on a real
    # cluster the input is already wide and this is a no-op.
    par = df.sparkSession.sparkContext.defaultParallelism
    src = df.select(F.col(id_col).alias("__id"),
                    F.col(text_col).alias("__text"))
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    ts = F.array_sort(F.array_distinct(
        word_shingles_expr(F.col("__text"), n)))
    groups = (src.select(F.col("__id"), ts.alias("__ts"))
              .filter(F.size("__ts") > 0)
              .groupBy(F.sha2(F.to_json("__ts"), 256).alias("__dg"))
              .agg(F.min("__id").alias("__rep"),
                   F.collect_list("__id").alias("__members"),
                   F.first("__ts").alias("__ts"))
              .select("__rep", "__members",
                      F.size("__members").cast("long").alias("__m"),
                      "__ts", F.size("__ts").cast("long").alias("__fsz"))
              .localCheckpoint(eager=True))

    sh = checkpoint_partitioned(
        groups.select(F.col("__rep"), F.col("__m"), F.col("__fsz"),
                      F.explode("__ts").alias("shingle"))
        .repartition(F.col("shingle")))
    if max_df is not None:
        # df weighted by group size == doc-level document frequency
        hot = (sh.groupBy("shingle")
                 .agg(F.sum("__m").alias("df"))
                 .filter(F.col("df") > max_df)
                 .select("shingle"))
        sh_use = sh.join(F.broadcast(hot), "shingle", "left_anti")
        # capped sizes over the SAME shingle universe as the
        # intersections (one row per REP — cheap)
        sizes = (sh_use.groupBy("__rep")
                 .agg(F.count(F.lit(1)).alias("__sz"))
                 .localCheckpoint(eager=True))
    else:
        sh_use = sh.withColumnRenamed("__fsz", "__sz")
        sizes = groups.select("__rep",
                              F.col("__fsz").alias("__sz"))

    if max_df is not None:
        a = (sh_use.join(sizes.withColumnRenamed("__sz", "sa"), "__rep")
             .select(F.col("__rep").alias("id_a"), "sa", "shingle"))
        b = (sh_use.join(sizes.withColumnRenamed("__sz", "sb"), "__rep")
             .select(F.col("__rep").alias("id_b"), "sb", "shingle"))
    else:
        a = sh_use.select(F.col("__rep").alias("id_a"),
                          F.col("__sz").alias("sa"), "shingle")
        b = sh_use.select(F.col("__rep").alias("id_b"),
                          F.col("__sz").alias("sb"), "shingle")
    # lossless prefilter: implied by the final (rounded) jaccard filter.
    # shuffle_hash hint: both sides are co-partitioned reads of the
    # checkpointed shingle relation (no stats -> the planner would
    # default to sort-merge and pay two per-partition sorts for an
    # exchange-free join)
    t_eff = max(threshold - 1e-6, 0.0)
    rep_pairs = (a.join(b.hint("shuffle_hash"), "shingle")
                 .filter((F.col("id_a") < F.col("id_b"))
                         & (F.least("sa", "sb") * (1.0 + t_eff)
                            >= t_eff * (F.col("sa") + F.col("sb"))))
                 .groupBy("id_a", "id_b")
                 .agg(F.count(F.lit(1)).alias("intersection"),
                      F.first("sa").alias("sa"),
                      F.first("sb").alias("sb"))
                 .withColumn("jaccard", F.round(
                     F.col("intersection")
                     / (F.col("sa") + F.col("sb")
                        - F.col("intersection")), 6))
                 .filter(F.col("jaccard") >= threshold))

    # inter-group expansion: every member cross pair inherits the rep
    # pair's numbers; sizes follow the member that lands in each slot
    ga = groups.select(F.col("__rep").alias("id_a"),
                       F.col("__members").alias("__ma"))
    gb = groups.select(F.col("__rep").alias("id_b"),
                       F.col("__members").alias("__mb"))
    inter = (rep_pairs.join(ga, "id_a").join(gb, "id_b")
             .select("intersection", "sa", "sb", "jaccard",
                     F.explode("__ma").alias("__x"), "__mb")
             .select("intersection", "sa", "sb", "jaccard", "__x",
                     F.explode("__mb").alias("__y"))
             .select(F.least("__x", "__y").alias("id_a"),
                     F.greatest("__x", "__y").alias("id_b"),
                     "intersection",
                     F.when(F.col("__x") < F.col("__y"), F.col("sa"))
                      .otherwise(F.col("sb")).alias("size_a"),
                     F.when(F.col("__x") < F.col("__y"), F.col("sb"))
                      .otherwise(F.col("sa")).alias("size_b"),
                     "jaccard"))
    if threshold > 1.0:
        return inter
    # intra-group pairs: identical sets, jaccard exactly 1.0; groups
    # whose capped set is empty are excluded via the sizes join (the
    # uncollapsed code drops such docs from the index entirely)
    intra = (groups.filter(F.size("__members") >= 2)
             .join(sizes, "__rep")
             .select(F.col("__sz"),
                     F.explode("__members").alias("__x"), "__members")
             .select("__sz", "__x", F.explode("__members").alias("__y"))
             .filter(F.col("__x") < F.col("__y"))
             .select(F.col("__x").alias("id_a"),
                     F.col("__y").alias("id_b"),
                     F.col("__sz").alias("intersection"),
                     F.col("__sz").alias("size_a"),
                     F.col("__sz").alias("size_b"),
                     F.round(F.lit(1.0), 6).alias("jaccard")))
    return inter.unionByName(intra)


# ---------------------------------------------------------------------------
# dup-pair clustering (connected components)
# ---------------------------------------------------------------------------


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b",
                       max_iter: int = 20,
                       checkpoint_dir: Optional[str] = None) -> DataFrame:
    """Connected components over near-dup pairs: cluster_id = min doc
    id in the component — the "keep one representative per duplicate
    cluster" step that follows any pair generator (jaccard_pairs,
    minhash_lsh_pairs, simhash_pairs, cosine_self_pairs).

    Hash-min label propagation WITH pointer jumping: each round every
    node takes the min label among itself and its neighbors, then
    shortcuts to its label's label (label(label)) — the propagation
    distance roughly doubles per round, so convergence is
    O(log diameter) and max_iter=20 covers components with diameters
    in the millions. Each round is a couple of joins + one
    partial-aggregated groupBy on the node id.

    Per-round state is materialized to keep lineage flat (an iterative
    plan would otherwise grow exponentially). ``checkpoint_dir``: the
    cluster-scale path, same seam as simhash_pairs — each round's
    labels (intermediate AND final) are WRITTEN to parquet and read
    back, so the lineage of every round roots at storage: a lost
    executor recomputes at most one round instead of failing a 40-hour
    clustering job. The default localCheckpoint keeps blocks on
    executors only — fine locally and in tests.

    Convergence costs no extra join: each round's output carries a
    ``chg`` flag (new label != old label) computed inside the same
    projection that produces the labels, so the convergence probe is
    an isEmpty() scan of the just-materialized blocks — one cheap
    metadata-sized action, not a labels⋈labels re-join. Raises
    RuntimeError if the loop exhausts without converging (a silently
    split cluster would quietly keep duplicates downstream).

    Round files are namespaced by a per-invocation token
    (``clusters_<token>_r{N}``): the returned DataFrame is lazy and
    keeps reading its final-round path, so a second run sharing the
    same ``checkpoint_dir`` must not overwrite the first run's files
    out from under it. Cleanup is the CALLER's responsibility — delete
    the directory once every consumer of the returned labels is done
    (the token makes concurrent runs safe, not free).

    Output: doc_id, cluster_id (only docs that appear in a pair)."""
    import uuid

    spark = pairs.sparkSession
    run_token = uuid.uuid4().hex[:12]

    def persist(df: DataFrame, name: str) -> DataFrame:
        if checkpoint_dir is not None:
            path = (f"{checkpoint_dir.rstrip('/')}/"
                    f"clusters_{run_token}_{name}")
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)
        return df.localCheckpoint(eager=True)

    edges = (pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
             .unionByName(pairs.select(F.col(id_b).alias("a"),
                                       F.col(id_a).alias("b")))
             .distinct())
    labels = (edges.select(F.col("a").alias("id")).distinct()
              .withColumn("label", F.col("id")))
    converged = False
    # max_iter productive rounds + one extra: proving the fixpoint
    # costs a zero-change round, and labels that stabilize ON the last
    # productive round are still a correct result
    for rnd in range(max_iter + 1):
        nbr_min = (edges
                   .join(labels.select(F.col("id").alias("b"),
                                       F.col("label").alias("nl")), "b")
                   .groupBy("a").agg(F.min("nl").alias("mn")))
        # materialize the hash-min result BEFORE the pointer-jump
        # self-join — both join sides read the materialized state
        # instead of re-running the join/aggregate subplan; ``label``
        # is the round's original label, carried so the final
        # projection can flag changes without another join
        step = (labels
                .join(nbr_min, labels["id"] == nbr_min["a"], "left")
                .select(F.col("id"), F.col("label").alias("old"),
                        F.least(F.col("label"),
                                F.coalesce(F.col("mn"), F.col("label")))
                         .alias("label")))
        step = persist(step, f"r{rnd}_min")
        # pointer jumping: label <- min(label, label(label)); chg
        # computed in the SAME projection (vs the round's input label)
        lbl2 = step.select(F.col("id").alias("__lid"),
                           F.col("label").alias("__l2"))
        jumped = F.least(F.col("label"),
                         F.coalesce(F.col("__l2"), F.col("label")))
        new = (step
               .join(lbl2, step["label"] == lbl2["__lid"], "left")
               .select(F.col("id"), jumped.alias("label"),
                       (jumped != F.col("old")).alias("chg")))
        new = persist(new, f"r{rnd}")
        labels = new.drop("chg")
        if new.filter("chg").isEmpty():
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} "
            "rounds — raise max_iter (components of diameter "
            f"> ~2^{max_iter} are implausible for near-dup graphs; "
            "check the pair generator)")
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       num_perm: int = 16) -> DataFrame:
    """MinHash signature per doc: h_i = min over shingles of
    md5(i || ':' || shingle). md5 hex strings compare lexicographically
    = numerically (fixed length), and are reproducible in any SQL engine
    — the portability matters for oracle cross-checks.

    Output: <id_col>, h0..h{num_perm-1}."""
    sh = word_shingles(df, id_col, text_col, n)
    return sh.groupBy(id_col).agg(*_minhash_aggs(num_perm))


def _minhash_aggs(num_perm: int) -> list:
    return [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))))
         .alias(f"h{i}")
        for i in range(num_perm)
    ]


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_perm: int = 16, bands: int = 4,
                      threshold: float = 0.5) -> DataFrame:
    """Candidate pairs from banded MinHash buckets, verified with exact
    Jaccard. With num_perm=16, bands=4 (rows r=4), collision prob at
    jaccard s is 1-(1-s^4)^4 — the usual S-curve centered near 0.7.

    Output: id_a, id_b, jaccard (exact, ≥ threshold).

    The shingle relation is materialized ONCE (r6,
    ``checkpoint_partitioned`` by doc id): the signature aggregation,
    the set sizes and the verify join all consume it exchange-free —
    previously the scan+regex+explode pipeline ran once per consumer
    (the same measured no-exchange-reuse failure jaccard_pairs
    documents)."""
    from ..session import checkpoint_partitioned
    rows = num_perm // bands
    sh = checkpoint_partitioned(
        word_shingles(df, id_col, text_col, n)
        .repartition(F.col(id_col)))
    sig = sh.groupBy(id_col).agg(*_minhash_aggs(num_perm))
    # ONE signature scan: all bands' bucket hashes in a single
    # projection, posexploded to (band, bucket) rows; the self-join on
    # (band, bucket) replaces the old union of per-band branches that
    # each re-derived the signature relation (same single-scan shape as
    # the ANN tables, commit d31f6a3)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
        band_cols.append(F.md5(F.concat_ws("|", *cols)))
    sig_b = sig.select(
        id_col, F.posexplode(F.array(*band_cols)).alias("__b", "bucket"))
    left = sig_b.select(F.col(id_col).alias("id_a"), "__b", "bucket")
    right = sig_b.select(F.col(id_col).alias("id_b"), "__b", "bucket")
    cands = (left.join(right, ["__b", "bucket"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .distinct())

    # exact-verify candidates (cheap: |candidates| << all pairs) —
    # reads the SAME materialized shingle relation as the signatures
    sizes = _doc_sizes(sh, id_col)
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b_ = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (cands.join(a, "id_a").join(b_, ["id_b", "shingle"])
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("intersection")))
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("set_size").alias("size_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard", F.round(
                F.col("intersection")
                / (F.col("size_a") + F.col("size_b")
                   - F.col("intersection")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ---------------------------------------------------------------------------
# SimHash (64-bit) — numpy inside one Arrow UDF pass
# ---------------------------------------------------------------------------


def simhash_udf():
    """The 64-bit SimHash pandas UDF (token-hash bit votes), shared by
    the batch fingerprint op and the streaming near-dup op so both
    compute the IDENTICAL fingerprint — batch/stream parity is by
    construction, not by re-implementation."""

    @pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        # Vectorized bit votes: md5 per token is the only Python-level
        # loop (hashlib has no batch API); the 64-bit expansion + vote
        # accumulation runs as one numpy op over ALL tokens of ALL docs
        # in the Arrow batch (r1 review flagged the per-token bit loop
        # as the slow spot).
        shifts = np.arange(64, dtype=np.uint64)
        out = []
        doc_tokens = []
        doc_spans = []  # (start, end) into the flat hash array
        pos = 0
        for t in texts:
            if t is None:
                doc_spans.append(None)
                continue
            toks = set(t.lower().split())
            doc_tokens.extend(toks)
            doc_spans.append((pos, pos + len(toks)))
            pos += len(toks)
        if doc_tokens:
            # md5 once per DISTINCT token in the batch: corpora repeat
            # vocabulary heavily across docs (measured: 5.5M token
            # occurrences vs tens of thousands of distinct tokens per
            # batch), and hashlib.md5 is the only Python-level loop
            # left — inverse indices map the unique hashes back to
            # each doc's span. Fingerprints are bit-identical (same
            # md5 per token), so batch/stream parity and the DuckDB
            # oracle are untouched.
            uniq, inv = np.unique(np.asarray(doc_tokens, dtype=object),
                                  return_inverse=True)
            uh = np.fromiter(
                (int.from_bytes(
                    hashlib.md5(tok.encode("utf-8")).digest()[:8],
                    "big") for tok in uniq),
                dtype=np.uint64, count=len(uniq))
            hs = uh[inv]
            # (n_tokens, 64) sign matrix in one shot
            bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)) \
                .astype(np.int64)
            signs = bits * 2 - 1
        for span in doc_spans:
            if span is None:
                out.append(None)
                continue
            lo, hi = span
            votes = (signs[lo:hi].sum(axis=0) if hi > lo
                     else np.zeros(64, dtype=np.int64))
            fp = int(((votes > 0).astype(np.uint64) << shifts).sum())
            # store as signed 64-bit
            out.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
        return pd.Series(out, dtype="object")

    return _simhash


def simhash_fingerprints(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc. One vectorized Arrow batch UDF;
    everything around it stays in SQL.

    Output: <id_col>, simhash (long)."""
    return df.select(F.col(id_col), simhash_udf()(F.col(text_col))
                     .alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  max_hamming: int = 3,
                  checkpoint_dir: Optional[str] = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Banded join: split the 64-bit fingerprint into 4 16-bit bands; any
    pair within Hamming distance ≤ 3 matches exactly on ≥1 band
    (pigeonhole), so candidates = same-band docs only — never all pairs.
    Verify with bit_count(xor) in pure SQL.

    The fingerprint UDF runs ONCE: fp is materialized (it's tiny — one
    long per doc) so every band branch (4 bands × 2 join sides) reads
    the materialized blocks instead of re-running the Arrow UDF per
    branch. Exchange reuse alone doesn't dedupe here: PythonUDF
    expressions don't canonicalize as equal, so the 8 exchange subtrees
    stay distinct (plan audit showed 16 UDF recomputations originally,
    8 with a repartition, 1 with the checkpoint).

    ``checkpoint_dir``: the cluster-scale path — fingerprints are
    WRITTEN to storage (parquet) and read back, so lineage is fully
    recoverable: a lost executor recomputes from the files. The default
    localCheckpoint keeps blocks on executors only — fine locally and
    in tests, but on a 40-hour 1000-executor run a lost executor fails
    the job instead of recovering; pass a durable dir there.

    Banding adapts to the threshold (r5 review): pigeonhole needs
    ``max_hamming + 1`` disjoint bit groups to GUARANTEE a shared band
    at distance ``max_hamming`` — the previous fixed 4x16 silently
    missed d>3 pairs whose differing bits spread one-per-band. At the
    default d<=3 this is the same 4x16 split (same plan, same cost);
    larger thresholds trade narrower bands (bigger buckets) for exact
    recall, which is the honest trade at 100 TB too."""
    n_bands = max(4, int(max_hamming) + 1)
    width = 64 // n_bands
    fp = simhash_fingerprints(df, id_col, text_col)
    if checkpoint_dir is not None:
        path = checkpoint_dir.rstrip("/") + "/simhash_fp"
        fp.write.mode("overwrite").parquet(path)
        fp = df.sparkSession.read.parquet(path)
    else:
        fp = fp.localCheckpoint(eager=False)
    # ONE fingerprint scan: all band values in a single posexploded
    # projection, self-joined on (band, bucket) — replaces the union of
    # per-band branches (2*n_bands scans of fp) with 2 scans of one
    # relation. The last band absorbs the remainder bits of 64.
    def _band_of(col, b: int):
        w = width if b < n_bands - 1 else 64 - width * (n_bands - 1)
        return (F.shiftrightunsigned(col, width * b)
                .bitwiseAND(F.lit((1 << w) - 1)))

    bands = F.array(*[_band_of(F.col("simhash"), b)
                      for b in range(n_bands)])
    fb = fp.select(id_col, "simhash",
                   F.posexplode(bands).alias("__b", "bucket"))
    left = fb.select(F.col(id_col).alias("id_a"),
                     F.col("simhash").alias("sh_a"), "__b", "bucket")
    right = fb.select(F.col(id_col).alias("id_b"),
                      F.col("simhash").alias("sh_b"), "__b", "bucket")
    # Each pair is emitted from its FIRST shared band only — the band
    # index is computable from the two fingerprints (xor, then the
    # lowest all-zero band), so uniqueness is enforced INSIDE the join
    # filter and the old 292M-row distinct exchange disappears
    # entirely: zero shuffles after the banded relation (measured at
    # sf1.0: 4.0-5.6s -> 2.5-3.3s, and the scale bottleneck — a
    # full-candidate-volume dedup shuffle — is gone). A salted variant
    # of the self-join (peer-salt enumeration, g^2 cells) was built to
    # split the one hot bucket that emits half the candidates and
    # measured SLOWER end-to-end (5s vs 2.5s: the xg replication and
    # wider join key cost more than the single ~2s hot task hidden
    # among parallel small tasks); on a many-thousand-core cluster
    # where that straggler dominates, re-salting is the known fix.
    x = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    first_shared = F.least(*[
        F.when(_band_of(x, b) == 0, F.lit(b)).otherwise(F.lit(n_bands))
        for b in range(n_bands)])
    return (left.join(right, ["__b", "bucket"])
            .filter((F.col("id_a") < F.col("id_b"))
                    & (F.col("__b") == first_shared)
                    & (F.bit_count(x) <= max_hamming))
            .select("id_a", "id_b",
                    F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                    .alias("hamming")))
