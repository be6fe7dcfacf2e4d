"""Deduplication operators.

1. `dedup_latest` — the north-rule "dedup-and-validate" shuffle: one
   row per url keeping max warc_ts. The reference has no analog (it
   never sees two crawls of one document).

   Determinism: the keeper is max over struct(warc_ts, doc_id, ...) —
   lexicographic struct ordering with a total-order prefix, so ties
   can't flip between runs/parallelism levels (SURVEY.md §7).

   Physical plan: SortAggregate(partial) → ONE url Exchange →
   SortAggregate(final). A struct holding string/binary cannot be
   hash-aggregated, so each side sorts its rows by url.

   Skew: the key is the url, so a hot host (FIXTURES.md §1) spreads
   over many reducers; the only hot key is a url crawled many times.
   The partial aggregate emits at most one record per url per map
   task, so such a url sends at most (map tasks) records to its
   reducer however many crawls it has. That bound is the skew
   handling; no salt is needed (FP-Hadoop, VLDB 2015).

2. Exact + near-duplicate *content* dedup (training-data tier):
   `exact_text_dedup`, plus MinHash/SimHash/Jaccard live in
   operators/textstats.py and are exposed as queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["dedup_latest", "exact_text_dedup", "drop_hot_shingles",
           "connected_components"]


def dedup_latest(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = ("warc_ts", "doc_id"),
    n_salts: int = 16,
) -> DataFrame:
    """Keep, per `key`, the row with the greatest (order_cols) tuple.

    One max-of-struct aggregation: payload columns ride inside the
    struct, so each map task shuffles at most one record per key and
    the plan has exactly one `key` Exchange (pinned by
    tests/test_operators_tiers.py). Output columns: key, order_cols,
    then the remaining payload columns.
    """
    # n_salts is unused; it stays only because perfbench/layers.py passes it.
    payload = [c for c in df.columns if c != key]
    ordered = [*order_cols, *[c for c in payload if c not in order_cols]]
    kept = df.groupBy(key).agg(F.max(F.struct(*ordered)).alias("_rec"))
    return kept.select(F.col(key), *[F.col(f"_rec.{c}").alias(c) for c in ordered])


def drop_hot_shingles(
    sh: DataFrame, shingle_col: str = "g", max_df: int = 100
) -> DataFrame:
    """Skew guard for shingle self-joins: remove shingles whose document
    frequency exceeds `max_df` before any (doc_id, shingle) equi-join.

    Without this, one boilerplate shingle shared by 10^6 docs produces
    ~10^12/2 candidate pairs in the join — the classic stop-shingle
    quadratic blow-up. With it, per-shingle join fan-out is bounded by
    max_df^2 regardless of corpus size.

    Scale shape: the doc-frequency count is a map-side-combinable hash
    agg on the shingle key; the surviving hot set is tiny by
    construction (only shingles above the cap), so the exclusion is a
    broadcast left-anti join — no extra full shuffle of `sh`.
    """
    hot = (
        sh.groupBy(shingle_col)
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_df)
        .select(shingle_col)
    )
    return sh.join(F.broadcast(hot), shingle_col, "left_anti")


def exact_text_dedup(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: md5-of-text groups, keeper = min(id).
    Returns (content_hash, keeper_id, n_dups)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_dups"),
        )
    )


def connected_components(edges: DataFrame, src: str = "u", dst: str = "v",
                         max_iter: int = 25,
                         stats: dict | None = None) -> DataFrame:
    """Connected components over an undirected edge list via alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014). Returns (id, label) with
    label = min node id in the component — identical output contract to
    the min-label propagation it replaced, but round count is
    O(log^2 n) in the component size instead of O(diameter), so a
    10^6-long dup chain converges in ~20 rounds, not 10^6 sweeps.

    large-star(u): every neighbor v > u re-attaches to
      m = min(Γ(u) ∪ {u}).
    small-star (edges oriented big→small): u and all its smaller
      neighbors re-attach to the smallest neighbor.
    Both preserve connectivity; the fixpoint is a forest of stars
    centered at each component's minimum, read off directly as labels.

    Scale shape: each round is a fixed number of shuffles (two window
    mins + dedup) over the candidate-pair list only — for near-dup
    clustering that is the LSH pairs, orders of magnitude smaller than
    the corpus. One driver-side scalar per round for the convergence
    check ((count, xor-of-xxhash64, sum) edge-set fingerprint — a
    single aggregate action, no collect). Edge sets are
    localCheckpoint'ed per round so the plan stays linear.

    Raises RuntimeError if `max_iter` rounds pass without convergence
    (ADVICE r3: a silent unconverged exit returned split clusters);
    with star-contraction this needs n > ~2^sqrt(max_iter) pathology,
    but fail loudly rather than mislabel. `stats`, if given, receives
    {"rounds": k} for the plan tests.
    """
    from pyspark.sql import Window

    # canonical orientation big→small; drop self-loops and duplicates
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # nodes appearing ONLY in self-loop edges still owe a label row
    real_nodes = (
        e.select(F.col("u").alias("id"))
        .union(e.select(F.col("v").alias("id")))
        .distinct()
    )
    loop_only = (
        edges.select(F.col(src).alias("id")).filter(F.col(src) == F.col(dst))
        .distinct()
        .join(real_nodes, "id", "left_anti")
        .localCheckpoint()
    )

    def fingerprint(df: DataFrame):
        # decimal(38,0) sum: 60-bit node ids × 10^12 edges overflows
        # int64, which ANSI mode turns into a job failure
        row = df.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("x"),
            F.sum(F.col("u").cast("decimal(38,0)")
                  + F.col("v").cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return (row.n, row.x, row.s)

    prev = fingerprint(e)
    rounds = 0
    converged = prev[0] == 0
    wu = Window.partitionBy("u")
    while not converged and rounds < max_iter:
        rounds += 1
        # large-star over the symmetric neighborhood
        both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lm = both.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
        large = (
            lm.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: input already oriented u > v, so min(Γ) = min(v)
        sm = large.withColumn("m", F.min("v").over(wu))
        small = (
            sm.select(F.col("v").alias("n"), "m")
            .union(sm.select(F.col("u").alias("n"), "m"))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        e = small
        cur = fingerprint(e)
        converged = cur == prev
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components: edge set not converged after {max_iter} "
            "large-star/small-star rounds — raise max_iter (labels would be "
            "silently split otherwise)")
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint is stars (node → component min): non-centers are the u
    # side, centers appear only as v (self-labelled)
    labels = (
        e.select(F.col("u").alias("id"), F.col("v").alias("label"))
        .union(e.select(F.col("v").alias("id"), F.col("v").alias("label")))
        .union(loop_only.select("id", F.col("id").alias("label")))
        .distinct()
    )
    return labels
