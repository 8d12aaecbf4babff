"""LSH banding: signature → band buckets → candidate pairs.

The graft's shuffle stage — the analog of the reference's merge tree
(/root/reference/src/wmerge.cpp:54-156), except one hash exchange on the
band key replaces all lg(N/M) merge levels (SURVEY.md §2 O6-O8).

Scale design:
* Banding is JVM-side (``xxhash64`` over signature slices) — no Python.
* Candidate pairs are emitted per bucket via a SIZE-GATED co-partitioned
  self-join (r6 — the window count runs first, so only buckets with
  1 < m <= max_bucket ever reach the join): a bucket of m docs yields
  m(m-1)/2 pairs only while m <= max_bucket; oversize buckets (boilerplate
  floods) degrade to m-1 star edges around the min id — bounded output,
  connectivity preserved for clustering (the reference's "collapse on
  first collision" economy, src/wmerge.cpp:124-127).  No per-bucket
  array is ever built (the r5 collect_list shape was both slower and
  carried the aggregation-buffer footprint).
* Dedup of the same pair across bands is one ``distinct`` on (a, b) —
  map-side partial aggregation absorbs most of it.
* Skew: AQE skew-join is on (session.py); hot *conversations* are removed
  earlier by exact dedup; hot *buckets* are bounded by the star policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_NUM_BANDS = 32
DEFAULT_MAX_BUCKET = 256


def band_buckets(
    df: DataFrame,
    sig_col: str = "sig",
    id_col: str = "conv_id",
    n_bands: int = DEFAULT_NUM_BANDS,
    n_perms: int | None = None,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """(id, sig[n_perms]) → (band, bucket, id[, passthrough...]) — one row
    per band.

    bucket = xxhash64(band index, signature slice) computed JVM-side.
    ``passthrough`` columns ride along unchanged (the incremental
    pipeline's is-new flag) — cheaper than re-joining them onto the
    banded exchange.
    """
    n_perms_val = n_perms
    if n_perms_val is None:
        # static from the first row is wrong at scale; require caller or infer lazily
        raise ValueError("pass n_perms explicitly (signature width)")
    rows = n_perms_val // n_bands
    if rows * n_bands != n_perms_val:
        raise ValueError(f"n_perms={n_perms_val} not divisible by n_bands={n_bands}")
    # explode the band INDEX first, then one small per-row hash expression
    # (r6): the previous form built an array of n_bands structs each
    # hashing an array slice — a giant expression tree that fell out of
    # efficient codegen and cost 14× more per row (measured 2.9 s → 0.2 s
    # at 50k docs × 32 bands).  The bucket is xxhash64 over the band's
    # signature LANES (element_at), not over a sliced sub-array — a
    # different 64-bit value but the identical equality relation, which
    # is all a bucket key is.
    extra = passthrough or []
    sig = F.col(sig_col)
    bidx = F.col("band")
    lanes = [F.element_at(sig, bidx * rows + j + 1) for j in range(rows)]
    return df.select(
        F.col(id_col).alias("id"), *extra, sig,
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).select(
        "band", F.xxhash64(bidx, *lanes).alias("bucket"), "id", *extra
    )


def _bucket_pairs(
    banded: DataFrame,
    keys: list[str],
    max_bucket: int,
    oversize_policy: str,
    new_col: str | None,
) -> tuple[DataFrame, DataFrame | None]:
    """The one bucket-expansion core behind ``candidate_pairs`` and
    ``candidate_pairs_multi``: ``banded`` rows keyed by ``keys`` (a bucket
    is one distinct key tuple — ``["band", "bucket"]``, or with a leading
    channel tag ``[ch, "band", "bucket"]``) → ``(within, star)``.

    ``within``: one raw ``(*tag, a, b)`` row (a < b) per within-bucket
    collision over buckets with 1 < m <= max_bucket (every bucket under
    ``"all"``); ``tag`` is ``keys`` minus band/bucket, carried through.
    ``star``: ``(*tag, a, b)`` edges of oversize buckets under ``"star"``,
    else None.

    Skew safety: bucket sizes are established FIRST (window count over the
    key exchange — sort-based, spills, never an array), so only buckets
    already proven ``m <= max_bucket`` reach the self-join.  A 10^7-member
    boilerplate flood therefore never materializes a per-bucket buffer:
    its rows flow straight to the star branch as (anchor, id) edges, one
    row at a time.
    """
    tag = keys[:-2]

    # within-bucket expansion as a co-partitioned SELF-JOIN on the bucket
    # key (r6): the previous shape (collect_list per bucket + double
    # explode + filter) paid an ObjectHashAggregate building an array per
    # bucket and an interpreted two-level explode — measured 2.4× slower
    # end-to-end than the join at 1.6M banded rows.  A bucket of m rows
    # streams m(m-1)/2 join rows; no per-bucket array is ever built.
    def _expand(rows: DataFrame) -> DataFrame:
        lcols = [*[F.col(k) for k in keys], F.col("id").alias("_ida")]
        rcols = [*[F.col(k) for k in keys], F.col("id").alias("_idb")]
        if new_col:
            lcols.append(F.col(new_col).alias("_na"))
            rcols.append(F.col(new_col).alias("_nb"))
        # shuffle_hash hint: size ESTIMATES through the Python signature
        # UDFs are garbage, so without it the planner broadcasts the
        # multi-million-row banded side (driver collect + the whole
        # sign/band subtree executed twice — observed in the cosine
        # query's executedPlan).  A shuffled-hash join partitions both
        # sides on the bucket key once — and since both sides are the
        # SAME subtree, the second Exchange is a ReusedExchange: the
        # upstream computes exactly once.
        p = (
            rows.select(*lcols)
            .hint("shuffle_hash")
            .join(rows.select(*rcols), keys)
            .filter(F.col("_ida") < F.col("_idb"))
        )
        if new_col:
            p = p.filter(F.col("_na") | F.col("_nb"))
        return p.select(*tag, F.col("_ida").alias("a"), F.col("_idb").alias("b"))

    if oversize_policy == "all":
        # no cap → no size gate needed: singleton buckets emit nothing
        # from the a < b join (tests/small data)
        return _expand(banded), None

    w = Window.partitionBy(*keys)
    extra_cols = []
    if new_col:
        # incremental star anchor: the min over OLD members — the node
        # the base run's star edges already orbit.  A new bucket-min
        # would otherwise be isolated (old members' committed edges
        # point at the OLD min, and new members only edge to the
        # anchor).  All-new flood → fall back to min over new.
        extra_cols = [
            new_col,
            F.coalesce(
                F.min(F.when(~F.col(new_col), F.col("id"))).over(w),
                F.min(F.when(F.col(new_col), F.col("id"))).over(w),
            ).alias("anchor"),
        ]
    counted = banded.select(
        *keys,
        "id",
        *extra_cols,
        F.count(F.lit(1)).over(w).alias("m"),
        F.min("id").over(w).alias("min_id"),
    ).filter(F.col("m") > 1)
    # the join reuses the window's hash partitioning on the bucket key —
    # one exchange total
    within = _expand(counted.filter(F.col("m") <= max_bucket))
    if oversize_policy != "star":
        return within, None

    # star edges row-by-row: (anchor, member) — no array ever built.
    # Incremental: only NEW members need edges (old members were
    # star-connected to the old-member min by the base run at the same
    # config), anchored at that same old min.
    big_rows = counted.filter(F.col("m") > max_bucket)
    if new_col:
        star = big_rows.filter(
            F.col(new_col) & (F.col("id") != F.col("anchor"))
        ).select(
            *tag,
            F.least("anchor", "id").alias("a"),
            F.greatest("anchor", "id").alias("b"),
        )
    else:
        star = big_rows.filter(F.col("id") != F.col("min_id")).select(
            *tag, F.col("min_id").alias("a"), F.col("id").alias("b")
        )
    return within, star


def candidate_pairs(
    banded: DataFrame,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    oversize_policy: str = "star",
    min_collisions: int = 1,
    dedup: bool = True,
    new_col: str | None = None,
) -> DataFrame:
    """band buckets → distinct candidate pairs (conv_a < conv_b).

    ``dedup=False`` skips the final ``distinct()`` exchange: callers that
    immediately aggregate on (conv_a, conv_b) anyway (the pipeline's
    channel-union groupBy) get identical results one shuffle cheaper —
    cross-band duplicates just carry into that aggregate.

    ``new_col``: INCREMENTAL mode — ``banded`` carries a boolean column of
    that name marking the new batch's ids, and only pairs touching at
    least one new id are emitted.  This is what makes a daily increment
    O(new × bucket) instead of O(corpus²): old×old pairs were already
    generated (and verified/clustered) by the run that committed them, so
    within-bucket expansion filters them out and oversize buckets emit
    star edges for NEW members only (old members were star-connected to
    the same bucket-min by the base run at the same config, so
    connectivity through the flood is already in the cluster state).

    oversize_policy for buckets with > max_bucket members:
      "star" — emit m-1 edges to the bucket-min id (bounded, keeps
               connectivity; pairwise similarity within the flood is
               resolved transitively by the cluster stage)
      "drop" — skip the bucket (recall loss, recorded by caller metrics)
      "all"  — no cap (tests / small data)

    min_collisions: require the pair to co-occur in at least this many
    band buckets.  At corpus scale single-band collisions are quadratic
    noise (baseline similarity s contributes n²·s^r expected pairs);
    requiring 2 of b bands suppresses noise ~quadratically while recall
    at the dedup threshold stays ~1 (s=0.8, b=32, r=4 → P[≥2] ≈
    0.999998).  Star edges (structural connectivity) bypass the floor.
    """
    pairs, star = _bucket_pairs(
        banded, ["band", "bucket"], max_bucket, oversize_policy, new_col
    )
    if min_collisions > 1:
        pairs = (
            pairs.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("_hits"))
            .filter(F.col("_hits") >= min_collisions)
            .select("a", "b")
        )
    if star is not None:
        pairs = pairs.unionByName(star)
    if dedup:
        pairs = pairs.distinct()
    return pairs.select(F.col("a").alias("conv_a"), F.col("b").alias("conv_b"))


def candidate_pairs_multi(
    banded: DataFrame,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    oversize_policy: str = "star",
    new_col: str | None = None,
    channel_col: str = "ch",
) -> DataFrame:
    """Multi-channel ``candidate_pairs`` (r6): ``banded`` carries a
    channel tag (``channel_col``, a narrow integer — guide §2.3) and the
    bucket core is keyed per (channel, band, bucket), so every channel
    behaves EXACTLY like its own ``candidate_pairs`` call — same
    per-bucket size gate, same star economy, same incremental anchor —
    but all channels share ONE window exchange and ONE self-join instead
    of one of each per channel (the pipeline's candidate stage ran three).

    Output: RAW collision rows ``(channel_col, conv_a, conv_b, is_star)``
    — one row per within-bucket collision (so a pair colliding in k of a
    channel's buckets appears k times) plus one flagged row per star
    edge.  No aggregation happens here: the caller owns the per-channel
    collision floors and the per-pair tag set, and folding both into its
    ONE groupBy(a, b) (build_candidates) is exactly one exchange cheaper
    than aggregating per (channel, a, b) first.  Bounds are unchanged:
    the window size gate still runs before the join, so the raw stream
    carries at most Σ m·(m−1)/2 rows over gated buckets plus star edges.
    """
    pairs, star = _bucket_pairs(
        banded, [channel_col, "band", "bucket"], max_bucket, oversize_policy, new_col
    )
    pairs = pairs.withColumn("is_star", F.lit(False))
    if star is not None:
        pairs = pairs.unionByName(star.withColumn("is_star", F.lit(True)))
    return pairs.select(
        channel_col, F.col("a").alias("conv_a"), F.col("b").alias("conv_b"), "is_star"
    )


def minhash_lsh_candidates(
    signed: DataFrame,
    id_col: str = "conv_id",
    sig_col: str = "sig",
    n_perms: int = 128,
    n_bands: int = DEFAULT_NUM_BANDS,
    max_bucket: int = DEFAULT_MAX_BUCKET,
    oversize_policy: str = "star",
    min_collisions: int = 1,
    dedup: bool = True,
) -> DataFrame:
    banded = band_buckets(signed, sig_col, id_col, n_bands, n_perms)
    return candidate_pairs(banded, max_bucket, oversize_policy, min_collisions, dedup)
