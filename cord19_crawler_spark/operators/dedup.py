"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup. All hash math is md5-based 56-bit → mod-P
arithmetic (functions/hashes.py) so every stage is reproducible in a DuckDB
oracle; everything is JVM-side Catalyst expressions — no Python UDFs.

Scale notes: MinHash signatures are one hash-agg over exploded shingles
(partial aggregation map-side); LSH banding turns the O(n²) pair space into
per-bucket self-joins — at 100 TB the band join is THE shuffle, so band keys
include the band index (bucket skew stays bounded) and candidate
verification happens after an early ``dropDuplicates`` on pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashes import md5_long56, minhash_expr, minhash_params
from .spread import spread_input

# Production default for the hot-bucket caps in the e2e near-dup entry
# points (r4 verdict item #3): at 100 TB an UNCAPPED degenerate bucket —
# 10^6 boilerplate-identical docs sharing a band value — emits C(10^6, 2)
# ≈ 5·10^11 join pairs and sinks the stage, and a caller who does not know
# the footgun exists will hit it. 10^4 bounds any one bucket's pair
# contribution at C(10^4, 2) ≈ 5·10^7 rows (seconds of shuffle) while
# being far above any non-degenerate bucket's occupancy under real banding
# (expected bucket size at 10^10 docs with 2^56-value bands is ≪ 10).
# Pass ``max_bucket_df=None`` explicitly for exact/oracle mode — the
# __spark_entry__ oracle rows do, and the capped variants pin both modes.
DEFAULT_MAX_BUCKET_DF = 10_000


def _cap_hot_buckets(
    banded: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_df: int | None,
    rank_narrow: bool = False,
) -> DataFrame:
    """Hot-bucket guard for banded candidate generation (the web-scale
    failure mode the fixed-band design is exposed to): a degenerate bucket
    — e.g. 10^6 boilerplate-identical docs sharing every band value —
    produces O(d²) join pairs before distinct()/verify prunes anything;
    one such bucket is 10^12 shuffle rows.

    Semantics (mirrors ``max_shingle_df`` in ngram_jaccard_pairs, but
    SUB-SAMPLES instead of dropping): buckets over ``max_bucket_df``
    members keep only the ``max_bucket_df`` smallest ids (deterministic),
    bounding that bucket's pair contribution at C(cap, 2). Recall
    semantics: capped members can still pair through their OTHER bands /
    tables; within a pure boilerplate flood the kept sample still links
    (so the flood IS detected), while sampled-out members lose their
    candidacy from this bucket — the standard bounded-recall trade every
    production near-dup pipeline makes (vs an unbounded shuffle).

    Cost: the row_number window sorts each bucket's rows on one task —
    O(d log d) rows spilled for a hot bucket vs O(d²) join output without
    the cap; non-hot buckets are untouched. ``None`` disables (exact
    small-scale / oracle mode).

    ``rank_narrow``: for payload-heavy rows (embedding vectors), ranking
    the full frame would drag every vector through the hot bucket's
    single-task sort; instead the rank runs over the narrow (bucket, id)
    projection and the kept keys semi-join the full frame back — one extra
    shuffle of the table, but the per-bucket sort only ever touches
    id-width rows. Text-banded frames (doc_id + bucket) are already
    narrow, so the direct window is cheaper there."""
    if max_bucket_df is None:
        return banded
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(c) for c in bucket_cols]).orderBy(id_col)
    if rank_narrow:
        keep = (
            banded.select(*bucket_cols, id_col)
            .withColumn("_bdf", F.row_number().over(w))
            .filter(F.col("_bdf") <= max_bucket_df)
            .drop("_bdf")
        )
        return banded.join(keep, [*bucket_cols, id_col], "left_semi")
    return (
        banded.withColumn("_bdf", F.row_number().over(w))
        .filter(F.col("_bdf") <= max_bucket_df)
        .drop("_bdf")
    )


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content fingerprint: groups with >1 doc, keeper = min id.
    (A12/J2 as dedup; one hash-agg, no join.)"""
    from ..functions.text import fingerprint

    fp = docs.select(
        F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp")
    )
    return (
        fp.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        # drop the empty token leading/trailing whitespace produces, so
        # " a b c" and "a b c" shingle identically (simhash filters the
        # same way)
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
        ).alias("w"),
    )
    # docs with fewer than n tokens contribute no shingles (guard: an
    # unclamped sequence(0, size-n) would go negative and crash slice()).
    # Position explode: each shingle string is built once per output row
    # (exploding the transform-built array re-evaluates the builder per
    # element — r6).
    has_enough = toks.filter(F.size("w") >= n)
    grams = has_enough.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(0), F.size("w") - n)).alias("_i"),
    ).select(
        "doc_id",
        F.concat_ws(" ", F.slice("w", F.col("_i") + 1, n)).alias("shingle"),
    )
    return grams.filter(F.size(F.split(F.col("shingle"), " ")) == n).distinct()


def minhash_signatures(sh: DataFrame, num_perm: int = 16, seed: int = 42) -> DataFrame:
    """(doc_id, mh_0..mh_{P-1}): min over permuted shingle hashes.

    One exploded scan + one hash-agg with num_perm min() aggregates —
    Catalyst runs partial mins map-side, so the shuffle carries one row per
    doc, not one per shingle."""
    params = minhash_params(num_perm, seed)
    h = md5_long56(F.col("shingle"))
    aggs = [
        F.min(minhash_expr(h, a, b)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(params)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 4, max_bucket_df: int | None = None
) -> DataFrame:
    """Band the signature columns; docs sharing any band bucket are
    candidates. Returns (doc_a, doc_b) with doc_a < doc_b, distinct.
    ``max_bucket_df`` bounds degenerate buckets (see _cap_hot_buckets)."""
    mh_cols = [c for c in signatures.columns if c.startswith("mh_")]
    if len(mh_cols) % bands != 0:
        raise ValueError(
            f"num_perm={len(mh_cols)} not divisible by bands={bands}: "
            "trailing permutations would be silently dropped (recall loss)"
        )
    rows_per_band = len(mh_cols) // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            *[F.col(mh_cols[b * rows_per_band + r]).alias(f"r{r}") for r in range(rows_per_band)],
        )
        for b in range(bands)
    ]
    banded = signatures.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bucket")
    )
    banded = _cap_hot_buckets(banded, ["bucket"], "doc_id", max_bucket_df)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right, on="bucket")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return pairs


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
    ngram: int = 3,
    shingle_storage: str = "localCheckpoint",
    max_bucket_df: int | None = DEFAULT_MAX_BUCKET_DF,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → sign → band → candidate pairs →
    EXACT Jaccard verification ≥ threshold. Returns
    (doc_a, doc_b, jaccard).

    The shingle set is consumed by three subplans (signatures + both sides
    of the verify join — measured: no ReusedExchange without persistence,
    6× the shingle work). ``shingle_storage`` picks the reuse mechanism:

    * ``"localCheckpoint"`` (default): blocks are reference-tracked and
      freed on GC — no storage leak from this lazy API — but lineage is
      truncated, so a LOST executor's blocks cannot be recomputed. Right
      for stable executors (local, on-demand clusters).
    * ``"cache"``: lineage-preserving (recomputes on executor loss) but
      pinned in the CacheManager until the CALLER unpersists — use on
      preemptible/spot clusters and own the unpersist.
    * ``"checkpoint:<dir>"``: RELIABLE checkpoint into a fault-tolerant
      directory — survives executor loss with no recompute AND no
      CacheManager pin; one distributed write (see operators/iterutil.py).
    * ``"none"``: no reuse; recomputes shingles per consumer.
    """
    # input-skew guard: a docs frame read from fewer row groups than cores
    # (e.g. a single-row-group test parquet) would build and hash every
    # shingle in ONE task; spread by the unique id first
    sh = shingles(spread_input(docs, id_col), id_col, text_col, ngram)
    if shingle_storage == "localCheckpoint":
        sh = sh.localCheckpoint(eager=False)
    elif shingle_storage == "cache":
        sh = sh.cache()
    elif shingle_storage.startswith("checkpoint:"):
        from .iterutil import lineage_truncator

        sh = lineage_truncator(shingle_storage.split(":", 1)[1], eager=False)(sh)
    elif shingle_storage != "none":
        raise ValueError(f"unknown shingle_storage: {shingle_storage!r}")
    sig = minhash_signatures(sh, num_perm)
    cand = lsh_candidate_pairs(sig, bands, max_bucket_df=max_bucket_df)
    return verify_jaccard(cand, sh, threshold)


def verify_jaccard(pairs: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard on candidate pairs via two semi-joins + size agg."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.withColumnRenamed("doc_id", "doc_a")
    b = sh.withColumnRenamed("doc_id", "doc_b")
    common = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    with_sizes = (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
    )
    return (
        with_sizes.withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Direct n-gram Jaccard near-dup (no LSH): gram-equi-join builds the
    candidate pairs; exact at small scale, the LSH variant is the scale
    path.

    ``max_shingle_df`` is the stop-shingle guard that makes the pair join
    survive scale: a shingle present in d documents contributes O(d²) join
    pairs — one stop-shingle in 10^6 docs is 10^12 pairs. Shingles with
    document frequency above the cap are dropped from the UNIVERSE (both
    the intersection counts and the per-doc sizes), i.e. Jaccard is
    computed over the capped shingle space — the standard stop-shingle
    semantics, mirrored by the driver query's DuckDB oracle."""
    sh = shingles(docs, id_col, text_col, n)
    if max_shingle_df is not None:
        dfreq = sh.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("_df")  # shingles are distinct per doc
        )
        keep = dfreq.filter(F.col("_df") <= max_shingle_df).select("shingle")
        sh = sh.join(keep, "shingle", "left_semi")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.withColumnRenamed("doc_id", "doc_a")
    b = sh.withColumnRenamed("doc_id", "doc_b")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    with_sizes = (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
    )
    return (
        with_sizes.withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32) -> DataFrame:
    """Per-doc SimHash over token hashes: bit i of the fingerprint is the
    sign of Σ_tokens (±1 by token-hash bit i), tf-weighted.

    JVM-side: one explode + one groupBy with ``bits`` conditional sums —
    partial aggregation keeps the shuffle at one row per doc."""
    if not 1 <= bits <= 56:
        raise ValueError("bits must be in [1, 56] (md5_long56 is 56 bits)")
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word"),
    ).filter(F.col("word") != "")
    # full 56-bit hash: reducing mod 2^31-1 here would zero every
    # fingerprint bit >= 31
    h = md5_long56(F.col("word"))
    with_h = toks.select("doc_id", h.alias("h"))
    sums = with_h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i) % 2 == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    fingerprint = sums.select(
        "doc_id",
        sum(
            (F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)))
            for i in range(bits)
        ).cast("long").alias("simhash"),
    )
    return fingerprint


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_df: int | None = DEFAULT_MAX_BUCKET_DF,
) -> DataFrame:
    """SimHash near-dup pairs: band the fingerprint into ``bands`` chunks —
    any pair within ``max_hamming < bands`` differs in at most
    ``max_hamming`` chunks, so by pigeonhole it MUST agree on ≥1 chunk →
    per-chunk equi-join generates all candidates (no O(n²) compare), then
    exact Hamming distance (JVM bit_count) filters.

    Returns (doc_a, doc_b, hamming)."""
    if max_hamming >= bands:
        raise ValueError(
            "pigeonhole requires max_hamming < bands (else recall is lost)"
        )
    if bands > bits:
        raise ValueError(
            f"bands={bands} > bits={bits}: chunk width would truncate to 0, "
            "putting every doc in one bucket (O(n²) self-join)"
        )
    chunk = bits // bands
    fp = simhash(docs, id_col, text_col, bits)
    banded = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright(F.col("simhash"), b * chunk)
                            % F.lit(1 << chunk)
                        ).alias("chunk_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )
    banded = _cap_hot_buckets(banded, ["bucket"], "doc_id", max_bucket_df)
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(r, on="bucket")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("fp_a"),
            F.col("r.simhash").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def embedding_near_duplicates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucket_dims: int = 6,
    max_bucket_df: int | None = DEFAULT_MAX_BUCKET_DF,
) -> DataFrame:
    """Embedding-cosine near-dup: sign-projection bucketing on the first
    ``bucket_dims`` dimensions (deterministic hyperplanes = coordinate axes)
    → per-bucket pair join → exact cosine ≥ threshold.

    Shares the dot/norm/bucket kernels with operators/similarity.py — one
    implementation to validate."""
    from .similarity import _dot, _norm, sign_bucket_expr

    b = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        sign_bucket_expr(vec_col, bucket_dims).alias("bucket"),
    )
    b = _cap_hot_buckets(b, ["bucket"], "vid", max_bucket_df, rank_narrow=True)
    l, r = b.alias("l"), b.alias("r")
    pairs = l.join(r, "bucket").filter(F.col("l.vid") < F.col("r.vid"))
    cosine = F.round(
        _dot(F.col("l.v"), F.col("r.v")) / (_norm(F.col("l.v")) * _norm(F.col("r.v"))),
        6,
    )
    return (
        pairs.select(
            F.col("l.vid").alias("vec_a"),
            F.col("r.vid").alias("vec_b"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---- multi-table random-hyperplane LSH (the 10^8+-vector scale path) -------


def lsh_bucket_plan(
    n_vectors: int,
    target_bucket_rows: int = 512,
    threshold: float = 0.95,
    target_recall: float = 0.95,
    max_tables: int = 32,
) -> tuple[int, int]:
    """Size (bits, tables) for random-hyperplane LSH — the documented rule:

    * bits b = ceil(log2(n / target_bucket_rows)): expected bucket size is
      n / 2^b rows, so the per-bucket pair join stays ~target_bucket_rows²
      comparisons per bucket regardless of n (the knob that keeps the
      shuffle bounded at 10^8+ vectors — the fixed ``bucket_dims=4`` default
      of embedding_near_duplicates is a TEST setting, not a scale setting);
    * tables L = smallest L with 1 - (1 - p^b)^L ≥ target_recall, where
      p = 1 - acos(threshold)/π is the per-hyperplane collision probability
      of a pair at exactly the threshold cosine (Charikar's sign-LSH bound)
      — multiple independent tables recover the recall that longer codes
      destroy.
    """
    import math

    b = max(1, math.ceil(math.log2(max(2, n_vectors) / max(1, target_bucket_rows))))
    p = 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi
    collide = p**b
    if collide >= 1.0:
        return b, 1
    if target_recall >= 1.0:
        # exhaustive recall is asymptotic for LSH — cap at max_tables
        # instead of log(0)
        return b, max_tables
    tables = math.ceil(
        math.log(1.0 - target_recall) / math.log(1.0 - collide)
    )
    return b, max(1, min(max_tables, tables))


def embedding_near_duplicates_lsh(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    max_bucket_df: int | None = DEFAULT_MAX_BUCKET_DF,
) -> DataFrame:
    """Embedding near-dup at scale: L independent random-hyperplane tables
    (deterministic seed), per-(table, bucket) pair join, exact cosine ≥
    threshold verify on candidates only.

    vs ``embedding_near_duplicates`` (coordinate-axis signs, one table —
    kept because a DuckDB oracle can replay it): random hyperplanes spread
    mass evenly across 2^bits buckets whatever the data distribution, and
    the table union recovers recall (size both with ``lsh_bucket_plan``).
    The hyperplane matrix is tiny ((L·bits)×dim floats, driver-broadcast
    inside the UDF closure); bucketing is ONE Arrow pass per vector;
    everything after is JVM-side. Recall is pinned against planted
    ground truth at 10^4 vectors in tests/test_ann_scale.py.
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, bits, dim)).astype(np.float64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in vecs], dtype=np.float64
        )
        if mat.size == 0:
            return pd.Series([], dtype="object")
        out = np.zeros((len(mat), len(planes)), dtype=np.int64)
        weights = 1 << np.arange(planes.shape[1], dtype=np.int64)
        for t, pl in enumerate(planes):
            signs = (mat @ pl.T) >= 0  # (n, bits)
            out[:, t] = signs @ weights
        return pd.Series(list(out))

    b = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.posexplode(_buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )
    b = _cap_hot_buckets(b, ["tbl", "bucket"], "vid", max_bucket_df, rank_narrow=True)
    l, r = b.alias("l"), b.alias("r")
    pairs = (
        l.join(r, ["tbl", "bucket"])
        .filter(F.col("l.vid") < F.col("r.vid"))
        .select(
            F.col("l.vid").alias("vec_a"),
            F.col("r.vid").alias("vec_b"),
            F.col("l.v").alias("va"),
            F.col("r.v").alias("vb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])  # union of tables, verify once
    )
    from .similarity import _dot, _norm

    cosine = F.round(
        _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))),
        6,
    )
    return (
        pairs.withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def duplicated_ngram_coverage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-n-gram coverage (CCNet/Gopher-style
    boilerplate signal): for each document, the fraction of its word
    n-gram POSITIONS whose n-gram also occurs in at least ``min_docs``
    distinct documents. High coverage = the doc is mostly text shared with
    the rest of the corpus (navigation chrome, licence blocks, mirrored
    passages) — the docs a training pipeline drops or trims first.

    Returns (doc_id, n_ngrams, dup_ngrams, dup_coverage); documents
    shorter than ``n`` tokens have no n-grams and are absent.

    Scale shape: explode → per-(doc,gram) count (map-side combine: one row
    per distinct gram per doc crosses the wire) → per-gram doc counts →
    semi-annotating join back on gram → per-doc rollup. Unlike the pair
    joins above, hot grams need NO cap here — a gram in 10^6 docs adds
    10^6 rows to a hash AGGREGATE (linear), not 10^12 pairs to a join; AQE
    handles residual skew in the gram agg.

    Tokenization is the engine-wide ``[a-z0-9]{2,}`` tokenizer
    (functions/text.py, reference src/multiwordSearch.py:46-52), so this
    agrees with repetition_metrics and the search index on word identity.
    """
    from ..functions.quality import ngram_at, ngram_positions

    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), '[a-z0-9]{{2,}}', 0)"
    )
    per_doc_gram = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .select(
            "doc_id",
            "_toks",
            F.explode(ngram_positions("_toks", n)).alias("_i"),
        )
        .select("doc_id", ngram_at("_toks", "_i", n).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dup_grams = (
        per_doc_gram.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_ndocs"))  # rows are distinct per doc
        .filter(F.col("_ndocs") >= min_docs)
        .select("gram", F.lit(True).alias("_dup"))
    )
    return (
        per_doc_gram.join(dup_grams, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_ngrams"),
            F.sum(F.when(F.col("_dup"), F.col("c")).otherwise(F.lit(0))).alias(
                "dup_ngrams"
            ),
        )
        .withColumn(
            "dup_coverage",
            F.round(F.col("dup_ngrams") / F.col("n_ngrams").cast("double"), 6),
        )
    )


def duplicate_substring_spans(
    docs: DataFrame,
    k: int = 50,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_storage: str = "recompute",
) -> DataFrame:
    """Exact substring-level deduplication: the positional SPANS of every
    duplicated >=``k``-token run, per document (the deliverable of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 — their ExactSubstr dedup removes 50-token substrings
    that appear more than once in the corpus). ``duplicated_ngram_coverage``
    above scores documents; THIS operator says exactly which token ranges
    to cut.

    Method (the hash-based distributed equivalent of their suffix array):
    every k-token window is hashed (xxhash64 — internal only, never leaves
    the plan; a collision merges two windows with probability ~n²/2^64);
    windows whose hash occurs >= ``min_count`` times in the WHOLE corpus
    (within-document repeats count, matching ExactSubstr's self-repetition
    semantics) are duplicated positions; consecutive/overlapping duplicated
    windows within a document merge into maximal spans (touching spans —
    next start == prev end — also merge, so a contiguous duplicated region
    is always ONE row).

    Returns (doc_id, start_tok, end_tok, n_dup_grams): token-index interval
    [start_tok, end_tok) over the engine-wide ``[a-z0-9]{2,}`` tokenizer,
    0-based; n_dup_grams = number of duplicated k-windows merged into the
    span. Documents shorter than ``k`` tokens have no windows and are
    absent.

    Scale shape (100 TB): the window pass is a pure map off the scan; the
    only wide shuffle is the per-hash occurrence count, which is a hash
    AGGREGATE with map-side partial counts — LINEAR in occurrences, so a
    boilerplate run shared by 10^6 docs costs 10^6 aggregate rows, never
    10^12 join pairs (no hot-bucket cap needed, unlike the pair-join
    families above). The duplicated-hash set joins back as a left_semi
    (AQE broadcasts it when small). The island merge is a per-document
    window — bounded by document length, never a global sort.

    ``gram_storage``: "recompute" (default) re-derives the window frame
    for the count and the probe side — two scans of the source, zero
    materialization (the right trade at 100 TB where the window frame is
    ~n_tokens rows); "localCheckpoint" materializes it once (reference-
    tracked blocks, the shingle pattern from minhash_near_duplicates) for
    iterative local use.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]{{2,}}', 0)")
    d = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), toks.alias("_toks")
    ).filter(F.size("_toks") >= k)
    # position explode: hash each window once per output row (exploding a
    # transform-built hash array re-evaluates the whole builder per
    # element — O(n_windows^2) hashing per doc; r6)
    from ..functions.quality import ngram_at, ngram_positions

    grams = d.select(
        "doc_id",
        "_toks",
        F.explode(ngram_positions("_toks", k)).alias("_i"),
    ).select(
        "doc_id",
        (F.col("_i") - 1).alias("p0"),
        F.xxhash64(ngram_at("_toks", "_i", k)).alias("gh"),
    )
    if gram_storage == "localCheckpoint":
        grams = grams.localCheckpoint(eager=False)
    elif gram_storage != "recompute":
        raise ValueError(f"unknown gram_storage: {gram_storage!r}")
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("gh")
    )
    hits = grams.join(dup, "gh", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("p0")
    prev = F.lag("p0").over(w)
    isl = hits.withColumn(
        "_new",
        F.when(prev.isNull() | (F.col("p0") > prev + F.lit(k)), 1).otherwise(0),
    ).withColumn(
        "_isl",
        F.sum("_new").over(
            Window.partitionBy("doc_id")
            .orderBy("p0")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        isl.groupBy("doc_id", "_isl")
        .agg(
            F.min("p0").cast("long").alias("start_tok"),
            (F.max("p0") + F.lit(k)).cast("long").alias("end_tok"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select("doc_id", "start_tok", "end_tok", "n_dup_grams")
    )


def apply_remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    spans_join: str = "broadcast",
) -> DataFrame:
    """Apply substring-dedup remove-spans: cut every [start_tok, end_tok)
    interval (``duplicate_substring_spans`` output, or any frame with
    doc_id/start_tok/end_tok) out of each document's token stream — the
    second half of the Lee et al. 2022 ExactSubstr pipeline (detect, then
    remove).

    Returns one row per input document: (doc_id, n_tokens, n_removed,
    clean_text). ``clean_text`` is the space-joined SURVIVING tokens of
    the engine-wide tokenizer (ExactSubstr operates on the tokenized
    stream; original whitespace/punctuation is not reconstructed) — ""
    when a document is removed entirely. Documents with no spans pass
    through with n_removed = 0.

    Scale shape: spans exist only for documents that contain duplicated
    runs, so the span side is orders of magnitude smaller than the corpus
    — it is rolled up to one interval-array row per affected doc (tiny
    shuffle) and ``broadcast()`` onto the corpus scan (default); the cut
    itself is a per-row Catalyst higher-order filter over (token, index)
    pairs, no UDF, no corpus shuffle. ``spans_join="shuffle"`` opts into
    a plain hash join for the degenerate case where most of the corpus is
    spanned and the span side outgrows the broadcast cap.
    """
    if spans_join not in ("broadcast", "shuffle"):
        raise ValueError(f"unknown spans_join: {spans_join!r}")
    ivs = spans.groupBy(F.col("doc_id").cast("long").alias("doc_id")).agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("_ivs")
    )
    if spans_join == "broadcast":
        ivs = F.broadcast(ivs)
    toks = F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]{{2,}}', 0)")
    d = docs.select(F.col(id_col).cast("long").alias("doc_id"), toks.alias("_toks"))
    kept = F.expr(
        "filter(transform(_toks, (t, i) -> struct(t AS t, i AS i)), "
        "s -> _ivs IS NULL OR NOT exists(_ivs, "
        "iv -> s.i >= iv.start_tok AND s.i < iv.end_tok))"
    )
    return (
        d.join(ivs, "doc_id", "left")
        .withColumn("_kept", kept)
        .select(
            "doc_id",
            F.size("_toks").cast("long").alias("n_tokens"),
            (F.size("_toks") - F.size("_kept")).cast("long").alias("n_removed"),
            F.array_join(F.expr("transform(_kept, s -> s.t)"), " ").alias(
                "clean_text"
            ),
        )
    )


def remove_duplicate_paragraphs(
    docs: DataFrame,
    delim: str = r"\n+",
    min_count: int = 2,
    keep_first: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    join_sep: str = "\n",
) -> DataFrame:
    """Paragraph-level exact deduplication: drop every paragraph whose
    normalized form occurs >= ``min_count`` times across the WHOLE corpus
    (optionally keeping the globally-first occurrence). This is the
    paragraph/line dedup step of the published web-corpus recipes —
    RefinedWeb (Penedo et al. 2023, arXiv:2306.01116) and Dolma (Soldaini
    et al. 2024, arXiv:2402.00159) both run it between URL dedup and
    document-level near-dup; C4's analogous rule works on three-sentence
    spans (Raffel et al. 2020, arXiv:1910.10683 §2.2).

    Paragraphs are the non-empty segments of ``split(text, delim)``
    (default: newline runs — pass a corpus-appropriate boundary regex for
    single-line corpora). The dedup key is the paragraph normalized to
    lowercase with whitespace runs collapsed and ends trimmed; segments
    that normalize to "" are dropped from both counting and output.
    ``keep_first`` keeps the occurrence with the smallest (doc_id,
    paragraph position) — deterministic, engine-independent; False removes
    every copy (the strictest boilerplate scrub).

    Returns one row per input document: (doc_id, n_paragraphs, n_removed,
    clean_text) — clean_text joins the SURVIVING paragraphs (trimmed
    original casing, original order) with ``join_sep``; "" when every
    paragraph was removed. n_paragraphs counts non-empty paragraphs.

    Scale shape (100 TB): paragraphs posexplode off the scan; the
    occurrence count is a hash AGGREGATE on the 56-bit md5 key with
    map-side partials — LINEAR in paragraphs, so a boilerplate paragraph
    shared by 10^8 docs costs 10^8 aggregate rows, never a pair join. The
    per-key stats (count + first-occurrence locator) join back on the same
    narrow key — a linear shuffle join whose hot keys are splittable by
    AQE skew handling (stats side carries ONE row per key, so replicating
    it across a skew-split is cheap). Reassembly is one groupBy(doc_id)
    over (position, paragraph) structs — uniform by construction. The
    56-bit key space makes a cross-paragraph collision (silently merging
    two distinct paragraphs) a ~n²/2^57 event; at 10^12 paragraphs switch
    the key to concat(md5) 128-bit — the plan shape is unchanged.
    """
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    norm = F.trim(F.regexp_replace(F.lower(F.col("_seg")), r"\s+", " "))
    paras = (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), delim)).alias("pos", "_seg"),
        )
        .withColumn("_norm", norm)
        .filter(F.col("_norm") != "")
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.trim("_seg").alias("para"),
            md5_long56(F.col("_norm")).alias("_key"),
        )
    )
    stats = paras.groupBy("_key").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(F.struct("doc_id", "pos")).alias("_first"),
    )
    keep = F.col("_c") < F.lit(min_count)
    if keep_first:
        keep = keep | (
            (F.col("doc_id") == F.col("_first.doc_id"))
            & (F.col("pos") == F.col("_first.pos"))
        )
    kept = (
        paras.join(stats, "_key")
        .withColumn("_keep", keep)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paragraphs"),
            F.sum(F.when(F.col("_keep"), 0).otherwise(1)).alias("n_removed"),
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(CASE WHEN _keep THEN "
                    "struct(pos, para) END)), s -> s.para)"
                ),
                join_sep,
            ).alias("clean_text"),
        )
    )
    ids = docs.select(F.col(id_col).cast("long").alias("doc_id"))
    return ids.join(kept, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_paragraphs", F.lit(0)).cast("long").alias("n_paragraphs"),
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    clusters: str = "sign",
    bucket_dims: int = 6,
    n_clusters: int = 16,
    seed: int = 42,
    max_cluster_df: int | None = DEFAULT_MAX_BUCKET_DF,
) -> DataFrame:
    """SemDedup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and removing near-identical
    points WITHIN each cluster — the insight being that a k-means-style
    partition makes the pairwise-similarity stage tractable because true
    semantic duplicates land in the same cell.

    Survivor rule (pinned deterministic variant of the paper's
    keep-one-per-group): a point is DROPPED iff some LOWER-id point in
    its cluster has cosine >= ``threshold`` to it. Lowest id of every
    duplicate neighborhood always survives, the rule needs no transitive
    closure (one semi-join instead of an iterative CC), and the whole
    result is replayable in SQL. For chain-shaped duplicate sets this
    keeps slightly fewer points than closure-based grouping (a dropped
    middle link can still drop its right neighbor) — the conservative
    direction for training-data dedup.

    Cluster backends: ``"sign"`` = deterministic coordinate-hyperplane
    buckets on the first ``bucket_dims`` dims (oracle-checkable, the
    operator's small/verification mode); ``"kmeans"`` = pyspark.ml KMeans
    with ``n_clusters``/``seed`` (the paper's actual setting — learned
    cells balance occupancy far better on real embedding manifolds where
    sign buckets skew). Both run the SAME downstream plan.

    Returns (vec_id, cluster, kept).

    Scale shape (10^10 vectors): the pair join is per-cluster (never
    all-pairs); ``max_cluster_df`` caps degenerate cells via
    _cap_hot_buckets (same bounded-recall semantics as the banded text
    paths); the survivor rule is one aggregate-free semi-join. With the
    assigned table written partitioned by cluster (ivf_write), each
    cluster dedups from its own partition directory — embarrassingly
    parallel across cells.
    """
    from .similarity import _dot, _norm, sign_bucket_expr

    if clusters == "sign":
        assigned = emb.select(
            F.col(id_col).cast("long").alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
            sign_bucket_expr(vec_col, bucket_dims).cast("long").alias("cluster"),
        )
    elif clusters == "kmeans":
        from .similarity import ivf_index

        _, a = ivf_index(
            emb, n_centroids=n_clusters, id_col=id_col, vec_col=vec_col, seed=seed
        )
        assigned = a.select(
            F.col(id_col).cast("long").alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.col("cluster").cast("long").alias("cluster"),
        )
    else:
        raise ValueError(f"unknown clusters backend: {clusters!r}")
    capped = _cap_hot_buckets(
        assigned, ["cluster"], "vid", max_cluster_df, rank_narrow=True
    )
    # zero-norm vectors (empty docs, padding) have no cosine to anything:
    # exclude them from pair generation BEFORE dividing — ANSI mode faults
    # 0.0/0.0 (the graph.py pagerank convention), and with ANSI off the
    # NaN cosine compares >= threshold, silently dropping them. They stay
    # in the output as kept=True.
    capped = capped.filter(_norm(F.col("v")) > 0)
    l, r = capped.alias("l"), capped.alias("r")
    cosine = F.round(
        _dot(F.col("l.v"), F.col("r.v"))
        / (_norm(F.col("l.v")) * _norm(F.col("r.v"))),
        6,
    )
    dropped = (
        l.join(r, "cluster")
        .filter(F.col("l.vid") < F.col("r.vid"))
        .filter(cosine >= F.lit(float(threshold)))
        .select(F.col("r.vid").alias("vid"))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "cluster",
            F.col("_dropped").isNull().alias("kept"),
        )
    )


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003) — the fingerprint selection with a GUARANTEE the rolling-hash
    and minhash schemes lack: any shared substring of at least
    k + window - 1 tokens between two documents is caught by at least one
    selected fingerprint, while only ~2/(window+1) of all gram hashes are
    kept. The standard choice for plagiarism/overlap detection (MOSS).

    Algorithm (robust winnowing, §5 of the paper): hash every k-token
    gram (md5_long56 — the engine-wide oracle-mirrorable hash), slide a
    ``window``-wide window over the hash sequence, select the RIGHTMOST
    minimal hash in each window, and emit the distinct selected
    (position, hash) pairs per document. Documents whose gram sequence is
    SHORTER than ``window`` (k <= tokens < k+window-1) get the standard
    edge handling: one truncated window over the whole sequence, so every
    doc with at least k tokens emits >= 1 fingerprint and stays matchable;
    only docs with fewer than k tokens are absent.

    Returns (doc_id, pos, fp) — pos is the 0-based token index of the
    selected gram, so downstream overlap detection can localize matches.

    Scale shape (10^10 docs): everything up to the final per-doc distinct
    is SCAN-SIDE Catalyst HOFs over the token array (gram hashing is
    O(n·k) string work, window selection O(n·window) comparisons — both
    per-row, no shuffle); the only exchange is the explode + distinct on
    (doc_id, pos, fp), linear in selected fingerprints (~2n/window rows).
    Matching selected fingerprints across docs is then exactly the
    banded-join shape every other dedup family here uses (bucket by fp,
    ``_cap_hot_buckets`` for boilerplate grams).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
    )
    d = docs.select(
        F.col(id_col).cast("long").alias("doc_id"), toks.alias("_toks")
    ).filter(F.size("_toks") >= k)
    # gram hash at 0-based position i: md5_long56 of tokens i..i+k-1
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - F.lit(k - 1)),
        lambda i: F.conv(
            F.substring(
                F.md5(
                    F.array_join(F.slice(F.col("_toks"), i, F.lit(k)), " ")
                ),
                1,
                14,
            ),
            16,
            10,
        ).cast("long"),
    )
    d = d.select("doc_id", grams.alias("_g"))
    # robust winnowing: rightmost minimum of each window (ties -> larger
    # index wins via <=), as a fold over the window's positions
    # window starts: 1..size-window+1, clamped to >= 1 so a short gram
    # sequence (size < window) yields ONE truncated window; window end is
    # clamped to the sequence length (only binds for that short case)
    sel = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.lit(1), F.size("_g") - F.lit(window - 1))
        ),
        lambda s: F.aggregate(
            F.sequence(s, F.least(s + F.lit(window - 1), F.size("_g"))),
            F.struct(
                F.lit(None).cast("long").alias("h"),
                F.lit(-1).cast("long").alias("p"),
            ),
            lambda acc, j: F.when(
                acc["h"].isNull()
                | (F.element_at(F.col("_g"), j) <= acc["h"]),
                F.struct(
                    F.element_at(F.col("_g"), j).alias("h"),
                    (j - 1).cast("long").alias("p"),
                ),
            ).otherwise(acc),
        ),
    )
    # array_distinct already collapses repeated window selections per doc,
    # and doc_id scopes the rows — no row-level distinct (and its extra
    # exchange over ~2n/window rows) is needed
    return (
        d.select("doc_id", F.explode(F.array_distinct(sel)).alias("_s"))
        .select(
            "doc_id",
            F.col("_s.p").alias("pos"),
            F.col("_s.h").alias("fp"),
        )
    )


def minhash_estimate_error(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    seed: int = 42,
    bands: int = 4,
    ngram: int = 1,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """Measure-don't-guess harness for the MinHash path: for every LSH
    candidate pair, the signature-based Jaccard ESTIMATE (fraction of
    agreeing permutations — the Broder 1997 unbiased estimator) next to
    the EXACT shingle Jaccard, with the absolute error.  This is how a
    100-TB run chooses num_perm/bands: the estimator's std error is
    sqrt(J(1-J)/num_perm), and this operator reports the realized
    distribution on the actual corpus instead of trusting the formula.

    Returns (doc_a, doc_b, est_jaccard, jaccard, abs_err), all rounded
    to 6.  Scale shape: the pair frame is LSH-bounded (banded buckets,
    optionally capped), the signature re-join adds two hash joins on
    doc ids, and the exact verify is the same two-semi-join plan as
    ``verify_jaccard`` — nothing beyond the e2e dedup pipeline's cost.
    """
    sh = shingles(docs, id_col, text_col, ngram)
    sigs = minhash_signatures(sh, num_perm=num_perm, seed=seed)
    pairs = lsh_candidate_pairs(sigs, bands=bands, max_bucket_df=max_bucket_df)
    mh_cols = [c for c in sigs.columns if c.startswith("mh_")]
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(c).alias(f"a_{c}") for c in mh_cols],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(c).alias(f"b_{c}") for c in mh_cols],
    )
    matches = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
        for c in mh_cols
    )
    est = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / F.lit(float(num_perm)), 6).alias("est_jaccard"),
        )
    )
    # LEFT join + coalesce(0): a candidate pair with ZERO common
    # shingles (band collision between disjoint docs) has no row in the
    # exact-verify frame — it is exactly the maximum-error pair this
    # harness exists to surface, so it must report jaccard=0, not vanish
    exact = verify_jaccard(pairs, sh, threshold=0.0)
    return est.join(exact, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
        F.round(
            F.abs(
                F.col("est_jaccard") - F.coalesce("jaccard", F.lit(0.0))
            ),
            6,
        ).alias("abs_err"),
    )
