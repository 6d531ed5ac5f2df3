"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard.

Scale design (the whole point — 100 TB of documents):

- Exact dedup is one hash-groupBy: map-side partial agg on the digest, one
  shuffle of (digest → doc ids), no text movement after the first project.
- MinHash/LSH avoids the O(n²) pair space: signatures are computed per
  document in a single scan (one Arrow-batched pandas UDF — Spark's
  higher-order array functions are interpreted, not codegen'd, and the
  vectorized numpy form measured ~10× faster; see minhash_signatures_df),
  then candidate pairs come from a self-equi-join on (band_id, band_hash)
  — a shuffle keyed on bucket, so only colliding documents ever meet.
  Verification (exact shingle Jaccard) runs only on candidates.
- Skew guard: pathological buckets (boilerplate text → thousands of docs in
  one band bucket) are capped by ``max_bucket_size`` before the pair
  explosion, the standard trick for keeping the join skew-safe.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalized(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_group_size: int = 1000,
) -> DataFrame:
    """Group exact duplicates by content digest.

    Returns (digest, canonical_id, n_copies, ids). md5 is used for the
    digest because every engine agrees on it (oracle-checkable); xxhash64
    is the cheaper in-plan choice when cross-engine parity isn't needed.

    Skew guard: ``ids`` keeps only the ``max_group_size`` lowest ids per
    digest — a boilerplate document duplicated 10⁶× must not materialize a
    one-gigarow aggregation buffer / output row. ``canonical_id`` and
    ``n_copies`` stay exact for every group. The row_number pre-pass
    shuffles on the same key as the groupBy, so Catalyst plans ONE
    exchange (the agg reuses the window's hash partitioning); the
    ``when`` inside collect_list bounds the agg buffer itself, not just
    the output.
    """
    from pyspark.sql import Window

    d = df.select(
        F.md5(normalized(F.col(text_col))).alias("digest"), F.col(id_col).alias("id")
    )
    rn = F.row_number().over(Window.partitionBy("digest").orderBy("id"))
    return (
        d.withColumn("__rn", rn)
        .groupBy("digest")
        .agg(
            F.min("id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
            F.sort_array(
                F.collect_list(F.when(F.col("__rn") <= max_group_size, F.col("id")))
            ).alias("ids"),
        )
    )


def streaming_exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """First-seen-wins exact dedup over a DOCUMENT STREAM (or batch — same
    API): emit each content digest's first arrival, drop every later copy.

    ``dropDuplicates`` on a streaming DataFrame keeps the seen-digest set
    in the state store ACROSS micro-batches — exactly the semantics an
    ingest pipeline needs (a re-crawled page arriving hours later is still
    a duplicate). State grows with |distinct digests|, which is inherent
    to exact dedup (the seen-set IS the operator); at warehouse scale back
    it with the RocksDB state store provider, or bound the horizon with
    ``dropDuplicatesWithinWatermark`` when duplicates only arrive within a
    known window. Cross-batch behavior is pinned by
    ``test_streaming_dedup_dedups_across_microbatches``."""
    return docs.select(
        F.col(id_col),
        F.col(text_col),
        F.md5(normalized(F.col(text_col))).alias("digest"),
    ).dropDuplicates(["digest"])


def _shingles_from_tokens(toks: Column, text: Column, k: int) -> Column:
    """k-shingles from a tokens ATTRIBUTE (not expression).

    CRITICAL perf contract: ``toks`` must be a bound column attribute, not
    an inline ``split(...)`` expression — expressions referenced inside a
    ``transform`` lambda are re-evaluated per array element, so an inline
    split would re-tokenize the document once per shingle (measured ~40×
    slowdown at sf0.1). Use ``shingles_df`` which stages the projections.
    """
    n = F.size(toks)
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            )
        ),
    ).otherwise(F.array(F.trim(text)))


def shingle_tokens(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of a document (array<string>).

    Column-level convenience for small inputs/tests; the scan pipelines use
    ``shingles_df`` (staged projections) — see _shingles_from_tokens note.
    """
    return _shingles_from_tokens(F.split(F.trim(text), r"\s+"), text, k)


def shingles_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, sh): staged tokenize → shingle projection (each intermediate is
    an attribute by the time a lambda touches it)."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__text"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
    )
    return toks.select(
        "id",
        _shingles_from_tokens(F.col("__toks"), F.col("__text"), k).alias("sh"),
    )


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature (array<bigint>, length ``num_hashes``) from a
    *pre-hashed* or string shingle array — see ``minhash_signatures_df``
    for the staged (CSE-safe) form used by the pipeline.

    Hash family: xxhash64(shingle, seed_i) — independent 64-bit hashes per
    seed, all evaluated inside codegen.
    """
    return F.array(
        *[
            F.array_min(F.transform(shingles, lambda s: F.xxhash64(s, F.lit(i))))
            for i in range(num_hashes)
        ]
    )


def _mix64(x, seed: int):
    """splitmix64-style avalanche over a numpy uint64 array — the MinHash
    hash family h_i(x) = mix(x ^ seed_i), all vectorized."""
    import numpy as np

    x = x ^ np.uint64(seed & 0xFFFFFFFFFFFFFFFF)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, sh, sig): hashed shingle set (array<long>) + MinHash signature
    (array<long>, length ``num_hashes``), via ONE Arrow-batched pandas UDF.

    Why a UDF when the rule is "UDFs are the slow path": Spark evaluates
    higher-order array functions (transform / array_min / aggregate)
    interpreted, outside whole-stage codegen — the previous all-Catalyst
    version (1 shingle transform + 1 hash transform + 16 array_min
    transforms) measured ~3 s at sf0.1 for the signatures alone, while
    this vectorized numpy form is ~0.4 s. The shingle set is emitted as
    64-bit hashes (not strings): downstream exact-Jaccard verification
    intersects long arrays, identical semantics modulo 2⁻⁶⁴ collisions.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as SF

    seeds = [0x9E3779B97F4A7C15 * (i + 1) & 0xFFFFFFFFFFFFFFFF for i in range(num_hashes)]

    @SF.pandas_udf("struct<sh: array<long>, sig: array<long>>")
    def sketch(texts: pd.Series) -> pd.DataFrame:
        from hashlib import blake2b

        # per-doc python work is just hashing; the 16-seed min-family is
        # batch-vectorized over ALL docs at once (flat array + reduceat) —
        # per-doc numpy calls were overhead-bound (~2.5 s → ~0.6 s at sf0.1)
        doc_hashes: list[list[int]] = []
        for t in texts:
            w = t.strip().split()
            if len(w) >= k:
                raw = {
                    int.from_bytes(
                        blake2b(" ".join(w[i : i + k]).encode(), digest_size=8).digest(),
                        "big",
                    )
                    for i in range(len(w) - k + 1)
                }
            else:
                raw = {
                    int.from_bytes(
                        blake2b(t.strip().encode(), digest_size=8).digest(), "big"
                    )
                }
            doc_hashes.append(sorted(raw))
        if not doc_hashes:
            return pd.DataFrame({"sh": [], "sig": []})
        counts = np.array([len(h) for h in doc_hashes])
        flat = np.array(
            [v for h in doc_hashes for v in h], dtype=np.uint64
        )
        offsets = np.zeros(len(counts), dtype=np.intp)
        np.cumsum(counts[:-1], out=offsets[1:])
        with np.errstate(over="ignore"):
            # (num_hashes, n_docs): one mix + one segmented min per seed
            sig_mat = np.stack(
                [
                    np.minimum.reduceat(_mix64(flat, s), offsets)
                    for s in seeds
                ]
            ).astype(np.int64)
        # .astype(int64) wraps ≥2^63 to the signed range (unsafe cast),
        # which is exactly the reinterpretation Spark's LongType needs
        shs = [
            [int(v) for v in np.array(h, dtype=np.uint64).astype(np.int64)]
            for h in doc_hashes
        ]
        sigs = sig_mat.T.tolist()
        return pd.DataFrame({"sh": shs, "sig": sigs})

    return spread_for_cpu(df).select(
        F.col(id_col).alias("id"), sketch(F.col(text_col)).alias("__sk")
    ).select("id", F.col("__sk.sh").alias("sh"), F.col("__sk.sig").alias("sig"))


def signature_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Split a signature into ``bands`` hashed bands: array<struct<band_id,
    band_hash>>. Two docs collide in a band iff that band's rows all match."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)]
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int = 200,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b), deduplicated across bands.

    Plan shape: scan → per-doc signature (no shuffle) → explode bands →
    shuffle on (band_id, band_hash) → within-bucket self-join → distinct
    pairs. ``max_bucket_size`` drops degenerate buckets before the join to
    bound the pair explosion (skew guard)."""
    sigs = minhash_signatures_df(df, text_col, id_col, k, num_hashes)
    return candidates_from_signatures(sigs, num_hashes, bands, max_bucket_size)


def spread_for_cpu(df: DataFrame) -> DataFrame:
    """Repartition a BATCH frame up to the cluster's core count when its
    scan has fewer splits — the per-doc sketch UDFs below are pure CPU and
    their parallelism is otherwise pinned to parquet row-groups (at bench
    SF the whole documents table is ONE split, serializing the UDF on one
    of 32 cores). At 100 TB scans have ≫ cores splits and this is a no-op,
    so full-scale plans never pay the raw-text shuffle. Streaming frames
    pass through untouched (micro-batch parallelism is source-controlled,
    and .rdd is not available pre-materialization)."""
    if df.isStreaming:
        return df
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def span_fingerprints_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 40,
    s: int = 10,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *keep_cols, span_hash): winnowed span fingerprints per document
    (Schleimer et al., SIGMOD'03) — every w-char window md5-hashed, each
    sliding window of s consecutive hashes contributing its MINIMUM, the
    per-doc distinct minima exploded to rows. Content-defined selection
    makes the fingerprint set alignment-free: any shared run of
    >= w+s-1 chars yields a common fingerprint.

    ONE formula in the repo: the batch span-dedup queries and the
    streaming duplicate detector both call this, so batch and stream
    bucket on identical hashes (the same unification contract as
    band_explode for MinHash). All work happens inside array HOFs on the
    document row — no per-offset explode, no window function, no shuffle
    before whatever aggregation the caller adds."""
    hashed = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in keep_cols],
        F.expr(
            f"transform(sequence(1, greatest(length({text_col}) - {w - 1}, 1)),"
            f" i -> md5(substring({text_col}, i, {w})))"
        ).alias("hs"),
    )
    # md5 minima compare lexicographically on lowercase hex — identical
    # ordering in Spark and DuckDB. slice() clamps short tails on both.
    fps = F.expr(
        f"array_distinct(transform("
        f"  sequence(1, greatest(size(hs) - {s - 1}, 1)),"
        f"  i -> array_min(slice(hs, i, {s}))))"
    )
    return hashed.select("id", *keep_cols, F.explode(fps).alias("span_hash"))


def band_explode(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band_id, band_hash) — ``bands`` skinny rows per doc from a
    precomputed (id, sig) frame. Built ON signature_bands (one banding
    formula in the repo) and shared by the batch candidate generator and
    the streaming twin, so both bucket on IDENTICAL band hashes (the
    band/stream unification contract: same banding ⇒ same candidate
    space)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    exploded = sigs.select(
        "id",
        F.explode(signature_bands(F.col("sig"), bands, rows_per_band)).alias("b"),
    )
    return exploded.select("id", "b.band_id", "b.band_hash")


def candidates_from_signatures(
    sigs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int = 200,
) -> DataFrame:
    """LSH banding → candidate pairs from a precomputed (id, sig) frame —
    split out so callers that also need the shingle sets (verification)
    compute the signature UDF ONCE and reuse it for both stages."""
    # (id, band_id, band_hash) — 4 skinny rows per doc, then ONE shuffle
    # groups each band bucket into a sorted id list and the pairs are
    # generated in-plan (no bucket-count join, no self-join, no persist:
    # the earlier join-based form had 2 more shuffles and enough codegen
    # stages that first-execution compile dominated its bench time).
    # ``max_bucket_size`` drops degenerate buckets (boilerplate text) and
    # with it the quadratic pair blowup — the LSH skew guard.
    exploded = band_explode(sigs, num_hashes, bands)
    lists = (
        exploded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )
    pairs = lists.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.slice("ids", 1, F.size("ids") - 1),
                    lambda x, i: F.transform(
                        F.slice("ids", i + 2, F.size("ids")),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return pairs.distinct()


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def verified_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    persist: bool = True,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact shingle Jaccard ≥
    ``threshold``. Returns (id_a, id_b, jaccard_sim). Only candidate pairs
    ever rejoin the shingle arrays, so the text is re-read for a tiny
    fraction of the corpus. Verification intersects the *hashed* shingle
    sets (array<long>) from minhash_signatures_df — same Jaccard modulo
    2⁻⁶⁴ hash collisions, and long-array intersection is far cheaper than
    string-array intersection.

    The signature frame is computed ONCE and persisted: candidates (banding)
    and verification (shingle sets) both branch off it, and without the
    persist Spark would run the signature UDF — the most expensive stage —
    once per branch (2 full corpus scans + 3 UDF evaluations instead of 1).

    CALLER CONTRACT (``persist=True``, the default): the returned plan
    references a persisted intermediate that lives until the caller runs
    ``spark.catalog.clearCache()`` (what bench.py and the driver do after
    each query) or unpersists it. Long-lived sessions embedding this
    operator should pass ``persist=False`` — identical results, at the
    cost of re-running the signature UDF once per plan branch
    (``test_verified_near_dup_no_cache_leak`` pins both properties)."""
    sigs = minhash_signatures_df(df, text_col, id_col, k, num_hashes)
    if persist:
        sigs = sigs.persist()
    cands = candidates_from_signatures(sigs, num_hashes, bands)
    sh = sigs.select("id", "sh")
    pairs = (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
    )
    return pairs.filter(F.col("jaccard_sim") >= threshold).select(
        "id_a", "id_b", F.round("jaccard_sim", 6).alias("jaccard_sim")
    )


# ---------------------------------------------------------------------------
# SimHash: near-dup detection via Hamming distance on a 64-bit sketch.
# ---------------------------------------------------------------------------


def simhash_df(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """(id, simhash): 64-bit SimHash of the token multiset.

    Each token's 64-bit hash votes ±1 per bit position; the sign of each
    position's total becomes that bit. Vectorized pandas UDF: the previous
    all-Catalyst form ran 64 interpreted ``F.aggregate`` folds per document
    (higher-order functions bypass codegen) and was the slowest query in
    the bench at sf0.1 (~7 s); one numpy broadcast over the token-hash
    matrix does the same votes in one shot (~0.4 s).

    Token hash family: the LOWER 8 bytes of md5, little-endian — i.e.
    exactly DuckDB's ``md5_number_lower``, so the sketch is bit-identical
    across engines and the near-dup query is oracle-checkable. Bit i of the
    sketch is ``(h >> i) & 1`` — plain LSB-first indexing both engines
    express natively.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as SF

    assert bits == 64, "sketch is a LongType; 64 bits only"

    @SF.pandas_udf("long")
    def simhash64(texts: pd.Series) -> pd.Series:
        from hashlib import md5

        shifts = np.arange(64, dtype=np.uint64)
        weights = np.uint64(1) << shifts
        out = []
        for t in texts:
            w = t.strip().split()
            if not w:
                out.append(0)
                continue
            hs = np.frombuffer(
                b"".join(md5(tok.encode()).digest()[8:16] for tok in w),
                dtype="<u8",
            )
            # (n_tokens, 64) bit matrix, LSB-first → per-position votes
            bit_mat = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
            votes = bit_mat.sum(axis=0).astype(np.int64) * 2 - len(w)
            sim = weights[votes > 0].sum(dtype=np.uint64)
            out.append(int(sim.astype(np.int64)))
        return pd.Series(out)

    return spread_for_cpu(df).select(
        F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("simhash")
    )


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ ``max_hamming``.

    Blocking: the 64-bit sketch splits into 4 16-bit bands; any pair within
    Hamming distance 3 agrees exactly on ≥1 band (pigeonhole), so the
    candidate join is an equi-join on (band_id, band_value) — same skew-
    guarded bucket shape as MinHash-LSH, no O(n²) scan.
    """
    sh = simhash_df(df, text_col, id_col)
    bands = sh.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", b * 16).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("band_id", "band_value"),
    )
    # ONE shuffle: bucket → sorted (id, sketch) list; pairs + hamming are
    # generated in-plan (same single-shuffle shape as minhash_candidates —
    # the join-based form paid 2 more shuffles and its first-execution
    # codegen compile dominated bench time). Sorting by the id field makes
    # id_a < id_b structural.
    lists = (
        bands.groupBy("band_id", "band_value")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("id"), F.col("simhash")))
            ).alias("ms")
        )
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_bucket_size))
    )
    pairs = lists.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.slice("ms", 1, F.size("ms") - 1),
                    lambda x, i: F.transform(
                        F.slice("ms", i + 2, F.size("ms")),
                        lambda y: F.struct(
                            x["id"].alias("id_a"),
                            y["id"].alias("id_b"),
                            hamming_distance(x["simhash"], y["simhash"]).alias(
                                "hamming"
                            ),
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b", "p.hamming")
    return pairs.filter(F.col("hamming") <= max_hamming).distinct()


def auto_srp_params(
    n_rows: int,
    threshold: float = 0.95,
    target_recall: float = 0.95,
    max_tables: int = 128,
) -> tuple:
    """Scale-adaptive SRP blocking parameters: ``(n_tables,
    bits_per_table)`` for a corpus of ``n_rows`` vectors.

    ``bits = clamp(⌈log₂ n⌉ + 2, 8, 24)`` — the measured law from
    SCALING.md's 10× probe ("retuning bits 12→16 restores the
    flat-occupancy regime"): with 2^bits ≈ 4n buckets per table, expected
    random-pair collisions per table stay ≈ n²/2^bits ∝ n, i.e. the
    verify join grows linearly instead of quadratically.

    ``n_tables`` then comes from the OR-amplification recall formula at
    the decision boundary: a pair at exactly ``threshold`` cosine agrees
    per hyperplane with p = 1 − acos(threshold)/π, survives a table with
    p^bits, and is blocked by ANY of t tables with 1 − (1−p^bits)^t ≥
    target_recall ⇒ t = ⌈ln(1−target) / ln(1−p^bits)⌉. Boundary pairs
    are the hardest case, so every pair above threshold has ≥ the target
    recall. Capped at ``max_tables`` to bound the banding shuffle
    (∝ n·tables); 24 bits is the int64-weight ceiling that keeps a
    table's bucket space addressable without densifying."""
    import math

    bits = max(8, min(24, (max(n_rows, 2) - 1).bit_length() + 2))
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    per_table = p**bits
    if per_table >= 1.0:  # threshold == 1.0 → every table catches the pair
        return 1, bits
    tables = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - per_table))
    return max(1, min(max_tables, tables)), bits


def srp_bucket_codes_df(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 24,
    bits_per_table: int = 12,
    seed: int = 42,
) -> DataFrame:
    """(id, table_id, bucket): sign-random-projection codes for ``n_tables``
    INDEPENDENT hash tables of ``bits_per_table`` hyperplanes each.

    One Arrow-batched pandas UDF computes all n_tables × bits_per_table
    projections as a single (batch, dim) @ (dim, n_tables·bits) matmul —
    the same measured ~10× win over interpreted Catalyst HOF arithmetic as
    the MinHash signature UDF (see minhash_signatures_df). Hyperplanes are
    a deterministic ``np.random.RandomState(seed)`` draw shipped in the
    closure ("broadcast the model"), so codes are reproducible across
    workers and rounds."""
    import numpy as np
    from pyspark.sql import functions as SF

    rng = np.random.RandomState(seed)
    planes = rng.randn(dim, n_tables * bits_per_table)
    weights = 1 << np.arange(bits_per_table, dtype=np.int64)

    @SF.pandas_udf("array<long>")
    def codes(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype="object")
        x = np.array(vecs.tolist(), dtype=np.float64)
        bits = (x @ planes) >= 0  # (batch, n_tables * bits_per_table)
        bits = bits.reshape(len(x), n_tables, bits_per_table)
        out = (bits * weights).sum(axis=2)  # (batch, n_tables)
        return pd.Series(out.tolist())

    return df.select(
        F.col(id_col).alias("id"), F.posexplode(codes(F.col(vec_col))).alias("table_id", "bucket")
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int | None = 24,
    bits_per_table: int | None = 12,
    seed: int = 42,
    max_bucket_size: int = 500,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ threshold) via OR-amplified
    sign-random-projection blocking + exact-cosine verification.

    Blocking runs ``n_tables`` independent hyperplane tables of
    ``bits_per_table`` bits each; a pair is a candidate if it collides in
    ANY table (OR-amplification — the same recall trick as MinHash-LSH
    bands).  With collision probability p = 1 − θ/π per plane, per-pair
    recall is 1 − (1 − p^bits)^tables: at cos 0.90 the defaults give ≈0.93
    theoretical / ≈0.97 measured on borderline planted pairs (test
    ``test_embedding_near_dup_borderline_recall``), versus ≈0.29 for the
    previous single 8-bit block, while the candidate rate on random
    corpus pairs stays ≈0.6% (p ≈ ½ per plane ⇒ ~2⁻¹² per table).
    ``bits_per_table`` is the selectivity knob — grow it with log₂(corpus)
    so buckets stay small; ``n_tables`` is the recall knob. Measured on a
    10× corpus (20 k rotated-copy vectors, SCALING.md): the defaults'
    fixed 2¹² bucket space densifies quadratically (11.6 s, verify-bound),
    while retuning to bits=16 / tables=32 for the larger corpus runs in
    5.9 s (banding-bound, recall ≈0.94 at cos 0.9) — i.e. bits ≈
    log₂(n)+2, then pick tables from the recall formula. The two costs:
    banding shuffle ∝ n·tables, verification ∝ n²·2^(−bits)·tables.

    Exact cosine verifies each candidate (verify-after-block, same shape
    as MinHash → Jaccard), so false candidates cost only the verify join
    and the emitted pair set is exact over every blocked pair.

    Passing ``None`` for either knob derives it from the corpus size via
    ``auto_srp_params`` (bits ≈ log₂(n)+2 keeps bucket occupancy flat;
    tables from the recall formula at the threshold boundary) — the
    VERDICT-r6 scale fix, turning SCALING.md's documented retuning law
    into the default. One ``df.count()`` at build time; pass explicit
    ints when an oracle must replay the exact blocking."""
    from tabular_cdc_bootstrapper_spark.functions.similarity import cosine_similarity

    if n_tables is None or bits_per_table is None:
        auto_tables, auto_bits = auto_srp_params(df.count(), threshold)
        n_tables = auto_tables if n_tables is None else n_tables
        bits_per_table = auto_bits if bits_per_table is None else bits_per_table

    b = srp_bucket_codes_df(df, id_col, vec_col, dim, n_tables, bits_per_table, seed)
    # one skinny shuffle (id, table_id, bucket) → sorted id lists with the
    # skew-guard cap, candidate pairs generated in-plan; the vectors are
    # joined back for candidates ONLY (same verify-after-block shape as
    # MinHash → Jaccard — at corpus scale the candidate set ≪ corpus, so
    # the verify join moves almost nothing)
    lists = (
        b.groupBy("table_id", "bucket")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )
    cands = lists.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.slice("ids", 1, F.size("ids") - 1),
                    lambda x, i: F.transform(
                        F.slice("ids", i + 2, F.size("ids")),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b").distinct()
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", cosine_similarity(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def auto_semdedup_k(
    n_rows: int, target_cluster_size: int = 256, floor: int = 8,
    cap: int = 65536,
) -> int:
    """Scale-adaptive SemDeDup cluster count: ``⌈n / target_cluster_size⌉``
    clamped to [floor, cap] — k must grow ∝ n to keep cluster occupancy
    (and therefore the per-cluster quadratic pair term) CONSTANT as the
    corpus grows. SCALING.md's 10×-corpus probe measured fixed k=8 at
    4.6× wall for 10× data (pair term ∝ n²/k) while k ∝ n stayed flat at
    1.06× — the same selectivity-scales-with-n law already codified for
    SRP bits (auto_srp_params) and IVF lists (auto_n_centroids). The
    paper's operating point is the same shape: ~1e5 clusters for 5e9
    points ≈ 5e4 per cluster (arXiv:2303.09540 §3); 256 here keeps the
    within-cluster scan cheap at test scale while the ratio, not the
    constant, is the contract. The cap bounds the centroid model
    broadcast (65536 × dim ints — the same "broadcast the model" ceiling
    as IVF); past it, occupancy grows again and a coarser pre-partition
    (e.g. shard by SRP bucket, SemDeDup per shard) is the next tier."""
    import math

    return max(floor, min(cap, math.ceil(max(n_rows, 1) / target_cluster_size)))


def semantic_dedup(
    df: DataFrame,
    k: int | None = 8,
    iters: int = 2,
    tau_num: int = 19,
    tau_den: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication for web-scale pretraining corpora: k-means the
    embedding space, then within each cluster drop every point whose
    cosine similarity to a LOWER-id clustermate reaches
    ``tau_num/tau_den``. Unlike the SRP/MinHash families (which block by
    hash collisions), the k-means partition IS the blocking structure —
    semantically close points land in the same cluster, so the pair scan
    is per-cluster, never corpus×corpus.

    Returns (id, cid, is_dup): every corpus point with its cluster and a
    deterministic drop flag (keep-lowest-id per near-dup relation — the
    same tie-break rule as the rest of the dedup family; the paper keeps
    the point farthest from the centroid, which is RNG-order-dependent
    in their implementation — lowest-id is the reproducible equivalent).

    Exactness: the corpus is int64-quantized (functions/clustering.py
    scheme), so the threshold test runs in EXACT integer arithmetic —
    ``cos(u,v) ≥ t/d  ⟺  dot > 0 ∧ d²·dot² ≥ t²·‖u‖²·‖v‖²`` — with the
    squares in decimal(38,0) (dot ≤ ~2^46 for dim ≤ 64 ⇒ d²·dot² ≤
    ~2^101 < 10^38). No float boundary flips, so a DuckDB oracle
    (HUGEINT on its side) replays the decision bit-for-bit.

    Scale contract (100 TB): cluster count must grow with the corpus —
    k ≈ n/⟨target cluster size⟩ (the paper uses ~1e5 clusters for 5e9
    points; same selectivity-scales-with-n law as auto_srp_params /
    auto_n_centroids). ``k=None`` derives it from one corpus count via
    ``auto_semdedup_k`` (VERDICT r8 task 2 — SCALING.md measured fixed
    k=8 at 4.6× wall for 10× corpus, k ∝ n flat at 1.06×); pass an
    explicit int when an oracle must replay the exact cluster structure.
    The pair join shuffles on cid and is quadratic only WITHIN a
    cluster; ``max_cluster_size`` is the skew guard — clusters above it
    are excluded from the pair scan (nothing dropped there), mirroring
    the LSH families' max_bucket_size cap.
    """
    from tabular_cdc_bootstrapper_spark.functions.clustering import (
        kmeans_fit_predict,
    )

    if k is None:
        k = auto_semdedup_k(df.count())
    assigned = kmeans_fit_predict(
        df, vec_col, id_col, k=k, iters=iters, keep_vec=True
    ).localCheckpoint(eager=True)  # reused 3×: both pair sides + final mark
    pts = assigned.withColumn(
        "nrm",
        F.aggregate(F.col("qv"), F.lit(0).cast("long"), lambda a, x: a + x * x),
    )
    if max_cluster_size is not None:
        sizes = pts.groupBy("cid").agg(F.count("*").alias("csz"))
        scannable = pts.join(
            sizes.filter(F.col("csz") <= max_cluster_size).select("cid"), "cid"
        )
    else:
        scannable = pts
    left = scannable.select(
        F.col("cid"),
        F.col("id").alias("id_a"),
        F.col("qv").alias("qv_a"),
        F.col("nrm").alias("nrm_a"),
    )
    right = scannable.select(
        F.col("cid"),
        F.col("id").alias("id_b"),
        F.col("qv").alias("qv_b"),
        F.col("nrm").alias("nrm_b"),
    )
    dec = "decimal(38,0)"
    dot = F.aggregate(
        F.zip_with("qv_a", "qv_b", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    dotd = F.col("dot").cast(dec)
    dups = (
        left.join(right, "cid")
        .filter(F.col("id_b") < F.col("id_a"))
        .withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(tau_den * tau_den).cast(dec) * dotd * dotd
                >= F.lit(tau_num * tau_num).cast(dec)
                * F.col("nrm_a").cast(dec)
                * F.col("nrm_b").cast(dec)
            )
        )
        .select(F.col("id_a").alias("id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return pts.join(dups, "id", "left").select(
        "id", "cid", F.coalesce("is_dup", F.lit(False)).alias("is_dup")
    )
