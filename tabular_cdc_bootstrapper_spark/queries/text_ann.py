"""North-star text/dedup/similarity/ANN registry entries.

Split from the single-file registry (VERDICT r9 item 3); every entry
registers via the shared ``@query`` decorator in ``_registry``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from tabular_cdc_bootstrapper_spark.operators.cdc import apply_changelog
from tabular_cdc_bootstrapper_spark.queries._registry import (_sql_cos, _t, query)
from tabular_cdc_bootstrapper_spark.queries.cdc_state import derived_orders_changelog


# ---------------------------------------------------------------------------
# North-star surface (BASELINE.json): text analysis, dedup, similarity
# search, multimodal plumbing over documents/embeddings (SURVEY.md §2.10).
# ---------------------------------------------------------------------------


@query(
    "text_stats_by_lang",
    oracle=r"""
    WITH stats AS (
        SELECT lang,
               length(text) AS n_chars,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
               CASE WHEN length(text) > 0
                    THEN CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS DOUBLE) / length(text)
                    ELSE 0.0 END AS punct_ratio
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           ROUND(AVG(n_tokens), 4) AS avg_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(punct_ratio), 6) AS avg_punct_ratio
    FROM stats GROUP BY lang
    """,
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics built on with_text_stats (UDF-free)."""
    from tabular_cdc_bootstrapper_spark.functions.text import with_text_stats

    d = with_text_stats(_t(spark, sf_dir, "documents"))
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("stat_n_chars"), 4).alias("avg_chars"),
        F.round(F.avg("stat_n_tokens"), 4).alias("avg_tokens"),
        F.sum("stat_n_tokens").alias("total_tokens"),
        F.round(F.avg("stat_punct_ratio"), 6).alias("avg_punct_ratio"),
    )


@query(
    "lang_id_confusion",
    oracle=r"""
    WITH scored AS (
        SELECT lang AS labeled_lang,
               list_aggregate([
                   {'score': length(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')), 'lang': 'de'},
                   {'score': length(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b')), 'lang': 'en'},
                   {'score': length(regexp_extract_all(lower(text), '\b(el|la|de|que|es)\b')), 'lang': 'es'},
                   {'score': length(regexp_extract_all(lower(text), '\b(le|la|et|les|est)\b')), 'lang': 'fr'},
                   {'score': length(regexp_extract_all(lower(text), '\b(的|是|了|在|我)\b')), 'lang': 'zh'}
               ], 'max') AS best
        FROM documents
    )
    SELECT labeled_lang,
           CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_guess,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-heuristic language ID vs the labeled lang column."""
    from tabular_cdc_bootstrapper_spark.functions.text import with_lang_guess

    d = with_lang_guess(_t(spark, sf_dir, "documents"))
    return (
        d.groupBy(F.col("lang").alias("labeled_lang"), "lang_guess")
        .agg(F.count("*").alias("n"))
    )


@query(
    "dedup_exact_groups",
    oracle=r"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        -- deterministic planted duplicates: every 50th doc re-appears with
        -- an offset id (same derivation on the Spark side)
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
    ),
    hashed AS (
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS digest,
               doc_id
        FROM corpus
    )
    SELECT digest,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM hashed GROUP BY digest HAVING COUNT(*) > 1
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups (hash-groupBy dedup, north star). The fixture
    corpus has no natural byte-identical dups, so every 50th document is
    re-appended under an offset id — deterministically on both sides — to
    keep the check non-degenerate."""
    from tabular_cdc_bootstrapper_spark.functions.dedup import exact_dedup_groups

    d = _t(spark, sf_dir, "documents")
    planted = d.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    corpus = d.select("doc_id", "text").unionByName(planted.select("doc_id", "text"))
    g = exact_dedup_groups(corpus)
    return g.filter(F.col("n_copies") > 1).select("digest", "canonical_id", "n_copies")


@query(
    "top_terms",
    oracle=r"""
    WITH tokens AS (
        SELECT lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS term
        FROM documents WHERE length(trim(text)) > 0
    )
    SELECT term, CAST(COUNT(*) AS BIGINT) AS n
    FROM tokens GROUP BY term
    ORDER BY n DESC, term LIMIT 20
    """,
)
def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies: explode + hash agg + top-k (map-side partial
    agg + TakeOrderedAndProject). ``lower`` runs once per DOCUMENT before
    the split, not once per exploded token — same result (lowercasing never
    creates or destroys the whitespace the split keys on), ~n_tokens fewer
    string rewrites per doc."""
    d = _t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return (
        d.select(F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(20)
    )


@query(
    "cosine_topk",
    oracle="""
    WITH q AS (
        SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5
    ),
    pairs AS (
        SELECT q.qid, e.vec_id,
               list_sum(list_transform(list_zip(q.qv, e.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
               (sqrt(list_sum(list_transform(q.qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
        FROM q, embeddings e
        WHERE e.vec_id <> q.qid
    ),
    ranked AS (
        SELECT qid, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
        FROM pairs
    )
    SELECT qid, vec_id, ROUND(sim, 6) AS cos_sim, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 10
    """,
)
def cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force ANN baseline: top-10 cosine neighbors for the
    first 5 vectors. Native HOF arithmetic, broadcast query side."""
    from tabular_cdc_bootstrapper_spark.functions.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    return cosine_topk(emb, q, k=10)


@query(
    "int8_quantized_topk",
    oracle="""
    WITH q8 AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) *
                   (CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END) + 0.5)
                   AS INT)) AS qq
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding,
                         x -> abs(CAST(x AS DOUBLE)))) AS mx
              FROM embeddings)
    ), pairs AS (
        SELECT q.vec_id AS qid, c.vec_id,
               CAST(list_sum(list_transform(list_zip(q.qq, c.qq),
                    x -> CAST(x[1] AS BIGINT) * CAST(x[2] AS BIGINT)))
                    AS BIGINT) AS dot,
               CAST(list_sum(list_transform(q.qq,
                    x -> CAST(x AS BIGINT) * CAST(x AS BIGINT)))
                    AS BIGINT) AS n2a,
               CAST(list_sum(list_transform(c.qq,
                    x -> CAST(x AS BIGINT) * CAST(x AS BIGINT)))
                    AS BIGINT) AS n2b
        FROM q8 q JOIN q8 c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 5
    ), sims AS (
        SELECT qid, vec_id,
               CASE WHEN n2a > 0 AND n2b > 0
                    THEN dot / (sqrt(CAST(n2a AS DOUBLE))
                                * sqrt(CAST(n2b AS DOUBLE)))
                    ELSE 0.0 END AS sim
        FROM pairs
    ), ranked AS (
        SELECT qid, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM sims
    )
    SELECT qid, vec_id, ROUND(sim, 6) AS q_cos, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 10
    """,
)
def int8_quantized_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding quantization tier: top-10 neighbors by cosine over
    symmetric int8 codes (the compact-storage/compact-shuffle form a
    100 TB embedding pipeline actually searches). Dot products and norms
    are exact integers — the one query family with NO float-summation-
    order caveat; see functions/similarity.py:int8_cosine_topk."""
    from tabular_cdc_bootstrapper_spark.functions.similarity import int8_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    return int8_cosine_topk(emb, q, k=10)


@query(
    "pq_adc_topk",
    oracle="""
    WITH nrm0 AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ), norm AS (
        SELECT vec_id,
               list_transform(embedding, x -> CASE WHEN nrm > 0
                   THEN CAST(x AS DOUBLE) / nrm ELSE 0.0 END) AS v
        FROM nrm0
    ), cb AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, v
        FROM norm ORDER BY vec_id LIMIT 16
    ), subs AS (
        SELECT CAST(unnest(range(0, 8)) AS BIGINT) AS s
    ), dists AS (
        SELECT n.vec_id, subs.s, cb.code,
               list_sum(list_transform(
                   list_zip(n.v[subs.s*8+1 : subs.s*8+8],
                            cb.v[subs.s*8+1 : subs.s*8+8]),
                   p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
        FROM norm n CROSS JOIN subs CROSS JOIN cb
    ), enc AS (
        SELECT vec_id, s, code FROM (
            SELECT vec_id, s, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d, code) AS rn
            FROM dists) WHERE rn = 1
    ), terms AS (
        SELECT q.vec_id AS qid, e.vec_id, e.s,
               list_sum(list_transform(
                   list_zip(q.v[e.s*8+1 : e.s*8+8], cb.v[e.s*8+1 : e.s*8+8]),
                   p -> p[1] * p[2])) AS t
        FROM enc e
        JOIN cb ON cb.code = e.code
        JOIN norm q ON q.vec_id < 5 AND q.vec_id <> e.vec_id
    ), adc AS (
        -- list_sum over an s-ORDERED list, not SUM over unordered group
        -- rows: float addition order must match Spark's fold over
        -- sequence(0..7) exactly
        SELECT qid, vec_id, list_sum(list(t ORDER BY s)) AS adc
        FROM terms GROUP BY qid, vec_id
    ), short AS (
        SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY adc DESC, vec_id) AS srn
            FROM adc) WHERE srn <= 50
    ), rerank AS (
        SELECT s.qid, s.vec_id,
               list_sum(list_transform(list_zip(q.v, c.v),
                   p -> p[1] * p[2])) AS sim
        FROM short s
        JOIN norm q ON q.vec_id = s.qid
        JOIN norm c ON c.vec_id = s.vec_id
    )
    SELECT qid, vec_id, ROUND(sim, 6) AS cos_sim, CAST(rn AS INT) AS rn
    FROM (SELECT qid, vec_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY sim DESC, vec_id) AS rn
          FROM rerank)
    WHERE rn <= 10
    """,
)
def pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the tier past int8): 8 subspaces × 16
    codes from the lowest-id normalized sample (oracle-replayable, the
    ivf 'lowest_id' strategy), Arrow-batched encode to 8 bytes/vector,
    JVM-side asymmetric-distance shortlist against the literal codebook,
    exact-cosine rerank of the top-50 — so the OUTPUT is exact-ranked
    over the shortlist and quantization costs recall only (floor pinned
    in tests). See functions/similarity.py:pq_adc_topk for the 100 TB
    shape (codes written once at ingest; the float column never ships to
    search)."""
    from tabular_cdc_bootstrapper_spark.functions.similarity import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    return pq_adc_topk(emb, q, k=10)


@query(
    "minhash_near_duplicates",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS w
        FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3 THEN
                   list_distinct(list_transform(range(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))
               ELSE [trim(text)] END AS s
        FROM toks
    ), sizes AS (
        SELECT doc_id, len(s) AS n FROM sh
    ), ex AS (
        SELECT doc_id, unnest(s) AS g FROM sh
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS jaccard_sim
    FROM common
    JOIN sizes s1 ON id_a = s1.doc_id
    JOIN sizes s2 ON id_b = s2.doc_id
    WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= 0.5
    """,
)
def minhash_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates verified by exact shingle Jaccard.

    The oracle enumerates the TRUE pair set (exact Jaccard ≥ 0.5 via an
    inverted-index join); the Spark side must therefore reach recall 1 on
    the fixture. Registry parameters use 8 bands × 2 rows: every true pair
    in the fixture has Jaccard ≥ 0.8 (checked per SF via this oracle), so
    the per-pair miss probability is ≤ (1-0.8²)^8 ≈ 3e-4 — and on a fixed
    dataset + fixed hash family recall is a deterministic fact verified by
    this oracle row at every SF. (16 single-row bands would guarantee
    ≤1.5e-5 even at j=0.5, but any globally-common shingle then wins a
    band seat in thousands of docs — measured 157 k candidate pairs at
    sf0.1 vs ~1 k with 2-row bands; 2-row bands are the scale shape.)
    Verification then computes EXACT Jaccard on the hashed shingle sets,
    so no false positives survive either."""
    from tabular_cdc_bootstrapper_spark.functions.dedup import verified_near_duplicates

    return verified_near_duplicates(
        _t(spark, sf_dir, "documents"), threshold=0.5, num_hashes=16, bands=8
    )


def _srp_lsh_oracle() -> str:
    """Replicates lsh_bucketed_topk(dim=64, k=10, n_planes=4, n_probes=2,
    seed=42) exactly: the deterministic hyperplanes are inlined as SQL
    literals (repr() round-trips doubles bit-exactly), so both engines
    compute identical buckets, probe sets, candidates, and ranks — the
    'approximate' algorithm is still a deterministic function of its
    inputs, which is what makes it oracle-checkable."""
    from tabular_cdc_bootstrapper_spark.functions.similarity import random_hyperplanes

    planes = random_hyperplanes(64, 4, seed=42)
    bits = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(w) for w in plane) + "]"
        dot = (
            f"list_sum(list_transform(list_zip(embedding, {lit}), "
            "x -> CAST(x[1] AS DOUBLE) * x[2]))"
        )
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << (len(planes) - 1 - i)} ELSE 0 END)")
    bucket = " + ".join(bits)
    return f"""
    WITH c AS (
        SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
    ), q AS (
        SELECT vec_id AS qid, embedding AS qv, bucket AS qbucket
        FROM c WHERE vec_id < 5
    ), probes AS (
        SELECT qid, qv, unnest(list_distinct([qbucket, xor(qbucket, 1)])) AS bucket
        FROM q
    ), scored AS (
        SELECT p.qid, c.vec_id, {_sql_cos("p.qv", "c.embedding")} AS sim
        FROM probes p JOIN c USING (bucket) WHERE c.vec_id <> p.qid
    ), ranked AS (
        SELECT qid, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
        FROM scored
    )
    SELECT qid, vec_id, ROUND(sim, 6) AS cos_sim, CAST(rn AS INT) AS rn
    FROM ranked WHERE rn <= 10
    """


@query("ann_lsh_topk", oracle=_srp_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k — the 100 TB scale path for
    similarity search; recall vs brute force asserted in tests, and the
    full bucket→probe→rank pipeline replicated by the oracle (see
    _srp_lsh_oracle)."""
    from tabular_cdc_bootstrapper_spark.functions.similarity import lsh_bucketed_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    return lsh_bucketed_topk(emb, q, dim=64, k=10, n_planes=4, n_probes=2)


@query(
    "document_chunks",
    oracle=r"""
    WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
        WHERE length(trim(text)) > 0
    ),
    s AS (
        SELECT doc_id, toks, gs.start
        FROM d, LATERAL (
            SELECT unnest(range(
                0, greatest(CAST(len(toks) AS BIGINT) - 16, 1), 48
            )) AS start
        ) gs
    )
    SELECT doc_id,
           CAST(start // 48 AS BIGINT) AS chunk_idx,
           CAST(len(toks[start+1 : start+64]) AS BIGINT) AS n_tokens,
           md5(array_to_string(toks[start+1 : start+64], ' ')) AS chunk_md5
    FROM s
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window passage chunking (functions/text.py
    chunk_documents): documents → 64-token chunks at stride 48 (16-token
    overlap), the document→passage step every RAG / embedding-ingest
    pipeline runs before the ANN family gets involved. Shuffle-free
    narrow plan (tokenize → sequence → explode → slice, zero Exchanges —
    pinned in tests/test_plan_shapes.py), so the 100 TB cost is the text
    scan plus the ~1.6× chunk-row multiplier. The oracle replays the
    identical windowing in DuckDB (range() stop mirrors the
    start < max(n - overlap, 1) rule) and md5-fingerprints every chunk,
    so the driver hash-checks every chunk boundary and every token of
    content, not just counts."""
    from tabular_cdc_bootstrapper_spark.functions.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=64, stride=48
    )


@query(
    "doc_fingerprints",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS w
        FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3 THEN
                   list_distinct(list_transform(range(1, len(w) - 1),
                       i -> md5(w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])))
               ELSE [md5(text)] END AS s
        FROM toks
    )
    SELECT doc_id,
           md5(concat_ws('|', list_min(s), list_max(s), len(s))) AS fingerprint
    FROM sh
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-set digest fingerprint per document (winnowing-lite).

    The registry entry uses the md5 digest family so the fingerprint is
    bit-identical across engines (oracle-checkable); the xxhash64 family
    (with_fingerprint's default) is the cheaper in-plan production choice —
    same plan shape, different hash fn."""
    from tabular_cdc_bootstrapper_spark.functions.text import with_fingerprint

    return with_fingerprint(_t(spark, sf_dir, "documents"), algo="md5").select(
        "doc_id", "fingerprint"
    )


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS content_digest
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns → Arrow-batched feature extraction (stub codec;
    real plumbing — schema/batching/partitioning are production-shaped).
    Oracle-checkable because the synthetic media content is the documents'
    UTF-8 bytes and the digest is sha256 — both engines agree exactly."""
    from tabular_cdc_bootstrapper_spark.functions.multimodal import (
        extract_features,
        media_from_documents,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return extract_features(media).select("media_id", "n_bytes", "content_digest")


@query(
    "temporal_split_embargo",
    oracle="""
    SELECT CASE WHEN ts < TIMESTAMP '2024-01-20'          THEN 'train'
                WHEN ts < TIMESTAMP '2024-01-22'          THEN 'embargo'
                ELSE 'test' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           MIN(ts) AS min_ts,
           MAX(ts) AS max_ts
    FROM events GROUP BY 1
    """,
)
def temporal_split_embargo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/test split with an EMBARGO gap (purged
    time-series holdout, López de Prado 2018 ch.7): rows inside the
    embargo window train < [T−2d, T) < test are assigned to neither
    split, so label leakage through time-adjacent samples (a user's
    behavior just before the cutoff predicting their behavior just
    after) cannot cross the boundary. Complements the HASH splits
    (hash_split_counts / leakage_safe_split): those randomize i.i.d.
    data; this is the correct split when the data is a time series.
    Pure narrow CASE over the scan + one aggregate — the per-split
    min/max timestamps in the output ARE the no-overlap proof the
    oracle hashes."""
    e = _t(spark, sf_dir, "events")
    split = (
        F.when(F.col("ts") < F.lit("2024-01-20").cast("timestamp_ntz"), "train")
        .when(F.col("ts") < F.lit("2024-01-22").cast("timestamp_ntz"), "embargo")
        .otherwise("test")
    )
    return (
        e.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
    )


@query(
    "price_quartile_bins",
    oracle="""
    WITH o AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), q AS (
        SELECT quantile_cont(cents, 0.25) AS q1,
               quantile_cont(cents, 0.50) AS q2,
               quantile_cont(cents, 0.75) AS q3
        FROM o
    )
    SELECT CASE WHEN cents <= q1 THEN 1
                WHEN cents <= q2 THEN 2
                WHEN cents <= q3 THEN 3
                ELSE 4 END AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents
    FROM o CROSS JOIN q
    GROUP BY 1
    """,
)
def price_quartile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile binning (feature discretization — the quartile-bucket
    feature a training pipeline derives before embedding/crossing):
    edges from ONE distributed exact-percentile aggregate over integer
    cents (the mad_price_outliers integer-quantization rule: Spark
    F.percentile and DuckDB quantile_cont interpolate identically on
    integers), broadcast back as a 1-row frame, bins assigned by
    comparison. No global sort, no NTILE single-partition window — the
    fact is scanned twice (edges + assignment) and shuffles only the
    4-row bin aggregate."""
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    # (r16 note: the weighted-histogram form was tried and refuted here
    # too — 149.7k distinct cents over 150k rows; see mad_price_outliers)
    q = o.agg(
        F.percentile("cents", F.lit(0.25)).alias("q1"),
        F.percentile("cents", F.lit(0.50)).alias("q2"),
        F.percentile("cents", F.lit(0.75)).alias("q3"),
    )
    binned = o.crossJoin(F.broadcast(q)).select(
        "cents",
        F.when(F.col("cents") <= F.col("q1"), F.lit(1))
        .when(F.col("cents") <= F.col("q2"), F.lit(2))
        .when(F.col("cents") <= F.col("q3"), F.lit(3))
        .otherwise(F.lit(4))
        .alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
    )


@query(
    "mad_price_outliers",
    oracle="""
    WITH base AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ), li AS (
        SELECT * FROM base
        UNION ALL
        SELECT l_returnflag, cents * 20 AS cents
        FROM base WHERE cents % 997 = 0
    ), med AS (
        SELECT l_returnflag, median(cents) AS med
        FROM li GROUP BY l_returnflag
    ), madt AS (
        SELECT l.l_returnflag, med,
               median(abs(l.cents - med)) AS mad
        FROM li l JOIN med ON l.l_returnflag = med.l_returnflag
        GROUP BY l.l_returnflag, med
    )
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           m.med AS med_cents,
           m.mad AS mad_cents,
           CAST(COUNT(*) FILTER (abs(l.cents - m.med) > 3 * m.mad)
                AS BIGINT) AS n_outliers
    FROM li l JOIN madt m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag, m.med, m.mad
    """,
)
def mad_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    anomaly filter that, unlike stddev-based z-scores, is not dragged by
    the outliers it hunts. Two exact-median passes (F.percentile ↔
    DuckDB median), each a 3-row model broadcast back onto the fact —
    the fact never shuffles; the final flag count rides the same scan as
    the second pass.

    Prices are quantized to INTEGER CENTS first: on raw doubles the two
    engines' even-count interpolation differs by one ulp (Spark computes
    lo + (hi−lo)·0.5, DuckDB (lo+hi)/2 — measured one-cent disagreement
    at sf0.001), while on integers (and the half-integer deviations they
    produce) both formulas are exact and bit-identical.

    The fixture's uniform prices have no 3-MAD tail (max deviation ≈ 1.9
    MAD), so ×20 outliers are PLANTED deterministically on both engines
    (cents ≡ 0 mod 997 — the planted-input harness pattern): the flag
    path is hash-verified, not vacuously zero."""
    base = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    li = base.unionAll(
        base.filter(F.col("cents") % 997 == 0).select(
            "l_returnflag", (F.col("cents") * 20).alias("cents")
        )
    ).localCheckpoint(eager=True)  # 2 median passes + flag pass read the
    # 2-column frame from storage instead of re-scanning lineitem 6×.
    # (r16 note: a weighted-histogram form — groupBy(flag, cents).count()
    # + frequency-weighted percentiles — was tried per guide §2.3 and
    # REFUTED on this data: 583k distinct cents over 600k rows, so the
    # histogram compresses nothing and its extra full-width exchange is
    # pure cost. See OPTIMIZATION_r16.md.)
    med = li.groupBy("l_returnflag").agg(
        F.percentile("cents", F.lit(0.5)).alias("med")
    )
    with_med = li.join(F.broadcast(med), "l_returnflag")
    madt = with_med.groupBy("l_returnflag", "med").agg(
        F.percentile(F.abs(F.col("cents") - F.col("med")), F.lit(0.5)).alias(
            "mad"
        )
    )
    joined = li.join(F.broadcast(madt), "l_returnflag")
    return (
        joined.groupBy("l_returnflag", "med", "mad")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(
                F.when(
                    F.abs(F.col("cents") - F.col("med"))
                    > F.lit(3) * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            F.col("med").alias("med_cents"),
            F.col("mad").alias("mad_cents"),
            "n_outliers",
        )
    )


@query(
    "orders_constraint_report",
    oracle="""
    SELECT rule, n_violations, n_violations = 0 AS passed FROM (
        SELECT 'not_null(o_orderkey)' AS rule,
               CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL)
                    AS BIGINT) AS n_violations
        UNION ALL
        SELECT 'unique(o_orderkey)',
               CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey)
                            - COUNT(*) FILTER (o_orderkey IS NULL)
                     FROM orders) AS BIGINT)
        UNION ALL
        SELECT 'in_range(o_totalprice,0,300000)',
               CAST((SELECT COUNT(*) FROM orders
                     WHERE o_totalprice IS NULL
                        OR o_totalprice < 0 OR o_totalprice > 300000)
                    AS BIGINT)
        UNION ALL
        SELECT 'in_range(order_year,1995,1999)',
               CAST((SELECT COUNT(*) FROM orders
                     WHERE year(o_orderdate) < 1995
                        OR year(o_orderdate) > 1999) AS BIGINT)
        UNION ALL
        SELECT 'in_set(o_orderstatus)',
               CAST((SELECT COUNT(*) FROM orders
                     WHERE o_orderstatus IS NULL
                        OR o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
        UNION ALL
        SELECT 'matches(o_orderpriority)',
               CAST((SELECT COUNT(*) FROM orders
                     WHERE o_orderpriority IS NULL
                        OR NOT regexp_matches(o_orderpriority, '^[1-5]-'))
                    AS BIGINT)
        UNION ALL
        SELECT 'foreign_key(o_custkey)',
               -- ANSI MATCH SIMPLE: NULL child keys pass (ADVICE r8)
               CAST((SELECT COUNT(*) FROM orders
                     WHERE o_custkey IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM customer
                                       WHERE c_custkey = o_custkey))
                    AS BIGINT)
    )
    """,
)
def orders_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality verification (the Deequ suite —
    functions/constraints.py): seven rules over orders in one plan —
    row-level rules + uniqueness share a single scan/aggregate, the
    foreign key adds one anti-join. The report mixes passing rules with
    genuinely failing ones (price cap and order-year window violate on
    the fixture), so the hash pins real violation COUNTS, not a wall of
    zeros."""
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        check_constraints,
        foreign_key,
        in_range,
        in_set,
        matches,
        not_null,
        unique,
    )

    o = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("long")
    )
    cust = _t(spark, sf_dir, "customer")
    rules = [
        not_null("o_orderkey"),
        unique("o_orderkey"),
        in_range("o_totalprice", 0, 300000),
        in_range("order_year", 1995, 1999),
        in_set("o_orderstatus", ["O", "F", "P"]),
        matches("o_orderpriority", "^[1-5]-"),
        foreign_key("o_custkey", cust, "c_custkey"),
    ]
    return check_constraints(o, rules)


@query(
    "cdc_anomaly_report",
    oracle="""
    WITH changelog AS (
        SELECT o_orderkey, o_orderstatus, 'I' AS op, 0 AS ts FROM orders
        UNION ALL
        SELECT o_orderkey, 'X', 'U', 1 FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, 'D', 2
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    state AS (
        SELECT v.v AS upto, c.o_orderkey,
               arg_max(c.o_orderstatus, c.ts) AS status,
               arg_max(c.op, c.ts) AS last_op
        FROM (VALUES (0), (1), (2)) v(v)
        JOIN changelog c ON c.ts <= v.v
        GROUP BY v.v, c.o_orderkey
    ),
    live AS (
        SELECT upto, o_orderkey, status FROM state WHERE last_op <> 'D'
    ),
    s AS (
        SELECT upto,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(o_orderkey) AS BIGINT) AS ksum,
               CAST(COUNT(DISTINCT status) AS BIGINT) AS nd,
               CAST(COUNT(*) FILTER (WHERE status IS NULL) AS BIGINT) AS nnull
        FROM live GROUP BY upto
    ),
    b01 AS (SELECT * FROM s WHERE upto = 0),
    c01 AS (SELECT * FROM s WHERE upto = 1),
    b12 AS (SELECT * FROM s WHERE upto = 1),
    c12 AS (SELECT * FROM s WHERE upto = 2)
    SELECT 'v0v1' AS phase, 'row_count_within(0/1)' AS rule,
           b.n AS baseline, c.n AS observed,
           abs(c.n - b.n) * 1 <= b.n * 0 AS passed
    FROM b01 b, c01 c
    UNION ALL
    SELECT 'v0v1', 'distinct_count_within(o_orderstatus,50/100)',
           b.nd, c.nd, abs(c.nd - b.nd) * 100 <= b.nd * 50
    FROM b01 b, c01 c
    UNION ALL
    SELECT 'v0v1', 'distinct_count_within(o_orderstatus,25/100)',
           b.nd, c.nd, abs(c.nd - b.nd) * 100 <= b.nd * 25
    FROM b01 b, c01 c
    UNION ALL
    SELECT 'v0v1', 'null_rate_within(o_orderstatus,1/100)',
           b.nnull, c.nnull,
           (c.nnull * b.n - b.nnull * c.n) * 100 <= 1 * c.n * b.n
    FROM b01 b, c01 c
    UNION ALL
    SELECT 'v1v2', 'row_count_within(5/100)',
           b.n, c.n, abs(c.n - b.n) * 100 <= b.n * 5
    FROM b12 b, c12 c
    UNION ALL
    SELECT 'v1v2', 'row_count_within(10/100)',
           b.n, c.n, abs(c.n - b.n) * 100 <= b.n * 10
    FROM b12 b, c12 c
    UNION ALL
    SELECT 'v1v2', 'sum_within(o_orderkey,5/100)',
           b.ksum, c.ksum, abs(c.ksum - b.ksum) * 100 <= abs(b.ksum) * 5
    FROM b12 b, c12 c
    UNION ALL
    SELECT 'v1v2', 'sum_within(o_orderkey,10/100)',
           b.ksum, c.ksum, abs(c.ksum - b.ksum) * 100 <= abs(b.ksum) * 10
    FROM b12 b, c12 c
    """,
)
def cdc_anomaly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot anomaly detection (VERDICT r8 task 6 —
    Deequ's second half, functions/constraints.py check_anomalies):
    commit the CDC mirror after each deterministic DMS batch, then judge
    each commit against its predecessor — v0→v1 (update-only batch: row
    count must be EXACTLY flat at 0% tolerance, the status domain grows
    by the planted 'X' so a 25% distinct-count band fails while 50%
    passes, null rate must not jump) and v1→v2 via
    ``check_anomalies_vs_previous`` (the delete batch removes the ≡0
    mod 13 keys ≈ 7.7%: a 5% row-count band fails, 10% passes; same for
    the key-sum drift). Every verdict is exact integer cross-multiplied
    arithmetic (no float tolerance), so the oracle replays pass AND fail
    rows bit-for-bit — the report pins real alarms, not a wall of
    greens. Each side's stats are ONE single-scan aggregate; the
    comparison is a broadcast cross join of two 1-row frames."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        check_anomalies,
        check_anomalies_vs_previous,
        distinct_count_within,
        null_rate_within,
        row_count_within,
        sum_within,
    )
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    ch = derived_orders_changelog(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "op", "ts"
    )
    mirror = ParquetStateTable(
        tempfile.mkdtemp(prefix="spark_graft_anom_"), keep_versions=10
    )
    # all three prefix states land in ONE staged write job (r16, §2.4)
    mirror.commit_many(
        [
            apply_changelog(
                ch.filter(F.col("ts") <= upto),
                key_cols="o_orderkey",
                ts_cols="ts",
                op_col="op",
                delete_op="D",
                drop_envelope=["op", "ts"],
            )
            for upto in (0, 1, 2)
        ]
    )
    r01 = check_anomalies(
        mirror.read_version(spark, 0),
        mirror.read_version(spark, 1),
        [
            row_count_within(0, 1),
            distinct_count_within("o_orderstatus", 50, 100),
            distinct_count_within("o_orderstatus", 25, 100),
            null_rate_within("o_orderstatus", 1, 100),
        ],
    ).select(F.lit("v0v1").alias("phase"), "*")
    r12 = check_anomalies_vs_previous(
        spark,
        mirror,
        [
            row_count_within(5, 100),
            row_count_within(10, 100),
            sum_within("o_orderkey", 5, 100),
            sum_within("o_orderkey", 10, 100),
        ],
        current_version=2,
    ).select(F.lit("v1v2").alias("phase"), "*")
    return r01.unionByName(r12)


@query(
    "merge_table_time_travel",
    oracle="""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders WHERE o_orderkey % 100 < 50
    ), merged AS (
        SELECT k, status, price_cents * 2 AS price_cents,
               'corr-' || k AS note
        FROM base WHERE k % 10 = 3
        UNION ALL
        SELECT k, status, price_cents, NULL AS note
        FROM base WHERE k % 10 NOT IN (3, 7)
        UNION ALL
        SELECT k + 10000000, status, price_cents,
               'corr-' || (k + 10000000) AS note
        FROM base WHERE k % 10 = 1
    )
    SELECT 'v0' AS phase, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(price_cents) AS BIGINT) AS total_cents,
           CAST(0 AS BIGINT) AS n_notes
    FROM base
    UNION ALL
    SELECT 'v1', CAST(COUNT(*) AS BIGINT), CAST(SUM(price_cents) AS BIGINT),
           CAST(COUNT(note) AS BIGINT)
    FROM merged
    UNION ALL
    SELECT 'cdf_U', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(price_cents * 2) AS BIGINT), CAST(COUNT(*) AS BIGINT)
    FROM base WHERE k % 10 = 3
    UNION ALL
    SELECT 'cdf_D', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT)
    FROM base WHERE k % 10 = 7
    UNION ALL
    SELECT 'cdf_I', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(price_cents) AS BIGINT), CAST(COUNT(*) AS BIGINT)
    FROM base WHERE k % 10 = 1
    """,
)
def merge_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO over committed, versioned state (VERDICT r8 task 4 —
    operators/merge.py merge_into_table): commit an orders-derived state
    table (v0), apply one general MERGE WITH SCHEMA EVOLUTION as a
    single snapshot commit (v1: conditional doubles for keys ≡3 mod 10,
    deletes for ≡7, key-shifted inserts for ≡1, plus an evolved ``note``
    column that pre-merge rows read as NULL), then prove the snapshot
    semantics in one result: v0 aggregates via ``read_version`` (the
    pre-merge state must remain bit-intact), v1 aggregates over the
    merged head, and the ``table_changes(v0, v1)`` change feed grouped
    by op — which must be EXACTLY the merge's effect (minimal CDF across
    the schema-evolution boundary: untouched rows are not re-emitted
    even though their schema changed). The oracle replays the merge as
    set algebra and each phase's aggregate, all in exact integer cents.
    """
    import tempfile

    from tabular_cdc_bootstrapper_spark.operators.merge import (
        merge_into_table,
        src,
    )
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )
    from tabular_cdc_bootstrapper_spark.streaming.feeds import table_changes

    base = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 < 50)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("price_cents"),
        )
    )
    root = tempfile.mkdtemp(prefix="spark_graft_merge_tt_")
    t = ParquetStateTable(root, keep_versions=10)
    v0 = t.commit(base)["version"]
    upd = base.filter(F.col("k") % 10 == 3).select(
        "k", "status",
        (F.col("price_cents") * 2).alias("price_cents"),
        F.concat(F.lit("corr-"), F.col("k")).alias("note"),
        F.lit("U").alias("op"),
    )
    dele = base.filter(F.col("k") % 10 == 7).select(
        "k", "status", "price_cents",
        F.lit(None).cast("string").alias("note"),
        F.lit("D").alias("op"),
    )
    ins = base.filter(F.col("k") % 10 == 1).select(
        (F.col("k") + 10000000).alias("k"),
        "status", "price_cents",
        F.concat(F.lit("corr-"), F.col("k") + 10000000).alias("note"),
        F.lit("I").alias("op"),
    )
    merge_into_table(
        spark, t, upd.unionAll(dele).unionAll(ins), on=["k"],
        update_cond=src("op") == "U",
        update_set={"price_cents": src("price_cents")},
        delete_cond=src("op") == "D",
        insert_cond=src("op") == "I",
        evolve_schema=["note"],  # op is a control column, not table state
        validate_unique_source=False,  # disjoint by construction
    )
    v1 = t.current()["version"]

    def phase_agg(df: DataFrame, phase: str, with_note: bool) -> DataFrame:
        return df.agg(
            F.lit(phase).alias("phase"),
            F.count("*").cast("long").alias("n_rows"),
            F.coalesce(F.sum("price_cents"), F.lit(0))
            .cast("long")
            .alias("total_cents"),
            (
                F.count("note") if with_note else F.lit(0)
            ).cast("long").alias("n_notes"),
        )

    v0_row = phase_agg(t.read_version(spark, v0), "v0", with_note=False)
    v1_row = phase_agg(t.read_version(spark, v1), "v1", with_note=True)
    feed = table_changes(spark, t, v0, v1, key_cols="k")
    cdf_rows = feed.groupBy("op").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.coalesce(F.sum("price_cents"), F.lit(0))
        .cast("long")
        .alias("total_cents"),
        F.count("note").cast("long").alias("n_notes"),
    ).select(
        F.concat(F.lit("cdf_"), F.col("op")).alias("phase"),
        "n_rows", "total_cents", "n_notes",
    )
    return v0_row.unionAll(v1_row).unionAll(cdf_rows)


@query(
    "merge_orders_corrections",
    oracle="""
    WITH merged AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 1.05
                    ELSE o_totalprice END AS p
        FROM orders WHERE o_orderkey % 10 <> 7
        UNION ALL
        SELECT o_orderstatus, o_totalprice * 0.5 AS p
        FROM orders WHERE o_orderkey % 10 = 1
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM merged GROUP BY o_orderstatus
    """,
)
def merge_orders_corrections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General multi-action MERGE INTO (operators/merge.py): one derived
    corrections source carries conditional updates (+5% price for keys
    ≡3 mod 10), deletes (keys ≡7) and inserts (key-shifted half-price
    copies of keys ≡1) — applied through the full-outer-join merge
    operator in one shuffle with MERGE's delete→update→keep precedence.
    The oracle states the post-merge TABLE directly (set algebra over
    orders), so the operator's join/CASE machinery is verified against an
    implementation-independent answer. Prices aggregate as exact integer
    cents (both engines compute the identical double product chain, then
    round half-away-from-zero)."""
    from tabular_cdc_bootstrapper_spark.operators.merge import merge_into, src

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    upd = o.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit("U").alias("op")
    )
    dele = o.filter(F.col("o_orderkey") % 10 == 7).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", F.lit("D").alias("op")
    )
    ins = o.filter(F.col("o_orderkey") % 10 == 1).select(
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
        "o_orderstatus",
        (F.col("o_totalprice") * F.lit(0.5)).alias("o_totalprice"),
        F.lit("I").alias("op"),
    )
    source = upd.unionAll(dele).unionAll(ins)
    merged = merge_into(
        o,
        source,
        on=["o_orderkey"],
        update_cond=src("op") == "U",
        update_set={"o_totalprice": F.col("o_totalprice") * F.lit(1.05)},
        delete_cond=src("op") == "D",
        insert_cond=src("op") == "I",
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
    )


@query(
    "video_frame_samples",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(((n_chars * 10 - 1) // 1000) + 1 AS BIGINT) AS n_frames,
           CAST(((n_chars * 10 - 1) // 1000) * 1000 AS BIGINT) AS last_frame_ms
    FROM documents
    """,
)
def video_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (functions/multimodal.py
    sample_frames): every_ms grid over each media item's duration,
    exploded to one row per sampled frame — the decode itself stays
    behind the stubbed codec boundary. The oracle is the CLOSED FORM of
    the grid (⌈duration/step⌉ frames, last = (n−1)·step), so the
    explode-based plan is verified against an implementation-independent
    answer rather than a SQL copy of itself."""
    from tabular_cdc_bootstrapper_spark.functions.multimodal import (
        media_from_documents,
        sample_frames,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"), kind="video")
    frames = sample_frames(media, every_ms=1000)
    return frames.groupBy("media_id").agg(
        F.count("*").cast("bigint").alias("n_frames"),
        F.max("frame_ts_ms").cast("bigint").alias("last_frame_ms"),
    )
