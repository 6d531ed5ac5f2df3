"""Law tests for the round-6 second-batch data-quality operators:
unigram-LM surprisal scoring, per-source TV drift, and the
duplicate-cluster-aware (leakage-safe) split.

Each law is asserted on a planted fixture where the expected value is
derivable by hand with the SAME integer arithmetic the operators use, so
the tests pin semantics, not snapshots.
"""

from __future__ import annotations

import hashlib

from tabular_cdc_bootstrapper_spark.queries._registry import QUERIES


def _write_documents(spark, out_dir, rows):
    """documents.parquet fixture; rows = (doc_id, text, lang, source)."""
    df = spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    return str(out_dir)


# ---------------------------------------------------------------------------
# unigram_surprisal_quality
# ---------------------------------------------------------------------------


def test_surprisal_rare_tokens_score_higher(spark, tmp_path):
    """The LM-quality law: a document of corpus-rare tokens is more
    surprising (more bits/token) than one of corpus-common tokens. The
    two docs are separated by lang so the histogram keeps them apart."""
    rows = [(i, "common common common common", "en", "web") for i in range(1, 9)]
    rows.append((100, "zyxq wvut srqp onml", "xx", "web"))
    sf = _write_documents(spark, tmp_path, rows)
    out = {r["lang"]: r for r in QUERIES["unigram_surprisal_quality"](spark, sf).collect()}
    assert out["xx"]["bits_bucket"] > out["en"]["bits_bucket"]
    # hand-check 'en': N = 36 tokens -> len(bin(36)) = 6; 'common' count 32
    # -> len(bin(32)) = 6 -> surprisal 0 bits/token, bucket 0
    assert out["en"]["bits_bucket"] == 0
    assert out["en"]["n_docs"] == 8
    # 'xx': each token count 1 -> 6 - 1 = 5 bits/token exactly
    assert out["xx"]["bits_bucket"] == 5
    assert out["xx"]["sum_score_milli"] == 5000


def test_surprisal_score_is_integer_exact_mean(spark, tmp_path):
    """Mixed doc: score_milli = (total_bits*1000) div n_tokens with
    truncation — pinned against the hand-unrolled value."""
    # corpus: 'a' x7 in doc1 + one rare token 'z' in doc1 => N = 8
    sf = _write_documents(
        spark, tmp_path, [(1, "a a a a a a a z", "en", "web")]
    )
    out = QUERIES["unigram_surprisal_quality"](spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    # N=8 -> len(bin(8))=4; c(a)=7 -> len=3 -> 1 bit; c(z)=1 -> len=1 -> 3 bits
    # total_bits = 7*1 + 3 = 10; score_milli = 10000 div 8 = 1250; bucket 1
    assert r["bits_bucket"] == 1
    assert r["sum_score_milli"] == 1250


# ---------------------------------------------------------------------------
# source_token_drift
# ---------------------------------------------------------------------------


def test_drift_single_source_is_zero(spark, tmp_path):
    """A source that IS the corpus has zero distance to it."""
    rows = [(i, f"alpha beta gamma t{i}", "en", "crawl") for i in range(1, 20)]
    sf = _write_documents(spark, tmp_path, rows)
    out = QUERIES["source_token_drift"](spark, sf).collect()
    assert len(out) == 1
    assert out[0]["tv_ppm"] == 0


def test_drift_disjoint_vocabularies_exact(spark, tmp_path):
    """Two sources with disjoint vocabularies: TV(source) = n_other/N
    exactly. Derived with the operator's own integer formula:
    present_abs = n_s * n_other, missing = n_other * n_s, so
    tv_ppm = (2*n_s*n_other*1e6) // (2*n_s*N)."""
    rows = [(i, "red blue green red", "en", "a") for i in range(1, 4)]  # 12 toks
    rows += [(j, "cyan magenta", "en", "b") for j in range(10, 14)]  # 8 toks
    sf = _write_documents(spark, tmp_path, rows)
    out = {r["source"]: r for r in QUERIES["source_token_drift"](spark, sf).collect()}
    n_a, n_b = 12, 8
    n = n_a + n_b
    assert out["a"]["n_tokens"] == n_a and out["b"]["n_tokens"] == n_b
    assert out["a"]["tv_ppm"] == (2 * n_a * n_b * 1_000_000) // (2 * n_a * n)
    assert out["b"]["tv_ppm"] == (2 * n_b * n_a * 1_000_000) // (2 * n_b * n)
    # and the bound law on the real fixture shape: 0 <= tv <= 1e6
    for r in out.values():
        assert 0 <= r["tv_ppm"] <= 1_000_000


def test_drift_bounds_on_fixture(spark, sf_dir):
    for r in QUERIES["source_token_drift"](spark, sf_dir).collect():
        assert 0 <= r["tv_ppm"] <= 1_000_000
        assert r["n_tokens"] > 0 and r["n_terms"] > 0


# ---------------------------------------------------------------------------
# leakage_safe_split
# ---------------------------------------------------------------------------


def _bucket(key: str) -> int:
    return int(hashlib.md5(f"split:{key}".encode()).hexdigest()[:15], 16) % 1000


def _split_of(bucket: int) -> str:
    return "train" if bucket < 800 else ("validation" if bucket < 900 else "test")


def test_leakage_safe_split_never_splits_a_cluster(spark, tmp_path):
    """The leakage law. Plant identical-text pairs (guaranteed SimHash
    clusters) whose two members' NAIVE id-hash splits differ — the
    grouping must place both members in the canonical member's split and
    count each averted leak in leaked_without_grouping."""
    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "measured pelicans deliberate quietly beside the harbor wall"
    )
    # find id pairs whose naive splits differ, so the fixture provably
    # exercises the leak counter (ids chosen by the same md5 the op uses)
    ids = list(range(1, 400))
    pair_a = next(
        (i, j)
        for i in ids
        for j in ids
        if i < j and _split_of(_bucket(str(i))) != _split_of(_bucket(str(j)))
    )
    rows = [
        (pair_a[0], base, "en", "web"),
        (pair_a[1], base, "en", "web"),
    ]
    # filler docs with distinct vocabularies so they don't cluster
    fillers = [
        (1000 + k, f"unique{k} filler{k} tokens{k} nothing{k} shared{k}", "en", "web")
        for k in range(6)
    ]
    sf = _write_documents(spark, tmp_path, rows + fillers)
    out = QUERIES["leakage_safe_split"](spark, sf).collect()
    by_split = {r["split"]: r for r in out}
    # every doc accounted for exactly once
    assert sum(r["n_docs"] for r in out) == len(rows) + len(fillers)
    # the planted pair clusters to component_id = min(pair); its split is
    # the canonical id's split, and the other member is one averted leak
    canon_split = _split_of(_bucket(str(pair_a[0])))
    other_naive = _split_of(_bucket(str(pair_a[1])))
    assert canon_split != other_naive
    assert by_split[canon_split]["leaked_without_grouping"] >= 1
    # total averted leaks == hand count over the planted cluster (fillers
    # are unclustered: their group key is their own id, never a leak)
    assert sum(r["leaked_without_grouping"] for r in out) == 1
    # group accounting: the pair is ONE group; fillers one group each
    assert sum(r["n_groups"] for r in out) == 1 + len(fillers)


def test_leakage_safe_split_partitions_fixture(spark, sf_dir):
    """On the real fixture: splits partition the corpus, and the same
    group key never appears in two splits — asserted for real by summing
    n_groups across splits and comparing against the independently
    recomputed distinct group-key count (a group landing in two splits
    would double-count)."""
    import pyspark.sql.functions as F

    from tabular_cdc_bootstrapper_spark.functions.dedup import (
        simhash_near_duplicates,
    )
    from tabular_cdc_bootstrapper_spark.functions.graph import dedup_clusters

    out = QUERIES["leakage_safe_split"](spark, sf_dir).collect()
    n_docs_total = sum(r["n_docs"] for r in out)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert n_docs_total == d.count()
    assert {r["split"] for r in out} <= {"train", "validation", "test"}
    clusters = dedup_clusters(simhash_near_duplicates(d)).select(
        F.col("id").alias("doc_id"), "component_id"
    )
    n_distinct_groups = (
        d.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(F.coalesce("component_id", "doc_id").alias("gk"))
        .distinct()
        .count()
    )
    assert sum(r["n_groups"] for r in out) == n_distinct_groups


# ---------------------------------------------------------------------------
# event_mix_drift
# ---------------------------------------------------------------------------


def _write_events(spark, out_dir, rows):
    """events.parquet fixture; rows = (event_id, ts_str, event_type)."""
    import pyspark.sql.functions as F

    df = (
        spark.createDataFrame(
            [(i, ts, 1, et, 0.0, "{}") for i, ts, et in rows],
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        )
        .withColumn("ts", F.to_timestamp("ts"))
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")
    return str(out_dir)


def test_event_mix_drift_uniform_weeks_zero(spark, tmp_path):
    """Weeks with identical event-type mixes have zero drift."""
    rows = []
    for w, day in enumerate(["2024-01-01", "2024-01-08", "2024-01-15"]):
        for j in range(4):
            rows.append((w * 10 + j, f"{day} 10:0{j}:00", "view" if j < 2 else "click"))
    sf = _write_events(spark, tmp_path, rows)
    out = QUERIES["event_mix_drift"](spark, sf).collect()
    spark.catalog.clearCache()
    assert len(out) == 3
    assert all(r["tv_ppm"] == 0 for r in out)


def test_event_mix_drift_disjoint_weeks_exact(spark, tmp_path):
    """Two weeks with disjoint event types: TV(week) = n_other/N exactly,
    via the operator's own integer arithmetic — the 'instrumentation
    broke this week' signal at its theoretical maximum."""
    rows = [(i, f"2024-01-01 10:00:{i:02d}", "view") for i in range(10)]
    rows += [(100 + j, f"2024-01-08 10:00:{j:02d}", "error") for j in range(5)]
    sf = _write_events(spark, tmp_path, rows)
    out = {r["week"]: r for r in QUERIES["event_mix_drift"](spark, sf).collect()}
    spark.catalog.clearCache()
    n1, n2 = 10, 5
    n = n1 + n2
    assert out["2024-01-01"]["n_events"] == n1
    assert out["2024-01-01"]["tv_ppm"] == (2 * n1 * n2 * 1_000_000) // (2 * n1 * n)
    assert out["2024-01-08"]["tv_ppm"] == (2 * n2 * n1 * 1_000_000) // (2 * n2 * n)


def test_event_mix_drift_bounds_on_fixture(spark, sf_dir):
    for r in QUERIES["event_mix_drift"](spark, sf_dir).collect():
        assert 0 <= r["tv_ppm"] <= 1_000_000
        assert r["n_events"] > 0
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# property tests: integer formulas vs brute-force Python references
# ---------------------------------------------------------------------------

from collections import Counter  # noqa: E402

import hypothesis.strategies as st  # noqa: E402
from hypothesis import HealthCheck, given, settings  # noqa: E402

_WORDS = ["aa", "bb", "cc", "dd", "ee"]

_corpus_strategy = st.lists(
    st.tuples(
        st.sampled_from(["en", "de"]),
        st.sampled_from(["s1", "s2", "s3"]),
        st.lists(st.sampled_from(_WORDS), min_size=1, max_size=8),
    ),
    min_size=1,
    max_size=12,
)


def _materialize(spark, corpus):
    import tempfile

    rows = [
        (i + 1, " ".join(toks), lang, src)
        for i, (lang, src, toks) in enumerate(corpus)
    ]
    return _write_documents(spark, tempfile.mkdtemp(), rows)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus=_corpus_strategy)
def test_drift_matches_bruteforce_reference(spark, corpus):
    """source_token_drift == the direct Python evaluation of
    TV_ppm = floor(Σ_t |c_s(t)·N − c(t)·n_s| · 1e6 / (2·n_s·N)) over the
    FULL vocabulary (no closed-form shortcut) on arbitrary corpora —
    pinning that the operator's absent-term algebra is exact."""
    sf = _materialize(spark, corpus)
    per, tot = {}, Counter()
    for lang, src, toks in corpus:
        per.setdefault(src, Counter()).update(toks)
        tot.update(toks)
    n = sum(tot.values())
    expected = {
        src: sum(abs(c.get(t, 0) * n - tot[t] * ns) for t in tot) * 1_000_000
        // (2 * ns * n)
        for src, c in per.items()
        for ns in [sum(c.values())]
    }
    got = {r["source"]: r["tv_ppm"] for r in
           QUERIES["source_token_drift"](spark, sf).collect()}
    spark.catalog.clearCache()
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus=_corpus_strategy)
def test_surprisal_matches_bruteforce_reference(spark, corpus):
    """unigram_surprisal_quality == the direct Python evaluation of the
    bit-length surprisal histogram (bin-length(N) − bin-length(c) per
    token; integer-milli mean; (lang, bucket) rollup)."""
    sf = _materialize(spark, corpus)
    vocab = Counter(t for _, _, toks in corpus for t in toks)
    n = sum(vocab.values())
    hist = {}
    for lang, _, toks in corpus:
        bits = sum(n.bit_length() - vocab[t].bit_length() for t in toks)
        milli = bits * 1000 // len(toks)
        key = (lang, milli // 1000)
        c, s = hist.get(key, (0, 0))
        hist[key] = (c + 1, s + milli)
    got = {
        (r["lang"], r["bits_bucket"]): (r["n_docs"], r["sum_score_milli"])
        for r in QUERIES["unigram_surprisal_quality"](spark, sf).collect()
    }
    spark.catalog.clearCache()
    assert got == hist


# ---------------------------------------------------------------------------
# hybrid_retrieval_topk
# ---------------------------------------------------------------------------


def test_hybrid_retrieval_laws(spark, sf_dir):
    """The two-stage contract: every result comes from the BM25 top-50
    candidate pool, the final order is dense (cosine), ranks are
    contiguous from 1, the query's own document is excluded, and the
    dense rerank actually CHANGES the order relative to pure BM25 (the
    reason the second stage exists)."""
    from tabular_cdc_bootstrapper_spark.functions.retrieval import bm25_topk
    from tabular_cdc_bootstrapper_spark.queries._registry import _t

    out = QUERIES["hybrid_retrieval_topk"](spark, sf_dir).collect()
    assert 1 <= len(out) <= 10
    assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == list(
        range(1, len(out) + 1)
    )
    sims = [r["cos_sim"] for r in sorted(out, key=lambda r: r["rank"])]
    assert sims == sorted(sims, reverse=True)
    assert all(r["doc_id"] != 0 for r in out)
    cand = {
        r["doc_id"]
        for r in bm25_topk(
            _t(spark, sf_dir, "documents"), ["dup", "vector", "merge"], k=50
        ).collect()
    }
    assert {r["doc_id"] for r in out} <= cand
    # rerank reorders: the hybrid top-10 ordering differs from the pure
    # lexical ordering of the same docs
    by_rank = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    by_bm25 = [
        r["doc_id"]
        for r in sorted(out, key=lambda r: (-r["bm25"], r["doc_id"]))
    ]
    assert by_rank != by_bm25


# ---------------------------------------------------------------------------
# table_profile_orders
# ---------------------------------------------------------------------------


def test_table_profile_counts_planted_nulls(spark, tmp_path):
    """Profiling law on a hand-built table: null counts, distinct counts
    and min/max per column match the planted values exactly."""
    import pyspark.sql.functions as F

    rows = [
        (1, 10, "O", 100.5, "1996-01-02", "1-URGENT"),
        (2, 10, None, 200.25, "1997-06-30", "3-MEDIUM"),
        (3, 20, "F", None, "1996-01-02", None),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = {r["col_name"]: r for r in
           QUERIES["table_profile_orders"](spark, str(tmp_path)).collect()}
    assert set(out) == {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    }
    assert out["o_orderstatus"]["n_nulls"] == 1
    assert out["o_totalprice"]["n_nulls"] == 1
    assert out["o_orderpriority"]["n_nulls"] == 1
    assert out["o_orderkey"]["n_nulls"] == 0
    assert out["o_custkey"]["n_distinct"] == 2
    assert out["o_orderkey"]["min_value"] == "1"
    assert out["o_orderkey"]["max_value"] == "3"
    assert out["o_totalprice"]["min_value"] == "100.50"
    assert out["o_totalprice"]["max_value"] == "200.25"
    assert out["o_orderstatus"]["min_value"] == "F"


def test_table_profile_branch_scans(spark, sf_dir):
    """Plan pin (r15 optimization round): the exact profiler runs one
    single-distinct branch per column — one PRUNED scan per column, no
    Expand row-multiplication anywhere (the pre-r15 single-scan
    multi-distinct form funnelled a ×(#cols+1) Expand through one scan
    task; see functions/profiling.py docstring)."""
    import re

    from tabular_cdc_bootstrapper_spark.plans.inspect import physical_plan

    df = QUERIES["table_profile_orders"](spark, sf_dir)
    plan = physical_plan(df)
    # formatted mode lists each node once as "(n) Scan parquet" in the
    # detail section — count node headers, not tree echoes
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 6
    assert "Expand" not in plan


# ---------------------------------------------------------------------------
# referential_integrity_report
# ---------------------------------------------------------------------------


def test_referential_integrity_counts_planted_orphans(spark, tmp_path):
    """Integrity law on a hand-built star: orphaned children and
    unreferenced parents are counted exactly, per edge."""
    spark.createDataFrame(
        # orders 1,2 exist; lineitems point at 1,1,2,99 (99 = orphan x2)
        [(1, 1.0), (1, 2.0), (2, 3.0), (99, 4.0), (99, 5.0)],
        "l_orderkey long, l_quantity double",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        # order 3 has no lineitems (unreferenced); custkey 7 valid, 42 orphan
        [(1, 7), (2, 42), (3, 7)], "o_orderkey long, o_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        # customer 8 never ordered; nationkey 0 valid, 5 orphan
        [(7, 0), (8, 5)], "c_custkey long, c_nationkey long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        # nation 1 has no customers
        [(0,), (1,)], "n_nationkey long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "nation.parquet"))

    out = {r["edge"]: r for r in
           QUERIES["referential_integrity_report"](spark, str(tmp_path)).collect()}
    li = out["lineitem->orders"]
    assert (li["n_child"], li["n_orphan"]) == (5, 2)
    assert (li["n_parent"], li["n_parent_unreferenced"]) == (3, 1)
    oc = out["orders->customer"]
    assert (oc["n_child"], oc["n_orphan"]) == (3, 1)
    assert (oc["n_parent"], oc["n_parent_unreferenced"]) == (2, 1)
    cn = out["customer->nation"]
    assert (cn["n_child"], cn["n_orphan"]) == (2, 1)
    assert (cn["n_parent"], cn["n_parent_unreferenced"]) == (2, 1)


def test_referential_integrity_fixture_is_clean(spark, sf_dir):
    """The TPC-H-ish fixtures are referentially intact: zero orphans on
    every edge (unreferenced parents are expected — customers without
    orders exist by construction)."""
    out = QUERIES["referential_integrity_report"](spark, sf_dir).collect()
    assert len(out) == 3
    assert all(r["n_orphan"] == 0 for r in out)
    assert all(r["n_child"] > 0 and r["n_parent"] > 0 for r in out)


def test_referential_integrity_empty_star_reports_zeros(spark, tmp_path):
    """An empty star is INTACT, not an error: the report still emits all
    three edges, with every count zero (coalesce-guarded orphan sums)."""
    spark.createDataFrame([], "l_orderkey long, l_quantity double").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame([], "o_orderkey long, o_custkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame([], "c_custkey long, c_nationkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame([], "n_nationkey long").write.mode("overwrite").parquet(
        str(tmp_path / "nation.parquet")
    )
    out = QUERIES["referential_integrity_report"](spark, str(tmp_path)).collect()
    assert len(out) == 3
    for r in out:
        # exact zeros, not NULLs: both totals are coalesce-guarded so the
        # empty star matches the oracle's COUNT(*) = 0
        assert r["n_child"] == 0 and r["n_orphan"] == 0
        assert r["n_parent"] == 0 and r["n_parent_unreferenced"] == 0


def test_table_profile_approx_within_5pct_of_exact(spark, sf_dir):
    """table_profile_orders_approx (r8 tolerance-verdict form): every
    deterministic column is bit-identical to the exact profiler —
    n_distinct itself is now EXACT in the output — and the in-plan
    ``nd_within_5pct`` verdict (HLL++ rsd 2% vs exact, computed inside
    the query) must hold for every column, same envelope contract as
    hll_distinct_counts."""
    exact = {
        r["col_name"]: r
        for r in QUERIES["table_profile_orders"](spark, sf_dir).collect()
    }
    approx = {
        r["col_name"]: r
        for r in QUERIES["table_profile_orders_approx"](spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for c in exact:
        e, a = exact[c], approx[c]
        assert a["n_nulls"] == e["n_nulls"]
        assert a["min_value"] == e["min_value"]
        assert a["max_value"] == e["max_value"]
        assert a["n_distinct"] == e["n_distinct"]
        assert a["nd_within_5pct"] is True, (c, a)


def test_profile_table_rejects_unknown_and_complex_columns(spark, sf_dir):
    """profile_table is schema-driven (r8): unknown columns and
    non-atomic types (array/map/struct/binary — min/max/distinct are not
    order-defined) raise up front rather than failing mid-plan."""
    import pytest

    from tabular_cdc_bootstrapper_spark.functions.profiling import profile_table

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError, match="not in schema"):
        profile_table(emb, ["nope"])
    with pytest.raises(ValueError, match="atomic"):
        profile_table(emb, ["embedding"])
    # default = all columns, skipping none: works on any atomic schema
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    prof = profile_table(nation).collect()
    assert {r["col_name"] for r in prof} == set(nation.columns)
    key_row = {r["col_name"]: r for r in prof}["n_nationkey"]
    assert key_row["n_distinct"] == nation.count() and key_row["n_nulls"] == 0
