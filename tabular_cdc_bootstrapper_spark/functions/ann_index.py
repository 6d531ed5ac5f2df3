"""Persisted ANN index lifecycle: build once, query many (VERDICT r7 #3/#4).

Every inline ANN registry query retrains its model (hyperplanes /
centroids / codebooks) per invocation — right for a stateless oracle
query, wrong for the 100 TB warehouse where the index must amortize.
This module turns the IVF-PQ pipeline (functions/similarity.py:
ivf_pq_topk — the composed warehouse index shape) into durable index
TABLES plus a query path that never touches the corpus or retrains:

- ``build_ann_index``: train the two bounded models (lowest-id IVF
  centroids + PQ codebooks, the oracle-replayable strategy; kmeans is
  the quality tier) and encode the corpus ONCE into an index table of
  (vec_id, list_id, codes[8 bytes], uvec) — the unit-normalized vector
  rides along as the covering column so the exact-cosine rerank never
  re-reads the corpus. Models persist via the repo's atomic-pointer
  commit protocol; codes persist as SEGMENTS under a manifest so
  appends are delta-sized (the Iceberg-manifest shape, not a snapshot
  rewrite).
- ``ann_query``: probe → ADC shortlist → exact rerank reading ONLY the
  index tables (plan-pinned: no corpus scan, no training collect).
  Results are bit-identical to the inline ``ivf_pq_topk`` because both
  paths share the same model-training and encode/ADC code
  (similarity.py helpers) — pinned by tests/test_ann_index.py.
- ``append_to_index`` / ``MaintainedAnnIndex``: incremental maintenance
  — new vectors encode against the STANDING models and append one
  delta-sized segment (foreachBatch-ready, batch-id replay fence, same
  pattern as streaming/pipeline.py MaintainedClusterView). A drift
  trigger compares the batch's measured quantization error against the
  build-time base error; past the threshold the index reports
  ``needs_retrain`` and ``rebuild`` re-trains from the full corpus.

At 100 TB: the codes table is what a probe scans — written partitioned
by ``list_id`` it is a partition-pruned read of ~n/c·p rows × (8-byte
codes + the uvec rerank payload); models are KB-scale driver artifacts;
appends cost one delta encode + one manifest swap; the only full-corpus
work is the initial build (or an explicit rebuild).

Reference basis: the reference's managed CDC service maintains derived
tables incrementally from a changelog (`tabular.py:58-62` config,
delegated execution); this applies the same standing-state + delta-fold
discipline to the ANN index artifact.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.localdf import local_df
from tabular_cdc_bootstrapper_spark.streaming._protocol import _replace_json

from tabular_cdc_bootstrapper_spark.functions.similarity import (
    _adc_over_codes,
    _assign_encode_udf,
    _cb_entry,
    _codebook_literal,
    _dot,
    _ivf_pq_models,
    _probe_lists_udf,
    _spread_for_encode,
    _unit,
    auto_n_centroids,
)


class SegmentedTable:
    """Append-friendly parquet table: immutable segment dirs + an atomic
    manifest pointer (``_MANIFEST`` JSON listing live segments + meta).

    The repo's ParquetStateTable commits whole snapshots — right for the
    mirror (whose merge rewrites state), wrong for an index where a
    micro-batch should cost O(delta): here ``append`` writes ONE new
    segment dir and swaps a manifest naming old+new, so commit cost is
    the delta write + one rename, and ``replace`` (rebuild) installs a
    fresh single-segment manifest. Readers resolve the manifest first —
    same crash-safe atomic-rename discipline as ParquetStateTable
    (streaming/pipeline.py:42), which mirrors what an Iceberg snapshot
    commit does with manifest lists."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _manifest(self) -> str:
        return os.path.join(self.root, "_MANIFEST")

    def current(self) -> dict | None:
        try:
            with open(self._manifest) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def read(self, spark: SparkSession) -> DataFrame | None:
        cur = self.current()
        if cur is None:
            return None
        return spark.read.parquet(*cur["segments"])

    def _write_segment(self, df: DataFrame) -> str:
        seg = os.path.join(self.root, f"seg-{uuid.uuid4().hex[:12]}")
        df.write.mode("errorifexists").parquet(seg)
        return seg

    def _commit(self, segments: list[str], meta: dict) -> dict:
        cur = self.current()
        record = {
            "version": (cur["version"] + 1) if cur else 0,
            "segments": segments,
            "meta": meta,
            "ts": time.time(),
        }
        _replace_json(self._manifest, record)
        # prune segments no longer referenced (best-effort snapshot expiry)
        live = {os.path.basename(s) for s in segments}
        for d in os.listdir(self.root):
            if d.startswith("seg-") and d not in live:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        return record

    def replace(self, df: DataFrame, meta: dict) -> dict:
        return self._commit([self._write_segment(df)], meta)

    def append(self, df: DataFrame, meta: dict) -> dict:
        cur = self.current()
        if cur is None:
            return self.replace(df, meta)
        return self._commit(cur["segments"] + [self._write_segment(df)], meta)

    def update_meta(self, meta: dict) -> dict:
        """Swap manifest metadata without touching segments (one rename)."""
        cur = self.current()
        return self._commit(cur["segments"], {**cur["meta"], **meta})


def _encode_with_models(
    df: DataFrame, cids, cmat_n, cb_sub, id_col: str, vec_col: str
) -> DataFrame:
    """(vec_id, list_id, codes, uvec) — the index row: same encoder UDF as
    the inline path plus the unit vector as the covering rerank column."""
    enc = _assign_encode_udf(cids, cmat_n, cb_sub)
    return df.select(
        F.col(id_col).alias("vec_id"),
        enc(F.col(vec_col)).alias("ae"),
        _unit(F.col(vec_col)).alias("uvec"),
    ).select(
        "vec_id",
        F.col("ae.list_id").alias("list_id"),
        F.col("ae.codes").alias("codes"),
        "uvec",
    )


def _qerr_expr(cb_lit, n_subspaces: int, n_codes: int, sub_dim: int):
    """Per-row squared PQ reconstruction error of (codes, uvec) against
    the literal codebook — the JVM-side fold behind the drift metric;
    feed to ``F.avg`` in an aggregate or an ``observe`` (r15: the commit
    paths observe it on the segment write instead of re-scanning)."""
    idx = F.sequence(F.lit(0), F.lit(n_subspaces - 1))
    per_sub = F.zip_with(
        F.col("codes"),
        idx,
        lambda code, s: F.aggregate(
            F.zip_with(
                F.slice(F.col("uvec"), s * sub_dim + 1, sub_dim),
                _cb_entry(cb_lit, s, code, n_codes, sub_dim),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return F.aggregate(per_sub, F.lit(0.0), lambda acc, x: acc + x)


class AnnIndex:
    """Handle over the two on-disk index tables.

    Layout: ``root/model/*.parquet`` rows
    (kind: 'centroid'|'codebook', i, j, vec) — centroids keyed by
    (i=cid, j=0, RAW vector), codebook entries by (i=subspace, j=code,
    normalized sub-vector); hyper-parameters + base quantization error +
    corpus fingerprint ride the codes manifest meta. Both artifacts are
    KB–MB scale; the codes table is the only data-sized one."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.model = SegmentedTable(os.path.join(root, "model"))
        self.codes = SegmentedTable(os.path.join(root, "codes"))

    def exists(self) -> bool:
        return self.model.current() is not None and self.codes.current() is not None

    def meta(self) -> dict:
        cur = self.codes.current()
        if cur is None:  # ADVICE r8: was a bare TypeError on None["meta"]
            raise ValueError(
                f"ANN index at {self.root} has not been built (no codes "
                "manifest) — call build_ann_index first, or use "
                "MaintainedAnnIndex(bootstrap=True) to build from the "
                "first micro-batch"
            )
        return cur["meta"]

    def load_models(self, spark: SparkSession):
        """Bounded collect of the standing models (≈ n_centroids·dim +
        n_subspaces·n_codes·sub_dim doubles — KB scale)."""
        import numpy as np

        m = self.meta()
        rows = self.model.read(spark).collect()
        cents = sorted(
            ((r["i"], r["vec"]) for r in rows if r["kind"] == "centroid"),
        )
        cids = [int(i) for i, _ in cents]
        cmat = np.array([v for _, v in cents], dtype=np.float64)
        cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
        cmat_n = cmat / np.where(cnorm == 0, 1.0, cnorm)
        cb = sorted(
            ((r["i"], r["j"], r["vec"]) for r in rows if r["kind"] == "codebook"),
        )
        cb_sub = np.array(
            [[v for s2, _, v in cb if s2 == s] for s in range(m["n_subspaces"])],
            dtype=np.float64,
        )
        return cids, cmat_n, cb_sub


def build_ann_index(
    spark: SparkSession,
    corpus: DataFrame,
    root: str,
    n_centroids: int | None = 64,
    n_subspaces: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook_strategy: str = "lowest_id",
    fingerprint: str | None = None,
) -> AnnIndex:
    """Train models + encode the corpus into index tables (the one
    full-corpus pass of the lifecycle). ``fingerprint`` is an opaque
    caller token (e.g. source files' path+mtime) recorded in the
    manifest so cached-index reuse can detect staleness."""
    if n_centroids is None:
        n_centroids = auto_n_centroids(corpus.count())
    sub_dim = dim // n_subspaces
    if sub_dim * n_subspaces != dim:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")

    # both standing models from ONE lowest-id pass (r15 — was two
    # separate orderBy+limit scans of the corpus, bit-identical models)
    cids, cmat, cmat_n, cb_sub = _ivf_pq_models(
        corpus, n_centroids, n_subspaces, n_codes, dim,
        id_col, vec_col, codebook_strategy,
    )

    index = AnnIndex(root)
    model_rows = [
        ("centroid", int(cid), 0, [float(x) for x in cmat[i]])
        for i, cid in enumerate(cids)
    ] + [
        ("codebook", s, c, [float(x) for x in cb_sub[s][c]])
        for s in range(n_subspaces)
        for c in range(cb_sub.shape[1])
    ]
    # local_df (r15): an Arrow-backed local frame writes as a pure-JVM
    # job; the pickled-list form paid ~32 sequential Python-worker
    # evaluations inside the coalesce(1) write task (~5-7 s per build)
    model_df = local_df(
        spark, model_rows, "kind string, i long, j long, vec array<double>"
    ).coalesce(1)

    encoded = _encode_with_models(
        _spread_for_encode(corpus), cids, cmat_n, cb_sub, id_col, vec_col
    )
    # base drift reference, observed ON the committing write itself (r15
    # — was a separate post-commit codes-table scan): CollectMetrics
    # folds the same JVM-side reconstruction-error aggregate over exactly
    # the rows the segment write streams out, so the reference describes
    # the committed codes without a second pass over them
    obs = Observation()
    encoded = encoded.observe(
        obs,
        F.avg(
            _qerr_expr(
                _codebook_literal(cb_sub),
                n_subspaces,
                int(cb_sub.shape[1]),
                sub_dim,
            )
        ).alias("qerr"),
    )
    # repartition by list so a probe is a partition-local read; at
    # warehouse scale this becomes write-partitioned-by(list_id)
    encoded = encoded.repartition("list_id")
    meta = {
        "dim": dim,
        "n_subspaces": n_subspaces,
        "n_codes": int(cb_sub.shape[1]),
        "n_centroids": n_centroids,
        "codebook_strategy": codebook_strategy,
        "base_qerr": 0.0,
        "fingerprint": fingerprint,
    }
    index.model.replace(model_df, meta)
    index.codes.replace(encoded, meta)
    qerr = obs.get["qerr"]
    index.codes.update_meta(
        {"base_qerr": float(qerr) if qerr is not None else 0.0}
    )
    return index


def ann_query(
    spark: SparkSession,
    index: AnnIndex,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 4,
    shortlist: int = 50,
    query_id_col: str = "qid",
    vec_col: str = "embedding",
    broadcast_queries: bool | None = None,
    broadcast_threshold: int = 10_000,
) -> DataFrame:
    """IVF-PQ search over the PREBUILT index: probe lists → ADC over
    stored 8-byte codes → exact-cosine rerank over the stored uvec
    covering column. Touches ONLY index tables (plus the caller's query
    frame); no corpus scan, no training — the amortized path whose cost
    is independent of build cost (SCALING.md carries the measurement).
    Bit-identical to inline ``ivf_pq_topk`` for lowest_id-trained
    indexes (result-identity pinned by tests/test_ann_index.py).

    Query-side strategy (VERDICT r8 task 8): ``broadcast_queries=True``
    ships the exploded query frame to every executor — right for
    interactive top-k, a driver/executor-memory ceiling for the
    batch-inference shape (millions of queries scored against the
    index). ``False`` joins on ``list_id``/``qid`` by shuffle
    (``shuffle_hash``-hinted so Catalyst can never silently re-broadcast
    the query side) — the index codes and the query batch co-partition
    and neither side needs to fit in memory. ``None`` (default)
    auto-picks by one ``queries.count()`` against
    ``broadcast_threshold`` — the same auto-knob pattern as
    auto_n_centroids; pass an explicit bool when the caller already
    knows the shape (oracle-replay entries pass True). Results are
    identical by construction (identity-pinned)."""
    m = index.meta()
    n_subspaces, sub_dim = m["n_subspaces"], m["dim"] // m["n_subspaces"]
    cids, cmat_n, cb_sub = index.load_models(spark)
    cb_lit = _codebook_literal(cb_sub)
    probe = _probe_lists_udf(cids, cmat_n, n_probes)
    if broadcast_queries is None:
        broadcast_queries = queries.count() <= broadcast_threshold

    c_idx = index.codes.read(spark)
    qv = queries.select(
        F.col(query_id_col).alias("qid"),
        _unit(F.col(vec_col)).alias("qv"),
        F.explode(probe(F.col(vec_col))).alias("list_id"),
    )

    def q_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_queries else df.hint("shuffle_hash")

    adc = _adc_over_codes(cb_lit, n_subspaces, m["n_codes"], sub_dim)
    w_short = Window.partitionBy("qid").orderBy(F.col("adc").desc(), F.col("vec_id"))
    shortlisted = (
        c_idx.select("vec_id", "list_id", "codes")
        .join(q_side(qv), "list_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("adc", adc)
        .select("qid", "vec_id", "adc")
        .withColumn("srn", F.row_number().over(w_short))
        .filter(F.col("srn") <= shortlist)
        .select("qid", "vec_id")
    )
    q_only = qv.select("qid", "qv").dropDuplicates(["qid"])
    # r15: on the interactive (broadcast) path the shortlist is the
    # provably small side — broadcast it so the codes table STREAMS its
    # stored uvec column instead of being picked as the broadcast build;
    # the batch path keeps its pinned broadcast-free shuffle_hash shape
    cand = (
        (F.broadcast(shortlisted) if broadcast_queries else shortlisted)
        .join(c_idx.select("vec_id", F.col("uvec").alias("cv")), "vec_id")
        .join(q_side(q_only), "qid")
    )
    w_final = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        cand.withColumn("sim", _dot(F.col("qv"), F.col("cv")))
        .select("qid", "vec_id", "sim")
        .withColumn("rn", F.row_number().over(w_final))
        .filter(F.col("rn") <= k)
        .select(
            "qid", "vec_id", F.round("sim", 6).alias("cos_sim"), F.col("rn").cast("int")
        )
    )


def append_to_index(
    spark: SparkSession,
    index: AnnIndex,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift_threshold: float = 1.5,
    extra_meta: dict | None = None,
) -> dict:
    """Incremental maintenance: encode a delta against the STANDING
    models and append ONE segment (cost ∝ delta — no corpus re-encode,
    no retrain). Returns the drift report; ``needs_retrain`` trips when
    the delta's measured quantization error exceeds ``drift_threshold``×
    the build-time base (the measured-error criterion from the PQ
    codebook quality tests), at which point ``rebuild`` is the answer —
    exactly the twin trade the incremental cluster maintenance makes
    (fold the delta; re-run the batch op when the model drifts)."""
    m = index.meta()
    n_subspaces, sub_dim = m["n_subspaces"], m["dim"] // m["n_subspaces"]
    cids, cmat_n, cb_sub = index.load_models(spark)
    encoded = _encode_with_models(
        _spread_for_encode(new_vectors), cids, cmat_n, cb_sub, id_col, vec_col
    )
    # ONE observed segment write (r15): qerr + row count ride the write
    # as CollectMetrics — was encode→localCheckpoint, a separate qerr
    # aggregate, the segment write, and a count (4 actions for 1 pass of
    # work). The manifest still publishes strictly AFTER the segment
    # bytes land, with the drift verdict computed from the observation.
    obs = Observation()
    encoded = encoded.observe(
        obs,
        F.avg(
            _qerr_expr(
                _codebook_literal(cb_sub),
                n_subspaces,
                int(cb_sub.shape[1]),
                sub_dim,
            )
        ).alias("qerr"),
        F.count(F.lit(1)).alias("n"),
    ).repartition("list_id")
    seg = index.codes._write_segment(encoded)
    vals = obs.get
    batch_qerr = float(vals["qerr"]) if vals["qerr"] is not None else 0.0
    base = m["base_qerr"]
    # ratio vs the build-time base, with an absolute floor so a
    # perfectly-coded base (base_qerr == 0, e.g. codebook ⊇ all distinct
    # patterns) still trips on genuinely shifted data instead of
    # dividing by zero into "never retrain"
    needs_retrain = batch_qerr > drift_threshold * base + 1e-12
    meta = {
        **m,
        "last_batch_qerr": batch_qerr,
        "needs_retrain": bool(needs_retrain),
        **(extra_meta or {}),
    }
    cur = index.codes.current()
    out = index.codes._commit(cur["segments"] + [seg], meta)
    return {
        "n_appended": int(vals["n"]),
        "batch_qerr": batch_qerr,
        "base_qerr": base,
        "needs_retrain": bool(needs_retrain),
        "version": out["version"],
    }


def delete_from_index(
    spark: SparkSession,
    index: AnnIndex,
    keys_df: DataFrame,
    id_col: str = "vec_id",
) -> dict:
    """GDPR purge for the persisted ANN index — the companion of
    ``ParquetStateTable.purge_keys`` (streaming/state_table.py) on the
    retrieval side: hard-delete the given vec_ids from the codes table so
    no ``ann_query`` can ever return (or even score) them. The standing
    models are untouched — centroids/codebooks are aggregates that do not
    reproduce any individual vector, so deletion is a codes-only rewrite
    (the same reasoning Iceberg/Delta apply: purge data files, keep
    statistics).

    Cost ∝ TOUCHED segments: each segment is first probed with a pruned
    vec_id-only broadcast semi-join (isEmpty — a metadata-cheap scan);
    untouched segments keep their dirs byte-identical in the new manifest,
    touched ones are rewritten by one broadcast anti-join (a segment
    emptied by the purge drops out). One atomic manifest swap publishes
    the result; the commit's pruning deletes the replaced segment dirs.
    Crash before the swap leaves the old manifest fully readable and the
    orphan rewrites are pruned by the next commit; re-running converges.
    """
    cur = index.codes.current()
    if cur is None:
        raise ValueError(
            f"ANN index at {index.root} has not been built (no codes "
            "manifest) — nothing to delete from"
        )
    probe = keys_df.select(F.col(id_col).alias("__p_0")).distinct()
    new_segments: list[str] = []
    rewritten = dropped = 0
    for seg in cur["segments"]:
        df = spark.read.parquet(seg)
        ids = df.select("vec_id")
        if ids.join(
            F.broadcast(probe),
            ids["vec_id"].eqNullSafe(probe["__p_0"]),
            "left_semi",
        ).isEmpty():
            new_segments.append(seg)
            continue
        clean = df.join(
            F.broadcast(probe),
            df["vec_id"].eqNullSafe(probe["__p_0"]),
            "left_anti",
        )
        if clean.isEmpty():
            dropped += 1
            continue
        new_segments.append(index.codes._write_segment(clean))
        rewritten += 1
    index.codes._commit(
        new_segments, {**cur["meta"], "purged_ts": time.time()}
    )
    return {
        "segments_rewritten": rewritten,
        "segments_dropped": dropped,
        "segments_total": len(cur["segments"]),
    }


class MaintainedAnnIndex:
    """foreachBatch wiring for a stream of new vectors (the
    MaintainedClusterView pattern, streaming/pipeline.py): idempotent
    under checkpoint replay via the batch-id fence in the manifest meta
    (append + fence swap in one atomic manifest rename)."""

    def __init__(
        self,
        root: str,
        drift_threshold: float = 1.5,
        bootstrap: bool = False,
        build_opts: dict | None = None,
    ) -> None:
        self.index = AnnIndex(root)
        self.drift_threshold = drift_threshold
        self.bootstrap = bootstrap
        self.build_opts = dict(build_opts or {})

    def apply_batch(self, spark: SparkSession, batch_df: DataFrame, batch_id: int) -> dict:
        cur = self.index.codes.current()
        if cur is not None and cur["meta"].get("last_batch_id", -1) >= batch_id:
            return {"skipped_replay": True, "batch_id": batch_id}
        if cur is None:
            # ADVICE r8: appending to a never-built index used to crash
            # with TypeError. Either bootstrap-build from the first
            # micro-batch (opt-in: the first batch becomes the training
            # corpus, so callers should size it representatively) or fail
            # with the descriptive error AnnIndex.meta() now raises.
            if not self.bootstrap:
                self.index.meta()  # raises the descriptive ValueError
            opts = {"n_centroids": None, **self.build_opts}  # auto-√n default
            build_ann_index(
                spark,
                batch_df,
                self.index.root,
                fingerprint=f"bootstrap-batch-{batch_id}",
                **opts,
            )
            self.index.codes.update_meta({"last_batch_id": batch_id})
            return {
                "bootstrap_build": True,
                "batch_id": batch_id,
                "n_appended": batch_df.count(),
                "needs_retrain": False,
            }
        return append_to_index(
            spark,
            self.index,
            batch_df,
            drift_threshold=self.drift_threshold,
            extra_meta={"last_batch_id": batch_id},
        )
