"""Embedding similarity search (group D, D5-D7) — LLM data pipeline.

- ``embedding_near_dups`` (D5): near-duplicate pairs by quantized cosine,
  label-blocked (blocking keys bound the pairwise work; the planted +100000
  copies surface as cosine 1.0).
- ``topk_bruteforce`` (D6): exact top-k — correctness baseline. The query
  set is broadcast; the scan over candidates is embarrassingly parallel.
- ``topk_ivf`` (D7): IVF-style two-stage search — assign every vector to
  its nearest of K fixed centroids, then search only the query's cell. This
  is the 100 TB path: the full cross-join never happens; per-cell candidate
  lists shrink by ~K×.

All cosines use the quantized-integer formulation from
``functions/vectors.py`` so DuckDB oracles match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import QUANT, cosine6, dot, quantize, sq_norm


def _quantized(embeddings: DataFrame, barrier_key: str = "vec_id") -> DataFrame:
    """Quantized vectors + norms, materialized behind a shuffle barrier.

    Without the repartition, Catalyst can defer the quantize/norm
    projections past the pair join and re-evaluate them per OUTPUT PAIR.
    The exchange forces them to be computed once per input row, and
    partitioning by the downstream join key co-locates the join so the
    shuffle is not wasted work (~7% at sf0.1 where pair fan-out is small;
    the win grows with the pair/input ratio, which is the 100 TB posture).
    """
    qv = quantize(F.col("embedding"))
    return (
        embeddings.select("vec_id", "label", qv.alias("qv"))
        .withColumn("nrm", sq_norm(F.col("qv")))
        .repartition(barrier_key)
    )


def augmented_embeddings(embeddings: DataFrame) -> DataFrame:
    """Deterministic near-dup planting: exact copies at vec_id+100000."""
    base = embeddings.select("vec_id", "embedding", "label")
    copies = embeddings.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    return base.unionByName(copies)


#: Session-scoped trained-model registry (coarse quantizers + PQ codebooks).
#: Production ANN indexes are trained ONCE and served many times; retraining
#: per query call is the anti-pattern the r6 bench profile exposed (D17, D21
#: and D22 each re-ran the Lloyd loop from scratch over the same corpus).
#: Values are driver-held floats (k·d per entry — bytes, not data), keyed by
#: the TRAINING INPUT's canonicalized-plan hash (``DataFrame.semanticHash``,
#: which is equal across separate reads of the same immutable files and
#: distinct for different paths or different local data) plus the training
#: hyperparameters — a key can only collide when the training computation is
#: identical, in which case replaying the cached model is exact. Bounded
#: FIFO so a long-lived session cannot accumulate models without limit.
_TRAINED_CACHE: dict[tuple, object] = {}
_TRAINED_CACHE_MAX = 32


def _input_footprint(df: DataFrame) -> int:
    """Deterministic digest of the scan's FILE footprint (paths + sizes +
    mtimes). ``semanticHash`` hashes the canonicalized PLAN — i.e. the
    paths — not the bytes behind them, so a dataset regenerated in place
    (``mode('overwrite')`` at the same path mid-session) would silently
    replay a model trained on the OLD data. Folding each input file's
    (path, size, mtime_ns) into the key makes an in-place rewrite a cache
    MISS instead. Remote/unstattable files contribute path-only (same
    behavior as before for non-local storage)."""
    import os as _os
    import re as _re
    import zlib as _zlib

    digest = 0
    try:
        files = sorted(df.inputFiles())
    except Exception:
        return 0
    for uri in files:
        # "file:/p", "file:///p" → "/p"; other schemes left as-is (stat
        # fails → path-only record).
        path = _re.sub(r"^file:/+", "/", uri) if uri.startswith("file:") else uri
        try:
            st = _os.stat(path)
            rec = f"{uri}|{st.st_size}|{st.st_mtime_ns}"
        except OSError:
            rec = uri
        digest = _zlib.crc32(rec.encode(), digest)
    return digest


def _model_key(tag: str, df: DataFrame, *params) -> tuple | None:
    """Cache key for a model trained on ``df`` — ``None`` disables caching
    (e.g. plans whose semantic hash is unavailable). Key = canonicalized-
    plan hash + input-file footprint (path/size/mtime — see
    ``_input_footprint``) + hyperparameters."""
    try:
        h = df.semanticHash()
    except Exception:
        return None
    return (tag, h, _input_footprint(df)) + params


#: Models loaded from a persisted snapshot, keyed by the CROSS-SESSION-
#: stable part of the cache key: (tag, file-footprint, *hyperparams).
#: ``semanticHash`` is NOT stable across Spark sessions (plan
#: canonicalization normalizes per-JVM expression ids), so a model
#: persisted by session A can't be found by session B under the full
#: key. The stable subkey IS a sound cross-session identity: within a
#: tag the files→training pipeline is fixed code, so the model is
#: determined by (input files+sizes+mtimes, hyperparams) — EXCEPT when
#: the footprint is 0 (no scan files, e.g. a createDataFrame input), in
#: which case the fallback is disabled and only the exact in-session key
#: resolves (two different local frames must never share a model).
_LOADED_MODELS: dict[tuple, object] = {}
#: Promotions from _LOADED_MODELS into the session cache — lets tests pin
#: that a replay actually served the persisted model (a deterministic
#: retrain would produce identical values, masking a key mismatch).
_LOADED_HITS = {"n": 0}


def _stable_key(key: tuple) -> tuple:
    """(tag, footprint, *params) — the full key minus semanticHash."""
    return (key[0], key[2]) + key[3:]


def _cache_get(key: tuple | None):
    """Two-tier model lookup: exact session key, then (footprint != 0)
    the persisted-snapshot store under the stable subkey — promoting a
    hit into the session cache under the full key."""
    if key is None:
        return None
    model = _TRAINED_CACHE.get(key)
    if model is not None:
        return model
    if key[2] != 0:
        model = _LOADED_MODELS.get(_stable_key(key))
        if model is not None:
            _LOADED_HITS["n"] += 1
            _cache_put(key, model)
    return model


def _bounded_put(store: dict, key: tuple, value) -> None:
    """Insert into a session store capped at ``_TRAINED_CACHE_MAX``
    entries, evicting the oldest (FIFO). Eviction drops the REFERENCE
    only: a caller may still hold an alias of an evicted shared frame,
    and unpersisting a local checkpoint under a live handle is
    unrecoverable (truncated lineage), not a recompute. Orphaned blocks
    are reclaimed by Spark's ContextCleaner; the explicit release path
    is :func:`trained_cache_clear`."""
    if key not in store and len(store) >= _TRAINED_CACHE_MAX:
        store.pop(next(iter(store)))
    store[key] = value


def _cache_put(key: tuple | None, value) -> None:
    if key is not None:
        _bounded_put(_TRAINED_CACHE, key, value)


def trained_cache_clear(loaded_too: bool = True) -> None:
    """Drop every cached trained model (tests / file-mutation escape
    hatch); ``loaded_too=False`` keeps the persisted-snapshot store.
    Shared checkpointed frames release their executor blocks HERE — an
    explicit clear is the documented invalidation point, so outstanding
    handles from before the clear must not be used afterwards (their
    checkpoint lineage is truncated and the blocks are gone)."""
    _TRAINED_CACHE.clear()
    for key in list(_SHARED_FRAMES):
        _shared_frame_release(_SHARED_FRAMES.pop(key))
    if loaded_too:
        _LOADED_MODELS.clear()


#: Session-shared MATERIALIZED frames (localCheckpoint handles), keyed like
#: trained models (plan hash + file footprint + hyperparams) PLUS the owning
#: SparkSession — a checkpoint is session-local state, so a cached handle
#: from a stopped session must never be served to a new one. Motivating
#: case: D39 and D40 both need the full SemDeDup removal frame; without
#: sharing, D40 re-runs the whole assignment + pair join D39 just computed
#: (the r12 bench's one flagged regression). Each entry carries the
#: checkpoint's persistent-RDD ids so an explicit clear can UNPERSIST the
#: executor blocks instead of leaking them for the session lifetime.
#: Written only by :func:`_shared_frame`.
_SHARED_FRAMES: dict[tuple, tuple[object, DataFrame, list[int]]] = {}


def _checkpointed_tracked(df: DataFrame) -> tuple[DataFrame, list[int]]:
    """``localCheckpoint(eager=True)`` plus the ids of the persistent RDDs
    the checkpoint created (diff of the JVM's persistent-RDD registry
    around the call — single-threaded registry use, which is how the
    shared-frame cache is driven). The ids let the EXPLICIT clear path
    (:func:`trained_cache_clear`) release the checkpoint blocks; they are
    deliberately NOT released on capacity eviction, because unpersisting
    a local checkpoint under a live caller handle is unrecoverable
    (truncated lineage), not a recompute."""
    sc = df.sparkSession.sparkContext
    try:
        before = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    except Exception:
        before = None
    out = df.localCheckpoint(eager=True)
    if before is None:
        return out, []
    try:
        after = {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
        return out, sorted(after - before)
    except Exception:
        return out, []


def _shared_frame_release(entry: tuple[object, DataFrame, list[int]]) -> None:
    """Unpersist a cleared entry's checkpoint RDD blocks (best
    effort — a stopped session simply has nothing left to release)."""
    spark, _, rdd_ids = entry
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in rdd_ids:
            jrdd = jmap.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
    except Exception:
        pass


def _shared_frame(tag: str, df: DataFrame | None, build, *params) -> DataFrame:
    """``build()`` materialized once per (tag, ``df``, params) per session
    and served to every later caller — THE one share path for frames that
    several registry queries reuse (the MinHash-LSH candidate graph, the
    normalized ANN corpus, the SemDeDup removal set, the ingest-gate
    bases). ``build`` returns the LAZY frame; this helper performs the
    one materialization.

    A frame is shared only when ``df`` is file-backed and its plan is
    keyable (:func:`_model_key`): two different in-memory frames both
    have footprint 0, and a key collision would serve one frame's result
    to the other. Any other input still gets a materialized frame, just
    never registered. Either way the caller receives a defensive ALIAS of
    the checkpoint, so a caller's ``unpersist()`` is a plan-local no-op
    instead of poisoning every later hit."""
    key = _model_key(tag, df, *params) if df is not None else None
    shared = key is not None and key[2] != 0
    entry = _SHARED_FRAMES.get(key) if shared else None
    if entry is None or entry[0] is not df.sparkSession:
        out, rdd_ids = _checkpointed_tracked(build())
        entry = (out.sparkSession, out, rdd_ids)
        if shared:
            _bounded_put(_SHARED_FRAMES, key, entry)
    return entry[1].alias("shared")


def _key_json(key: tuple) -> str:
    """Canonical JSON of a trained-model cache key — the cross-session
    identity of a model. Every key element is a JSON scalar (tag string,
    semanticHash int, file-footprint int, hyperparameter ints), so the
    round trip ``tuple(json.loads(_key_json(k))) == k`` is exact."""
    import json as _json

    return _json.dumps(list(key), separators=(",", ":"))


def persist_trained_models(spark: SparkSession, table_dir: str) -> tuple[int, int]:
    """Write every session-cached trained model (coarse-quantizer
    centroids, PQ codebooks) as ONE snapshot-table version
    (``sources/snapshots.py`` — manifest-pinned, atomic publish, time
    travel) so "train once, serve many" survives Spark-session restarts.

    Row layout (one row per centroid / codeword — models are driver-held
    k·d floats, kilobytes): ``key_json`` (the full cache key, see
    :func:`_key_json`), ``tag``, ``sub`` (PQ subspace, −1 for coarse/raw
    centroid models), ``cid`` (cluster / code id), ``vec``. Returns
    ``(snapshot_version, n_models)``.
    """
    from ..sources.snapshots import commit_append

    rows = []
    n_models = 0
    for key, model in _TRAINED_CACHE.items():
        if not isinstance(model, dict) or not model:
            continue
        n_models += 1
        kj, tag = _key_json(key), str(key[0])
        for mk, vec in sorted(model.items()):
            sub, cid = mk if isinstance(mk, tuple) else (-1, mk)
            rows.append((kj, tag, int(sub), int(cid), [float(x) for x in vec]))
    df = spark.createDataFrame(
        rows, "key_json string, tag string, sub long, cid long, vec array<double>"
    )
    return commit_append(df, table_dir), n_models


def index_persist_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 rows-only runner ``similarity_index_persist_report``: prove the
    production "train once, serve MANY SESSIONS" loop end-to-end on real
    commits — train the family-shared ANN structures, persist them as a
    snapshot version, wipe the session registry (the restart simulation —
    the cross-PROCESS half is pinned in ``tests/test_operators.py`` with
    an actual second Spark session), reload, and replay the search.

    Four invariants, all carried in the report row and asserted loud:
    ``models_equal`` — the reloaded driver-held structures are bit-equal
    (doubles round-trip parquet exactly); ``keys_resolved`` — the NEW
    session's freshly computed cache keys (semanticHash + file footprint
    + hyperparams) find the loaded models, i.e. replay actually happens
    rather than a silent deterministic retrain masking a key mismatch;
    ``replay_equal`` — the replayed search is row-identical to the
    pre-persist search; plus the snapshot version/model counts.
    """
    import shutil
    import tempfile

    from pyspark.sql import Row

    from ..sources.tables import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"]
    work = tempfile.mkdtemp(prefix="gfaooa_models_")
    try:
        search1 = similarity_ivf_pq(emb)
        r1 = sorted((tuple(r) for r in search1.collect()), key=str)
        expected_keys = set(_TRAINED_CACHE)
        saved = {k: dict(v) for k, v in _TRAINED_CACHE.items()}
        version, n_models = persist_trained_models(spark, work)
        trained_cache_clear()
        n_loaded = load_trained_models(spark, work)
        models_equal = {
            k: v for k, v in _TRAINED_CACHE.items() if k in saved
        } == saved and set(saved) <= set(_TRAINED_CACHE)
        keys_resolved = expected_keys <= set(_TRAINED_CACHE)
        r2 = sorted(
            (tuple(r) for r in similarity_ivf_pq(emb).collect()), key=str
        )
        replay_equal = r1 == r2
        if not (models_equal and keys_resolved and replay_equal):
            raise AssertionError(
                f"persisted-model replay broken: models_equal={models_equal} "
                f"keys_resolved={keys_resolved} replay_equal={replay_equal}"
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        [
            Row(
                version=version,
                n_models=n_models,
                n_loaded=n_loaded,
                models_equal=models_equal,
                keys_resolved=keys_resolved,
                replay_equal=replay_equal,
                n_result_rows=len(r1),
            )
        ]
    )


def load_trained_models(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> int:
    """Load a persisted model snapshot back into the session registry
    (latest version unless pinned); returns the number of models loaded.

    Each model lands in the session cache under its persisted full key
    AND in the cross-session store under the STABLE subkey (tag,
    file-footprint, hyperparams — ``semanticHash`` is per-JVM and
    deliberately excluded, see ``_LOADED_MODELS``). A consumer
    (D17/D20/D21/D22/D23) that would have trained finds its model via
    :func:`_cache_get`'s fallback: replay is bit-identical to retraining
    (training is deterministic and the cache stores exactly the
    structures that produced the original results — pinned in
    ``tests/test_operators.py`` across two real Spark processes). A
    model whose underlying data changed since persist gets a DIFFERENT
    footprint in the new session and retrains instead of replaying
    stale state; footprint-less models (no scan files) never serve
    cross-session.
    """
    import json as _json

    from ..sources.snapshots import read_snapshot

    by_key: dict[tuple, dict] = {}
    for r in read_snapshot(spark, table_dir, version).collect():
        key = tuple(_json.loads(r.key_json))
        model = by_key.setdefault(key, {})
        mk = int(r.cid) if r.sub < 0 else (int(r.sub), int(r.cid))
        model[mk] = [float(x) for x in r.vec]
    for key, model in by_key.items():
        _cache_put(key, model)
        if key[2] != 0:
            _LOADED_MODELS[_stable_key(key)] = model
    return len(by_key)


#: Sub-blocks per label block in D5/D8. Work per join task is bounded by
#: (largest_label_block / N_SPLITS)²; raise for bigger corpora.
N_SPLITS = 4


def _sub_block(col_name: str = "vec_id", n_splits: int = N_SPLITS) -> F.Column:
    """Deterministic hash sub-block id in [0, n_splits)."""
    return F.pmod(F.xxhash64(col_name), F.lit(n_splits))


def embedding_near_dups(
    embeddings: DataFrame, threshold: float = 0.98, n_splits: int = N_SPLITS
) -> DataFrame:
    """D5: near-duplicate pairs by cosine ≥ threshold within label blocks.

    Bounded-block pairing: a plain label-keyed self-join puts an ENTIRE
    label block in one join partition — at 100 TB the largest label would
    be a single straggler task. Instead every vector gets a deterministic
    hash sub-block ``sub ∈ [0, S)``; the probe side is replicated S ways
    (``t ∈ [0, S)``) and the join key is the composite (label, t)=(label,
    sub), so each task holds one (sub-block × sub-block) cross product:
    memory and work per task drop S², key cardinality rises S×. Unlike an
    LSH-band blocking key (D3's trick), this split is LOSSLESS — every
    qualifying pair still meets in exactly one task (the one keyed by the
    right-hand vector's sub-block), so the exact oracle is unchanged.
    The S× probe replication is the same price the salted broadcast join
    (operators/skew.py) pays, for the same reason.
    """
    q = _quantized(augmented_embeddings(embeddings), barrier_key="label")
    b = q.withColumn("sub", _sub_block(n_splits=n_splits)).alias("b")
    a = q.withColumn(
        "t", F.explode(F.array(*[F.lit(i) for i in range(n_splits)]))
    ).alias("a")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.t") == F.col("b.sub"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        cosine6(
            dot(F.col("a.qv"), F.col("b.qv")), F.col("a.nrm"), F.col("b.nrm")
        ).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= threshold)


def topk_bruteforce(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 8,
    q_lo: int = 0,
    q_hi: int | None = None,
) -> DataFrame:
    """D6: brute-force cosine top-k for query vectors in ``[q_lo, q_hi)``
    (``q_hi`` defaults to ``n_queries``, preserving the original
    vec_id < n_queries contract the D6 oracle pins)."""
    if q_hi is None:
        q_hi = n_queries
    q = _quantized(embeddings)
    queries = q.filter((F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi)).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("q_qv"), F.col("nrm").alias("q_nrm")
    )
    cand = q.select(
        F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("c_qv"), F.col("nrm").alias("c_nrm")
    )
    scored = F.broadcast(queries).join(
        cand, F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine6(
            dot(F.col("q_qv"), F.col("c_qv")), F.col("q_nrm"), F.col("c_nrm")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def topk_ivf(
    embeddings: DataFrame, k: int = 3, n_centroids: int = 8, q_lo: int = 8, q_hi: int = 24
) -> DataFrame:
    """D7: IVF-style search — K fixed centroids, search own cell only."""
    q = _quantized(embeddings)
    centroids = q.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("qv").alias("cent_qv"), F.col("nrm").alias("cent_nrm")
    )
    scored = q.join(F.broadcast(centroids)).select(
        "vec_id",
        "cent_id",
        cosine6(
            dot(F.col("qv"), F.col("cent_qv")), F.col("nrm"), F.col("cent_nrm")
        ).alias("c_cos"),
    )
    wa = Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(), F.col("cent_id"))
    assign = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cent_id").alias("cell_id"))
    )
    cells = q.join(assign, "vec_id")
    queries = cells.filter(
        (F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("cell_id"),
        F.col("qv").alias("q_qv"),
        F.col("nrm").alias("q_nrm"),
    )
    cand = cells.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell_id").alias("c_cell"),
        F.col("qv").alias("c_qv"),
        F.col("nrm").alias("c_nrm"),
    )
    scored2 = F.broadcast(queries).join(
        cand,
        (F.col("cell_id") == F.col("c_cell")) & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        "cell_id",
        "neighbor_id",
        cosine6(
            dot(F.col("q_qv"), F.col("c_qv")), F.col("q_nrm"), F.col("c_nrm")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored2.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell_id", "neighbor_id", "rank", "cosine")
    )


def topk_ann_lsh(
    embeddings: DataFrame,
    k: int = 3,
    n_bits: int = 6,
    q_lo: int = 100,
    q_hi: int = 116,
) -> DataFrame:
    """D9: LSH-bucketed ANN — the random-hyperplane alternative to IVF (D7).

    Sign-of-dot-product hashing (Charikar SimHash family): each vector gets
    an ``n_bits``-bit signature, bit b = sign(v · anchor_b), anchors being
    the first ``n_bits`` data vectors (a fixed, deterministic hyperplane
    set both engines can reproduce). Vectors sharing a signature land in
    the same bucket; queries do exact cosine ONLY within their bucket.

    Scale posture vs D7: no assignment argmax pass — signatures are one
    broadcast-anchors map (narrow), and the candidate join key space is
    bounded by 2^n_bits regardless of data size. Bucket skew is the
    AQE-skew-join case; raising n_bits splits buckets geometrically.
    """
    q = _quantized(embeddings)
    anchors = q.filter(F.col("vec_id") < n_bits).select(
        F.col("vec_id").alias("bit_idx"), F.col("qv").alias("a_qv")
    )
    bits = q.join(F.broadcast(anchors)).select(
        "vec_id",
        (
            F.when(dot(F.col("qv"), F.col("a_qv")) >= 0, 1)
            .otherwise(0)
            .cast("long")
            * F.expr("CAST(POWER(2, bit_idx) AS BIGINT)")
        ).alias("bit_val"),
    )
    sig = bits.groupBy("vec_id").agg(F.sum("bit_val").alias("sig"))
    bucketed = q.join(sig, "vec_id")
    queries = bucketed.filter(
        (F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig").alias("q_sig"),
        F.col("qv").alias("q_qv"),
        F.col("nrm").alias("q_nrm"),
    )
    cand = bucketed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("sig").alias("c_sig"),
        F.col("qv").alias("c_qv"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = F.broadcast(queries).join(
        cand,
        (F.col("q_sig") == F.col("c_sig"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        F.col("q_sig").alias("sig"),
        "neighbor_id",
        cosine6(
            dot(F.col("q_qv"), F.col("c_qv")), F.col("q_nrm"), F.col("c_nrm")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "sig", "neighbor_id", "rank", "cosine")
    )


def embedding_near_dups_blas(embeddings: DataFrame, threshold: float = 0.98) -> DataFrame:
    """D5 scale path: per-block BLAS pairwise cosine via ``applyInPandas``.

    The declarative D5 computes each pair's dot product with
    ``aggregate(zip_with(...))`` — higher-order functions are interpreted
    per element, so a block of n vectors costs n²·d interpreted ops. This
    variant ships each label block to an Arrow-batched pandas function and
    lets one int64 ``Q @ Q.T`` matmul do the n²·d work in BLAS-style
    vectorized loops, filtering pairs below threshold BEFORE they ever
    become rows.

    The arithmetic is bit-identical to D5: quantization multiplies float32
    by 2^15 (an exponent shift — exact in every float width), the Gram
    matrix is int64 (order-insensitive exact), and the final rounding
    reproduces Spark/DuckDB ROUND (half away from zero). It therefore
    shares D5's exact DuckDB oracle, and equality with D5 is asserted in
    tests.

    Scale posture: one Arrow batch = one task = ONE BOUNDED sub-block
    pair, never a whole label block. Each vector gets a deterministic hash
    sub-block ``sub ∈ [0, S)`` and is fanned to every group ``(label, s1,
    s2) = (label, min(sub,t), max(sub,t))`` for ``t ∈ [0, S)``; the group
    scores the s1×s2 cross product (triangular when s1==s2). Every
    qualifying pair lands in exactly one group, so the split is LOSSLESS —
    same output as the unsplit scorer, same exact oracle — while per-task
    memory drops S² and parallelism rises to #labels·S(S+1)/2 tasks. The
    S× input fan-out is the bounded-task price (cf. the salted broadcast
    join in operators/skew.py).
    """
    import numpy as np
    import pandas as pd

    n_splits = N_SPLITS
    fanned = (
        augmented_embeddings(embeddings)
        .withColumn("sub", _sub_block(n_splits=n_splits))
        .withColumn("t", F.explode(F.array(*[F.lit(i) for i in range(n_splits)])))
        .withColumn("s1", F.least("sub", "t"))
        .withColumn("s2", F.greatest("sub", "t"))
    )
    out_schema = "vec_a long, vec_b long, cosine double"

    def _score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        s1, s2 = pdf["s1"].iloc[0], pdf["s2"].iloc[0]
        ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["embedding"].to_numpy())  # (n, d) float32
        q = np.floor(mat * QUANT).astype(np.int64)  # ×2^15 is exact in f32
        nrm = (q * q).sum(axis=1).astype(np.float64)
        if s1 == s2:
            gram = q @ q.T
            with np.errstate(invalid="ignore"):
                cos = gram / np.sqrt(np.outer(nrm, nrm))
            ia, ib = np.triu_indices(len(ids), k=1)  # vec_a < vec_b by sort
            id_a, id_b, scores = ids[ia], ids[ib], cos[ia, ib]
        else:
            left = (pdf["sub"] == s1).to_numpy()
            right = ~left
            gram = q[left] @ q[right].T
            with np.errstate(invalid="ignore"):
                cos = gram / np.sqrt(np.outer(nrm[left], nrm[right]))
            la, rb = np.meshgrid(
                np.arange(left.sum()), np.arange(right.sum()), indexing="ij"
            )
            id_l, id_r = ids[left][la.ravel()], ids[right][rb.ravel()]
            id_a, id_b = np.minimum(id_l, id_r), np.maximum(id_l, id_r)
            scores = cos.ravel()
        # Spark/DuckDB ROUND(x, 6) = half AWAY from zero; np.round is
        # half-to-even, so reproduce it explicitly.
        scores = np.sign(scores) * np.floor(np.abs(scores) * 1e6 + 0.5) / 1e6
        keep = scores >= threshold
        return pd.DataFrame(
            {"vec_a": id_a[keep], "vec_b": id_b[keep], "cosine": scores[keep]}
        )

    return fanned.groupBy("label", "s1", "s2").applyInPandas(_score_block, out_schema)


def embedding_centroids(embeddings: DataFrame) -> DataFrame:
    """D10: per-label centroid of the quantized embeddings.

    ``posexplode`` fans each vector into (dim, component) rows; the
    group-by on (label, dim) partial-aggregates map-side, so the shuffle
    carries one partial per (label, dim, partition) — bounded by
    ``n_labels * n_dims * n_partitions`` regardless of corpus size. The
    BIGINT component sums are order-insensitive-exact; the centroid is one
    final IEEE division. This is the building block for IVF training /
    k-means style corpus clustering at 100 TB.
    """
    q = embeddings.select("label", quantize(F.col("embedding")).alias("qv"))
    exploded = q.select("label", F.posexplode("qv").alias("dim0", "qval"))
    return (
        exploded.groupBy("label", (F.col("dim0") + 1).cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("qval").alias("sum_q"),
        )
        .select(
            "label",
            "dim",
            "n_vecs",
            "sum_q",
            (F.col("sum_q") / F.col("n_vecs")).alias("centroid_q"),
        )
    )


def knn_classify(embeddings: DataFrame, k: int = 5, n_queries: int = 8) -> DataFrame:
    """D11: k-nearest-neighbor classification — majority label among the
    brute-force top-k, deterministic tie-break (higher count, then lower
    label). Composes D6's ranked neighbors with a broadcast label lookup;
    the expensive part is the existing top-k plan, the vote is a tiny
    aggregate over k·n_queries rows.
    """
    ranked = topk_bruteforce(embeddings, k=k, n_queries=n_queries)
    labels = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("neighbor_label")
    )
    votes = (
        ranked.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", "neighbor_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("neighbor_label")
    )
    best = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_label").alias("predicted_label"), "n_votes")
    )
    truth = embeddings.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return best.join(F.broadcast(truth), "query_id").select(
        "query_id",
        "predicted_label",
        "n_votes",
        "true_label",
        (F.col("predicted_label") == F.col("true_label")).alias("correct"),
    )


def embedding_kmeans(
    embeddings: DataFrame, k: int = 8, max_iter: int = 5
) -> DataFrame:
    """D12: Lloyd's k-means over quantized embeddings — the second genuinely
    iterative operator (alongside P4's connected components).

    Classic Spark iteration shape: centroids live on the DRIVER (k×d floats
    — tiny), each round broadcasts them as literals into a narrow
    assignment pass (zip_with squared distance, argmin via struct-min) and
    one partial-aggregated groupBy recomputes sums/counts. No shuffle of
    the corpus itself, ever; per-round cost is one map + one tiny agg, and
    the driver loop stops early when assignments stop moving. This is the
    IVF-training path for D7 at 100 TB — consumed by
    :func:`topk_ivf_trained`.

    Returns per-cluster summary (sizes, integer inertia) — rows-only check
    (float inertia is summation-order dependent; convergence properties are
    asserted in tests instead).
    """
    assigned = _kmeans_assignments(
        embeddings,
        k=k,
        max_iter=max_iter,
        cache_key=_model_key("kmeans-raw", embeddings, k, max_iter),
    )
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.floor(F.sum("d2")).cast("long").alias("inertia_floor"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )


#: k above which the Lloyd assignment pass switches from the literal-array
#: form to the broadcast-frame form — the literal tree is k structs × d
#: literals evaluated through k nested higher-order folds PER ROW, which
#: Catalyst stops handling gracefully well before the derived-√n cell
#: counts D42 now requests (measured: k=144 at 10× data ran the literal
#: form at 146 s where the frame form runs the same arithmetic in ~14 s).
_ASSIGN_LITERAL_MAX_K = 16


def _assign_pass(q: DataFrame, centroids: dict[int, list[float]]) -> DataFrame:
    """One Lloyd assignment pass: nearest-centroid id + squared distance
    per vector. Two PHYSICAL forms with IDENTICAL output (same zip_with
    left-fold float arithmetic, same (d, cid) lexicographic argmin —
    equality pinned in tests):

    - k ≤ 16: centroids as literals, array_min over a transform — fully
      narrow, zero shuffle (the cheapest form for the small-k quantizers
      D12/D17/D20–D23 train);
    - k > 16: centroids as a BROADCAST k-row frame; the k-way fan-out is
      a broadcast join (no shuffle), and the argmin is min(struct(d,
      cid, …)) under groupBy(vec_id) — a map-side-combined aggregate, so
      the one exchange carries ~n rows, not n·k (each mapper pre-reduces
      to its local minimum per vector). At 100 TB this is the form that
      survives; a BLAS mapInPandas argmin would beat both constants but
      trades the exact SQL fold for summation-order drift (the D8
      boundary, deliberately not crossed here)."""
    if len(centroids) <= _ASSIGN_LITERAL_MAX_K:
        cent_arr = F.array(
            *[
                F.struct(
                    F.lit(cid).cast("long").alias("cid"),
                    F.array(*[F.lit(x) for x in vec]).alias("c"),
                )
                for cid, vec in sorted(centroids.items())
            ]
        )
        dist = lambda c: F.aggregate(  # noqa: E731
            F.zip_with(F.col("qv"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return q.select(
            "vec_id",
            "qv",
            "nrm",
            F.array_min(
                F.transform(
                    cent_arr,
                    lambda s: F.struct(dist(s["c"]).alias("d"), s["cid"].alias("cid")),
                )
            ).alias("best"),
        ).select(
            "vec_id",
            "qv",
            "nrm",
            F.col("best.cid").alias("cluster_id"),
            F.col("best.d").alias("d2"),
        )
    cent = F.broadcast(
        q.sparkSession.createDataFrame(
            [
                (int(cid), [float(x) for x in vec])
                for cid, vec in sorted(centroids.items())
            ],
            "cid long, c array<double>",
        )
    )
    dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("c"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = q.join(cent).select(
        "vec_id", "qv", "nrm", F.col("cid"), dist.alias("d")
    )
    best = scored.groupBy("vec_id").agg(
        F.min(F.struct("d", "cid", "qv", "nrm")).alias("best")
    )
    return best.select(
        "vec_id",
        F.col("best.qv").alias("qv"),
        F.col("best.nrm").alias("nrm"),
        F.col("best.cid").alias("cluster_id"),
        F.col("best.d").alias("d2"),
    )


def _assign_pass_blas(q: DataFrame, centroids: dict[int, list[float]]) -> DataFrame:
    """The TRAINING-iteration assignment pass for large k: Arrow-batched
    numpy argmin over the broadcast centroid matrix (one n×k GEMM per
    batch — what Spark MLlib's own k-means does with native BLAS). Used
    ONLY inside the Lloyd loop where per-iteration throughput is the
    point; the assignment a caller RECEIVES is always recomputed by the
    exact SQL :func:`_assign_pass` over the converged centroids, so
    downstream algebra and cache replays stay engine-exact. Ties break
    to the LOWEST cid (argmin's first occurrence over cid-sorted rows —
    the same (d, cid) rule), though d2 here is the expanded |q|² − 2q·c
    + |c|² form whose last-ulp rounding may differ from the SQL fold (a
    training-trajectory detail, deterministic across reruns)."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    cids = sorted(centroids)
    cmat = [centroids[c] for c in cids]
    # fresh StructType — StructType.add MUTATES, and q.schema is the
    # DataFrame's cached schema object
    schema = StructType(
        list(q.schema.fields)
        + [StructField("cluster_id", LongType()), StructField("d2", DoubleType())]
    )

    def part(batches):
        import numpy as np
        import pandas as pd

        cm = np.asarray(cmat, dtype=np.float64)
        cn = (cm * cm).sum(axis=1)
        cid_arr = np.asarray(cids, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = np.asarray(pdf["qv"].tolist(), dtype=np.float64)
            d2 = (qm * qm).sum(axis=1)[:, None] - 2.0 * (qm @ cm.T) + cn[None, :]
            best = d2.argmin(axis=1)
            out = pdf.copy()
            out["cluster_id"] = cid_arr[best]
            out["d2"] = d2[np.arange(len(best)), best]
            yield out

    return q.mapInPandas(part, schema)


def _kmeans_assignments(
    embeddings: DataFrame | None,
    k: int = 8,
    max_iter: int = 5,
    q: DataFrame | None = None,
    cache_key: tuple | None = None,
    return_centroids: bool = False,
    materialized: bool = False,
):
    """Converged Lloyd assignment (vec_id, qv, nrm, cluster_id, d2) — the
    training loop shared by D12's summary and the D17/D21/D22 coarse
    quantizers.

    ``q`` lets a caller supply a pre-built (vec_id, qv, nrm) frame in a
    different vector space — D21/D22 train their coarse quantizer on
    L2-NORMALIZED vectors so cell centroids and PQ residuals share one
    space (a residual only cancels exactly against a centroid from the
    same space).

    ``cache_key`` (from :func:`_model_key`) consults the session trained-
    model registry: on a hit the Lloyd loop is skipped entirely and the
    CACHED centroids — exactly the ones that produced the original
    returned assignment — drive one narrow assignment pass, so the replay
    is bit-identical to retraining. On a miss the converged centroids are
    stored. ``return_centroids`` additionally returns that centroid dict
    (driver-held k·d floats) so callers like D22 need no extra
    member-mean aggregation pass."""
    if max_iter < 1:
        raise ValueError(f"k-means needs max_iter >= 1, got {max_iter}")
    if q is None:
        q = _quantized(embeddings).select("vec_id", "qv", "nrm")
    cached = _cache_get(cache_key)
    if cached is not None:
        assigned = _assign_pass(q, cached)
        return (assigned, cached) if return_centroids else assigned
    # Training runs max_iter+2 actions over ``q`` (seeds, one per Lloyd
    # round, the final exact pass) — materialize it ONCE on the miss path
    # unless the caller already did (guide §5: _quantized carries a
    # repartition, so a lazy q re-pays parquet read + quantize + shuffle
    # per round). Cache-hit replays stay one-pass and skip the barrier.
    if not materialized:
        q = q.localCheckpoint(eager=True)
    # Seed centroids by md5-permutation top-k — deterministic (tests and
    # reruns see identical seeds) yet hash-SPREAD across the corpus, unlike
    # the first k ids, which can all sit inside one cluster when ids are
    # assigned in insertion order. Top-k over an order is a bounded
    # TakeOrderedAndProject, not a global sort.
    first = (
        q.withColumn("_seed_key", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_seed_key", "vec_id")
        .limit(k)
        .collect()
    )
    if not first:
        raise ValueError("k-means requires a non-empty embeddings table")
    centroids = {r.vec_id: [float(x) for x in r.qv] for r in first}
    n_dims = len(first[0].qv)

    # Large-k training iterations run the Arrow/BLAS assignment (see
    # _assign_pass_blas — the trajectory pass only); the RETURNED
    # assignment is always the exact SQL pass over the converged
    # centroids, identical to what a cache replay serves.
    train_pass = (
        _assign_pass_blas if len(centroids) > _ASSIGN_LITERAL_MAX_K else _assign_pass
    )
    assigned = None
    used_centroids = centroids
    for _ in range(max_iter):
        # the centroids the RETURNED assignment is computed with — cached so
        # a replay reproduces this exact assignment, converged or not
        used_centroids = centroids
        scored = train_pass(q, centroids)
        sums = (
            scored.select("cluster_id", F.posexplode("qv").alias("dim", "x"))
            .groupBy("cluster_id", "dim")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_centroids: dict[int, list[float]] = {}
        for r in sums:
            new_centroids.setdefault(r.cluster_id, [0.0] * n_dims)[r.dim] = r.s / r.n
        if not new_centroids:
            break
        moved = new_centroids != centroids
        centroids = new_centroids
        assigned = scored
        if not moved:
            break
    _cache_put(cache_key, used_centroids)
    if train_pass is _assign_pass_blas:
        assigned = _assign_pass(q, used_centroids)
    return (assigned, used_centroids) if return_centroids else assigned


def topk_ivf_trained(
    embeddings: DataFrame,
    k: int = 3,
    n_cells: int = 8,
    q_lo: int = 8,
    q_hi: int = 24,
    max_iter: int = 5,
) -> DataFrame:
    """D17: IVF search over TRAINED cells — D12's k-means centroids replace
    D7's arbitrary first-``n_cells`` vectors as the coarse quantizer.

    This closes the production IVF loop: train the quantizer on the data
    distribution (balanced cells ≈ balanced candidate lists; an arbitrary
    quantizer can leave one cell holding most of the corpus, which at
    100 TB is a straggler AND a recall cliff for queries in dense
    regions), then search a query's own cell exactly as D7 does. The
    converged assignment is MATERIALIZED once (localCheckpoint) — it
    feeds both join sides below, and a lazy plan would re-run the whole
    Lloyd assignment pass per side; the cell join is an equi-join and the
    per-query top-k is a WindowGroupLimit window. The quantizer rides the
    session trained-model registry (same corpus + hyperparameters → train
    once, serve every later call — D12 trains the identical model, so
    either primes the other). Rows-only check (iterative training, like
    D12); recall vs brute-force asserted comparable to the untrained D7
    baseline in tests.
    """
    assigned = _kmeans_assignments(
        embeddings,
        k=n_cells,
        max_iter=max_iter,
        cache_key=_model_key("kmeans-raw", embeddings, n_cells, max_iter),
    ).localCheckpoint(eager=True)
    cells = assigned.select(
        "vec_id", "qv", "nrm", F.col("cluster_id").alias("cell_id")
    )
    queries = cells.filter(
        (F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("cell_id"),
        F.col("qv").alias("q_qv"),
        F.col("nrm").alias("q_nrm"),
    )
    cand = cells.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell_id").alias("c_cell"),
        F.col("qv").alias("c_qv"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = F.broadcast(queries).join(
        cand,
        (F.col("cell_id") == F.col("c_cell"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        "cell_id",
        "neighbor_id",
        cosine6(
            dot(F.col("q_qv"), F.col("c_qv")), F.col("q_nrm"), F.col("c_nrm")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "cell_id", "neighbor_id", "rank", "cosine")
    )


def topk_ivf_multiprobe(
    embeddings: DataFrame,
    k: int = 3,
    n_centroids: int = 8,
    n_probe: int = 2,
    q_lo: int = 8,
    q_hi: int = 24,
) -> DataFrame:
    """D13: multi-probe IVF — D7 with queries probing their ``n_probe``
    nearest cells instead of one.

    The production IVF setting: single-probe recall suffers exactly when a
    query sits near a cell boundary; probing the next-nearest cells
    recovers most of it for a bounded ``n_probe×`` candidate cost.
    Candidates keep their single home cell (the index is unchanged); only
    the query fan-out grows, so the plan is D7's equi-join with an
    ``n_probe``-row probe set per query — still never a cross join.
    """
    q = _quantized(embeddings)
    centroids = q.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"),
        F.col("qv").alias("cent_qv"),
        F.col("nrm").alias("cent_nrm"),
    )
    scored = q.join(F.broadcast(centroids)).select(
        "vec_id",
        "cent_id",
        cosine6(
            dot(F.col("qv"), F.col("cent_qv")), F.col("nrm"), F.col("cent_nrm")
        ).alias("c_cos"),
    )
    wa = Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(), F.col("cent_id"))
    ranked_cells = scored.withColumn("rn", F.row_number().over(wa))
    assign = ranked_cells.filter(F.col("rn") == 1).select(
        "vec_id", F.col("cent_id").alias("cell_id")
    )
    probes = ranked_cells.filter(F.col("rn") <= n_probe).select(
        "vec_id", F.col("cent_id").alias("probe_cell")
    )
    cells = q.join(assign, "vec_id")
    queries = (
        cells.filter((F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi))
        .join(probes, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("probe_cell"),
            F.col("qv").alias("q_qv"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    cand = cells.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cell_id").alias("c_cell"),
        F.col("qv").alias("c_qv"),
        F.col("nrm").alias("c_nrm"),
    )
    scored2 = F.broadcast(queries).join(
        cand,
        (F.col("probe_cell") == F.col("c_cell"))
        & (F.col("query_id") != F.col("neighbor_id")),
    ).select(
        "query_id",
        "neighbor_id",
        cosine6(
            dot(F.col("q_qv"), F.col("c_qv")), F.col("q_nrm"), F.col("c_nrm")
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored2.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def embedding_dup_groups(embeddings: DataFrame) -> DataFrame:
    """D16: canonical near-dup GROUPS over the embedding-cosine pair graph
    — P4's connected components applied to D5's edge list, so every
    embedding near-dup cluster resolves to one keep_vec_id even when
    membership is only transitive (A~B, B~C, cosine(A,C) < threshold).

    This is the step that turns pairwise near-dup detection into an
    actionable dedup verdict; curation drops every member whose vec_id is
    not the group minimum. Scale shape inherited wholesale: the edge list
    (≪ corpus) comes from D8's Arrow Gram-matrix scorer — bit-identical
    pairs to the declarative D5 (asserted in tests), ~5× faster measured —
    and the shared CC (pipeline.dup_labels_star) resolves that edge list
    alone, by one collect + driver union-find under its size gate.
    """
    from .pipeline import dup_labels_star

    pairs = embedding_near_dups_blas(embeddings).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    labels = dup_labels_star(None, pairs=pairs)
    return (
        labels.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.array_join(
                F.sort_array(F.collect_list("src")).cast("array<string>"), ","
            ).alias("vec_ids"),
        )
        .filter(F.col("n_vecs") >= 2)
        # the CC labels every component with its minimum member, so
        # the canonical survivor IS the group id — stated once, not
        # re-aggregated as a second always-equal column.
        .select(
            "group_id",
            F.col("group_id").alias("keep_vec_id"),
            "n_vecs",
            "vec_ids",
        )
    )


def range_search(
    embeddings: DataFrame,
    radius: float = 0.3,
    n_queries: int = 8,
) -> DataFrame:
    """D19: cosine RANGE search — every neighbor within ``radius`` of each
    query vector, however many there are.

    Top-k (D6) answers "the k closest"; retrieval filtering, dedup-radius
    audits and recall measurement need "everything at least this close" —
    the result set size is data-dependent, so rank windows don't apply
    and the filter composes directly onto the scored join (no sort at
    all, unlike top-k). Same broadcast-queries / quantized-cosine
    scaffolding as D6 (:func:`_quantized`, ``cosine6``), so the score is
    bit-identical to every other D-group cosine; per-query neighbor
    counts ride along via a partition-count window over the (small)
    result set.

    Runs over the augmented corpus so the planted exact copy (vec 0 ->
    100000) is a guaranteed cosine-1.0 in-range hit; the 0.3 default
    radius is calibrated to the synthetic embedding distribution (max
    off-plant cosine ~0.49) so the result set is non-trivial at every SF.
    """
    q = _quantized(augmented_embeddings(embeddings))
    queries = q.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nrm").alias("q_nrm"),
    )
    cand = q.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("qv").alias("c_qv"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = (
        F.broadcast(queries)
        .join(cand, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine6(
                dot(F.col("q_qv"), F.col("c_qv")), F.col("q_nrm"), F.col("c_nrm")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= radius)
    )
    wq = Window.partitionBy("query_id")
    return scored.select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.count(F.lit(1)).over(wq).alias("n_in_range"),
    )


def _pq_assign(subs, books_df):
    """(vec_id, sub, code) nearest-codebook assignment via a BROADCAST
    join against the (sub, cid, c) centroid frame — tiny expression tree,
    so plan analysis stays O(1) as m·k grows (a literal-array embedding
    of the codebooks was measured 3-5s of pure compile time per pass)."""
    dist = F.aggregate(
        F.zip_with(F.col("sv"), F.col("c"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = subs.join(F.broadcast(books_df), "sub").select(
        "vec_id", "sub", F.struct(dist.alias("d"), F.col("cid").alias("cid")).alias("sc")
    )
    return (
        scored.groupBy("vec_id", "sub")
        .agg(F.min("sc").alias("best"))
        .select("vec_id", "sub", F.col("best.cid").alias("code"))
    )


def _pq_subvectors(q: DataFrame, m: int, sub_d: int) -> DataFrame:
    return q.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("long").alias("sub"),
                        F.slice("qv", s * sub_d + 1, sub_d).alias("sv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select("vec_id", F.col("e.sub").alias("sub"), F.col("e.sv").alias("sv"))


def _books_df(spark, books):
    return spark.createDataFrame(
        [(s, c, list(v)) for (s, c), v in sorted(books.items())],
        "sub long, cid long, c array<double>",
    )


def _pq_train(
    q: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    cache_key: tuple | None = None,
) -> dict[tuple[int, int], list[float]]:
    """Train product-quantization codebooks: split the d-dim space into
    ``m`` subspaces and run a JOINT Lloyd loop — one corpus pass assigns
    codes in all subspaces simultaneously (broadcast-join assignment, see
    :func:`_pq_assign`), one aggregation updates all ``m·k`` centroids
    (driver-held, like D12's). Seeds are the md5-top-k vectors'
    subvectors (deterministic, hash-spread). ``cache_key`` consults the
    session trained-model registry — the training is deterministic, so
    replaying cached books is identical to retraining (D20 and D21 train
    the same books over the same normalized corpus; either primes the
    other)."""
    cached = _cache_get(cache_key)
    if cached is not None:
        return cached
    seeds = (
        q.withColumn("_seed_key", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_seed_key", "vec_id")
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError("PQ training requires a non-empty embeddings table")
    d = len(seeds[0].qv)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    sub_d = d // m
    books: dict[tuple[int, int], list[float]] = {}
    for s in range(m):
        for code, r in enumerate(seeds):
            books[(s, code)] = [float(x) for x in r.qv[s * sub_d : (s + 1) * sub_d]]
    spark = q.sparkSession
    subs = _pq_subvectors(q, m, sub_d)
    # Per-round centroid update WITHOUT the (vec_id, sub) back-join the
    # encode-path _pq_assign would force (argmin keeps only the code, so
    # recovering sv re-shuffled the whole subvector frame per round —
    # guide §2.1): carry sv THROUGH the argmin struct. cid is unique per
    # (vec_id, sub) group, so the (d, cid) prefix already decides every
    # comparison and the trailing sv can never influence which row wins.
    dist = F.aggregate(
        F.zip_with(F.col("sv"), F.col("c"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    for _ in range(iters):
        scored = subs.join(F.broadcast(_books_df(spark, books)), "sub").select(
            "vec_id",
            "sub",
            F.struct(
                dist.alias("d"), F.col("cid").alias("cid"), F.col("sv").alias("sv")
            ).alias("sc"),
        )
        sums = (
            scored.groupBy("vec_id", "sub")
            .agg(F.min("sc").alias("best"))
            .select(
                "sub",
                F.col("best.cid").alias("code"),
                F.posexplode("best.sv").alias("dim", "x"),
            )
            .groupBy("sub", "code", "dim")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_books = {key: list(v) for key, v in books.items()}
        for r in sums:
            new_books[(r.sub, r.code)][r.dim] = r.s / r.n
        if new_books == books:
            break
        books = new_books
    _cache_put(cache_key, books)
    return books


def _normalized_aug(embeddings: DataFrame) -> DataFrame:
    """The D20/D21/D22 shared vector space: quantized, augmented,
    L2-normalized (unit sphere — cosine order == L2 order), with ``nrm``
    fixed at 1.0 so downstream code can treat it as exact."""
    return _quantized(augmented_embeddings(embeddings)).select(
        "vec_id",
        F.transform(
            F.col("qv"), lambda x: x / F.sqrt(F.col("nrm").cast("double"))
        ).alias("qv"),
        F.lit(1.0).alias("nrm"),
    )


def _shared_nv(embeddings: DataFrame) -> DataFrame:
    """The materialized normalized-augmented corpus, served through the
    session shared-frame registry (r15, guide §2.4/§5): D20 and every
    _coarse_cells_norm caller (D21/D22/D23) need the IDENTICAL frame, and
    each used to re-materialize it per query — three redundant corpus
    passes per bench sweep. Same sanctioned pattern as the D39/D40
    removal frame; a fresh process still computes it once from parquet
    (the cache is session state, never cross-run)."""
    return _shared_frame("nv-norm-aug", embeddings, lambda: _normalized_aug(embeddings))


def _coarse_cells_norm(
    embeddings: DataFrame, n_cells: int, max_iter: int = 5
) -> tuple[DataFrame, DataFrame, dict[int, list[float]]]:
    """THE shared coarse quantizer for the IVF-PQ family (D21/D22): Lloyd
    cells trained over the normalized augmented corpus, one definition so
    the two searchers (and any test re-deriving cells) can never disagree.

    Returns ``(nv, assigned, centroids)`` — the materialized normalized
    frame, its converged cell assignment, and the driver-held centroids
    that produced it. Training runs at most once per (corpus, n_cells,
    max_iter) per session via the trained-model registry; since r15 the
    ASSIGNMENT frame itself is also served via the shared-frame registry
    (a centroid-cache hit still paid a full assignment pass + checkpoint
    per caller — three redundant corpus passes per bench sweep across
    D21/D22/D23)."""
    nv = _shared_nv(embeddings)
    kkey = _model_key("coarse-norm-aug", embeddings, n_cells, max_iter)
    cents = _cache_get(kkey)

    def _build() -> DataFrame:
        nonlocal cents
        raw, cents = _kmeans_assignments(
            None,
            k=n_cells,
            max_iter=max_iter,
            q=nv,
            cache_key=kkey,
            return_centroids=True,
            materialized=True,  # nv is the shared checkpointed corpus
        )
        return raw

    assigned = _shared_frame("coarse-assigned", embeddings, _build, n_cells, max_iter)
    if cents is None:
        # a replayed assignment whose centroids were evicted: retraining
        # is deterministic, so it recovers the centroids that built it
        _build()
    return nv, assigned, cents


def similarity_pq(
    embeddings: DataFrame,
    k_neighbors: int = 5,
    n_queries: int = 8,
    m: int = 4,
    k_codes: int = 16,
) -> DataFrame:
    """D20: product-quantization ANN (Jégou et al.) — the vector
    COMPRESSION scale path: each vector collapses to ``m`` codebook ids
    (here 4 codes ≈ 4 bytes vs 64 float64s, a 128× memory cut), and query
    distance becomes ``m`` table lookups per candidate (asymmetric
    distance computation), never a full-vector scan.

    Spark shape: codebooks train on the driver (D12's joint-Lloyd loop —
    m·k tiny centroids, corpus never reshuffled), the code table is one
    narrow pass, each query's m×k distance table is computed driver-side
    from the held codebooks and BROADCAST, and ADC is one equi-join on
    (sub, code) + a sum aggregation — candidate cost is O(corpus·m)
    integer-keyed lookups. Vectors are L2-NORMALIZED first so PQ's
    Euclidean codebooks rank identically to the D-group's cosine (cosine
    order == L2 order on the unit sphere — without this, varying norms
    make the two metrics disagree and recall craters). Rows-only check
    (trained codebooks are engine-specific float loops, same class as
    D12/D17).

    Quality framing: on this synthetic corpus the vectors are
    near-uniform random, so pairwise distances CONCENTRATE (the
    high-dimensional regime) and exact-top-5 gaps sit below any
    16-codes-per-subspace quantization error — recall@5 vs brute force is
    ~10× chance but low in absolute terms, a DATA property, not an
    implementation one (measured; the numpy-faithful replica agrees).
    The pinned correctness properties are the ones quantization must
    preserve: a planted byte-identical copy shares its parent's codes and
    ranks at the query's own reconstruction distance (top-1), and ADC
    ranking carries signal over the true ordering (tested).
    """
    q = _shared_nv(embeddings)
    # Codebooks train on a deterministic md5 QUARTER-sample — the standard
    # PQ practice (codebook quality converges long before full-corpus
    # statistics; Jégou et al. train on a fraction), and it cuts the two
    # training passes to 1/4 the rows. Encoding still covers every vector.
    sample = q.filter(
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2), 16, 10)
        .cast("long") % 4 == 0
    )
    books = _pq_train(
        sample,
        m=m,
        k=k_codes,
        cache_key=_model_key("pq-norm-aug", embeddings, m, k_codes),
    )
    sub_d = len(next(iter(books.values())))
    # encode: every vector -> m codes (one narrow pass over the broadcast
    # codebooks)
    spark = embeddings.sparkSession
    codes = _pq_assign(_pq_subvectors(q, m, sub_d), _books_df(spark, books))
    # per-query ADC tables from the driver-held codebooks (m*k entries per
    # query — tiny) broadcast against the code table
    queries = q.filter(F.col("vec_id") < n_queries).collect()
    rows = []
    for qr in queries:
        for (s, code), cent in books.items():
            sv = qr.qv[s * sub_d : (s + 1) * sub_d]
            pd2 = sum((float(x) - y) * (float(x) - y) for x, y in zip(sv, cent))
            rows.append((int(qr.vec_id), s, code, pd2))
    spark = embeddings.sparkSession
    dtable = spark.createDataFrame(
        rows, "query_id long, sub long, code long, pd2 double"
    )
    approx = (
        codes.join(F.broadcast(dtable), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pd2").alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k_neighbors)
        .select("query_id", "neighbor_id", "rank", "approx_d2")
    )


def similarity_ivf_pq(
    embeddings: DataFrame,
    k_neighbors: int = 5,
    n_queries: int = 8,
    m: int = 4,
    k_codes: int = 16,
    n_cells: int = 8,
) -> DataFrame:
    """D21: IVF-PQ — the production ANN index shape (FAISS's IVFPQ,
    simplified to global-space codes): a TRAINED coarse quantizer routes
    every vector into a cell (D17's k-means), PQ codes compress the
    vectors inside (D20), and a query touches ONLY its own cell's code
    list with ADC lookups. Candidate cost per query drops from
    O(corpus·m) to O(corpus·m / n_cells), and the scan reads codes
    (bytes), never vectors.

    Composition of the two trained structures already in the engine —
    cell assignment joins the PQ code table on vec_id (both narrow);
    the full-index FAISS variant encodes residuals per cell, which only
    changes WHICH codebooks train, not this plan shape. Coarse cells and
    PQ codes both live in ONE space — the normalized augmented corpus
    (:func:`_coarse_cells_norm` / :func:`_normalized_aug`), the same
    quantizer D22 uses — so training runs at most once per session for
    the whole IVF-PQ family (trained-model registry; D20 shares the PQ
    books too). Rows-only check; planted-copy-in-own-cell retrieval and
    the cell-bound candidate property are pinned in tests.
    """
    from concurrent.futures import ThreadPoolExecutor

    # The coarse quantizer and the global-space PQ codebooks are
    # INDEPENDENT models over the same materialized corpus — overlap
    # their driver-coordinated Lloyd loops (§2.6, the P17/D27 pattern:
    # each loop is collect-bound, so the cluster interleaves their jobs).
    # Registry hits make either branch a cheap replay, so the pool only
    # pays off on the cold first call; results are identical either way.
    nv = _shared_nv(embeddings)
    q = nv
    sample = q.filter(
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2), 16, 10)
        .cast("long") % 4 == 0
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_coarse = pool.submit(_coarse_cells_norm, embeddings, n_cells)
        f_books = pool.submit(
            _pq_train,
            sample,
            m,
            k_codes,
            2,
            _model_key("pq-norm-aug", embeddings, m, k_codes),
        )
        _, assigned, _ = f_coarse.result()
        books = f_books.result()
    cells = assigned.select("vec_id", "cluster_id")
    sub_d = len(next(iter(books.values())))
    spark = embeddings.sparkSession
    codes = _pq_assign(_pq_subvectors(q, m, sub_d), _books_df(spark, books)).join(
        cells, "vec_id"
    )
    queries = (
        q.filter(F.col("vec_id") < n_queries)
        .join(cells, "vec_id")
        .collect()
    )
    rows = []
    for qr in queries:
        for (s, code), cent in books.items():
            sv = qr.qv[s * sub_d : (s + 1) * sub_d]
            pd2 = sum((float(x) - y) * (float(x) - y) for x, y in zip(sv, cent))
            rows.append((int(qr.vec_id), int(qr.cluster_id), s, code, pd2))
    dtable = spark.createDataFrame(
        rows, "query_id long, q_cell long, sub long, code long, pd2 double"
    )
    c = codes.alias("c")
    t = dtable.alias("t")
    approx = (
        c.join(
            F.broadcast(t),
            (F.col("c.sub") == F.col("t.sub"))
            & (F.col("c.code") == F.col("t.code"))
            & (F.col("c.cluster_id") == F.col("t.q_cell")),
        )
        .filter(F.col("c.vec_id") != F.col("t.query_id"))
        .groupBy(
            F.col("t.query_id").alias("query_id"),
            F.col("t.q_cell").alias("q_cell"),
            F.col("c.vec_id").alias("neighbor_id"),
        )
        .agg(F.sum("pd2").alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k_neighbors)
        .select(
            "query_id",
            F.col("q_cell").alias("cell_id"),
            "neighbor_id",
            "rank",
            "approx_d2",
        )
    )


def similarity_ivf_pq_residual(
    embeddings: DataFrame,
    k_neighbors: int = 5,
    n_queries: int = 8,
    m: int = 4,
    k_codes: int = 16,
    n_cells: int = 8,
) -> DataFrame:
    """D22: RESIDUAL-encoded IVF-PQ — the actual FAISS IVFPQ formulation
    (``by_residual``), upgrading D21's global-space codes: PQ codebooks
    train on ``x − centroid(cell(x))`` instead of on ``x`` itself.

    Why residuals recover recall: within one cell,
    ``‖x − q‖² = ‖r_x − r_q‖²`` exactly (the shared centroid cancels), so
    ADC over residual codes estimates the TRUE distance with quantization
    error proportional to the RESIDUAL spread — the coarse quantizer has
    already removed the between-cell variance, leaving the 16
    codes-per-subspace to resolve a much tighter distribution than D21's
    global codes must cover. The tighter the cells, the bigger the win.

    One-space discipline: the coarse quantizer is the FAMILY-SHARED one
    (:func:`_coarse_cells_norm` — trained on the L2-normalized corpus,
    identical cells to D21, trained at most once per session), the
    residuals subtract the exact centroids that produced the assignment,
    and query residuals are formed against the query's own cell —
    residuals only cancel exactly against the vector the cell was
    assigned with.

    Spark shape is D21's, unchanged by residual encoding: driver holds
    only centroids + codebooks (n_cells·d + m·k·d/m floats), residual
    formation is one broadcast join + ``zip_with``, encoding is the
    broadcast `_pq_assign` pass, and search is the cell-restricted ADC
    equi-join — a query touches only its own cell's code list, candidate
    cost O(corpus·m/n_cells), the scan reads codes, never vectors.
    Rows-only check (trained float loops, same class as D20/D21);
    planted-copy top-1 retrieval and recall ≥ global-code D21 are pinned
    in tests.
    """
    # Family-shared coarse quantizer (one definition with D21) — the
    # returned driver-held centroids are exactly the vectors the cell
    # assignment was computed against, so subtracting them cancels
    # exactly in every within-cell distance; no member-mean re-derivation
    # pass needed.
    nv, assigned, cents = _coarse_cells_norm(embeddings, n_cells)
    spark = embeddings.sparkSession
    cent_df = spark.createDataFrame(
        [(cid, v) for cid, v in sorted(cents.items())],
        "cluster_id long, cvec array<double>",
    )
    res = (
        assigned.join(F.broadcast(cent_df), "cluster_id")
        .select(
            "vec_id",
            "cluster_id",
            F.zip_with("qv", "cvec", lambda x, y: x - y).alias("qv"),
        )
        .localCheckpoint(eager=True)
    )
    # Shared codebooks trained on a deterministic quarter-sample of the
    # RESIDUALS (FAISS trains one PQ over all cells' residuals). Cached
    # per (corpus, m, k, n_cells) — residuals depend on the cells.
    sample = res.filter(
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2), 16, 10)
        .cast("long") % 4 == 0
    )
    books = _pq_train(
        sample.select("vec_id", "qv"),
        m=m,
        k=k_codes,
        cache_key=_model_key("pq-residual-norm-aug", embeddings, m, k_codes, n_cells),
    )
    sub_d = len(next(iter(books.values())))
    codes = _pq_assign(_pq_subvectors(res, m, sub_d), _books_df(spark, books)).join(
        res.select("vec_id", "cluster_id"), "vec_id"
    )
    # Per-query ADC tables over the QUERY'S residual in its own cell.
    queries = res.filter(F.col("vec_id") < n_queries).collect()
    rows = []
    for qr in queries:
        for (s, code), cent in books.items():
            sv = qr.qv[s * sub_d : (s + 1) * sub_d]
            pd2 = sum((float(x) - y) * (float(x) - y) for x, y in zip(sv, cent))
            rows.append((int(qr.vec_id), int(qr.cluster_id), s, code, pd2))
    dtable = spark.createDataFrame(
        rows, "query_id long, q_cell long, sub long, code long, pd2 double"
    )
    c = codes.alias("c")
    t = dtable.alias("t")
    approx = (
        c.join(
            F.broadcast(t),
            (F.col("c.sub") == F.col("t.sub"))
            & (F.col("c.code") == F.col("t.code"))
            & (F.col("c.cluster_id") == F.col("t.q_cell")),
        )
        .filter(F.col("c.vec_id") != F.col("t.query_id"))
        .groupBy(
            F.col("t.query_id").alias("query_id"),
            F.col("t.q_cell").alias("q_cell"),
            F.col("c.vec_id").alias("neighbor_id"),
        )
        .agg(F.sum("pd2").alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k_neighbors)
        .select(
            "query_id",
            F.col("q_cell").alias("cell_id"),
            "neighbor_id",
            "rank",
            "approx_d2",
        )
    )


def similarity_ivf_pq_multiprobe(
    embeddings: DataFrame,
    k_neighbors: int = 5,
    n_queries: int = 8,
    m: int = 4,
    k_codes: int = 16,
    n_cells: int = 8,
    n_probe: int = 2,
) -> DataFrame:
    """D23: multi-probe residual IVF-PQ — D22 probing the query's
    ``n_probe`` nearest cells with PER-CELL residual tables, the full
    production FAISS search shape (``nprobe > 1`` + ``by_residual``).

    Single-probe recall fails exactly when a query sits near a cell
    boundary: its true neighbors straddle two cells, and the home cell
    holds only half of them (D13 proved the multiprobe shape for plain
    IVF). With residual encoding, each probed cell needs its OWN ADC
    table — the query's residual is ``q − centroid(probed cell)``, a
    different vector per cell, because candidates in that cell were
    encoded against that centroid. Within each probed cell the shared-
    centroid cancellation still holds exactly, so the ADC estimate stays
    the true-distance estimate in every probe.

    All trained structures are the family-shared ones (same coarse cells
    via :func:`_coarse_cells_norm`, same residual codebooks cache key as
    D22 — nothing retrains), and cell ranking happens DRIVER-SIDE against
    the held centroids: the probe list is ``n_queries·n_probe`` rows, the
    ADC table ``n_queries·n_probe·m·k`` — both broadcast-tiny. Candidate
    cost grows to O(corpus·m·n_probe/n_cells), still never a cross join,
    and the scan reads codes, never vectors. Rows-only check; recall ≥
    single-probe D22 with boundary queries (and an out-of-home-cell hit)
    pinned in tests.
    """
    nv, assigned, cents = _coarse_cells_norm(embeddings, n_cells)
    spark = embeddings.sparkSession
    cent_df = spark.createDataFrame(
        [(cid, v) for cid, v in sorted(cents.items())],
        "cluster_id long, cvec array<double>",
    )
    res = (
        assigned.join(F.broadcast(cent_df), "cluster_id")
        .select(
            "vec_id",
            "cluster_id",
            F.zip_with("qv", "cvec", lambda x, y: x - y).alias("qv"),
        )
        .localCheckpoint(eager=True)
    )
    sample = res.filter(
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 2), 16, 10)
        .cast("long") % 4 == 0
    )
    books = _pq_train(
        sample.select("vec_id", "qv"),
        m=m,
        k=k_codes,
        cache_key=_model_key("pq-residual-norm-aug", embeddings, m, k_codes, n_cells),
    )
    sub_d = len(next(iter(books.values())))
    codes = _pq_assign(_pq_subvectors(res, m, sub_d), _books_df(spark, books)).join(
        res.select("vec_id", "cluster_id"), "vec_id"
    )
    # Driver-side probe ranking: the query's n_probe nearest centroids by
    # squared distance in the shared normalized space (k·d floats in hand
    # — no Spark pass needed), then one ADC table PER PROBED CELL over the
    # query's residual AGAINST THAT CELL.
    queries = nv.filter(F.col("vec_id") < n_queries).collect()
    rows = []
    for qr in queries:
        ranked_cells = sorted(
            (
                (sum((float(x) - c) ** 2 for x, c in zip(qr.qv, cvec)), cid)
                for cid, cvec in cents.items()
            )
        )
        for _, cid in ranked_cells[:n_probe]:
            rq = [float(x) - c for x, c in zip(qr.qv, cents[cid])]
            for (s, code), cent in books.items():
                sv = rq[s * sub_d : (s + 1) * sub_d]
                pd2 = sum((x - y) * (x - y) for x, y in zip(sv, cent))
                rows.append((int(qr.vec_id), cid, s, code, pd2))
    dtable = spark.createDataFrame(
        rows, "query_id long, probe_cell long, sub long, code long, pd2 double"
    )
    c = codes.alias("c")
    t = dtable.alias("t")
    approx = (
        c.join(
            F.broadcast(t),
            (F.col("c.sub") == F.col("t.sub"))
            & (F.col("c.code") == F.col("t.code"))
            & (F.col("c.cluster_id") == F.col("t.probe_cell")),
        )
        .filter(F.col("c.vec_id") != F.col("t.query_id"))
        .groupBy(
            F.col("t.query_id").alias("query_id"),
            F.col("t.probe_cell").alias("cell_id"),
            F.col("c.vec_id").alias("neighbor_id"),
        )
        .agg(F.sum("pd2").alias("approx_d2"))
    )
    w = Window.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k_neighbors)
        .select("query_id", "cell_id", "neighbor_id", "rank", "approx_d2")
    )


def similarity_sq8(
    embeddings: DataFrame, k: int = 5, n_queries: int = 8
) -> DataFrame:
    """D24: SCALAR-quantized (SQ8) ANN — FAISS's SQ8 codec as a Spark
    plan, and the one quantized searcher in the engine with a full
    HASH-EXACT oracle (D20–D23's PQ family needs iterative float
    training; SQ8's "training" is a per-dimension min/max aggregate,
    which is exact in any engine).

    Codec: per-dimension min/max over the integer-quantized corpus, then
    ``code = (val − min)·255 div range`` — one byte per dimension, an 8×
    memory cut, all BIGINT arithmetic (`div` on non-negative operands is
    floor — no float rounding anywhere). Ranking uses the integer
    surrogate ``d2q = Σ ((c_a − c_b)·range)²`` = 255²·(reconstructed
    squared distance): order-IDENTICAL to the float decode, but exact —
    so the driver hashes match DuckDB bit-for-bit.

    Scale shape: the stats pass is a posexplode + per-dim aggregate
    (map-side combined; 64 groups); encoding is a broadcast join on dim;
    codes re-assemble per vector with an order-pinned collect_list; the
    search is D6's broadcast-queries scan over CODES (1 byte/dim instead
    of a float) with the per-dim ranges broadcast once as a 1-row array
    frame. A 100 TB corpus scans 1/8th the bytes of the float baseline
    with zero training state.
    """
    q = _quantized(augmented_embeddings(embeddings))
    dims = q.select("vec_id", F.posexplode("qv").alias("dim", "val"))
    stats = (
        dims.groupBy("dim")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .withColumn(
            "rng",
            F.when(F.col("mx") == F.col("mn"), F.lit(1)).otherwise(
                F.col("mx") - F.col("mn")
            ),
        )
    )
    coded = (
        dims.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            "dim",
            F.expr("CAST((val - mn) * 255 AS BIGINT) div rng").alias("code"),
        )
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "code"))),
                lambda s: s["code"],
            ).alias("codes")
        )
    )
    rngs = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "rng"))),
            lambda s: s["rng"],
        ).alias("rngs")
    )
    queries = coded.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("q_codes")
    )
    cand = coded.select(
        F.col("vec_id").alias("neighbor_id"), F.col("codes").alias("c_codes")
    )
    scored = (
        F.broadcast(queries)
        .join(cand, F.col("query_id") != F.col("neighbor_id"))
        .crossJoin(F.broadcast(rngs))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(
                    F.zip_with(
                        F.col("q_codes"), F.col("c_codes"), lambda a, b: a - b
                    ),
                    F.col("rngs"),
                    lambda d, r: d * d * r * r,
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d2q", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2q")
    )


def similarity_eval_report(embeddings: DataFrame) -> DataFrame:
    """D27: ANN RECALL evaluation report — grades every deterministic
    searcher in the family against the exact brute-force truth AT THE SAME
    settings the driver checks each searcher with, using the operators
    themselves (the P17 evaluation-as-operator pattern: the report's
    predictions cannot drift from the graded operators). This is the
    measurement a retrieval team runs before trusting an index shape at
    100 TB: recall@k quantifies what single-probe cells / LSH buckets
    lose; n_pred < n_truth exposes under-filled cells.

    Deliberately restricted to the DETERMINISTIC cosine searchers (D7
    IVF, D13 multi-probe IVF, D9 hyperplane LSH) so the whole report —
    truth included — carries a full hash-exact oracle (the trained
    family D17/D20–D23 carries per-operator recall pins in tests
    instead; kmeans float training is not SQL-expressible).

    recall = hits/truth, precision = hits/pred, both exact BIGINT
    ratios via try_divide (NULL on an empty side, the P17 convention).
    """
    settings = [
        ("ivf", topk_ivf, dict(k=3, q_lo=8, q_hi=24)),
        ("ivf_multiprobe", topk_ivf_multiprobe, dict(k=3, q_lo=8, q_hi=24)),
        ("ann_lsh", topk_ann_lsh, dict(k=3, q_lo=100, q_hi=116)),
    ]
    # The brute-force truth and the three graded searchers are mutually
    # independent — materialize all four concurrently (guide §2.6: the
    # jobs were only sequential because the driver called them
    # sequentially; concurrent jobs back-fill each other's stage tails
    # on an otherwise-idle cluster). Outputs are byte-identical: same
    # frames, same stats arithmetic, only the materialization ORDER
    # changed.
    from concurrent.futures import ThreadPoolExecutor

    jobs: dict[object, DataFrame] = {}
    for method, fn, kw in settings:
        tkey = (kw["k"], kw["q_lo"], kw["q_hi"])
        if tkey not in jobs:
            jobs[tkey] = topk_bruteforce(
                embeddings, k=kw["k"], q_lo=kw["q_lo"], q_hi=kw["q_hi"]
            ).select("query_id", "neighbor_id")
        jobs[method] = fn(embeddings, **kw).select("query_id", "neighbor_id")
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        done = dict(
            zip(
                jobs,
                pool.map(lambda df: df.localCheckpoint(eager=True), jobs.values()),
            )
        )
    out = None
    for method, fn, kw in settings:
        truth = done[(kw["k"], kw["q_lo"], kw["q_hi"])]
        p = done[method]
        row = (
            p.agg(F.count(F.lit(1)).alias("n_pred"))
            .crossJoin(
                F.broadcast(
                    p.join(truth, ["query_id", "neighbor_id"]).agg(
                        F.count(F.lit(1)).alias("n_hits")
                    )
                )
            )
            .crossJoin(
                F.broadcast(truth.agg(F.count(F.lit(1)).alias("n_truth")))
            )
            .select(F.lit(method).alias("method"), "n_pred", "n_truth", "n_hits")
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "method",
        "n_pred",
        "n_truth",
        "n_hits",
        F.try_divide(F.col("n_hits"), F.col("n_truth")).alias("recall"),
        F.try_divide(F.col("n_hits"), F.col("n_pred")).alias("precision"),
    )


#: D39 semantic-dedup defaults: cosine threshold (the D5 near-dup bar) and
#: the FLOOR on the derived cluster count (the D7 IVF cell count — one knob
#: family across D). Since r14 the DEFAULT cell count is DERIVED from the
#: corpus as k = max(8, ⌊√n⌋): SCALE_r13's `semantic_cells` probe measured
#: fixed k=8 at ~100× in-cell pairs on 10× data (the quadratic regime —
#: a scale-killer at 100 TB) vs ~10× at k ∝ n; √n is the SemDeDup paper's
#: own posture and keeps E[pairs] ≈ n²/2k growing as n^1.5 with per-task
#: memory bounded by the sub-block split. Pass ``n_centroids`` explicitly
#: to pin a fixed k (tests, probes).
SEMANTIC_TAU = 0.98
SEMANTIC_CENTROIDS = 8
PLANT_OFFSET = 100000
#: Margin for the lossless spherical prune in :func:`semantic_removals`
#: (see there): covers the 6-decimal rounding of the per-vector centroid
#: cosines worst-cased through sqrt(1−c²) near |c|=1 (≤ ~2.3e-3).
SEMANTIC_PRUNE_EPS = 3e-3

#: Memoized corpus sizes for the derived-k policy (one cheap count per
#: (plan, files) — the same key discipline as the trained-model registry).
_CORPUS_COUNTS: dict[tuple, int] = {}


def derive_semantic_centroids(n_vectors: int) -> int:
    """The scale-safe default cell count: ``max(8, ⌊√n⌋)``. floor of the
    DOUBLE sqrt, matching the DuckDB oracle's FLOOR(SQRT(COUNT(*)))
    term-for-term (identical for every n below 2^52 — doubles represent
    these counts and their correctly-rounded square roots exactly enough
    that the floor can only disagree past that)."""
    import math

    return max(SEMANTIC_CENTROIDS, int(math.floor(math.sqrt(float(n_vectors)))))


def _resolve_centroids(embeddings: DataFrame, n_centroids: int | None) -> int:
    """``n_centroids`` if pinned, else the derived-k policy over the
    PLANTED corpus (what every semantic-family operator actually
    clusters). The count is memoized per (plan, files) so repeated
    calls in a session pay it once."""
    if n_centroids is not None:
        return n_centroids
    key = _model_key("aug-count", embeddings)
    n = _CORPUS_COUNTS.get(key) if key is not None else None
    if n is None:
        n = augmented_embeddings(embeddings).count()
        if key is not None:
            _bounded_put(_CORPUS_COUNTS, key, n)
    return derive_semantic_centroids(n)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = SEMANTIC_TAU,
    n_centroids: int | None = None,
    n_splits: int = N_SPLITS,
) -> DataFrame:
    """D39: SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    near-dup removal with NO labels and NO all-pairs join: cluster the
    corpus (here the D7 fixed-centroid assignment — swap in D12's trained
    Lloyd centroids for production quality; the dedup algebra is
    identical), then search for cosine ≥ ``threshold`` pairs ONLY within
    a cluster. This is the paper's core observation: semantic duplicates
    land in the same cluster, so the candidate set shrinks from O(n²) to
    Σ_cells |cell|² — and D5's deterministic hash sub-block split bounds
    the per-task work within a cell the same way it bounds a label block
    (probe side replicated ``n_splits`` ways, join key (cell, t)=(cell,
    sub) — LOSSLESS, every qualifying pair meets in exactly one task).

    Keep rule: the LOWEST vec_id in each duplicate relation survives — a
    vector is removed iff some lower-id same-cell vector reaches the
    threshold (the greedy keep-first convention of D1/D30; the paper
    keeps the vector farthest from the centroid — a one-line ORDER BY
    swap on the same plan). Output = the REMOVED vectors with their
    cell, their lowest-id qualifying keeper, and the duplicate-edge
    evidence (neighbor count, max cosine).

    100 TB: assignment is a broadcast join (centroids are k·d floats);
    the pair join shuffles on (cell_id, sub) — cells bound candidates,
    sub-blocks bound task memory; the DEFAULT cell count is DERIVED as
    k = max(8, ⌊√n⌋) (the paper's ~√n posture — SCALE_r13 measured fixed
    k=8 at ~100× in-cell pairs on 10× data vs ~10× with k scaled), so
    per-cell cost falls as the corpus grows instead of exploding.

    The removal frame is MATERIALIZED once per (corpus, settings) per
    session (localCheckpoint + the shared-frame registry): D40 grades
    exactly this frame, so when both run in one session the second call
    replays the checkpoint instead of re-running the assignment + pair
    join (the r12 bench's one flagged regression). Values are unchanged
    — the checkpoint is a materialization barrier, not a plan change.
    """
    n_centroids = _resolve_centroids(embeddings, n_centroids)

    def _build() -> DataFrame:
        q = _quantized(augmented_embeddings(embeddings), barrier_key="vec_id")
        cells = assign_cells(q, semantic_centroids(q, n_centroids))
        return semantic_removals(cells, cells, threshold, n_splits)

    return _shared_frame(
        "semantic-removals",
        embeddings,
        _build,
        float(threshold),
        n_centroids,
        n_splits,
    )


def semantic_centroids(q: DataFrame, n_centroids: int = SEMANTIC_CENTROIDS) -> DataFrame:
    """The D39/D41 shared centroid frame: the first ``n_centroids``
    vectors of a quantized frame (deterministic; D7's fixed-centroid
    convention — production swaps in D12's trained Lloyd centroids)."""
    return q.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"),
        F.col("qv").alias("cent_qv"),
        F.col("nrm").alias("cent_nrm"),
    )


def assign_cells(q: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid cell assignment (cosine, deterministic tie-break
    cent_id) — ONE definition shared by batch D39 and the D41 ingest gate
    so an arriving vector can never land in a different cell than the
    batch run would put it. Centroids are broadcast (k·d floats).

    The winning centroid cosine rides along as ``c_cos`` (plus its sine
    ``c_sin``): these are the precomputed per-VECTOR scalars
    :func:`semantic_removals`' spherical prune tests pairs against
    before paying the d-length dot — two multiplies and a compare per
    pair, no per-pair sqrt."""
    scored = q.join(F.broadcast(centroids)).select(
        "vec_id",
        "qv",
        "nrm",
        "cent_id",
        cosine6(
            dot(F.col("qv"), F.col("cent_qv")), F.col("nrm"), F.col("cent_nrm")
        ).alias("c_cos"),
    )
    wa = Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(), F.col("cent_id"))
    return (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("cent_id").alias("cell_id"),
            "qv",
            "nrm",
            "c_cos",
            F.sqrt(
                F.greatest(F.lit(0.0), F.lit(1.0) - F.col("c_cos") * F.col("c_cos"))
            ).alias("c_sin"),
        )
    )


def semantic_removals(
    cand: DataFrame,
    arriving: DataFrame,
    threshold: float = SEMANTIC_TAU,
    n_splits: int = N_SPLITS,
) -> DataFrame:
    """The D39/D41 shared removal join: for every ``arriving`` vector,
    find its LOWER-id same-cell candidates at cosine ≥ threshold (both
    frames in assign_cells' (vec_id, cell_id, qv, nrm) shape) and report
    the removal evidence. Batch D39 passes the same frame on both sides;
    the ingest gate passes (index ∪ batch, batch) — identical algebra, so
    the gate's verdicts are row-identical to batch restricted to the
    arriving ids. The ``a.vec_id < b.vec_id`` predicate makes the
    candidate union safe: a candidate row at a HIGHER id than the
    arriving vector can never create a pair.

    Spherical prune (LOSSLESS, Elkan-style): when both sides carry the
    assignment's ``c_cos`` (cosine to the SHARED cell centroid), the
    spherical triangle inequality θ(a,b) ≥ |θ(a,c) − θ(b,c)| gives the
    O(1) upper bound cos(a,b) ≤ ca·cb + √(1−ca²)·√(1−cb²); a pair whose
    bound misses τ − :data:`SEMANTIC_PRUNE_EPS` can never pass the exact
    filter, so the d-length dot is skipped for it. The margin worst-cases
    the 6-decimal rounding of ca/cb through √(1−c²) near |c| = 1
    (≤ ~2.3e-3 — every qualifying pair keeps B6 ≥ τ − 2.3e-3 > τ − 3e-3),
    so the OUTPUT is bit-identical with or without the prune (verified).
    MEASURED honestly at this corpus's d=32: cost-NEUTRAL even in the
    quadratic k=8 regime at 10× data (~50 s both arms, 3-rep A/B).
    r15 extended the A/B to production widths on a synthetic clustered
    corpus (tools/scale_stress.py::semantic_prune_width_probe, n=20k,
    3-rep interleaved, repeated across three host conditions): wins
    scatter around 1.0 at every width — 0.88–1.16× at d=32, 0.93–1.04×
    at d=128, 1.01–1.04× at d=768 — with prune_rate ≈ 0.11: under the
    derived-√n cell policy cells are angularly TIGHT at τ=0.98, so only
    ~11% of same-cell pairs are provably-dissimilar and the skippable
    dot share caps the win at any width. The prune stays UNCONDITIONAL
    because it is lossless, two multiplies per pair, and cost-neutral
    within rep noise everywhere (a width gate would add a code path to
    save nothing; SCALE_r15's decision rule only gates on a clear
    < 0.85× loss, never measured). The fix that
    actually moves this operator at scale is the DERIVED cell count
    (see :func:`semantic_dedup` — 5.3× vs 11.2× time growth at 10×),
    not per-pair pruning."""
    b = arriving.withColumn("sub", _sub_block(n_splits=n_splits)).alias("b")
    a = cand.withColumn(
        "t", F.explode(F.array(*[F.lit(i) for i in range(n_splits)]))
    ).alias("a")
    cond = (
        (F.col("a.cell_id") == F.col("b.cell_id"))
        & (F.col("a.t") == F.col("b.sub"))
        & (F.col("a.vec_id") < F.col("b.vec_id"))
    )
    if "c_sin" in cand.columns and "c_sin" in arriving.columns:
        # cos/sin to the shared centroid are PER-VECTOR columns, so the
        # per-pair bound is two multiplies and a compare — no sqrt.
        ub = (
            F.col("a.c_cos") * F.col("b.c_cos")
            + F.col("a.c_sin") * F.col("b.c_sin")
        )
        # NULL c_cos (a zero vector/centroid has no angle) must KEEP the
        # pair — the exact filter decides; coalesce makes the prune
        # fail-open instead of silently dropping it.
        cond = cond & F.coalesce(
            ub >= F.lit(float(threshold) - SEMANTIC_PRUNE_EPS), F.lit(True)
        )
    pairs = a.join(
        b,
        cond,
    ).select(
        F.col("b.vec_id").alias("vec_id"),
        F.col("b.cell_id").alias("cell_id"),
        F.col("a.vec_id").alias("a_id"),
        cosine6(
            dot(F.col("a.qv"), F.col("b.qv")), F.col("a.nrm"), F.col("b.nrm")
        ).alias("cosine"),
    )
    return (
        pairs.filter(F.col("cosine") >= threshold)
        .groupBy("vec_id", "cell_id")
        .agg(
            F.min("a_id").alias("keeper_id"),
            F.count(F.lit(1)).cast("long").alias("n_dup_neighbors"),
            F.max("cosine").alias("max_cosine"),
        )
    )


def semantic_dedup_trained(
    embeddings: DataFrame,
    threshold: float = SEMANTIC_TAU,
    n_centroids: int | None = None,
    max_iter: int = 5,
    n_splits: int = N_SPLITS,
) -> DataFrame:
    """D42: SemDeDup with TRAINED cells — D12's Lloyd k-means centroids
    replace D39's fixed first-``n_centroids`` assignment as the cluster
    step, closing the gap D39's docstring promised: at real scale the
    paper's dedup QUALITY lives in the clustering (semantic duplicates
    must land in one cell for the in-cell search to see them), and a
    trained quantizer keeps cells balanced where an arbitrary one can
    leave a straggler cell holding most of the corpus (the D17 argument,
    applied to dedup instead of search).

    The removal algebra is byte-for-byte D39's — the SAME
    :func:`semantic_removals` (lowest-id keeper, (cell, sub) lossless
    sub-block join, cosine ≥ threshold) runs over the trained
    assignment, so verdicts differ from D39 ONLY by which vectors share
    a cell. Plant recall stays a theorem under ANY assignment: a planted
    +100000 copy is bit-identical to its source, gets identical
    centroid distances → the identical deterministic argmin cell, and
    its in-cell cosine is exactly 1.0 (pinned in tests, with D17's
    balanced-cell bound). The quantizer rides the session trained-model
    registry under the D12/D17 tag (one Lloyd run per corpus + settings;
    repeated D42 calls — and any consumer training on the same AUGMENTED
    frame — replay the cached centroids bit-identically) and the
    converged assignment is materialized once (localCheckpoint) because
    it feeds both sides of the pair join.

    Rows-only (iterative float training, like D12/D17); the hash-exact
    oracle member stays D39, whose fixed assignment both engines can
    replay.
    """
    n_centroids = _resolve_centroids(embeddings, n_centroids)
    aug = augmented_embeddings(embeddings)
    q = _quantized(aug, barrier_key="vec_id").select("vec_id", "qv", "nrm")
    assigned, cents = _kmeans_assignments(
        None,
        k=n_centroids,
        max_iter=max_iter,
        q=q,
        cache_key=_model_key("kmeans-raw", aug, n_centroids, max_iter),
        return_centroids=True,
    )
    # c_cos for the spherical prune, recovered from the Lloyd pass's own
    # d2 (|q−c|² = nrm + |c|² − 2·dot ⇒ cos = (nrm + |c|² − d2) /
    # 2√(nrm·|c|²)) with per-cluster |c|² broadcast as a k-row frame —
    # no second d-length pass. Double rounding here is far inside the
    # prune margin; a zero norm yields NULL, which the prune fails open on.
    spark = embeddings.sparkSession
    c2 = F.broadcast(
        spark.createDataFrame(
            [(int(cid), float(sum(x * x for x in vec))) for cid, vec in cents.items()],
            "cluster_id long, c2 double",
        )
    )
    assigned = (
        assigned.join(c2, "cluster_id")
        .withColumn(
            "c_cos",
            (F.col("nrm") + F.col("c2") - F.col("d2"))
            / (F.lit(2.0) * F.sqrt(F.col("nrm") * F.col("c2"))),
        )
        .withColumn(
            "c_sin",
            F.sqrt(
                F.greatest(F.lit(0.0), F.lit(1.0) - F.col("c_cos") * F.col("c_cos"))
            ),
        )
        .localCheckpoint(eager=True)
    )
    cells = assigned.select(
        "vec_id", F.col("cluster_id").alias("cell_id"), "qv", "nrm", "c_cos", "c_sin"
    )
    return semantic_removals(cells, cells, threshold, n_splits)


def sq8_stats(q: DataFrame) -> tuple[list[int], list[int]]:
    """Driver-held per-dimension (min, range) of a quantized frame — the
    D24 SQ8 codec's training-free stats (2·d BIGINTs, embedded as
    literals like k-means centroids). Range floors at 1 so the decode
    interval is never empty on a constant dimension."""
    rows = (
        q.select(F.posexplode("qv").alias("dim", "val"))
        .groupBy("dim")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
        .collect()
    )
    mns = [0] * len(rows)
    rngs = [1] * len(rows)
    for r in rows:
        mns[r.dim] = int(r.mn)
        rngs[r.dim] = max(1, int(r.mx) - int(r.mn))
    return mns, rngs


def sq8_encode(
    assigned: DataFrame, mns: list[int], rngs: list[int]
) -> DataFrame:
    """(vec_id, cell_id, codes, nrm) — TRUE-FLOOR SQ8 encode of an
    assign_cells-shaped frame with driver-held stats: ``code =
    ⌊(val − mn)·255 / rng⌋``, so 255·val ∈ [E, E+rng) with E = 255·mn +
    code·rng holds for ANY value, including out-of-range arrivals (codes
    then leave [0, 255] but the interval bound — what D41's lossless
    cosine pruning rests on — stays valid). floor of the double division
    is exact here: |(val−mn)·255| < 2^25 and the quotient can only sit
    within 1 ulp of an integer when it IS one."""
    mns_arr = F.array(*[F.lit(m).cast("long") for m in mns])
    rngs_arr = F.array(*[F.lit(g).cast("long") for g in rngs])
    code = F.zip_with(
        F.zip_with(F.col("qv"), mns_arr, lambda v, m: (v - m) * 255),
        rngs_arr,
        lambda a, g: F.floor(a / g).cast("long"),
    )
    return assigned.select("vec_id", "cell_id", code.alias("codes"), "nrm")


def semantic_dedup_eval(
    embeddings: DataFrame,
    threshold: float = SEMANTIC_TAU,
    n_centroids: int | None = None,
) -> DataFrame:
    """D40: grade D39 against the corpus's PLANTED duplicate class (the
    D37/P17 evaluation-as-operator posture). Classes:

    - ``plant`` (vec_id ≥ +100000, exact copies): a plant's embedding is
      bit-identical to its lower-id source, so both get the SAME centroid
      scores → the SAME deterministic assignment (tie-break cent_id), and
      their in-cell cosine is exactly 1.0 ≥ any threshold → every plant is
      removed. Recall must be exactly 1.0 (theorem, pinned in tests — it
      needs no corpus precondition because the source is the plant's own
      lower-id neighbor).
    - ``base``: removals are genuine semantic near-dups in the raw corpus
      (recorded, not pinned — corpus-dependent signal, the number a data
      curator actually reads off this report).
    """
    removed = semantic_dedup(
        embeddings, threshold=threshold, n_centroids=n_centroids
    ).select("vec_id", F.lit(1).alias("rm"))
    all_vecs = augmented_embeddings(embeddings).select("vec_id")
    cls = (
        F.when(F.col("vec_id") >= PLANT_OFFSET, F.lit("plant"))
        .otherwise(F.lit("base"))
        .alias("vec_class")
    )
    return (
        all_vecs.join(removed, "vec_id", "left")
        .select(cls, F.coalesce("rm", F.lit(0)).alias("rm"))
        .groupBy("vec_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("rm").cast("long").alias("n_removed"),
        )
        .select(
            "vec_class",
            "n_vecs",
            "n_removed",
            F.try_divide(F.col("n_removed"), F.col("n_vecs")).alias("removed_frac"),
        )
    )


#: P28 benchmark slice: the first BENCH_HI vectors play the eval set.
DECON_BENCH_HI = 32
DECON_TAU = 0.98


def decontaminate_semantic(
    embeddings: DataFrame,
    bench_hi: int = DECON_BENCH_HI,
    threshold: float = DECON_TAU,
) -> DataFrame:
    """P28: SEMANTIC decontamination — flag training vectors whose
    embedding cosine to ANY benchmark vector reaches ``threshold``. P6/
    P22 decontaminate on token n-grams, which a paraphrased or
    re-encoded eval item walks straight through (the rephrased-samples
    contamination problem); the embedding gate is the member that
    catches it — same relationship D39 bears to the content-hash dedup
    family, here applied to the train-vs-eval boundary.

    The benchmark side (vec_id < ``bench_hi`` — in production the
    embedded eval suites) is SMALL by construction, so the join is a
    broadcast of the bench vectors against one scan of the training
    side: exact and LOSSLESS with no cells, no LSH, no candidate loss —
    at 100 TB the train side streams through map-side, the per-vector
    aggregate combines partially, and nothing corpus-sized shuffles
    (P22's broadcast argument, one family over). Corpus is the planted
    augmentation, so copies of benchmark sources (vec_id ≡ 0 mod 25
    below ``bench_hi``) are guaranteed cosine-1.0 catches.

    Output: one row per CONTAMINATED training vector — hit count,
    lowest qualifying benchmark id, max cosine (deterministic; the
    row set is the removal manifest P7/P20 subtract before mixing).
    """
    q = _quantized(augmented_embeddings(embeddings), barrier_key="vec_id")
    bench = q.filter(F.col("vec_id") < bench_hi).select(
        F.col("vec_id").alias("bench_id"),
        F.col("qv").alias("b_qv"),
        F.col("nrm").alias("b_nrm"),
    )
    train = q.filter(F.col("vec_id") >= bench_hi)
    scored = train.join(F.broadcast(bench)).select(
        "vec_id",
        "bench_id",
        cosine6(
            dot(F.col("qv"), F.col("b_qv")), F.col("nrm"), F.col("b_nrm")
        ).alias("cosine"),
    )
    return (
        scored.filter(F.col("cosine") >= threshold)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
            F.min("bench_id").alias("min_bench_id"),
            F.max("cosine").alias("max_cosine"),
        )
    )
