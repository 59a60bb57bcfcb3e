"""Deduplication operators (group D) — LLM training-data pipeline.

Four dedup families over the augmented document corpus
(``functions/text.py``):

- exact: content-hash groupBy (the 100 TB workhorse — one shuffle on a
  16-byte key).
- n-gram Jaccard: exact pairwise similarity via shingle explode + self-join.
  Correctness baseline; cost is bounded by shingle document frequency, so at
  scale it must be preceded by LSH blocking — which is exactly D3.
- MinHash + LSH: k=16 md5-derived universal hashes, 4 bands × 4 rows;
  candidate pairs only ever materialize within a band bucket, giving the
  scale path (shuffle keys are (band, signature), cardinality-controlled).
- SimHash: 16-bit sign-aggregated token hashes; near-dup groups are
  hash-equal buckets (pure groupBy, no pairwise work at all).

All hashing is md5-derived integer arithmetic → DuckDB oracles match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import MINHASH_AB, MINHASH_BANDS, MINHASH_P, MINHASH_ROWS, md5_int
from ..functions.text import corpus, shingles, tokens
from .similarity import _shared_frame


def _group_output(by: DataFrame, key: str) -> DataFrame:
    """Common dup-group shape: key, n_docs, keep_doc_id, doc_ids csv."""
    return (
        by.groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.array_join(
                F.sort_array(F.collect_list("doc_id")).cast("array<string>"), ","
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def dedup_exact(documents: DataFrame) -> DataFrame:
    """D1: exact dedup via md5(text); keep the lowest doc_id per group."""
    c = corpus(documents).select(F.md5("text").alias("fingerprint"), "doc_id")
    return _group_output(c, "fingerprint")


def _shingle_base(documents: DataFrame) -> DataFrame:
    toks = tokens(F.col("text"))
    return (
        corpus(documents)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
    )


def _shingle_rows(
    documents: DataFrame, base: DataFrame | None = None
) -> DataFrame:
    """(doc_id, shingle) rows — explode IN THE SAME projection that builds
    the array: exploding a previously-projected array alias makes Spark
    re-evaluate the (transform+distinct) construction per emitted element,
    a ~50× slowdown measured at sf0.1. ``base`` lets a caller share one
    materialized (doc_id, toks) base across several consumers."""
    if base is None:
        base = _shingle_base(documents)
    return base.select(
        "doc_id", F.explode(shingles(F.col("toks"))).alias("shingle")
    )


def _jaccard_col() -> F.Column:
    return (
        F.col("intersection_size")
        / (F.col("size_a") + F.col("size_b") - F.col("intersection_size"))
    ).alias("jaccard")


def _containment_cols() -> list:
    return [
        (F.col("intersection_size") / F.col("size_a")).alias("containment_a"),
        (F.col("intersection_size") / F.col("size_b")).alias("containment_b"),
    ]


def _shingle_pair_intersections(documents: DataFrame) -> DataFrame:
    """(doc_a, doc_b, intersection_size, size_a, size_b) for every document
    pair sharing ≥1 shingle — the all-pairs scaffolding D2 (Jaccard) and
    D14 (containment) both normalize; ONE definition so the join/size
    semantics can never diverge between them. Operators that already hold
    candidate pairs score them with :func:`_verify_pairs`, the same
    arithmetic per pair.

    The (doc_id, toks) base is materialized ONCE (localCheckpoint): it is
    referenced four times below (both self-join sides + both size lookups)
    and Catalyst re-plans the whole corpus-union scan per reference
    otherwise (16 parquet scans measured vs 1). Local timing is unchanged
    (page cache absorbs the re-scans); the point is object-storage reads
    at scale, where 4× corpus scans are 4× the cost. The self-join
    fan-out, not the scans, dominates compute — which is what candidate
    blocking (D15, D30, D31) prunes."""
    base = _shingle_base(documents).localCheckpoint(eager=True)
    sizes = base.select(
        "doc_id", F.size(shingles(F.col("toks"))).cast("long").alias("sz")
    )
    # Same-projection explode as _shingle_rows (aliased-array explode would
    # re-evaluate the shingle construction per element).
    exploded = base.select(
        "doc_id", F.explode(shingles(F.col("toks"))).alias("shingle")
    )
    pairs = (
        exploded.alias("a")
        .join(
            exploded.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("intersection_size"))
    )
    return (
        pairs.join(F.broadcast(sizes.withColumnRenamed("doc_id", "doc_a")
                               .withColumnRenamed("sz", "size_a")), "doc_a")
        .join(F.broadcast(sizes.withColumnRenamed("doc_id", "doc_b")
                          .withColumnRenamed("sz", "size_b")), "doc_b")
    )


def _verify_pairs(pairs: DataFrame, base: DataFrame) -> DataFrame:
    """``pairs`` (doc_a, doc_b, …) with each pair's exact D2 overlap
    appended: ``intersection_size`` = ``size(array_intersect)`` of the two
    distinct-shingle arrays, ``size_a`` and ``size_b`` — the values
    :func:`_shingle_pair_intersections` counts through its co-shingle
    self-join, computed per candidate pair instead, so the work is linear
    in the candidates. ``base`` is either (doc_id, toks), whose arrays are
    then built after the join (candidate docs only), or (doc_id, sh) with
    the arrays already built. A pair sharing no shingle keeps
    ``intersection_size`` 0 where the self-join would drop it.

    shuffle_hash, NOT broadcast: Catalyst's size estimate undercounts the
    array payload and elects to broadcast it — measured 8–10 s vs 1.5–2 s
    for the hash-partitioned join at 10× sf0.1 (D30), and at 100 TB a
    corpus-sized array broadcast is impossible outright; hash-partitioning
    ships each array once per scoring side."""
    col = "sh" if "sh" in base.columns else "toks"
    arr = F.col if col == "sh" else (lambda c: shingles(F.col(c)))
    # Both sides join the SAME unrenamed frame, so the second side's
    # exchange is a reuse of the first (one shuffle of the base, not two).
    side = base.select("doc_id", col).hint("shuffle_hash")
    a, b = side.alias("va"), side.alias("vb")
    joined = pairs.join(a, pairs["doc_a"] == F.col("va.doc_id")).join(
        b, pairs["doc_b"] == F.col("vb.doc_id")
    )
    arrays = joined.select(
        *[pairs[c] for c in pairs.columns],
        arr(f"va.{col}").alias("sh_a"),
        arr(f"vb.{col}").alias("sh_b"),
    )
    return arrays.select(
        *pairs.columns,
        F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias(
            "intersection_size"
        ),
        F.size("sh_a").cast("long").alias("size_a"),
        F.size("sh_b").cast("long").alias("size_b"),
    )


def _shared_shingle_base(documents: DataFrame) -> DataFrame:
    """The (doc_id, toks) :func:`_shingle_base` of ``documents``,
    materialized once per session and corpus (see
    :func:`~.similarity._shared_frame`): the default base of D3's
    signatures, D15's verification and P17's graded methods, so one
    corpus scan tokenizes for all of them."""
    return _shared_frame("shingle-base", documents, lambda: _shingle_base(documents))


def dedup_ngram_jaccard(documents: DataFrame, threshold: float = 0.8) -> DataFrame:
    """D2: exact 3-gram-shingle Jaccard candidate pairs (≥ threshold).

    Correctness baseline (all-pairs within shared shingles — quadratic in
    shingle document frequency). The wired production path at scale is
    :func:`dedup_containment_banded` (D15), which runs this exact scoring
    arithmetic over D3's LSH candidate pairs only.
    """
    out = _shingle_pair_intersections(documents).select(
        "doc_a",
        "doc_b",
        "intersection_size",
        "size_a",
        "size_b",
        _jaccard_col(),
    )
    return out.filter(F.col("jaccard") >= threshold)


def minhash_signatures(
    documents: DataFrame, base: DataFrame | None = None
) -> DataFrame:
    """Per-doc MinHash signature: k=16 column mins over universal hashes.

    Measured note: a shuffle-free per-row formulation (``aggregate`` over
    the hashed shingle array with a ``zip_with(acc, perms, least)`` fold)
    was benchmarked at sf0.1 and is ~25% SLOWER than this explode+groupBy
    plan (2.23s vs 1.76s steady-state): higher-order-function lambdas are
    interpreted per element, while the explode pipeline stays entirely
    inside WholeStageCodegen and its groupBy partial-aggregates map-side
    (the shuffle carries one 16-long partial per doc per partition, not
    the shingle fan-out). Kept the codegen-friendly formulation.
    """
    hashed = _shingle_rows(documents, base=base).select(
        "doc_id", md5_int(F.col("shingle"), 7).alias("h")
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_AB)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def band_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash) LSH band-bucket rows from a MinHash
    signature frame — the banding D3/D15/D18 share for candidate pairing
    and the streaming near-dedup gate probes as its persisted index; ONE
    definition so the bucket semantics can never diverge."""
    # Explode one array of (band_id, band_hash) structs instead of unioning
    # per-band projections: a union would duplicate the (expensive) signature
    # aggregation subtree once per band AND defeat exchange reuse in the
    # self-join below — 8× recomputation. With a single identical subtree on
    # both join sides, Spark reuses the aggregation exchange (one compute).
    band_structs = [
        F.struct(
            F.lit(j).cast("long").alias("band_id"),
            F.md5(
                F.concat_ws(
                    "-",
                    *[
                        F.col(f"mh{j * MINHASH_ROWS + r}").cast("string")
                        for r in range(MINHASH_ROWS)
                    ],
                )
            ).alias("band_hash"),
        )
        for j in range(MINHASH_BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_hash").alias("band_hash"))


def _lsh_candidate_pairs(sig: DataFrame, n_splits: int = 1) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands) LSH candidate pairs from a MinHash
    signature frame — the banding join D3, D15 and D18 all share.

    ``n_splits`` is the HOT-BUCKET mitigation (band-key salting, the
    lossless D5/D8 sub-block trick applied to the bucket self-join): a
    boilerplate template shared by thousands of docs puts them all in one
    (band, hash) bucket, whose n² pair generation then lands in ONE
    reduce task — the dedup-chain skew shape uniform corpora never hit.
    With splits, the build side keys on (bucket, sub(doc_id)) and the
    probe side replicates over all subs, so every qualifying pair still
    meets EXACTLY once (pair-set equality pinned in tests and measured in
    tools/scale_stress.py's skewed_dedup probe) while the largest task
    holds bucket_n·bucket_n/s instead of bucket_n² — per-task memory and
    work drop s×, at an s× probe-replication price only bucket rows pay.
    The candidate OUTPUT is unchanged (those pairs genuinely collide);
    what the salt fixes is the straggler/OOM task, exactly like the
    salted broadcast join in operators/skew.py."""
    buckets = band_buckets(sig)
    if n_splits <= 1:
        a = buckets.alias("a")
        b = buckets.alias("b")
        cond = (
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
    else:
        a = buckets.withColumn(
            "t",
            F.explode(F.array(*[F.lit(i) for i in range(n_splits)])),
        ).alias("a")
        b = buckets.withColumn(
            "t", F.pmod(F.xxhash64("doc_id"), F.lit(n_splits))
        ).alias("b")
        cond = (
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.t") == F.col("b.t"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
        )
    pairs = (
        a.join(b, cond)
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.countDistinct("a.band_id").alias("n_shared_bands"))
    )
    return pairs


def dedup_minhash_lsh(
    documents: DataFrame,
    base: DataFrame | None = None,
    n_splits: int = 1,
    sig: DataFrame | None = None,
) -> DataFrame:
    """D3: MinHash + LSH banding candidate pairs.

    Scale path for D2: pairs only form inside (band, band_signature)
    buckets; the band signature is an md5 over the band's minhash row, so
    bucket keys are uniform 16-byte strings — no skew hot-spots FROM KEY
    DISTRIBUTION. Content skew is different: a boilerplate template
    shared by a large doc population creates one genuinely hot bucket;
    ``n_splits > 1`` engages the lossless band-key salting described on
    :func:`_lsh_candidate_pairs` (pair set unchanged, largest task s×
    smaller).

    ``sig`` lets a caller that already materialized the signatures (D18,
    P17) feed them in. Without ``base`` the signatures read the
    session-shared shingle base (:func:`_shared_shingle_base`), which
    D15's verification then reuses. The candidate graph is served through
    the session shared-frame registry, one entry per ``n_splits`` (see
    :func:`~.similarity._shared_frame`): P4/P5/P10/P15/P19 and D15's
    candidate stage all consume this exact frame per corpus.
    """
    def _build() -> DataFrame:
        if sig is not None:
            return _lsh_candidate_pairs(sig, n_splits=n_splits)
        b = base if base is not None else _shared_shingle_base(documents)
        return _lsh_candidate_pairs(
            minhash_signatures(documents, base=b), n_splits=n_splits
        )

    return _shared_frame("lsh-cand", documents, _build, n_splits)


def dedup_minhash_estimate(
    documents: DataFrame, min_matching: int = 13, base: DataFrame | None = None
) -> DataFrame:
    """D18: Jaccard ESTIMATED from MinHash signature agreement alone — the
    sketch-only dedup verdict, no shingle re-scoring at any point.

    D15 re-scores LSH candidates with exact Jaccard, which still has to
    re-derive shingles for every candidate document. At full corpus scale
    the standard next step (Broder's estimator) decides from the
    signatures already in hand: ``P[minhash_i(A) = minhash_i(B)] = J(A,B)``
    for a min-wise hash family, so the fraction of agreeing components is
    an unbiased Jaccard estimate with error ~1/sqrt(k). Per-pair cost
    becomes k integer compares on 16-long signatures — the text never
    crosses the wire, and the whole plan is the banding join plus two
    signature equi-joins (signatures ≪ corpus).

    With k=16 the estimate has 1/16 granularity, so ``min_matching = 13``
    realizes a 0.8 threshold (13/16 = 0.8125 ≥ 0.8 > 12/16).
    ``est_jaccard = n_matching/16`` is an exact binary fraction —
    bit-identical across engines. Precision/recall vs the exact-scored
    D15 verdicts is pinned in tests.
    """
    k = len(MINHASH_AB)
    # One signature computation feeds the banding join AND both scoring
    # sides; without the checkpoint Catalyst re-derives the corpus-wide
    # aggregation per reference (3 full corpus scans at object-store cost).
    # The materialized signatures are session-shared (r16 — P17's panel
    # needs this identical frame), and the candidate graph comes from
    # D3's shared frame instead of a private banding join.
    sig = _shared_frame(
        "mh-sig", documents, lambda: minhash_signatures(documents, base=base)
    )
    pairs = dedup_minhash_lsh(documents, base=base, sig=sig)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)],
    )
    n_matching = None
    for i in range(k):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        n_matching = term if n_matching is None else n_matching + term
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            n_matching.cast("long").alias("n_matching"),
        )
        .filter(F.col("n_matching") >= min_matching)
        .withColumn("est_jaccard", F.col("n_matching") / F.lit(k))
    )


def dedup_simhash(documents: DataFrame) -> DataFrame:
    """D4: 16-bit SimHash near-dup buckets (token-set sign aggregation)."""
    c = corpus(documents)
    tok = c.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("token")
    )
    hashed = tok.select("doc_id", md5_int(F.col("token"), 4).alias("h16"))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h16"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"s{i}")
        for i in range(16)
    ]
    bits = hashed.groupBy("doc_id").agg(*bit_aggs)
    sim = None
    for i in range(16):
        term = F.when(F.col(f"s{i}") >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    docs = bits.select("doc_id", sim.cast("long").alias("simhash"))
    return _group_output(docs, "simhash")


def dedup_containment(documents: DataFrame, threshold: float = 0.9) -> DataFrame:
    """D14: partial-duplicate pairs by shingle CONTAINMENT — the dedup
    family Jaccard misses.

    A 90%-truncation of a long document has containment ≈ 1.0 w.r.t. its
    parent (|A∩B|/|A|) while its Jaccard can sit well under a near-dup
    threshold; containment is the standard measure for "document A is
    inside document B" (subsumption/partial-dup detection, Broder's
    resemblance-vs-containment distinction). Same shingle-join shape as
    D2 and the same caveat: exact all-pairs within shared shingles is the
    correctness baseline; the wired scale path is
    :func:`dedup_containment_banded` (D15), which applies this same
    containment arithmetic to D3's banded candidates only. The planted
    +3,000,000 truncations are the true positives.
    """
    out = _shingle_pair_intersections(documents).select(
        "doc_a",
        "doc_b",
        "intersection_size",
        "size_a",
        "size_b",
        *_containment_cols(),
    )
    return out.filter(
        F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold
    )


def dedup_containment_banded(
    documents: DataFrame,
    jaccard_threshold: float = 0.8,
    containment_threshold: float = 0.9,
    base: DataFrame | None = None,
    cand: DataFrame | None = None,
) -> DataFrame:
    """D15: the PRODUCTION scale path for D2 (Jaccard) and D14
    (containment) — exact shingle scoring restricted to D3's MinHash-LSH
    candidate pairs instead of every co-shingle pair.

    Why this shape survives 100×: the all-pairs scaffold
    (:func:`_shingle_pair_intersections`) is quadratic in shared-shingle
    fan-out, while here each LSH candidate PAIR (LSH output, orders of
    magnitude smaller than the corpus) is scored directly: both docs'
    distinct-shingle arrays are joined onto the pair and intersected
    (:func:`_verify_pairs`), so no co-shingle pair outside the candidates
    is ever generated. Every surviving pair carries the same exact
    jaccard/containment arithmetic as D2/D14, so precision vs the exact
    baselines is 1.0 by construction; recall is the LSH banding bound
    ``1-(1-s^r)^b`` (b=4 bands, r=4 rows), asserted against the exact
    baselines on the planted truncations in ``tests/test_operators.py``.
    Emits BOTH scores (Broder's resemblance and containment) so one pass
    serves both dedup families.

    Growth model (10× stress attribution, r7): the LSH candidate pass
    dominates — 5.6s of the 9.5s total at 10×, with candidates growing
    EXACTLY linearly (718 → 7181 pairs on the decorrelated replica) —
    because MinHash is per-shingle compute (one md5 + 16 universal-hash
    min-aggregations per shingle row). Expected time ≈ c₁·shingles
    (signatures) + c₂·candidates (exact scoring); the ~4-5× ratio on 10×
    data is sublinear, steeper than cheap queries only because this is
    real compute with no fixed overhead to amortize.
    """
    # ONE corpus scan: without ``base`` the (doc_id, toks) base is the
    # session-shared shingle base D3's signatures already materialized,
    # so the candidate pass and the verification read one checkpoint.
    # `cand` is likewise materialized (D3's shared frame): without it the
    # LSH subtree re-executes once per downstream reference (~5×,
    # 41-Exchange plan measured).
    def _build() -> DataFrame:
        pairs = (
            cand
            if cand is not None
            else dedup_minhash_lsh(documents, base=base).select("doc_a", "doc_b")
        )
        scored = _verify_pairs(
            pairs, base if base is not None else _shared_shingle_base(documents)
        ).select(
            "doc_a",
            "doc_b",
            "intersection_size",
            "size_a",
            "size_b",
            _jaccard_col(),
            *_containment_cols(),
        )
        return scored.filter(
            (F.col("jaccard") >= jaccard_threshold)
            | (
                F.greatest(F.col("containment_a"), F.col("containment_b"))
                >= containment_threshold
            )
        )

    # Session-shared verified-pair set (r16): P11, P27 and the D15 query
    # itself each derive this exact frame per corpus; thresholds are part
    # of the key so a non-default caller gets its own entry. ``cand``
    # lets a caller (P17) that already materialized the candidate graph
    # feed it in on a miss — the output is cand-invariant (the same
    # candidate SET either way).
    return _shared_frame(
        "banded-pairs",
        documents,
        _build,
        float(jaccard_threshold),
        float(containment_threshold),
    )


#: D43 paragraph proxy: fixed token windows standing in for double-newline
#: blocks on single-line corpora, and the paragraph-id packing width
#: (pid = doc_id·PARA_KEY + window index → bounded at PARA_KEY·PARA_TOKENS
#: = 320k tokens per document).
PARA_TOKENS = 32
PARA_KEY = 10000


def _paragraph_base(documents: DataFrame) -> DataFrame:
    """(doc_id = pid, toks = paragraph tokens) — the corpus re-keyed at
    PARAGRAPH granularity so the whole-document MinHash machinery
    (signatures, banding, candidate join, exact re-score) applies
    verbatim one level down. A paragraph is a fixed ``PARA_TOKENS``-token
    window (production text splits on blank lines FIRST and windows only
    the oversized blocks; the driver corpus is single-line, so windows
    ARE the blocks); windows under 3 tokens can't form a shingle and drop
    exactly like short docs do in :func:`_shingle_base`."""
    toks = tokens(F.col("text"))
    c = corpus(documents).select("doc_id", toks.alias("toks"))
    n = F.greatest(
        F.ceil(F.size("toks") / F.lit(float(PARA_TOKENS))).cast("int"), F.lit(1)
    )
    return (
        c.select(
            "doc_id", "toks", F.explode(F.sequence(F.lit(1), n)).alias("i")
        )
        .select(
            # ENFORCED packing bound (was documented-only): a window index
            # reaching PARA_KEY would spill the pid into doc_id+1's range
            # and silently misattribute its dup mass across documents (the
            # DuckDB oracle shares the overflow, so parity would not catch
            # it) — fail loudly instead; production raises PARA_KEY.
            F.when(
                F.col("i") < F.lit(PARA_KEY),
                F.col("doc_id") * PARA_KEY + F.col("i"),
            )
            .otherwise(
                F.raise_error(
                    F.format_string(
                        "paragraph pid packing overflow: doc_id %s has >= "
                        f"{PARA_KEY * PARA_TOKENS} tokens (window %s >= "
                        f"PARA_KEY={PARA_KEY}); raise PARA_KEY",
                        F.col("doc_id"),
                        F.col("i"),
                    )
                )
            )
            .alias("doc_id"),
            F.slice(
                "toks", (F.col("i") - 1) * PARA_TOKENS + 1, F.lit(PARA_TOKENS)
            ).alias("toks"),
        )
        .filter(F.size("toks") >= 3)
    )


def dedup_paragraph_minhash(
    documents: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """D43: fuzzy dedup at PARAGRAPH granularity — the RefinedWeb/FineWeb
    recipe's middle layer (Penedo et al. 2023, arXiv:2306.01116 dedups at
    document AND line/paragraph level) between D34's exact repeated spans
    and D3's whole-document signatures: a doc that shares boilerplate
    paragraphs with OTHER docs without being a near-dup of any of them is
    invisible to both neighbors, and this operator measures exactly that
    mass.

    Plan = the D15 production shape, one granularity down, reusing the
    SAME single definitions: :func:`_paragraph_base` re-keys the corpus
    as (pid, tokens), :func:`minhash_signatures` + banding generate
    CROSS-DOCUMENT candidate paragraph pairs (same-doc repetition is
    D34's territory), :func:`_verify_pairs` re-scores each candidate
    pair with the exact D2 shingle arithmetic at Jaccard ≥
    ``threshold``, and a per-document rollup
    reports the duplicated-paragraph mass (the X17 shape at paragraph
    level): paragraphs and tokens total vs in some verified cross-doc
    duplicate pair. Only docs carrying dup mass emit a row — the
    manifest a curator subtracts before mixing.

    100 TB: everything rides the already-bounded D3/D15 machinery —
    per-shingle signature compute, (band, hash)-bucketed candidate
    generation (never all-pairs), per-candidate-pair exact scoring;
    the rollup is one groupBy over paragraph rows. Fully hash-exact
    (md5 minhash + exact Jaccard in both engines).
    """
    para = _paragraph_base(documents).localCheckpoint(eager=True)
    cross = F.expr(f"doc_a DIV {PARA_KEY} != doc_b DIV {PARA_KEY}")
    cand = (
        _lsh_candidate_pairs(minhash_signatures(None, base=para))
        .filter(cross)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    verified = (
        _verify_pairs(cand, para)
        .select("doc_a", "doc_b", _jaccard_col())
        .filter(F.col("jaccard") >= threshold)
    )
    dup_pids = (
        verified.select(F.col("doc_a").alias("pid"))
        .unionByName(verified.select(F.col("doc_b").alias("pid")))
        .distinct()
        .withColumn("dup", F.lit(1).cast("long"))
    )
    pstats = para.select(
        F.expr(f"doc_id DIV {PARA_KEY}").alias("doc"),
        F.col("doc_id").alias("pid"),
        F.size("toks").cast("long").alias("p_tokens"),
    )
    return (
        pstats.join(dup_pids, "pid", "left")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(F.coalesce("dup", F.lit(0))).cast("long").alias("n_dup_paras"),
            F.sum("p_tokens").cast("long").alias("para_tokens"),
            F.sum(F.coalesce("dup", F.lit(0)) * F.col("p_tokens"))
            .cast("long")
            .alias("dup_tokens"),
        )
        .filter(F.col("n_dup_paras") >= 1)
        .select(
            "doc_id",
            "n_paras",
            "n_dup_paras",
            "para_tokens",
            "dup_tokens",
            (F.col("dup_tokens") / F.col("para_tokens")).alias("dup_frac"),
        )
    )


#: D25's SimHash width and banding: 64 bits (Manku et al.'s web-dedup
#: width), represented as TWO non-negative 32-bit halves (``simhash_lo``
#: = bits 0–31, ``simhash_hi`` = bits 32–63) because a single 64-bit
#: value would need the sign bit of a signed BIGINT — the two-half form
#: keeps every intermediate positive and portable across Spark (ANSI
#: overflow checks) and DuckDB. Banding: 4 bands of 16 bits (lo low/high
#: half-words, hi low/high half-words). Pigeonhole: a pair within Hamming
#: distance 3 differs in ≤ 3 bits, which can touch at most 3 of the 4
#: disjoint bands — at least one band is IDENTICAL, so the band-bucket
#: equi-join has recall EXACTLY 1.0 for d ≤ 3 (a proof, not an LSH
#: probability). Growth model at scale: random band collisions ≈
#: bands·N²/2^band_bits; the r11 widening from 4×15 to 4×16 bits halves
#: the expected collision count per pair of N at no recall cost.
SIMHASH_WIDE_BITS = 64
SIMHASH_BANDS_W = 4
SIMHASH_BAND_BITS = SIMHASH_WIDE_BITS // SIMHASH_BANDS_W
_HALF_BITS = 32
_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


def simhash_wide(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash_lo, simhash_hi) — 64-bit token-set SimHash as two
    32-bit halves (D4's sign aggregation widened; one distinct-token
    explode + one 64-column conditional-sum aggregate, map-side
    combined). ``lo`` bits come from md5 hex chars 9–16, ``hi`` bits
    from chars 1–8 — one md5 per token, two BIGINT extractions."""
    c = corpus(documents)
    tok = c.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("token")
    )
    hashed = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5("token"), 9, 8), 16, 10)
        .cast("long")
        .alias("h_lo"),
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10)
        .cast("long")
        .alias("h_hi"),
    )
    bit_aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col(src), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"{pre}{i}")
        for src, pre in (("h_lo", "l"), ("h_hi", "u"))
        for i in range(_HALF_BITS)
    ]
    bits = hashed.groupBy("doc_id").agg(*bit_aggs)

    def _half(pre: str):
        sim = None
        for i in range(_HALF_BITS):
            term = F.when(F.col(f"{pre}{i}") >= 0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
            sim = term if sim is None else sim + term
        return sim.cast("long")

    return bits.select(
        "doc_id", _half("l").alias("simhash_lo"), _half("u").alias("simhash_hi")
    )


def simhash_band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, simhash_lo, simhash_hi, band, band_val) — the 4×16-bit
    band explosion of a :func:`simhash_wide` signature frame; ONE
    definition shared by D25's candidate join and the scale-stress
    collision probe so the bucket semantics can never diverge."""
    band_exprs = []
    for j in range(SIMHASH_BANDS_W):
        src = "simhash_lo" if j < 2 else "simhash_hi"
        shift = (j % 2) * SIMHASH_BAND_BITS
        band_exprs.append(
            F.struct(
                F.lit(j).cast("long").alias("band"),
                F.shiftright(F.col(src), shift)
                .bitwiseAND(F.lit(_BAND_MASK))
                .alias("band_val"),
            )
        )
    return sigs.select(
        "doc_id",
        "simhash_lo",
        "simhash_hi",
        F.explode(F.array(*band_exprs)).alias("b"),
    ).select(
        "doc_id",
        "simhash_lo",
        "simhash_hi",
        F.col("b.band").alias("band"),
        F.col("b.band_val").alias("band_val"),
    )


def dedup_simhash_hamming(
    documents: DataFrame, max_distance: int = 3
) -> DataFrame:
    """D25: near-dup pairs at Hamming distance ≤ 3 over a 64-bit SimHash
    — the BIT-distance dedup family that D4's exact-bucket grouping
    misses (one flipped bit = a different bucket; Manku et al.'s
    web-dedup formulation). Candidate generation is pigeonhole-COMPLETE
    banding (see :data:`SIMHASH_WIDE_BITS`): 4 disjoint bands of 16
    bits, any pair within distance 3 shares at least one band verbatim,
    so the band-bucket equi-join provably misses nothing; the verdict is
    the exact popcount ``bit_count(xor(lo_a, lo_b)) + bit_count(xor(
    hi_a, hi_b)) ≤ 3`` over the two 32-bit halves — portable BIGINT bit
    ops, so the whole operator carries a hash-exact oracle.

    Scale shape: signature pass is one aggregate; candidates form only
    inside (band, 16-bit value) buckets — expected random collisions
    ≈ bands·N²/2^band_bits plus the true near-dups (the r11 widening
    from 15- to 16-bit bands halved that coefficient with the
    completeness proof untouched); for still-larger corpora split
    buckets further on a surrogate key — recall survives any refinement
    of the band key because completeness needs only that equal bands
    collide.
    """
    bands = simhash_band_rows(simhash_wide(documents))
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared_bands"),
            F.min(F.col("a.simhash_lo")).alias("lo_a"),
            F.min(F.col("a.simhash_hi")).alias("hi_a"),
            F.min(F.col("b.simhash_lo")).alias("lo_b"),
            F.min(F.col("b.simhash_hi")).alias("hi_b"),
        )
    )
    hamming = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    ).cast("long")
    return (
        pairs.select("doc_a", "doc_b", "n_shared_bands", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_distance)
    )


#: KMV (k-minimum-values) sketch size for cross-source set estimation.
KMV_K = 128

#: 52-bit hash space (13 hex chars of md5) — every value is exactly
#: representable as an IEEE double, so the BIGINT→DOUBLE casts in the
#: estimate columns are lossless in both engines.
KMV_SPACE = float(2**52)

#: Phase-1 bucket width: h DIV 2^44 → 256 high-bit buckets.
_KMV_BUCKET = 1 << 44


def docs_kmv_overlap(documents: DataFrame, k: int = KMV_K) -> DataFrame:
    """D26: cross-source SHINGLE-OVERLAP estimation from KMV (theta)
    sketches — the Druid/DataSketches set-operation shape: per source keep
    only the ``k`` smallest distinct 3-gram-shingle hashes, then estimate
    every pair's union size, Jaccard, and intersection size from sketches
    alone. This is the SKETCH PATH of P16 ``cross_source_overlap`` (same
    corpus/shingle element definition — on this corpus cross-source
    overlap exists only at n-gram granularity, never whole-document): P16
    joins EVERY distinct (shingle, source) row pairwise; at 100 TB this
    operator moves 128 rows per source instead.

    Estimator (Beyer et al. 2007 / theta-sketch intersection): with the
    union's k-th minimum M over the 2^52 hash space,
    ``union_est = (k-1)·2^52 / M``; ``jaccard_est = |both| / k`` over the
    union sketch's members; ``inter_est = jaccard_est · union_est``.
    When a pair's union sketch holds FEWER than k hashes it IS the exact
    distinct union (the estimate degrades to the exact count).

    Exactness: hashes are md5-derived BIGINTs (the engine-portable
    convention), every count/rank is integer, and the three estimate
    columns are single correctly-rounded double operations on
    exactly-representable integers — bit-identical in Spark and DuckDB.

    Scale shape: the per-source k-minimum is TWO-PHASE (the O44
    convention) — phase 1 ranks within (source, 256 high-bit buckets),
    fully parallel; phase 2 ranks the surviving ≤256·k rows per source.
    No single partition ever sorts a whole source. Pair fan-out joins a
    broadcast pair list against the k-row sketches. Measured 10× growth
    (SCALE_r8) is ~3.4× — token-volume-bound LINEAR work in the shingle
    explode/distinct (the X13 attribution), not the sketch stages: the
    pairwise phase reads 128 rows/source at any corpus size. (The SCALE_r8
    number predates the sketch checkpoint below, which stops the explode
    subtree re-planning per reference — ~25% faster steady-state at
    sf0.1.)
    """
    from pyspark.sql import Window

    hashes = (
        _shingle_rows(documents)
        .join(corpus(documents).select("doc_id", "source"), "doc_id")
        .select("source", md5_int(F.col("shingle"), 13).alias("h"))
        .distinct()
    )
    w1 = Window.partitionBy("source", "bkt").orderBy("h")
    part = (
        hashes.withColumn("bkt", (F.col("h") / F.lit(_KMV_BUCKET)).cast("long"))
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
        .drop("rn", "bkt")
    )
    w2 = Window.partitionBy("source").orderBy("h")
    # materialized ONCE (k rows/source): it is referenced three times below
    # (both pair-list sides derive from it + the fan-out probe), and
    # Catalyst re-plans the whole shingle-explode/rank subtree per
    # reference otherwise (7 physical Window nodes measured vs 3 — the
    # _shingle_pair_intersections lesson applied to the sketch).
    sketch = (
        part.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    srcs = sketch.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("source_a"))
        .crossJoin(F.broadcast(srcs.select(F.col("source").alias("source_b"))))
        .filter(F.col("source_a") < F.col("source_b"))
    )
    fanned = F.broadcast(pairs).join(
        sketch,
        (F.col("source") == F.col("source_a"))
        | (F.col("source") == F.col("source_b")),
    )
    per_h = fanned.groupBy("source_a", "source_b", "h").agg(
        F.max((F.col("source") == F.col("source_a")).cast("int")).alias("in_a"),
        F.max((F.col("source") == F.col("source_b")).cast("int")).alias("in_b"),
    )
    w3 = Window.partitionBy("source_a", "source_b").orderBy("h")
    u = per_h.withColumn("rn", F.row_number().over(w3)).filter(F.col("rn") <= k)
    agg = u.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.max("h").alias("theta_hash"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_matches"),
    )
    union_est = F.when(
        F.col("k_used") < k, F.col("k_used").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_SPACE) / F.col("theta_hash").cast("double")
    )
    jaccard_est = F.col("n_matches").cast("double") / F.col("k_used").cast("double")
    return agg.select(
        "source_a",
        "source_b",
        "k_used",
        "theta_hash",
        "n_matches",
        union_est.alias("union_est"),
        jaccard_est.alias("jaccard_est"),
        (jaccard_est * union_est).alias("inter_est"),
    )


#: CDC rolling-hash parameters: window of 4 token hashes, polynomial base,
#: boundary when the window hash ≡ 0 (mod 8) → expected ~8-token chunks.
CDC_W = 4
CDC_B = 1000003
CDC_DIVISOR = 8


def dedup_cdc_chunks(
    documents: DataFrame, min_shared: int = 2
) -> DataFrame:
    """D29: PARTIAL-duplicate detection by CONTENT-DEFINED CHUNKING — the
    rsync/LBFS/storage-dedup family member the shingle operators don't
    cover: a Rabin-style rolling hash over token windows places chunk
    boundaries BY CONTENT, so an edit (insert/truncate/prepend) only
    perturbs the chunks it touches and every other chunk keeps its
    fingerprint — whole-document fingerprints (D1) lose everything on a
    1-token edit, shingle Jaccard (D2) re-scores all pairs; CDC finds
    "these two docs share 80% of their SPANS" directly. On the planted
    corpus the +3M truncated-to-90% variants share every chunk inside the
    common prefix with their parents (boundary locality — asserted in
    tests), while reversed docs share almost none.

    Exactness: token hashes are the 28-bit md5 base; the window hash is a
    mod-P polynomial with per-term reduction (`t·(Bʲ mod P) < 2^59` —
    never wraps int64); chunk fingerprints are md5 of the
    position-ordered token span; every output column is a BIGINT count or
    one exact division — full hash-exact oracle.

    Scale shape: positions explode once (token volume, linear — the X13
    attribution), chunking is ONE per-doc cumulative window (doc-sized
    partitions), the pair join runs on chunk fingerprints (span-sized
    content keys — far rarer than shingles, so the candidate fan-out is
    bounded by repeated SPANS, not repeated 3-grams).
    """
    from pyspark.sql import Window

    c3 = pow(CDC_B, 3, MINHASH_P)
    c2 = pow(CDC_B, 2, MINHASH_P)
    c1 = CDC_B % MINHASH_P
    base = _shingle_base(documents)  # (doc_id, toks), ≥3 tokens
    pos = base.select(
        "doc_id",
        F.posexplode("toks").alias("pos0", "token"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        "token",
        md5_int(F.col("token"), 7).alias("th"),
    )
    # window hash ending at pos (needs pos ≥ 4): Σ th(pos−j)·(B^j mod P)
    lag = lambda j: F.lag("th", j).over(  # noqa: E731
        Window.partitionBy("doc_id").orderBy("pos")
    )
    h = (
        (F.col("th") % MINHASH_P)
        + (F.coalesce(lag(1), F.lit(0)) * c1) % MINHASH_P
        + (F.coalesce(lag(2), F.lit(0)) * c2) % MINHASH_P
        + (F.coalesce(lag(3), F.lit(0)) * c3) % MINHASH_P
    ) % MINHASH_P
    flagged = pos.withColumn(
        "is_boundary",
        F.when((F.col("pos") >= CDC_W) & (h % CDC_DIVISOR == 0), 1).otherwise(0),
    )
    w_prior = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    chunked = flagged.withColumn(
        "chunk_idx", F.coalesce(F.sum("is_boundary").over(w_prior), F.lit(0))
    )
    spans = chunked.groupBy("doc_id", "chunk_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "token"))),
                lambda x: x["token"],
            ),
            " ",
        ).alias("span")
    )
    fps = spans.select(
        "doc_id", md5_int(F.col("span"), 13).alias("fp")
    ).distinct()
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    shared = (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_chunks"))
        .filter(F.col("n_shared_chunks") >= min_shared)
    )
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("n_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared_chunks",
            "n_a",
            "n_b",
            (F.col("n_shared_chunks") / F.col("n_a")).alias("containment_a"),
            (F.col("n_shared_chunks") / F.col("n_b")).alias("containment_b"),
        )
    )


def dedup_sorted_neighborhood(
    documents: DataFrame,
    window: int = 8,
    threshold_pct: int = 80,
    base: DataFrame | None = None,
) -> DataFrame:
    """D30: SORTED-NEIGHBORHOOD near-dup detection — the classic blocking
    family LSH (D3) and SimHash banding (D25) don't cover: sort the corpus
    on a compact domain key (here the 40-char normalized-whitespace text
    prefix), then score ONLY pairs within ``window`` positions of each
    other in the global sort order. Catches prefix-preserving near-dups
    (same article + trailing edits, boilerplate headers, truncations) in
    exactly N·(window−1) scored pairs — deterministic cost, no hash
    probability, the standard record-linkage baseline (Hernández-Stolfo
    SNM) a curation team A/Bs against LSH.

    Scale shape: the global order is the family's shared two-phase rank
    (``_ranked_with_n`` through O44's range-partition prefix sum, since
    the "group" is the whole corpus; no single-task global sort). The
    rank-band self-join is rewritten as an EQUI-join: docs bucket by
    ``(rn−1) DIV window`` and each left row probes exactly its own and the
    next bucket, so the neighborhood condition ``0 < rn_b − rn_a <
    window`` never plans a non-equi join. Each candidate is scored by
    :func:`_verify_pairs`, one JVM-side ``array_intersect`` over the two
    distinct-shingle arrays — D2's exact Jaccard arithmetic (identical
    intersection/union algebra), threshold applied as the cross-multiplied
    integer inequality ``inter·100 ≥ pct·union``. All-integer until the final reported
    ratio; full hash-exact DuckDB oracle.

    SCALE_r8 attribution: the 10× cold-first-pass ratio (~5×) is NOT
    superlinearity — warm steady-state is ~3.4× (measured: cold 18 s →
    warm 7.8 s in the same fresh session at 10× sf0.1), with the cold gap
    the one-time codegen/JIT of the shingle-transform expression and the
    remaining time the LINEAR checkpoint materialization of the
    (skey, shingle-array) corpus pass — per-candidate work is
    rank-bounded (N·(w−1) pairs) and every shuffle is linear in corpus
    size. The scoring joins are pinned shuffle-hash (:func:`_verify_pairs`):
    auto-broadcast of the array table measured 8–10 s vs 1.5–2 s and
    cannot exist at 100 TB.
    """
    from .observability import _ranked_with_n

    # One corpus pass computes BOTH derived views (sort key + shingle
    # arrays) before the checkpoint: the materialization is referenced
    # three times below (rank input + both scoring sides), and folding the
    # shingle construction into it halves the array-build work vs
    # rebuilding shingles per join side (measured ~2.3 s/side at 10×
    # sf0.1). The rank is two-phase: the global order has no small-group
    # argument (the group is the whole corpus), so a window's single-task
    # sort is exactly the 1000× straggler.
    pre = base if base is not None else _shingle_base(documents)
    base = pre.select(
        "doc_id",
        F.substring(F.concat_ws(" ", F.col("toks")), 1, 40).alias("skey"),
        shingles(F.col("toks")).alias("sh"),
    ).localCheckpoint(eager=True)
    ranked = _ranked_with_n(
        base.select("doc_id", "skey").withColumn("_g", F.lit(0)),
        "_g",
        ["skey", "doc_id"],
        distributed=True,
    ).select("doc_id", "rn")
    bkt = F.floor((F.col("rn") - 1) / window).cast("long")
    left = ranked.select(
        F.col("doc_id").alias("id_a"),
        F.col("rn").alias("rn_a"),
        F.explode(F.array(bkt, bkt + 1)).alias("jkey"),
    )
    right = ranked.select(
        F.col("doc_id").alias("id_b"), F.col("rn").alias("rn_b"), bkt.alias("jkey")
    )
    cand = (
        left.join(right, "jkey")
        .filter(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") < F.col("rn_a") + window)
        )
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            (F.col("rn_b") - F.col("rn_a")).cast("long").alias("rank_gap"),
        )
    )
    union = F.col("size_a") + F.col("size_b") - F.col("intersection_size")
    return (
        _verify_pairs(cand, base)
        .filter(
            F.col("intersection_size") * 100 >= F.lit(int(threshold_pct)) * union
        )
        .withColumn("jaccard", F.col("intersection_size") / union)
    )


def dedup_prefix_filter(
    documents: DataFrame, threshold_pct: int = 80, base: DataFrame | None = None
) -> DataFrame:
    """D31: PREFIX-FILTERING exact near-dup join (Bayardo AllPairs /
    PPJoin) — the provably-LOSSLESS candidate pruning the probabilistic
    blockers (D3 LSH, D25 SimHash bands, D30 SNM) can't offer: sort each
    doc's shingles by a global order (document frequency ascending, token
    tiebreak — rarest first), index only the first
    ``n − ceil(t·n) + 1`` of them, and join on prefix tokens alone.

    COMPLETENESS THEOREM (the reason recall is 1.0 by proof, not by
    measurement): if Jaccard(r, s) ≥ t then |r∩s| ≥ ceil(t·max(|r|,|s|))
    (I/U ≥ t and U ≥ |r|); let w be the smallest common token in the
    global order at position i in r — every token before w in r is
    non-shared, so |r∩s| ≤ |r| − (i−1); if i exceeded r's prefix length
    the bound gives |r∩s| ≤ ceil(t·|r|) − 1, a contradiction — so the
    smallest common token lies inside BOTH prefixes and the prefix join
    finds every qualifying pair. Candidates are then exact-verified with
    D2's scoring (:func:`_verify_pairs` + the identical float Jaccard
    filter),
    so the output EQUALS ``dedup_ngram_jaccard`` row-for-row (pinned in
    tests) at a fraction of the join fan-out: D2's inverted-index join
    explodes on every shared shingle, the prefix join only on the
    rare-token prefixes (candidate reduction reported by the paired
    count test).

    Scale shape: df counts and the per-doc prefix rank are one linear
    pass each (the rank window partitions per doc — bounded by doc
    size); the candidate join keys on prefix tokens whose document
    frequency the ordering deliberately minimizes; scoring joins are
    shuffle-hash on the checkpointed array table (:func:`_verify_pairs` —
    broadcasting arrays measured 5× slower and is impossible at 100 TB).
    Prefix length is all-integer (``n − (pct·n + 99) DIV 100 + 1``);
    full hash-exact DuckDB oracle mirrors the same algorithm.

    SCALE_r9 attribution (stage-level, measured from this operator's own
    :func:`prefix_filter_candidates` stage in tools/scale_stress.py): on
    the decorrelated 10× replica candidates grow 8.81× (143,577 →
    1,265,166) and verified output 9.7× (695 → 6,752), while the WARM
    runtime ratio is 5.5× — runtime grows slower than the work the
    threshold semantics create, i.e. per-candidate cost falls with
    scale; the cold first pass additionally carries the one-time
    shingle-codegen JIT constant attributed on D30. Every stage
    (checkpoint, df count, rank shuffle, prefix join, array verify) is
    linear in corpus or candidate volume.
    """
    pre = base if base is not None else _shingle_base(documents)
    base = pre.select(
        "doc_id", shingles(F.col("toks")).alias("sh")
    ).localCheckpoint(eager=True)
    cand = prefix_filter_candidates(base, threshold_pct)
    return (
        _verify_pairs(cand, base)
        .withColumn("jaccard", _jaccard_col())
        .filter(F.col("jaccard") >= int(threshold_pct) / 100.0)
    )


def prefix_filter_candidates(
    base_arrays: DataFrame, threshold_pct: int = 80
) -> DataFrame:
    """D31's candidate stage over a checkpointed (doc_id, sh) array frame
    — split out so ``tools/scale_stress.py`` can measure candidate
    growth at both scales directly from the ONE definition the operator
    runs (the stage-level attribution the r8 verdict asked for), instead
    of re-deriving the subplan in the tool."""
    # n rides along from the array size — a per-doc COUNT window here would
    # add a second window pass over the exploded table for a value the
    # checkpointed array already knows.
    exploded = base_arrays.select(
        "doc_id",
        F.size("sh").cast("long").alias("n"),
        F.explode("sh").alias("shingle"),
    )
    df_tbl = exploded.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    sized = exploded.join(df_tbl, "shingle").withColumn(
        "pos", F.row_number().over(w_doc).cast("long")
    )
    pct = int(threshold_pct)
    # prefix_len = n − ceil(pct·n/100) + 1, all-integer (Spark's `/` is
    # double division — DIV keeps the ceil exact).
    prefix = sized.filter(
        F.col("pos") <= F.expr(f"n - (({pct} * n + 99) DIV 100) + 1")
    ).select("doc_id", "shingle")
    return (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def lex_prefix_rows(arrays: DataFrame, threshold_pct: int) -> DataFrame:
    """(doc_id, shingle) prefix postings of a (doc_id, sh) frame whose
    ``sh`` column is an ``array_sort``-ed shingle array — the prefix-
    filter candidate key under the LEXICOGRAPHIC global order. D31's
    completeness theorem holds for ANY fixed total order (the df-
    ascending order D31 itself uses is a performance choice, not a
    correctness one); lex order needs NO document-frequency pass, so an
    ingest gate can prefix an arriving micro-batch without recomputing
    corpus statistics, and an index side prefixed under the same order
    stays valid as the index grows (P22's bipartite trick, bilateral).
    Prefix length is the same all-integer ``n − ceil(t·n) + 1``."""
    pct = int(threshold_pct)
    return arrays.select(
        "doc_id",
        F.explode(
            F.slice(
                F.col("sh"),
                1,
                F.greatest(
                    F.lit(1),
                    (
                        F.size("sh")
                        - F.expr(f"(({pct} * size(sh) + 99) DIV 100)")
                        + 1
                    ).cast("int"),
                ),
            )
        ).alias("shingle"),
    )


def dedup_bloom_gate(
    documents: DataFrame,
    m_bits: int = 1 << 20,
    boundary: int = 1_000_000,
) -> DataFrame:
    """D32: BLOOM-FILTER ingest gate + its own error audit — the
    constant-size membership sketch that completes the dedup-sketch
    family (KMV D26 estimates set sizes, HLL O70 counts distincts; the
    Bloom filter answers "have we seen THIS one?" in O(1) bits/key with
    NO false negatives).

    The filter is built DISTRIBUTED and MERGEABLE: each corpus key
    (md5 of text) sets k=4 bit positions derived from its own md5 hex
    (deterministic — no RNG, engine-portable); positions aggregate into
    32-bit words via ``bit_or``, and bit_or partials over ANY partition
    of the corpus merge losslessly into the same words (the O70/O75
    partial pattern — a streaming twin appends word partials). The whole
    filter is ``m_bits/32`` rows (≤32768 here) — broadcast to the probe
    side, so gating a batch never shuffles the corpus.

    Probing is AUDITED in the same frame (the P17/D27
    evaluation-as-operator posture): per source, arriving docs (doc_id ≥
    ``boundary``) are gated by the filter AND checked against exact
    membership truth, reporting true dups, flagged count, false
    positives and the realized FP rate. ``all_true_dups_flagged`` is the
    Bloom no-false-negative THEOREM surfacing as a per-row invariant
    (pinned in tests); the FP rate is the capacity signal a production
    deployment alarms on (size m to n — the default 2^20 bits holds
    n/m ≪ 1 at every test SF; at 100 TB the filter is sized or sharded
    by key range, words stay mergeable either way). Full hash-exact
    oracle: md5-derived positions, BIGINT bit words, integer flags.
    """
    from ..functions.text import corpus

    # checkpoint the keyed corpus: it feeds the filter build, the probe
    # input AND the exact-truth join — without it the corpus() union
    # subtree re-scans documents once per use in a single action.
    c = bloom_keys(corpus(documents)).localCheckpoint(eager=True)
    old_keys = c.filter(F.col("doc_id") < boundary).select("key").distinct()
    words = bloom_words(old_keys, m_bits=m_bits)
    new_docs = c.filter(F.col("doc_id") >= boundary)
    return bloom_audit(new_docs, words, old_keys, m_bits=m_bits)


def bloom_keys(corpused: DataFrame) -> DataFrame:
    """D32's key derivation over an ALREADY-corpus'd frame — (doc_id,
    source, key=md5(text)); split out so the streaming twin D33 keys
    arriving batches with the IDENTICAL definition (the
    media_fingerprints/bloom_words single-definition discipline)."""
    return corpused.select("doc_id", "source", F.md5("text").alias("key"))


#: Bloom word width: 1<<bit stays positive in a signed BIGINT at 32.
_BLOOM_W = 32


def _bloom_positions(df: DataFrame, m_bits: int) -> DataFrame:
    """Attach the k=4 bit positions of each row's ``key``: md5 hex chars
    [1..8],[9..16],[17..24],[25..32] (32 bits each — lossless through
    BIGINT), each mod m. Shared by build and probe so the hash family has
    ONE definition."""
    ii = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i")
    return df.select("*", ii).withColumn(
        "pos",
        F.expr(
            f"CAST(conv(substring(key, 1 + 8*i, 8), 16, 10) AS BIGINT) "
            f"% {int(m_bits)}"
        ),
    )


BLOOM_WORD_OPS = {"bits": "bit_or"}


def bloom_words(keys: DataFrame, m_bits: int = 1 << 20) -> DataFrame:
    """D32's filter-build stage: (word_idx, bits) 32-bit ``bit_or`` words
    over a ``key`` frame — split out (the tail convention) so the
    streaming twin D33 builds per-batch word PARTIALS with the IDENTICAL
    definition. ``bit_or`` partials are both ASSOCIATIVE and IDEMPOTENT
    (a key re-setting its own bits is a no-op), so partials over any
    partition — or any at-least-once re-delivery — of the corpus merge
    into the exact whole-corpus filter."""
    return (
        _bloom_positions(keys, m_bits)
        .groupBy(F.expr(f"pos DIV {_BLOOM_W}").alias("word_idx"))
        .agg(
            F.bit_or(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_W} AS INT))"
                )
            ).alias("bits")
        )
    )


def bloom_audit(
    new_docs: DataFrame,
    words: DataFrame,
    old_keys: DataFrame,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """D32's probe + exact-truth audit stage over (doc_id, source, key)
    arrivals, a (word_idx, bits) filter, and the exact old-key set —
    shared verbatim by the streaming twin D33."""
    w = _BLOOM_W
    tested = (
        _bloom_positions(new_docs, m_bits)
        .join(F.broadcast(words), F.expr(f"pos DIV {w}") == F.col("word_idx"), "left")
        .groupBy("doc_id", "source", "key")
        .agg(
            F.min(
                F.when(
                    F.expr(
                        f"(coalesce(bits, CAST(0 AS BIGINT)) "
                        f">> CAST(pos % {w} AS INT)) & 1"
                    )
                    == 1,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("flagged")
        )
    )
    truth = tested.join(
        old_keys.withColumn("is_dup", F.lit(1)), "key", "left"
    ).withColumn("is_dup", F.coalesce("is_dup", F.lit(0)).cast("long"))
    return truth.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_new"),
        F.sum("is_dup").cast("long").alias("n_true_dup"),
        F.sum("flagged").cast("long").alias("n_flagged"),
        F.sum(((F.col("flagged") == 1) & (F.col("is_dup") == 0)).cast("long"))
        .cast("long")
        .alias("n_false_pos"),
        (
            F.sum(((F.col("flagged") == 1) & (F.col("is_dup") == 1)).cast("long"))
            == F.sum("is_dup")
        ).alias("all_true_dups_flagged"),
        F.try_divide(
            F.sum(((F.col("flagged") == 1) & (F.col("is_dup") == 0)).cast("long")),
            F.sum((F.col("is_dup") == 0).cast("long")),
        ).alias("fp_rate"),
    )


#: D34 default span width — Lee et al. 2022 ("Deduplicating Training Data
#: Makes Language Models Better") remove any 50-token span that occurs
#: more than once in the corpus. The registry runner uses 16 (the driver
#: corpus averages ~54 tokens/doc, so 50-token spans would only exercise
#: the longest docs); width is a parameter, the plan shape is identical.
REPEATED_SPAN_TOKENS = 50

#: D34 span-hash polynomial parameters (the X20 winnowing family, applied
#: to TOKEN hashes instead of character codes): two independent
#: (base, Mersenne-ish prime modulus) pairs so the combined span key is
#: 62 bits — span collisions need BOTH polynomials to collide
#: (P ≈ n²/2⁶³, negligible at any driver scale; the single 31-bit hash
#: would already birthday-collide at ~10⁵ spans and poison D37's exact
#: class recalls). Per-token hashes are 24-bit md5 prefixes, two
#: DIFFERENT prefixes per token, so distinct tokens collide on the PAIR
#: with P ≈ |vocab|²/2⁴⁹. Arithmetic bounds: term = h·Bʲ mod M <
#: 2²⁴·2³¹ = 2⁵⁵, so a w-term sum stays exact BIGINT for w ≤ 128; the
#: combined key s1·2³² + s2 < 2⁶³ − 2³³ + 2³¹ < 2⁶³ − 1. Identical
#: arithmetic in DuckDB (CAST('0x'||substr(md5..)) + BIGINT * / % / +).
SPAN_B1, SPAN_M1 = 257, 2147483647
SPAN_B2, SPAN_M2 = 263, 2147483629
_SPAN_MAX_W = 128


def _span_rows(corpused: DataFrame, w: int) -> DataFrame:
    """(doc_id, n_tokens, start, span_hash) — one row per w-token span of
    every already-corpus()'d document with ≥ w tokens (start is 1-based);
    ONE definition shared by D34 (detection) and D35 (scrub) so the span
    hashing can never diverge.

    ``span_hash`` is a BIGINT dual polynomial over once-hashed tokens
    (the X20 pattern ported from character grams to token sequences):
    each token is md5'd ONCE into two 24-bit halves, then every span
    hash is Σⱼ hₜ₊ⱼ·B^(w−1−j) mod M for two (B, M) pairs packed as
    s1·2³² + s2. Per-span cost is 2w integer multiply-adds inside
    WholeStageCodegen instead of an md5 round over the w-token joined
    string (which re-allocates ~w·token_len bytes per span — the O(n·w)
    STRING work the D34 docstring deferred). A true O(n) rolling
    recurrence (Hᵢ₊₁ from Hᵢ) is not expressible as a Catalyst array op
    without an O(n²) accumulate-into-array copy, so the direct 2w-madd
    sum is the optimal JVM-side form; the win is the per-span constant
    (no string building, no md5), not the asymptotic.
    """
    if w > _SPAN_MAX_W:
        raise ValueError(
            f"span width {w} > {_SPAN_MAX_W}: the w-term polynomial sum "
            "would overflow exact BIGINT (term < 2^55, sum < w*2^55)"
        )
    toks = tokens(F.col("text"))
    docs = (
        corpused.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.size("toks").cast("long").alias("n_tokens"), "toks")
        .filter(F.col("n_tokens") >= w)
    )
    # ONE md5 per token: the first 12 hex chars as a 48-bit BIGINT, split
    # into its two 24-bit halves with shift/mask inside each polynomial
    # term — h >> 24 ≡ conv(substr(md5, 1, 6)) and h & (2²⁴−1) ≡
    # conv(substr(md5, 7, 6)), which is exactly how the DuckDB oracle
    # derives them, so the packed span hash is bit-identical either way.
    h48 = F.transform(
        F.col("toks"),
        lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long"),
    )
    hashed = docs.select("doc_id", "n_tokens", h48.alias("h48"))
    p1 = [pow(SPAN_B1, w - 1 - j, SPAN_M1) for j in range(w)]
    p2 = [pow(SPAN_B2, w - 1 - j, SPAN_M2) for j in range(w)]

    def _poly(hi_half: bool, pows: list, m: int, i):
        s = None
        for j, p in enumerate(pows):
            x = F.element_at(F.col("h48"), i + j)
            half = (
                F.shiftright(x, 24)
                if hi_half
                else x.bitwiseAND(F.lit((1 << 24) - 1))
            )
            term = half * F.lit(p)
            s = term if s is None else s + term
        return s % F.lit(m)

    span_hashes = F.transform(
        F.sequence(F.lit(1), (F.col("n_tokens") - (w - 1)).cast("int")),
        lambda i: _poly(True, p1, SPAN_M1, i) * F.lit(1 << 32)
        + _poly(False, p2, SPAN_M2, i),
    )
    return hashed.select(
        "doc_id", "n_tokens", F.posexplode(span_hashes).alias("pos", "span_hash")
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("pos") + 1).cast("long").alias("start"),
        "span_hash",
    )


def dedup_repeated_spans(
    documents: DataFrame, span_tokens: int = REPEATED_SPAN_TOKENS
) -> DataFrame:
    """D34: exact repeated-substring (span-level) dedup — flag every
    ``span_tokens``-token span that occurs ≥ 2 times ANYWHERE in the
    corpus (across documents or repeated inside one), and report, per
    affected document, how much of it is covered by repeated spans.
    This is the MassiveText / Lee et al. 2022 rule: unlike every other
    D/P member (document-granularity fingerprints, shingle sets,
    chunks), it removes REPEATED PASSAGES inside otherwise-unique
    documents; ``repeated_fraction`` is the span-level soft-dedup
    signal P24/X17 consume at document granularity.

    Output: (doc_id, n_tokens, n_repeated_spans, repeated_token_mass,
    repeated_fraction) for documents containing ≥ 1 repeated span.
    ``repeated_token_mass`` is the exact size of the UNION of the
    flagged [start, start+w) intervals, computed per-row from the
    sorted start positions (for fixed-width intervals the union is
    w + Σ min(w, gap) over consecutive starts — one zip_with +
    aggregate, no position explode).

    Scale shape: ONE span explode (n_tokens - w + 1 rows/doc) → ONE
    shuffle on the span hash carrying a count-over-partition window
    (n_occ), filter n_occ ≥ 2 → one per-doc aggregate. The r11 form
    (groupBy span_hash HAVING ≥ 2, equi-join back to spans) computed
    the span explode TWICE and shuffled it twice — the window rides the
    same exchange the groupBy needed and halves both scans and
    shuffles, measured 2.35 s vs 3.46 s warm at sf0.1. No pairwise
    work, no cartesian. Hashing is the dual-polynomial Rabin–Karp over
    once-hashed tokens (see ``_span_rows``): 2w integer multiply-adds
    per span instead of the r11 md5-over-joined-string, the X20 trade
    applied to token sequences.
    """
    w = span_tokens
    spans = _span_rows(corpus(documents), w)
    win = Window.partitionBy("span_hash")
    rep = spans.select(
        "doc_id",
        "n_tokens",
        "start",
        F.count(F.lit(1)).over(win).alias("n_occ"),
    ).filter(F.col("n_occ") >= 2)
    per_doc = rep.groupBy("doc_id").agg(
        F.min("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_repeated_spans"),
        F.array_sort(F.collect_list("start")).alias("starts"),
    )
    m = F.size("starts")
    gaps = F.zip_with(
        F.slice(F.col("starts"), F.lit(1), m - 1),
        F.slice(F.col("starts"), F.lit(2), m - 1),
        lambda a, b: F.least(F.lit(w).cast("long"), b - a),
    )
    covered = (
        F.aggregate(gaps, F.lit(0).cast("long"), lambda acc, x: acc + x)
        + F.lit(w).cast("long")
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_repeated_spans",
        covered.alias("repeated_token_mass"),
        (covered.cast("double") / F.col("n_tokens").cast("double")).alias(
            "repeated_fraction"
        ),
    )


def dedup_repeated_spans_scrub(
    documents: DataFrame, span_tokens: int = REPEATED_SPAN_TOKENS
) -> DataFrame:
    """D35: the APPLY path of D34 — emit the cleaned corpus with every
    repeated ``span_tokens``-token span removed EXCEPT its canonical
    (globally first by ``(doc_id, start)``) occurrence, Lee et al.
    2022's ExactSubstr rule ("keep one copy of each repeated passage").
    A token position is scrubbed iff it is covered by ≥ 1 NON-canonical
    occurrence of a repeated span; the canonical copy survives unless a
    different span's non-canonical occurrence overlaps it.

    Output: one row per corpus document — (doc_id, n_tokens,
    n_scrubbed, text_clean); untouched documents (no repeated spans, or
    shorter than ``span_tokens``) pass through with n_scrubbed = 0 and
    text_clean = text.

    Scale shape: D34's span explode + hash groupBy, with the canonical
    pick as the same shuffle's window (row_number + count over
    span_hash — one exchange, no extra pass); the scrub apply is the
    sorted-interval two-pointer walk in ``apply_span_scrub`` — O(n + m)
    per doc (m = scrubbed starts), linear even for a fully-scrubbed
    book-length document (the r11 ``array_contains``-per-position form
    was O(n·|covered|) worst case).
    """
    w = span_tokens
    c = corpus(documents)
    scrub = non_canonical_spans(_span_rows(c, w))
    return apply_span_scrub(c, scrub, w)


def non_canonical_spans(spans: DataFrame) -> DataFrame:
    """(doc_id, start) occurrences of repeated spans that are NOT their
    span's canonical (first by (doc_id, start)) occurrence — the scrub
    set. Rides the span-hash shuffle as a window (row_number + count
    over span_hash, one exchange); shared by batch D35 and its streaming
    twin's within-batch half."""
    win = Window.partitionBy("span_hash")
    occ = spans.select(
        "doc_id",
        "start",
        F.count(F.lit(1)).over(win).alias("n_occ"),
        F.row_number()
        .over(win.orderBy("doc_id", "start"))
        .alias("occ_rank"),
    )
    return occ.filter((F.col("n_occ") >= 2) & (F.col("occ_rank") > 1)).select(
        "doc_id", "start"
    )


def apply_span_scrub(
    corpused: DataFrame, scrub: DataFrame, w: int
) -> DataFrame:
    """Apply a (doc_id, start) scrub set to an already-corpus()'d frame:
    remove every token position covered by ≥ 1 scrubbed [start, start+w)
    interval and emit (doc_id, n_tokens, n_scrubbed, text_clean) for
    EVERY input document (untouched docs pass through verbatim,
    token-joined). ONE definition shared by D35 and the D36 streaming
    gate so the scrub algebra can never diverge.

    The kept text is rebuilt by a sorted-interval two-pointer walk, not
    a per-position membership test: the sorted scrub starts define the
    UNCOVERED gaps directly — [1, s₁−1] before the first interval,
    [sₖ+w, sₖ₊₁−1] between consecutive starts (empty when the intervals
    overlap or touch), and [sₘ+w, n] after the last — and the kept
    tokens are one ``slice`` per non-empty gap, flattened. Cost is
    O(n + m) per document (m = scrub starts): linear even for a
    fully-scrubbed book-length doc, where the r11
    ``array_contains(covered, i)``-per-position form was
    O(n·|covered|) ≈ quadratic. ``n_scrubbed`` = n − |kept| — identical
    to the covered-position count by the interval-union algebra D34's
    oracle cross-checks.
    """
    per_doc = scrub.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("start")).alias("starts")
    )
    toks = tokens(F.col("text"))
    base = corpused.select("doc_id", toks.alias("toks"))
    joined = base.join(per_doc, "doc_id", "left")
    n = F.size("toks").cast("long")
    m = F.size("starts")
    gap = lambda lo, hi: F.struct(  # noqa: E731 — [lo, hi] kept-token run
        lo.cast("long").alias("lo"), hi.cast("long").alias("hi")
    )
    gaps = F.concat(
        F.array(gap(F.lit(1), F.element_at(F.col("starts"), 1) - 1)),
        F.zip_with(
            F.slice(F.col("starts"), F.lit(1), m - 1),
            F.slice(F.col("starts"), F.lit(2), m - 1),
            lambda a, b: gap(a + w, b - 1),
        ),
        F.array(gap(F.element_at(F.col("starts"), -1) + w, n)),
    )
    kept = F.flatten(
        F.transform(
            F.filter(gaps, lambda g: g["hi"] >= g["lo"]),
            lambda g: F.slice(
                F.col("toks"),
                g["lo"].cast("int"),
                (g["hi"] - g["lo"] + 1).cast("int"),
            ),
        )
    )
    untouched = F.col("starts").isNull()
    return joined.select(
        "doc_id",
        n.alias("n_tokens"),
        F.when(untouched, F.lit(0).cast("long"))
        .otherwise(n - F.size(kept).cast("long"))
        .alias("n_scrubbed"),
        F.when(untouched, F.array_join(F.col("toks"), " "))
        .otherwise(F.array_join(kept, " "))
        .alias("text_clean"),
    )


def dedup_repeated_spans_eval(
    documents: DataFrame, span_tokens: int = REPEATED_SPAN_TOKENS
) -> DataFrame:
    """D37: the span-dedup family's evaluation report (the P17/D27
    evaluation-as-operator posture) — grade D35's scrub against the
    corpus's PLANTED duplicate classes, per class:

    - ``exact_copy`` (+1M ids): every span of an eligible copy also
      occurs in its lower-id original, so every position is covered by
      a non-canonical occurrence → scrub_recall must be exactly 1.0.
    - ``truncation`` (+3M ids, 90% token prefix): same argument over
      the prefix → recall exactly 1.0.
    - ``reversal`` (+2M ids): shares NO w≥2-token span with its source
      (token order differs) → recall exactly 0.0. This is the family's
      DOCUMENTED blind spot: span dedup is order-sensitive by design;
      reversed/shuffled near-dups are D4/X4's (order-insensitive
      fingerprints') job. The 0.0 pin is corpus-conditional: it only
      rules out spans shared with each reversal's OWN source, so it
      additionally requires that no two reversal-source docs
      (doc_id ≡ 5 mod 25) carry identical text — two identical sources
      would make their reversals mutual repeats. The driver corpus
      satisfies this and the precondition is asserted (with a clear
      message) in ``tests/test_operators.py``'s eval test.
    - ``base``: originals are the canonical occurrences, so they stay
      (scrubbed mass records genuine cross-base repeated passages, not
      plant recovery).

    Eligibility: a doc shorter than ``span_tokens`` has no spans and
    cannot be span-scrubbed — recalls are over ELIGIBLE docs/tokens.
    One row per class; every number derives from D35's own output
    (the operator grades itself, and the oracle embeds D35's driver
    SQL verbatim), so the whole report is hash-exact.
    """
    w = span_tokens
    scrubbed = dedup_repeated_spans_scrub(documents, span_tokens=w)
    cls = (
        F.when(F.col("doc_id") >= 3_000_000, F.lit("truncation"))
        .when(F.col("doc_id") >= 2_000_000, F.lit("reversal"))
        .when(F.col("doc_id") >= 1_000_000, F.lit("exact_copy"))
        .otherwise(F.lit("base"))
    )
    eligible = (F.col("n_tokens") >= w).cast("long")
    return (
        scrubbed.select(
            cls.alias("doc_class"),
            "n_tokens",
            "n_scrubbed",
            eligible.alias("eligible"),
        )
        .groupBy("doc_class")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("eligible").alias("n_eligible"),
            F.sum(
                ((F.col("n_scrubbed") > 0) & (F.col("eligible") == 1)).cast("long")
            ).alias("n_scrubbed_docs"),
            F.sum(
                (
                    (F.col("n_scrubbed") == F.col("n_tokens"))
                    & (F.col("eligible") == 1)
                ).cast("long")
            ).alias("n_fully_scrubbed"),
            F.sum(F.col("n_tokens") * F.col("eligible")).alias("tokens_eligible"),
            F.sum(F.col("n_scrubbed") * F.col("eligible")).alias("tokens_scrubbed"),
            F.try_divide(
                F.sum(F.col("n_scrubbed") * F.col("eligible")),
                F.sum(F.col("n_tokens") * F.col("eligible")),
            ).alias("scrub_recall"),
        )
    )
