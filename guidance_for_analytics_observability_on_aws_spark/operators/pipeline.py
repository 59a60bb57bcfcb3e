"""Training-data pipeline operators — corpus curation at 100 TB.

These are the dataset-engineering operations a large-scale LLM training
pipeline layers on top of the dedup/text groups: deterministic train/val
splitting, stratified sampling, context-window sequence packing, and
transitive duplicate-group resolution (connected components over the
MinHash-LSH candidate graph).

Scale posture:
- Split/sample/pack are all hash- or window-based per-row arithmetic over a
  single shuffle keyed by a bounded-cardinality column (``source``) — no
  driver-side state, no skewable joins.
- ``dup_groups`` is connected components over the candidate-pair graph,
  through the one CC function :func:`dup_labels_star`. The edge list is
  the OUTPUT of LSH banding (orders of magnitude smaller than the corpus):
  under a size gate it is collected once and resolved by a driver
  union-find; above it, large-star/small-star rounds run on the edge set
  alone, O(log diameter) rounds with lineage truncated per round.

Every op is engine-portable-exact: md5-derived hash buckets, BIGINT token
arithmetic, and ASCII-ordered hex-string sampling keys reproduce
bit-identically in the DuckDB oracles (``plans/pipeline_oracles.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..functions.text import tokens
from .dedup import dedup_minhash_lsh

#: train/val/test bucket boundaries out of 100.
SPLIT_TRAIN, SPLIT_VAL = 90, 95

#: per-source stratified sample size.
SAMPLE_PER_STRATUM = 50

#: context window (tokens) for sequence packing.
PACK_CONTEXT = 512

#: target edge rows per partition in the CC loops (~100 MB of (src,dst)
#: pairs). Drives the DERIVED partition count below — a fixed constant
#: would be wrong at 100 TB, where the LSH candidate list is itself large.
CC_EDGE_ROWS_PER_PARTITION = 1_000_000

#: Edge-count gate for the driver union-find fast path in
#: :func:`dup_labels_star` — the broadcast-join analogy: below it the
#: DISTINCT edge list is a few MB (2 BIGINTs/row ≈ 3 MB at the gate), and
#: one collect + linear union-find replaces ~10 shuffle stages PER STAR
#: ROUND whose fixed overhead dominates at small sizes (measured: the
#: 718-edge sf0.1 graph spent 5.1 s in 2 distributed rounds vs ~0.1 s
#: collected). Above the gate the O(log d) star loop engages unchanged —
#: that is the 100 TB path; this is the same size-dispatched physical
#: strategy Spark itself applies to joins.
DRIVER_CC_EDGE_MAX = 200_000


def _cc_partitions(n_edges: int, floor: int = 8) -> int:
    """The ONE size-derived partition rule for the distributed star loop
    of :func:`dup_labels_star`: ``max(floor, ⌈n_edges /
    CC_EDGE_ROWS_PER_PARTITION⌉)``."""
    return max(floor, -(-n_edges // CC_EDGE_ROWS_PER_PARTITION))


def train_val_split(documents: DataFrame) -> DataFrame:
    """P1: deterministic hash-based train/val/test split summary.

    The split key is content-independent (doc_id hash) so re-runs and
    incremental appends land every document in the same split — the
    property a training pipeline needs for leak-free eval sets. The 16-bit
    md5 prefix is uniform, so expected shares are 90/5/5.
    """
    bucket = md5_int(F.col("doc_id").cast("string"), 4) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
    )
    per_doc = documents.select(
        split.alias("split"),
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    return per_doc.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
    )


def sample_stratified(documents: DataFrame) -> DataFrame:
    """P2: exact deterministic stratified sample (N docs per source).

    Rank inside each stratum by an md5 sampling key — a uniform permutation
    of the stratum, so the top-N prefix IS a uniform random sample, yet
    fully reproducible across engines (hex strings compare identically in
    ASCII). One window shuffle keyed by ``source``; rank short-circuits at
    N per partition (rank filter pushes into the window's sort via
    ``WindowGroupLimit``).
    """
    sample_key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy("sample_key", "doc_id")
    return (
        documents.select("doc_id", "source", sample_key.alias("sample_key"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= SAMPLE_PER_STRATUM)
        .select("source", "rank", "doc_id", "sample_key")
    )


def pack_sequences(documents: DataFrame) -> DataFrame:
    """P3: next-fit sequence packing into fixed context windows.

    Orders each source's documents deterministically (doc_id), takes the
    running token count, and assigns every document to the context-window
    bin its first token lands in: ``bin = floor(cumsum_before / C)``.
    Pure window arithmetic — one shuffle on ``source``, no iterative
    bin-state — which is what makes it viable at 100 TB (true first-fit
    packing is inherently sequential; next-fit is its streaming
    approximation and is the standard choice in training pipelines).
    """
    per_doc = documents.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    binned = per_doc.withColumn(
        "bin",
        F.floor(
            (F.sum("ws_tokens").over(w) - F.col("ws_tokens")) / F.lit(PACK_CONTEXT)
        ).cast("long"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def dup_groups(documents: DataFrame, max_iter: int = 50) -> DataFrame:
    """P4: transitive duplicate groups — connected components over the
    MinHash-LSH candidate graph (D3's output), one row per group of two
    or more docs.

    The labels come from :func:`dup_labels_star`, the one CC function:
    under its edge-count gate one collect + driver union-find, above it
    the large-star/small-star loop. Either way every doc is labelled with
    its component minimum, which the recursive-CTE oracle reproduces.
    """
    return (
        dup_labels_star(documents, max_iter)
        .groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.sort_array(F.collect_list("src")).cast("array<string>"), ","
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def curation_pipeline(documents: DataFrame) -> DataFrame:
    """P5: the end-to-end corpus-curation funnel — what an LLM training-data
    pipeline actually runs nightly, as ONE composed Spark job:

        raw corpus → exact dedup (byte hash, keep lowest doc_id)
                   → near-dup removal (P4's connected components: drop
                     non-canonical members of every MinHash dup group)
                   → quality filter (X2's score >= 0.5)

    Emits one row per stage with surviving doc/token counts — the
    funnel report a curation run publishes. Each stage is the existing
    operator's semantics verbatim, so the whole funnel inherits their
    exact-oracle arithmetic and scale shapes (hash dedup: one shuffle;
    CC: one collect + union-find over the tiny pair graph; quality:
    narrow map).
    """
    return _curation_funnel(documents, dup_labels_star(documents))


def curation_pipeline_v2(documents: DataFrame) -> DataFrame:
    """P11: the curation funnel over the VERIFIED dup graph — near-dup
    removal keyed by D15's banded-scored pairs instead of P5's raw LSH
    candidates.

    The semantic upgrade production pipelines actually want: LSH
    candidates include band-collision false positives, so P5 can drop a
    document that merely collided in one band. Here a document is only
    dropped if an exact score over the candidate pair cleared the
    Jaccard-0.8 or containment-0.9 bar (dedup_containment_banded), so
    every removal is evidence-backed. Identical funnel scaffolding and
    stage semantics otherwise — same exact-oracle arithmetic, with the
    recursive-CTE closure running over the banded graph.
    """
    from .dedup import dedup_containment_banded

    pairs = dedup_containment_banded(documents).select("doc_a", "doc_b")
    return _curation_funnel(documents, dup_labels_star(None, pairs=pairs))


def _per_doc_signals(documents: DataFrame) -> DataFrame:
    """(doc_id, source, lang, fingerprint, n_tokens, quality) over the
    augmented corpus — the ONE per-document signal derivation the
    curation funnel (P5/P11), the dataset card (P12) and the filter
    ablation (P13) all consume, so the fingerprint/token/quality signals
    can never drift between the card, the ablation and the gate
    (mirrored by ``plans/pipeline_oracles.py::_PER_DOC_SIGNALS``)."""
    from ..functions.text import corpus
    from .textops import STOPWORDS, quality_expr

    toks = tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        / F.size(toks)
    )
    return corpus(documents).select(
        "doc_id",
        "source",
        "lang",
        F.md5("text").alias("fingerprint"),
        F.size(toks).cast("long").alias("n_tokens"),
        quality_expr(stop_ratio, F.size(toks)).alias("quality"),
    )


def _curation_funnel(documents: DataFrame, labels: DataFrame) -> DataFrame:
    """Shared P5/P11 funnel: exact dedup → drop non-canonical members of
    ``labels``'s dup groups → quality filter; one summary row per stage.

    SINGLE-PASS shape (r15, guide §2.4): the r14 form unioned one
    aggregate per stage, each re-deriving its whole funnel prefix — the
    4-stage plan re-scanned the corpus 4× and re-ran the fingerprint
    window 3× (22 Exchanges, zero planned reuse). Here every stage
    predicate becomes a FLAG over ONE per-doc frame (the window + one
    1:≤1 left join against the non-canonical label set), one aggregate
    computes every stage's (n_docs, n_tokens) as conditional sums, and
    ``stack`` unfolds the single row into the 4 stage rows. Arithmetic
    is stage-for-stage identical (a left-join-null flag IS the anti
    join; labels are unique per src so the join is 1:≤1), so the
    hash-exact oracle is untouched."""
    per_doc = _per_doc_signals(documents).select(
        "doc_id", "fingerprint", "n_tokens", "quality"
    )
    w_fp = Window.partitionBy("fingerprint")
    non_canonical = labels.filter(F.col("group_id") != F.col("src")).select(
        F.col("src").alias("doc_id"), F.lit(1).alias("_nc")
    )
    flagged = (
        per_doc.withColumn("keep_id", F.min("doc_id").over(w_fp))
        .join(non_canonical, "doc_id", "left")
    )
    f1 = F.col("doc_id") == F.col("keep_id")
    f2 = f1 & F.col("_nc").isNull()
    f3 = f2 & (F.col("quality") >= 0.5)
    one = flagged.agg(
        F.count(F.lit(1)).alias("d0"),
        F.sum("n_tokens").alias("t0"),
        F.count(F.when(f1, 1)).alias("d1"),
        F.sum(F.when(f1, F.col("n_tokens"))).alias("t1"),
        F.count(F.when(f2, 1)).alias("d2"),
        F.sum(F.when(f2, F.col("n_tokens"))).alias("t2"),
        F.count(F.when(f3, 1)).alias("d3"),
        F.sum(F.when(f3, F.col("n_tokens"))).alias("t3"),
    )
    return one.select(
        F.expr(
            "stack(4, '0_raw', d0, t0, '1_exact_dedup', d1, t1, "
            "'2_near_dedup', d2, t2, '3_quality', d3, t3) "
            "as (stage, n_docs, n_tokens)"
        )
    )


#: Total token budget the mixture sampler (P7) realizes across sources.
MIXTURE_BUDGET = 20000


def decontaminate(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """P6: benchmark decontamination — flag training documents whose
    3-token-shingle overlap with a held-out benchmark set exceeds
    ``threshold``.

    The step every serious LLM training pipeline runs before training
    (n-gram overlap decontamination, as published for GPT-3/PaLM/Llama):
    eval-set n-grams must not leak into the training corpus. Here the
    "benchmark" is the deterministic ``doc_id % 25 == 0`` slice of the raw
    documents; the corpus under test is the augmented corpus MINUS those
    raw benchmark members — so the planted exact copies (+1,000,000,
    built from the same %25==0 slice) are guaranteed true positives the
    operator must find, while the reversed/truncated variants (+2M/+3M,
    built from the %25==5/%25==10 slices, disjoint from the benchmark)
    and all raw docs only share the small-vocabulary background rate.

    Scale: the benchmark's distinct shingle set is tiny relative to the
    corpus (benchmarks are fixed-size; corpora grow), so it BROADCASTS and
    the corpus side stays one explode + one map-side-combined groupBy —
    no shuffle of corpus shingles. At benchmark sizes past broadcast
    range, drop the hint and the same plan shuffle-joins on the shingle
    key.
    """
    from ..functions.text import corpus, shingles

    toks = tokens(F.col("text"))
    is_bench = (F.col("doc_id") < 1000000) & (F.col("doc_id") % 25 == 0)
    bench_sh = (
        documents.filter(F.col("doc_id") % 25 == 0)
        .select(toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(F.explode(shingles(F.col("toks"))).alias("shingle"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corp_sh = (
        corpus(documents)
        .filter(~is_bench)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", F.explode(shingles(F.col("toks"))).alias("shingle"))
    )
    per_doc = (
        corp_sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlap"),
        )
    )
    contamination = F.col("n_overlap") / F.col("n_shingles")
    return (
        per_doc.filter(F.col("n_overlap") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            contamination.alias("contamination"),
            (contamination >= threshold).alias("contaminated"),
        )
    )


def mixture_sample(documents: DataFrame, budget: int = MIXTURE_BUDGET) -> DataFrame:
    """P7: token-budget mixture realization — pick documents per source to
    hit each source's share of a global token budget.

    Training runs are specified as a data MIXTURE ("X% web, Y% code…");
    this operator turns target weights into a concrete deterministic
    document selection: each source's target is its integer share of the
    budget, documents are ranked by an md5 permutation (uniform,
    reproducible), and the per-source prefix whose cumulative token count
    fits the target is selected. Weights here derive from the source name
    (``(N % 3) + 1`` for ``srcN``) so the oracle reproduces them exactly.

    Scale: cumulative tokens come from the shared TWO-PHASE prefix sum
    (:func:`_prefix_sum` — range-partitioned local windows + broadcast
    offsets), so no task ever holds a whole source; plus one broadcast of
    the per-source targets. Integer-exact arithmetic throughout (targets
    via integer division, cumulative sums of BIGINTs).
    """
    # Unbounded substring (3-arg F.substring would cap the suffix at its
    # length argument) so Spark and the oracle share ONE parsing rule for
    # the ``srcN`` naming contract; a non-numeric suffix is NULL on both
    # sides — try_cast explicitly, because under Spark 4's default ANSI
    # mode a plain cast THROWS on bad input while DuckDB TRY_CAST nulls.
    wt = (F.expr("try_cast(substring(source, 4) as bigint)") % 3 + 1).alias("wt")
    srcs = documents.select("source").distinct().select("source", wt)
    total_w = srcs.agg(F.sum("wt").alias("total_w"))
    targets = srcs.crossJoin(F.broadcast(total_w)).select(
        "source",
        "wt",
        F.expr(f"({budget} * wt) DIV total_w").alias("target_tokens"),
    )
    per_doc = documents.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("sample_key"),
    )
    cum = _prefix_sum(
        per_doc, "source", ["sample_key", "doc_id"], "ws_tokens", "cum_tokens"
    )
    ranked = cum.join(F.broadcast(targets), "source")
    picked = F.col("cum_tokens") <= F.col("target_tokens")
    return ranked.groupBy("source").agg(
        F.max("wt").alias("weight"),
        F.max("target_tokens").alias("target_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(picked, 1).otherwise(0)).alias("n_picked"),
        F.sum(F.when(picked, F.col("ws_tokens")).otherwise(0)).alias("picked_tokens"),
    )


def incremental_dedup(documents: DataFrame) -> DataFrame:
    """P8: incremental dedup — a NEW batch checked against the existing
    corpus's fingerprint dictionaries (the shape every production dedup
    actually runs nightly; full-corpus re-dedup never happens at 100 TB).

    New batch = the augmented rows (doc_id ≥ 1,000,000: exact copies,
    token-reversed variants, truncations of existing docs); corpus = the
    raw documents. Two dictionary probes, priority-ordered:

    1. exact byte fingerprint (md5(text)) — catches the +1M copies;
    2. content fingerprint (md5 of sorted distinct tokens, X4's key) —
       catches the +2M reversed variants (and truncations whose distinct
       token set survives truncation).

    Survivors are the genuinely-new near-dups that only MinHash banding
    (D3) can catch — the report states kept counts per source so the
    curation run can route them there.

    Scale: the dictionaries are hash-only projections of the corpus (one
    16-byte column each, distinct) joined on uniform md5 keys — the
    canonical skew-free shuffle join; no text moves across the wire.
    """
    from ..functions.text import corpus

    c = corpus(documents)
    new = c.filter(F.col("doc_id") >= 1000000)
    old = c.filter(F.col("doc_id") < 1000000)

    def fps(df: DataFrame) -> DataFrame:
        toks = tokens(F.col("text"))
        return df.select(
            "doc_id",
            "source",
            F.md5("text").alias("exact_fp"),
            F.md5(
                F.array_join(F.array_sort(F.array_distinct(toks)), " ")
            ).alias("content_fp"),
        )

    new_fp = fps(new)
    old_fp = fps(old)
    exact_dict = old_fp.select("exact_fp").distinct().withColumn("x_hit", F.lit(1))
    content_dict = (
        old_fp.select("content_fp").distinct().withColumn("c_hit", F.lit(1))
    )
    probed = new_fp.join(exact_dict, "exact_fp", "left").join(
        content_dict, "content_fp", "left"
    )
    return probed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(F.when(F.col("x_hit").isNotNull(), 1).otherwise(0)).alias(
            "n_dropped_exact"
        ),
        F.sum(
            F.when(F.col("x_hit").isNull() & F.col("c_hit").isNotNull(), 1).otherwise(0)
        ).alias("n_dropped_content"),
        F.sum(
            F.when(F.col("x_hit").isNull() & F.col("c_hit").isNull(), 1).otherwise(0)
        ).alias("n_kept"),
    )


def _prefix_sum(
    df: DataFrame,
    part_col: str | list[str],
    order_cols: list[str],
    value_col: str | list[str],
    out_col: str | list[str],
    n_slices: int | None = None,
) -> DataFrame:
    """TWO-PHASE distributed prefix sum of ``value_col`` over the total
    order (``part_col``, ``*order_cols``) — the shared primitive an
    operator calls in place of a single ``Window.partitionBy(part_col)``
    cumulative sum, which puts an entire partition key in one task
    (P7/P9/M7/M9; O44/P21/D30 through ``_ranked_with_n``).

    Phase 1: range-partition on the sort key (preserves the total order
    across slice boundaries; ``order_cols`` must make rows unique) and
    compute slice-LOCAL prefix sums — each window partition is one task's
    bounded slice. Phase 2: each slice's total (a plain SUM over the
    windowed rows — sign-safe for negative values, and derived from the
    same materialized slices so slice ids are consistent by construction)
    is cumulated per ``part_col`` and the previous-slice offset broadcast
    back. The offset table is ``n_slices × |part_col|`` rows.

    ``n_slices`` defaults to the session's ``spark.sql.shuffle.partitions``
    — the knob a cluster already sizes to its data volume — so slice width
    scales with the deployment instead of a fixed constant re-creating the
    one-big-task problem at 100 TB. The RESULT is slice-count invariant
    (property-tested across counts); only task granularity changes.

    ``part_col`` may be a LIST of columns for a composite group key —
    ranked/partitioned on the columns directly, never a string
    concatenation (a ``concat_ws`` key can alias two groups when a key
    value contains the separator). ``value_col``/``out_col`` may be
    parallel LISTS: every listed column is prefix-summed in the SAME
    range-partitioned pass (one shuffle serves e.g. T39's rank AND its
    running revenue instead of two).
    """
    parts = [part_col] if isinstance(part_col, str) else list(part_col)
    vals = [value_col] if isinstance(value_col, str) else list(value_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if n_slices is None:
        try:
            n_slices = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
            )
        except (TypeError, ValueError):  # e.g. "auto" under some AQE configs
            n_slices = 200
    sliced = df.repartitionByRange(n_slices, *parts, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("_pid", *parts).orderBy(*order_cols)
    local = sliced.withColumns(
        {f"_lc{i}": F.sum(v).over(w_local) for i, v in enumerate(vals)}
    )
    totals = local.groupBy("_pid", *parts).agg(
        *[F.sum(v).alias(f"_pt{i}") for i, v in enumerate(vals)]
    )
    w_off = (
        Window.partitionBy(*parts)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_pid",
        *parts,
        *[
            F.coalesce(F.sum(f"_pt{i}").over(w_off), F.lit(0)).alias(f"_off{i}")
            for i in range(len(vals))
        ],
    )
    return (
        local.join(F.broadcast(offsets), ["_pid", *parts])
        .withColumns(
            {o: F.col(f"_lc{i}") + F.col(f"_off{i}") for i, o in enumerate(outs)}
        )
        .drop(
            "_pid",
            *[f"_lc{i}" for i in range(len(vals))],
            *[f"_off{i}" for i in range(len(vals))],
        )
    )


def pack_sequences_distributed(documents: DataFrame) -> DataFrame:
    """P9: next-fit packing via the two-phase prefix sum
    (:func:`_prefix_sum`) — result-identical to :func:`pack_sequences`
    (shares its oracle), but no task ever holds a whole source: P3's
    single window per ``source`` is exact yet serializes each source into
    one straggler task once a source outgrows one executor.
    """
    per_doc = documents.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens")
    )
    glob = _prefix_sum(per_doc, "source", ["doc_id"], "ws_tokens", "cum")
    binned = glob.withColumn(
        "bin",
        F.floor((F.col("cum") - F.col("ws_tokens")) / F.lit(PACK_CONTEXT)).cast("long"),
    )
    return binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def split_leak_proof(documents: DataFrame) -> DataFrame:
    """P10: near-dup-aware train/val/test split — eval-leakage prevention.

    P1 hashes each doc independently, so two near-duplicates can land in
    train AND val — the classic eval-set leak. Here the split key is the
    doc's DUP GROUP canonical id (P4's connected-component label; a doc
    outside the candidate graph is its own canonical), so every member of
    a near-dup cluster lands in the same split by construction. Output is
    the per-split summary plus ``n_cross_split_pairs`` — the number of
    MinHash candidate pairs whose members sit in different splits, which
    this construction forces to 0 (the oracle computes the same audit, so
    a regression breaks parity AND the explicit zero).

    Scale: P4's labels (edge-list-sized) broadcast-join the corpus; the
    split decision is one md5 per doc.
    """
    from ..functions.text import corpus

    c = corpus(documents).select("doc_id", "source", "text")
    # ONE MinHash/LSH job: the materialized pair list feeds both the label
    # propagation and the cross-split audit below.
    pairs = (
        dedup_minhash_lsh(documents)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    labels = dup_labels_star(documents, pairs=pairs).select(
        F.col("src").alias("doc_id"), "group_id"
    )
    keyed = c.join(F.broadcast(labels), "doc_id", "left").withColumn(
        "canonical_id", F.coalesce(F.col("group_id"), F.col("doc_id"))
    )
    bucket = md5_int(F.col("canonical_id").cast("string"), 4) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
    )
    assigned = keyed.select("doc_id", "source", split.alias("split"))
    cross = (
        pairs.join(
            assigned.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")),
            "doc_a",
        )
        .join(
            assigned.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")),
            "doc_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).alias("n_cross_split_pairs"))
    )
    summary = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )
    return summary.crossJoin(F.broadcast(cross))


def dataset_card_report(documents: DataFrame) -> DataFrame:
    """P12: per-source dataset card — the datasheet row a training-data
    registry keeps per corpus slice (docs, tokens, language mix, exact-dup
    rate, quality-band distribution).

    Every number a "Datasheets for Datasets"-style card needs that this
    engine can derive deterministically, in THREE tiny aggregations over
    one shared per-document pass:
    - volume: ``n_docs``, ``total_ws_tokens``;
    - language mix: ``n_langs`` plus the dominant language and its count
      (per-source rank-1 window over per-lang counts — bounded keys);
    - exact-dup load: ``n_dup_docs`` = docs in excess of one per distinct
      md5(text) within the source (the docs D1 would drop), and the
      derived ``dup_ratio``;
    - quality mix: band counts under the shared X2 formula
      (:func:`..textops.quality_expr` — single source of truth, so the
      card can never disagree with the curation funnel's gate).

    All counts are BIGINT; ``dup_ratio`` is one final IEEE division.
    Scale shape: one corpus pass into per-doc signals
    (:func:`_per_doc_signals` — shared with the funnel and P13), then
    groupBys on ``source`` / ``(source, lang)`` / ``(source,
    fingerprint)`` — the fingerprint groupBy is the same
    one-shuffle-on-a-16-byte-key plan as D1; everything after is
    per-source rows (tiny).
    """
    per_doc = _per_doc_signals(documents)
    base = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_ws_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.when(F.col("quality") >= 0.8, 1).otherwise(0))
        .cast("long")
        .alias("n_high_quality"),
        F.sum(
            F.when((F.col("quality") >= 0.5) & (F.col("quality") < 0.8), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_medium_quality"),
        F.sum(F.when(F.col("quality") < 0.5, 1).otherwise(0))
        .cast("long")
        .alias("n_low_quality"),
    )
    lang_counts = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("lang_docs")
    )
    wl = Window.partitionBy("source").orderBy(
        F.col("lang_docs").desc(), F.col("lang")
    )
    top_lang = (
        lang_counts.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.col("lang_docs").alias("top_lang_docs"),
        )
    )
    dups = (
        per_doc.groupBy("source", "fingerprint")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("source")
        .agg(F.sum(F.col("cnt") - 1).alias("n_dup_docs"))
    )
    return (
        base.join(top_lang, "source")
        .join(dups, "source")
        .select(
            "source",
            "n_docs",
            "total_ws_tokens",
            "n_langs",
            "top_lang",
            "top_lang_docs",
            "n_high_quality",
            "n_medium_quality",
            "n_low_quality",
            "n_dup_docs",
            (F.col("n_dup_docs") / F.col("n_docs")).alias("dup_ratio"),
        )
    )


def filter_ablation(documents: DataFrame) -> DataFrame:
    """P13: curation-filter ABLATION — how many documents each filter
    would drop, alone and in combination.

    Before committing a filter stack, a pipeline owner asks "what does
    each gate actually remove, and how much do they overlap" — dropping
    30% to near-dups that ALSO fail the quality gate is very different
    from dropping two disjoint 30%s. One pass derives the three standard
    flags per document (low quality under the shared X2 formula, too
    short, exact-dup non-keeper exactly as D1 would drop it), then a
    single aggregation over the flag combination yields the full 2³
    ablation table with exact counts; ``share`` is one final division.

    Scale shape: the only shuffle keyed wider than ``source`` is the
    fingerprint window (same one-shuffle-on-a-16-byte-key plan as D1);
    the combination aggregation is 8 rows. Per-doc signals come from
    :func:`_per_doc_signals` (shared with P5/P11/P12).
    """
    per_doc = _per_doc_signals(documents).select(
        "doc_id", "fingerprint", "n_tokens", "quality"
    )
    wf = Window.partitionBy("fingerprint")
    flagged = per_doc.select(
        (F.col("quality") < 0.5).alias("f_low_quality"),
        (F.col("n_tokens") < 10).alias("f_too_short"),
        (F.col("doc_id") != F.min("doc_id").over(wf)).alias("f_exact_dup"),
    )
    combos = flagged.groupBy("f_low_quality", "f_too_short", "f_exact_dup").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    wall = Window.partitionBy()
    return combos.select(
        "f_low_quality",
        "f_too_short",
        "f_exact_dup",
        "n_docs",
        (F.col("n_docs") / F.sum("n_docs").over(wall)).alias("share"),
    )


#: Vocabulary sizes the coverage curve (P14) reports — calibrated to the
#: synthetic corpus's ~31-type vocabulary; a natural-language corpus would
#: use [1k, 10k, 50k, 100k] with the identical plan.
VOCAB_POINTS = [5, 10, 20, 30]


def vocab_coverage(documents: DataFrame) -> DataFrame:
    """P14: tokenizer vocabulary coverage curve — what share of all token
    OCCURRENCES the top-k most frequent types cover, for the standard
    vocab sizes ("how large a vocabulary do we need").

    One token aggregation (the only corpus-sized shuffle), then the
    curve is computed on the type-frequency table: rank types by count,
    running occurrence total (one global window), report at each k in
    :data:`VOCAB_POINTS`. Counts stay BIGINT, coverage is one division
    per point.
    """
    from ..functions.text import corpus, tokens

    freq = (
        corpus(documents)
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    w = Window.orderBy(F.col("n_occ").desc(), "token")
    ranked = freq.withColumn("rnk", F.row_number().over(w).cast("long")).withColumn(
        "cum_occ",
        F.sum("n_occ").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    totals = freq.agg(
        F.sum("n_occ").alias("total_occ"),
        F.count(F.lit(1)).alias("n_types"),
    )
    points = ranked.filter(F.col("rnk").isin(VOCAB_POINTS))
    return (
        points.join(F.broadcast(totals))
        .select(
            F.col("rnk").alias("vocab_size"),
            "cum_occ",
            "total_occ",
            "n_types",
            (F.col("cum_occ") / F.col("total_occ")).alias("coverage"),
        )
        .orderBy("vocab_size")
    )


def _dup_labels_driver(spark, rows, utype: str) -> DataFrame:
    """Union-find over a COLLECTED (u, v) edge list — the sub-gate fast
    path of :func:`dup_labels_star`. Union-by-MIN-root with path
    compression, so every find lands on the component MINIMUM: the label
    algebra is identical to the star fixpoint (src → component min;
    roots label themselves). Output row set is deterministic (set
    semantics — collect order cannot matter)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        u, v = r[0], r[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    labels = [(x, find(x)) for x in parent]
    # explicit schema: an empty edge list must still give a typed frame
    schema = f"src {utype}, group_id {utype}"
    if utype == "bigint":
        # Arrow-batched local-rows path (~4x faster than the row-at-a-
        # time tuple converter, measured r15) — ids are bigint for every
        # production caller; other id types fall through to the generic
        # converter below.
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(labels, columns=["src", "group_id"]).astype("int64"),
            schema,
        )
    return spark.createDataFrame(labels, schema)


def dup_labels_star(
    documents: DataFrame | None,
    max_iter: int = 30,
    pairs: DataFrame | None = None,
    driver_max_edges: int | None = DRIVER_CC_EDGE_MAX,
    pairs_distinct: bool = False,
) -> DataFrame:
    """(src, group_id) connected-component labels over a pair graph —
    the ONE CC function every dup-label caller takes its labels from.
    Every vertex that appears in a non-self pair is labelled with its
    component MINIMUM (roots label themselves). ``pairs`` (doc_a, doc_b)
    defaults to the MinHash-LSH candidates of ``documents``.

    Physical dispatch is one size gate, the broadcast-join analogy: when
    the DISTINCT canonical edge list has at most ``driver_max_edges``
    rows, one ``take(gate+1)`` over the lazy distinct frame both probes
    the size and collects the edges, and a driver union-find labels them
    — one job, no checkpoint. Above the gate the edges are checkpointed
    and the distributed LARGE-STAR / SMALL-STAR loop runs (Kiveris et
    al., "Connected Components in MapReduce and Beyond") — the 100 TB
    path (pass ``driver_max_edges=0`` to force it; the equality of the
    two paths is pinned in tests).

    Star rounds converge in O(log d), because every round REWIRES edges
    toward component minima instead of diffusing labels one hop:

    - large-star: for each center u, connect every LARGER neighbor
      directly to ``m = min(N(u) ∪ {u})``;
    - small-star: connect every smaller-or-equal neighbor (and u) to m.

    Each round is one groupBy-min + one join over the EDGE LIST only
    (never the corpus), lineage truncated per round; convergence is the
    exact fixpoint (edge set stable — no checksum shortcuts; checked in
    ONE action: the two-sided exceptAll union short-circuits at the first
    differing row via isEmpty's take-1). At the fixpoint every non-root
    points directly at its component minimum, which IS the label table.
    """
    if pairs is None:
        pairs = dedup_minhash_lsh(documents).select("doc_a", "doc_b")
    if pairs_distinct:
        # r15: the caller guarantees a DISTINCT, consistently-oriented,
        # already-materialized pair list (the nightly loop checkpoints
        # its delta edges for the report count anyway) — the orientation
        # flip is a free projection and the dedup shuffle + second
        # checkpoint would re-do work the caller just did.
        canon = pairs.select(
            F.greatest("doc_a", "doc_b").alias("u"),
            F.least("doc_a", "doc_b").alias("v"),
        ).filter(F.col("u") != F.col("v"))
    else:
        canon = (
            pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
        )
    if driver_max_edges:
        # take(gate+1) doubles as the size probe AND the collect: when it
        # comes back short, those rows ARE the whole edge list (one job
        # instead of checkpoint + count + collect); an overflow costs one
        # truncated evaluation before the distributed loop takes over.
        head = canon.take(driver_max_edges + 1)
        if len(head) <= driver_max_edges:
            return _dup_labels_driver(
                canon.sparkSession, head, canon.schema[0].dataType.simpleString()
            )
    if not pairs_distinct:
        canon = canon.localCheckpoint(eager=True)
    n_edges = canon.count()
    # Size-derived partitioning (the shared _cc_partitions rule): reused
    # for every star round — rounds only shrink the edge set, so the
    # initial count is a safe upper bound.
    edges = canon.coalesce(_cc_partitions(n_edges))
    n_parts = edges.rdd.getNumPartitions()

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _star(e: DataFrame, large: bool) -> DataFrame:
        sym = _sym(e)
        mins = sym.groupBy("u").agg(F.min("v").alias("nbr_min"))
        m = F.least(F.col("u"), F.col("nbr_min"))
        withm = sym.join(mins, "u").select("u", "v", m.alias("m"))
        cond = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        out = withm.filter(cond).select(F.col("v").alias("u"), F.col("m").alias("v"))
        if not large:
            out = out.unionByName(withm.select("u", F.col("m").alias("v")))
        return (
            out.filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
            .coalesce(n_parts)
        )

    for it in range(max_iter + 1):
        new_edges = _star(_star(edges, large=True), large=False).localCheckpoint(
            eager=True
        )
        # exact set equality in ONE action: isEmpty is a take(1), so a
        # non-converged round stops at the first differing row instead of
        # fully counting both exceptAll sides.
        stable = (
            new_edges.exceptAll(edges)
            .unionAll(edges.exceptAll(new_edges))
            .isEmpty()
        )
        edges = new_edges
        if stable:
            break
        if it == max_iter:
            raise RuntimeError(
                f"dup_labels_star: edge set still changing after {max_iter} "
                "rounds — pathological input; raise max_iter"
            )
    # fixpoint: (u, v) with v = component min for every non-root u; roots
    # label themselves.
    non_roots = edges.select(F.col("u").alias("src"), F.col("v").alias("group_id"))
    root_rows = (
        edges.select(F.col("v").alias("src"))
        .distinct()
        .join(non_roots.select("src"), "src", "left_anti")
        .select("src", F.col("src").alias("group_id"))
    )
    return non_roots.unionByName(root_rows)


def dup_groups_star(documents: DataFrame, max_iter: int = 30) -> DataFrame:
    """P15: P4's dup groups under the star loop's round budget — the
    same :func:`dup_labels_star` labels, so identical output (shares P4's
    recursive-CTE oracle). Equality of the union-find gate path with the
    forced distributed loop, and the loop's log-round advantage on a
    planted path graph, are pinned in tests."""
    return dup_groups(documents, max_iter)


def dup_labels_incremental_fold(
    prior: DataFrame,
    new_pairs: DataFrame,
    max_iter: int = 30,
    driver_max_rows: int | None = DRIVER_CC_EDGE_MAX,
    known_sizes: tuple[int, int] | None = None,
) -> DataFrame:
    """Fold a batch of NEW edges into an existing (src, group_id) label
    table WITHOUT re-running connected components over the full graph —
    the nightly production loop once near-dup gating (P18) admits docs
    whose edges must still join the dup graph.

    Graph-contraction identity: every prior component collapses to its
    ROOT (its minimum id — exactly what the stored labels encode), new
    edges are rewritten endpoint→root, and star CC (:func:`dup_labels_star`)
    runs over the CONTRACTED graph only — whose edge count is bounded by
    the new batch's pairs, never the corpus graph. Because each root is
    its component's minimum and label order is global doc-id order, the
    merged component's minimum over {roots, new docs} equals the minimum
    over all member docs — so composed labels are IDENTICAL to a full
    recompute (the two-level contraction theorem; equality with P4 pinned
    in tests and via the shared oracle).

    Composition: old docs re-point through their root's new label (roots
    untouched by new edges keep their label via the left join's NULL
    coalesce); contracted-graph nodes that are not prior roots are the
    new batch's docs (plus previously-isolated old docs first touched by
    a new edge) and take their labels directly.

    Physical dispatch (r15, the r14 star-CC pattern one level up): when
    BOTH the prior label table and the new edge list fit under
    ``driver_max_rows``, the whole fold collapses to one driver
    union-find over their CONCATENATION — a prior (src, group_id) row
    IS an edge to the component minimum (group_id ≤ src by the label
    algebra, roots are self-edges), so union-by-min over prior rows +
    new edges reproduces the two-level contraction exactly: same key
    set (prior srcs ∪ new endpoints), same minima. Two ``take`` probes
    + one ``createDataFrame`` replace ~8 shuffle-joining jobs whose
    fixed overhead dominates at nightly-batch sizes; the distributed
    contraction is the 100 TB path and engages unchanged above the
    gate. Driver-vs-distributed equality is pinned in tests.
    """
    if driver_max_rows:
        if known_sizes is not None:
            # The caller (the nightly loop) already counted both frames
            # for its own report — when both fit, collect directly: two
            # single-job collects instead of incremental take probes
            # (which scale 1→4→16→32 partitions, ~4 jobs each, pure
            # fixed overhead at nightly-batch sizes).
            if max(known_sizes) <= driver_max_rows:
                return _dup_labels_driver(
                    prior.sparkSession,
                    list(prior.select("src", "group_id").collect())
                    + list(new_pairs.select("doc_a", "doc_b").collect()),
                    prior.schema[0].dataType.simpleString(),
                )
        else:
            ph = prior.select("src", "group_id").take(driver_max_rows + 1)
            if len(ph) <= driver_max_rows:
                eh = new_pairs.select("doc_a", "doc_b").take(
                    driver_max_rows + 1
                )
                if len(eh) <= driver_max_rows:
                    return _dup_labels_driver(
                        prior.sparkSession,
                        list(ph) + list(eh),
                        prior.schema[0].dataType.simpleString(),
                    )
    pa = prior.select(F.col("src").alias("doc_a"), F.col("group_id").alias("ra"))
    pb = prior.select(F.col("src").alias("doc_b"), F.col("group_id").alias("rb"))
    contracted = (
        new_pairs.select("doc_a", "doc_b")
        .join(pa, "doc_a", "left")
        .join(pb, "doc_b", "left")
        .select(
            F.coalesce("ra", "doc_a").alias("doc_a"),
            F.coalesce("rb", "doc_b").alias("doc_b"),
        )
    )
    relabel = dup_labels_star(None, max_iter=max_iter, pairs=contracted)
    old_final = (
        prior.alias("p")
        .join(
            relabel.select(
                F.col("src").alias("group_id"), F.col("group_id").alias("new_root")
            ),
            "group_id",
            "left",
        )
        .select(
            F.col("p.src").alias("src"),
            F.coalesce("new_root", "group_id").alias("group_id"),
        )
    )
    old_roots = prior.select(F.col("group_id").alias("src")).distinct()
    new_final = relabel.join(old_roots, "src", "left_anti")
    return old_final.unionByName(new_final)


def dup_groups_incremental(
    documents: DataFrame,
    corpus_boundary: int = 1_000_000,
    max_iter: int = 30,
) -> DataFrame:
    """P19: P4's exact dup groups maintained INCREMENTALLY — the
    committed corpus's labels are folded with only the NEW batch's edges
    (:func:`dup_labels_incremental_fold`) instead of recomputing CC from
    scratch over the whole pair graph.

    Self-contained demo shape: the corpus/batch split follows the
    synthetic planting convention (new arrivals carry doc_id ≥
    ``corpus_boundary`` — the same boundary P18's ingest gate takes as a
    parameter), and the prior labels are derived here from the old-old
    pair subset; a production deployment reads them from the stored
    label table, so per-night work is bounded by the batch's edges. The
    pair split is lossless — every LSH pair is either old-old (in the
    prior labels) or touches a new doc (in the fold) — hence output ≡
    full-recompute P4/P15 and the entry SHARES their oracle.
    """
    from .dedup import dedup_minhash_lsh

    all_pairs = (
        dedup_minhash_lsh(documents)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    b = corpus_boundary
    old_pairs = all_pairs.filter(
        (F.col("doc_a") < b) & (F.col("doc_b") < b)
    )
    new_pairs = all_pairs.filter(
        (F.col("doc_a") >= b) | (F.col("doc_b") >= b)
    )
    prior = dup_labels_star(None, max_iter=max_iter, pairs=old_pairs)
    labels = dup_labels_incremental_fold(prior, new_pairs, max_iter=max_iter)
    return (
        labels.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.sort_array(F.collect_list("src")).cast("array<string>"), ","
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def dup_groups_nightly_report(
    spark,
    sf_dir: str,
    max_iter: int = 30,
    verify: bool = False,
    warm_state: bool = True,
) -> DataFrame:
    """P23: the P19 fold closed into the PRODUCTION nightly loop over
    REAL commits — P19's demo derives its "prior labels" in-process; here
    every night's state round-trips through the S10 snapshot tables the
    deployment would actually use, across ≥2 commits:

    - **docs table** (S10 ``commit_append``): night N commits its batch;
      the batch's rows are then read back via the S14 manifest-diff
      contract (ONLY the files the new manifest added — pure metadata,
      no old-data scan).
    - **bands table** (append-only LSH index): each night appends ONLY
      the batch's band-bucket rows (old docs' bands never change, so the
      index is append-only by construction). Night N's delta edges =
      batch bands probed against the STORED index (old×new) plus the
      batch self-join (new×new) — per-night work is bounded by the
      batch, never the corpus, and the union is exactly the D3 pair set
      restricted to pairs touching the batch.
    - **labels table**: the fold reads the STORED night-(N−1) labels
      (again via manifest diff — each version's added files ARE that
      night's full label set) and commits the folded result as version N.

    State-access modes (r15): ``warm_state=True`` (default) is the
    long-lived-cluster posture — the session keeps a cached mirror of
    the stored band index (append-only by construction, so the mirror
    never invalidates) and of last night's labels; the snapshot tables
    are still COMMITTED every night (cold starts and other readers see
    exactly the same state), they're just not re-READ by the process
    that just wrote them. ``warm_state=False`` is the cold-start
    posture: the stored band index and prior labels are re-read from
    the committed snapshots via the S14 manifest-diff contract — the
    two modes are pinned row-identical in ``tests/test_operators.py``
    (the commit wrote exactly the mirror's rows, so equality is
    structural, and the test proves the read-back path stays wired).
    The night's delta DOCS are read back from the committed files in
    both modes: they are page-cache-hot and carry the corpus
    augmentation already materialized, which measures cheaper than
    re-deriving it. Label/band commit fan-out is sized by MEASURED
    bytes: night 0 writes with the row heuristic, its committed files
    calibrate bytes/row, and later nights target ~64 MB files from
    that measurement (a row heuristic undersizes wide rows and
    oversizes narrow ones at 100 TB).

    Per night the folded labels can be checked EQUAL (set equality both
    ways) to a from-scratch D3+star recompute over the night's full
    snapshot — the verification oracle only, ~2/3 of the runtime, so
    ``verify=False`` is the DEFAULT (production runs just the fold and
    ``fold_equals_full`` is NULL); the suite and one SCALE probe keep
    ``verify=True`` with the hard per-night assertion. Rows-only driver
    check (snapshot paths are environment-local); the equality verdict
    is asserted in ``tests/test_operators.py``.
    """
    import shutil
    import tempfile

    from pyspark.sql import Row

    from ..functions.text import corpus
    from ..sources.snapshots import commit_append, manifest_files, read_snapshot
    from .dedup import band_buckets, minhash_signatures

    def shingle_base(df: DataFrame) -> DataFrame:
        # already-committed (hence already-augmented) rows: pass base=
        # everywhere so corpus() is never re-applied (plants-of-plants).
        return df.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
            F.size("toks") >= 3
        )

    def pairs_over(df: DataFrame) -> DataFrame:
        # materialized by dedup_minhash_lsh's shared-frame path
        return dedup_minhash_lsh(None, base=shingle_base(df)).select("doc_a", "doc_b")

    def label_sets_equal(a: DataFrame, b: DataFrame) -> bool:
        cols = ["src", "group_id"]
        return (
            a.select(cols).exceptAll(b.select(cols)).isEmpty()
            and b.select(cols).exceptAll(a.select(cols)).isEmpty()
        )

    work = tempfile.mkdtemp(prefix="gfaooa_nightly_")
    docs_tbl, bands_tbl, labels_tbl = (
        f"{work}/docs", f"{work}/bands", f"{work}/labels",
    )
    try:
        aug = corpus(spark.read.parquet(f"{sf_dir}/documents.parquet"))
        nights = [
            aug.filter(F.col("doc_id") < 1_000_000),
            aug.filter(
                (F.col("doc_id") >= 1_000_000) & (F.col("doc_id") < 2_000_000)
            ),
            aug.filter(F.col("doc_id") >= 2_000_000),
        ]
        report: list[Row] = []
        doc_files: set[str] = set()
        seen_files: dict[str, set[str]] = {bands_tbl: set(), labels_tbl: set()}
        bytes_per_row: dict[str, float] = {}
        stored_mirror: DataFrame | None = None  # warm band-index mirror
        prior_mirror: DataFrame | None = None  # warm last-night labels
        prev_lab_n = 0  # last night's label count (fold size dispatch)

        def commit_measured(df: DataFrame, table: str, n_rows: int, est_rows_per_file: int) -> None:
            """Commit with byte-measured file fan-out: the first commit
            uses the row-count estimate, then its committed files
            calibrate bytes/row and every later commit targets ~64 MB
            files from the measurement."""
            bpr = bytes_per_row.get(table)
            if bpr is None:
                n_files = max(1, -(-n_rows // est_rows_per_file))
            else:
                n_files = max(1, -(-int(n_rows * bpr) // (64 << 20)))
            ver = commit_append(df.coalesce(n_files), table)
            added_f = [
                f for f in manifest_files(table, ver)
                if f not in seen_files[table]
            ]
            seen_files[table].update(added_f)
            if n_rows > 0 and added_f:
                import os as _os

                bytes_per_row[table] = sum(
                    _os.path.getsize(f) for f in added_f
                ) / n_rows

        for night, batch in enumerate(nights):
            v = commit_append(batch, docs_tbl)
            added = [f for f in manifest_files(docs_tbl, v) if f not in doc_files]
            doc_files.update(added)
            # S14: the commit's rows = only the added files; an empty
            # commit (no files) must report an empty night, not crash
            # spark.read.parquet() with zero paths. The read-back is kept
            # in BOTH modes: the just-written files are page-cache-hot
            # and carry the corpus augmentation already materialized, so
            # reading them is CHEAPER than re-deriving the 4-branch
            # augmentation union (measured in r15 — a batch
            # localCheckpoint cost +2.5 s/run against a ~0.2 s read).
            delta = (
                spark.read.parquet(*added)
                if added
                else spark.createDataFrame([], batch.schema)
            )
            batch_bands = band_buckets(
                minhash_signatures(None, base=shingle_base(delta))
            ).localCheckpoint(eager=True)
            if night == 0:
                # Night-0 edges = the batch bands' self-collisions — the
                # SAME pair set dedup_minhash_lsh yields over this base
                # (banding join + pair dedup), without recomputing the
                # MinHash signatures the bands table already carries.
                delta_edges = (
                    batch_bands.alias("a")
                    .join(
                        batch_bands.alias("b").hint("shuffle_hash"),
                        (F.col("a.band_id") == F.col("b.band_id"))
                        & (F.col("a.band_hash") == F.col("b.band_hash"))
                        & (F.col("a.doc_id") < F.col("b.doc_id")),
                    )
                    .select(
                        F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b"),
                    )
                    .distinct()
                    .localCheckpoint(eager=True)
                )
                # The report needs the edge count anyway — counting the
                # checkpoint FIRST (one job) lets the fold dispatch on a
                # KNOWN size: a direct single-job collect under the gate
                # instead of star's incremental take probe.
                n_edges = delta_edges.count()
                if n_edges <= DRIVER_CC_EDGE_MAX:
                    folded = _dup_labels_driver(
                        spark,
                        delta_edges.collect(),
                        delta_edges.schema[0].dataType.simpleString(),
                    ).localCheckpoint(eager=True)
                else:
                    folded = dup_labels_star(
                        None,
                        max_iter=max_iter,
                        pairs=delta_edges,
                        pairs_distinct=True,
                    ).localCheckpoint(eager=True)
            else:
                stored = (
                    stored_mirror
                    if warm_state
                    else read_snapshot(spark, bands_tbl)
                )
                old_new = (
                    batch_bands.alias("n")
                    .hint("shuffle_hash")
                    .join(
                        stored.alias("o"),
                        (F.col("n.band_id") == F.col("o.band_id"))
                        & (F.col("n.band_hash") == F.col("o.band_hash")),
                    )
                    .select(
                        F.least("n.doc_id", "o.doc_id").alias("doc_a"),
                        F.greatest("n.doc_id", "o.doc_id").alias("doc_b"),
                    )
                )
                new_new = (
                    batch_bands.alias("a")
                    .join(
                        batch_bands.alias("b").hint("shuffle_hash"),
                        (F.col("a.band_id") == F.col("b.band_id"))
                        & (F.col("a.band_hash") == F.col("b.band_hash"))
                        & (F.col("a.doc_id") < F.col("b.doc_id")),
                    )
                    .select(
                        F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b"),
                    )
                )
                delta_edges = (
                    old_new.unionByName(new_new).distinct().localCheckpoint(eager=True)
                )
                # stored night-(N−1) labels = the files label-version N
                # ADDED over N−1 (S14 manifest diff on the label table);
                # warm mode hands the fold last night's checkpointed
                # frame — the commit wrote exactly those rows.
                if warm_state:
                    prior = prior_mirror
                else:
                    before = (
                        set(manifest_files(labels_tbl, night - 1))
                        if night >= 2
                        else set()
                    )
                    prior = spark.read.parquet(
                        *[
                            f
                            for f in manifest_files(labels_tbl, night)
                            if f not in before
                        ]
                    )
                n_edges = delta_edges.count()
                folded = dup_labels_incremental_fold(
                    prior,
                    delta_edges,
                    max_iter=max_iter,
                    # both sizes are already known (last night's label
                    # stats + this night's edge count) — the fold skips
                    # its take probes entirely.
                    known_sizes=(prev_lab_n, n_edges),
                ).localCheckpoint(eager=True)
            # one aggregation job carries both label stats; counts first so
            # the commits below can size their FILE fan-out from real rows
            # (a 32-partition checkpoint of a few hundred labels would
            # otherwise write 32 near-empty files per night and pay the
            # manifest/read-back cost forever after).
            # Independent driver actions overlap in a small thread pool
            # (Spark schedules concurrent jobs from one session): the
            # four stats jobs touch disjoint frames, and the two commits
            # write DISJOINT tables (separate manifests, separate
            # bytes_per_row / seen_files keys) — per-night driver
            # latency is the max of each group, not the sum.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=3) as pool:
                f_lab = pool.submit(
                    lambda: folded.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.countDistinct("group_id").alias("g"),
                    ).first()
                )
                f_new = pool.submit(delta.count)
                # real band row count so the bytes/row calibration
                # divides by actual rows.
                f_bands = pool.submit(batch_bands.count)
                lab, n_new, n_bands = (
                    f_lab.result(),
                    f_new.result(),
                    f_bands.result(),
                )
            prev_lab_n = lab.n
            with ThreadPoolExecutor(max_workers=2) as pool:
                c1 = pool.submit(
                    commit_measured, folded, labels_tbl, lab.n, 5_000_000
                )
                c2 = pool.submit(
                    commit_measured, batch_bands, bands_tbl, n_bands, 5_000_000
                )
                c1.result(), c2.result()
            if warm_state:
                stored_mirror = (
                    batch_bands
                    if stored_mirror is None
                    else stored_mirror.unionByName(batch_bands)
                )
                prior_mirror = folded
            if verify:
                full = dup_labels_star(
                    None,
                    max_iter=max_iter,
                    pairs=pairs_over(read_snapshot(spark, docs_tbl, v)),
                )
                equal = label_sets_equal(folded, full)
                if not equal:
                    raise AssertionError(
                        f"night {night}: fold != full recompute"
                    )
            else:
                equal = None
            report.append(
                Row(
                    night=night,
                    docs_version=v,
                    n_new_docs=n_new,
                    n_delta_edges=n_edges,
                    n_labeled=lab.n,
                    n_groups=lab.g,
                    fold_equals_full=equal,
                )
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # Explicit schema: with verify=False every fold_equals_full is None
    # and inference would have nothing to type the column from.
    return spark.createDataFrame(
        report,
        "night INT, docs_version INT, n_new_docs BIGINT, "
        "n_delta_edges BIGINT, n_labeled BIGINT, n_groups BIGINT, "
        "fold_equals_full BOOLEAN",
    )


def cross_source_overlap(documents: DataFrame) -> DataFrame:
    """P16: cross-source CONTENT-OVERLAP matrix — pairwise 3-gram-shingle
    Jaccard between corpus slices (scraped mirrors, vendor overlap,
    benchmark reprints show up here long before whole documents match
    byte-for-byte; on this corpus there are in fact ZERO cross-source
    exact-dup documents, which is exactly why the measure must be n-gram
    granular).

    One distinct (shingle, source) table (bounded by content cardinality
    × sources, not documents), per-source set sizes, and a self-join on
    shingle for the pairwise intersections; Jaccard from exact BIGINT
    counts. The mixture-design use: two sources with high overlap must
    not be weighted as independent corpora.
    """
    from ..functions.text import corpus
    from .dedup import _shingle_rows

    # _shingle_rows applies corpus() itself — pass RAW documents (passing
    # corpus(documents) would augment the augmentation).
    fp_src = (
        _shingle_rows(documents)
        .join(corpus(documents).select("doc_id", "source"), "doc_id")
        .select("shingle", "source")
        .distinct()
    )
    per_source = fp_src.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    pairs = (
        fp_src.alias("a")
        .join(
            fp_src.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(
            F.broadcast(
                per_source.select(
                    F.col("source").alias("source_a"),
                    F.col("n_shingles").alias("n_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                per_source.select(
                    F.col("source").alias("source_b"),
                    F.col("n_shingles").alias("n_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


def dedup_eval_report(documents: DataFrame) -> DataFrame:
    """P17: the dedup SCALE PATHS graded against the exact baseline, as a
    first-class query — the evaluation loop a curation team runs before
    trusting approximate dedup at 100 TB ("what does LSH banding cost me
    in recall; what does sketch-only scoring cost on top").

    Truth = D2's exact all-pairs Jaccard ≥ 0.8 verdicts. Predictions:
    D3's LSH candidate pairs (pre-scoring), D15's banded exact re-score
    (its Jaccard ≥ 0.8 subset — D15 also emits containment verdicts,
    which have no D2 truth row), and D18's sketch-only estimate. Every
    count is an exact BIGINT join cardinality; precision/recall are the
    only divisions. The report reuses the SAME single-definition
    operators it grades (no re-implementation that could drift), so a
    change to any dedup stage re-grades itself on the next run.

    Expected shape on the planted corpus: banded recall ≈ the LSH
    banding bound 1−(1−s⁴)⁴ with precision 1.0 (exact re-score);
    candidates trade precision for recall; the sketch estimate sits
    between — the monotonicity is pinned in tests.
    """
    from .dedup import (
        _shared_shingle_base,
        dedup_containment_banded,
        dedup_minhash_estimate,
        dedup_prefix_filter,
        dedup_sorted_neighborhood,
        minhash_signatures,
    )
    from .similarity import _shared_frame

    # ONE (doc_id, toks) corpus materialization shared by ALL graded
    # methods — without it each of the five re-derives the corpus union
    # (five full corpus scans at object-store cost; ~2× the report's
    # wall-clock measured at sf0.1 when snm_exact joined the panel). It is
    # the session-shared shingle base, so a warm D3/D15 call leaves it.
    shared = _shared_shingle_base(documents)
    # The five frames are mutually independent GIVEN the sig/cand chain —
    # r15 materialized them concurrently (§2.6), but each MinHash-family
    # method still derived its own signature + banding frames (the
    # identical corpus-wide MinHash work ran 3× in concurrent jobs).
    # r16: truth and snm_exact (which need only the corpus base) start
    # immediately; the main thread materializes ONE signature frame and
    # ONE candidate graph (both session-shared) overlapped with them;
    # the two methods that score over sig/cand are submitted as those
    # frames land. Outputs are byte-identical — same frames, same stats
    # arithmetic; only the derivation sharing and job overlap changed.
    #
    # Truth = the exact all-pairs Jaccard ≥ 0.8 verdicts, computed via
    # D31's lossless prefix-filter bound instead of D2's raw co-shingle
    # self-join (§3.2-style candidate pruning): the prefix join's
    # completeness theorem plus the identical exact re-score make the
    # pair set EQUAL row-for-row (test_prefix_filter_equals_exact_allpairs
    # + the hypothesis property pin) at a fraction of the join fan-out —
    # the fan-out term is what grows quadratically at 100 TB.
    from concurrent.futures import ThreadPoolExecutor

    ck = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    with ThreadPoolExecutor(max_workers=4) as pool:
        fut_truth = pool.submit(
            lambda: ck(
                dedup_prefix_filter(documents, base=shared).select(
                    "doc_a", "doc_b"
                )
            )
        )
        # D30's pairs are exact-scored at the truth's own threshold, so
        # precision is structurally 1.0; recall measures what the
        # sort-key blocking alone covers (pinned in tests).
        fut_snm = pool.submit(
            lambda: ck(
                dedup_sorted_neighborhood(documents, base=shared).select(
                    "doc_a", "doc_b"
                )
            )
        )
        sig = _shared_frame(
            "mh-sig", documents, lambda: minhash_signatures(documents, base=shared)
        )
        cand = ck(
            dedup_minhash_lsh(documents, base=shared, sig=sig).select(
                "doc_a", "doc_b"
            )
        )
        fut_banded = pool.submit(
            lambda: ck(
                dedup_containment_banded(documents, base=shared, cand=cand)
                .filter(F.col("jaccard") >= 0.8)
                .select("doc_a", "doc_b")
            )
        )
        fut_est = pool.submit(
            lambda: ck(
                dedup_minhash_estimate(documents, base=shared).select(
                    "doc_a", "doc_b"
                )
            )
        )
        done = {
            "lsh_candidates": cand,
            "banded_exact": fut_banded.result(),
            "sketch_estimate": fut_est.result(),
            "snm_exact": fut_snm.result(),
        }
        truth = fut_truth.result()
    preds = done
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    out = None
    for method in preds:
        p = done[method]
        row = (
            p.agg(F.count(F.lit(1)).alias("n_pred"))
            .crossJoin(
                F.broadcast(
                    p.join(truth, ["doc_a", "doc_b"]).agg(
                        F.count(F.lit(1)).alias("tp")
                    )
                )
            )
            .crossJoin(F.broadcast(n_true))
            .select(F.lit(method).alias("method"), "n_pred", "n_true", "tp")
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "method",
        "n_pred",
        "n_true",
        "tp",
        (F.col("n_pred") - F.col("tp")).alias("fp"),
        (F.col("n_true") - F.col("tp")).alias("fn"),
        F.try_divide(F.col("tp"), F.col("n_pred")).alias("precision"),
        F.try_divide(F.col("tp"), F.col("n_true")).alias("recall"),
    )


def mixture_epoch_plan(
    documents: DataFrame, budget: int = 4 * MIXTURE_BUDGET
) -> DataFrame:
    """P20: multi-EPOCH mixture plan — what P7's single-pass selection
    cannot express: when a source's target share EXCEEDS its available
    tokens, training data pipelines repeat the source (epochs) and top up
    with a partial pass (the LLaMA/Chinchilla mixture-realization shape:
    small high-quality sources run 2-4 epochs while web crawl runs <1).

    Per source: ``full_epochs = target DIV available``, ``remainder =
    target % available`` (the partial-pass token count a P7-style
    md5-prefix selection realizes), and the oversample ratio — all exact
    BIGINT arithmetic off one corpus-sized token aggregation; weights
    share P7's ``srcN`` parsing rule so the plan and the sampler can
    never disagree about shares. One narrow aggregation + one broadcast
    of the per-source targets; output is |sources| rows.
    """
    wt = (F.expr("try_cast(substring(source, 4) as bigint)") % 3 + 1).alias("wt")
    per_src = documents.select(
        "source", F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("available_tokens"),
    )
    srcs = per_src.select("source", wt)
    total_w = srcs.agg(F.sum("wt").alias("total_w"))
    targets = srcs.crossJoin(F.broadcast(total_w)).select(
        "source",
        "wt",
        F.expr(f"({budget} * wt) DIV total_w").alias("target_tokens"),
    )
    return (
        per_src.join(F.broadcast(targets), "source")
        .select(
            "source",
            "wt",
            "n_docs",
            "available_tokens",
            "target_tokens",
            F.expr("target_tokens DIV available_tokens").alias("full_epochs"),
            F.expr("target_tokens % available_tokens").alias("remainder_tokens"),
            F.try_divide(
                F.col("target_tokens").cast("double"),
                F.col("available_tokens").cast("double"),
            ).alias("oversample_ratio"),
        )
        .orderBy("source")
    )


def decontaminate_eval_report(documents: DataFrame, embeddings: DataFrame) -> DataFrame:
    """P31: the decontamination family's EVALUATION report (the P17/D27/
    D37/D40 evaluation-as-operator posture applied to the four gates) —
    the pre-flight a pipeline runs before training: is every gate WIRED
    and catching the leaks it is guaranteed to catch? One row per gate
    (P6 n-gram pooled ratio, P22 pairwise near-dup containment, P28
    embedding cosine, and r15's P32 paragraph containment), each graded
    in its own id space against its own planted leak class:

    - ``ngram``/``neardup``: the +1,000,000 exact copies of benchmark
      members (%25==0, ≥3 tokens) — a copy's shingle set equals its
      source's, so P6's pooled contamination is exactly 1.0 ≥ 0.5 and
      P22's containment exactly 100% ≥ 80%: plant_recall 1.0 is a
      THEOREM for both (pinned in tests);
    - ``semantic``: the +100,000 embedding copies of bench-slice sources
      (vec %25==0 AND vec < 32) — bit-identical embedding ⇒ cosine
      exactly 1.0 ≥ 0.98, recall 1.0 again a theorem;
    - ``paragraph``: the same +1M copies one level down — every window
      of a copy is a contiguous token span of its source bench doc, so
      its shingles are a SUBSET of the source's and paragraph
      containment is exactly 1.0 ≥ 80%: recall 1.0 a theorem (the
      gate's distinct value — fragment leaks the doc-level gates
      dilute past — is pinned separately in tests).

    ``n_other_flagged`` (non-plant flags) is the corpus-dependent signal
    a curator actually reads — recorded, not pinned. Production gates
    guard different LEAK CHANNELS (text suites vs embedded suites), so
    per-gate grading in per-gate id spaces is the honest composition;
    the union manifest is the gates' own outputs.

    Scale: the union of its parts — three already-bounded gates plus
    3 constant-width aggregate rows. Fully hash-exact (embeds the three
    gates' own oracle SQL as derived tables). Class boundaries come from
    the gates' OWN named constants (PLANT_OFFSET, DECON_BENCH_HI) so a
    retuned gate can never silently desynchronize its grader; the text
    plant offsets (+1M exact copies of the %25==0 slice) are the
    ``functions/text.py::corpus`` literals, quoted as such."""
    from .similarity import DECON_BENCH_HI, PLANT_OFFSET, decontaminate_semantic

    toks = tokens(F.col("text"))
    exp_text = F.broadcast(
        documents.filter((F.col("doc_id") % 25 == 0) & (F.size(toks) >= 3)).agg(
            F.count(F.lit(1)).cast("long").alias("n_plants_expected")
        )
    )
    exp_sem = F.broadcast(
        embeddings.filter(
            (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < DECON_BENCH_HI)
        ).agg(F.count(F.lit(1)).cast("long").alias("n_plants_expected"))
    )

    def gate_row(name, flagged, plant_cond, expected):
        return (
            flagged.agg(
                F.count(F.lit(1)).cast("long").alias("n_flagged"),
                F.sum(plant_cond.cast("long")).cast("long").alias("n_plants_caught"),
            )
            .crossJoin(expected)
            .select(
                F.lit(name).alias("gate"),
                "n_flagged",
                "n_plants_expected",
                F.coalesce("n_plants_caught", F.lit(0)).alias("n_plants_caught"),
            )
        )

    g1 = gate_row(
        "ngram",
        decontaminate(documents).filter(F.col("contaminated")),
        (F.col("doc_id") >= 1_000_000) & (F.col("doc_id") < 2_000_000),
        exp_text,
    )
    g2 = gate_row(
        "neardup",
        decontaminate_neardup(documents).select("doc_id").distinct(),
        (F.col("doc_id") >= 1_000_000) & (F.col("doc_id") < 2_000_000),
        exp_text,
    )
    g3 = gate_row(
        "semantic",
        decontaminate_semantic(embeddings),
        (F.col("vec_id") >= PLANT_OFFSET)
        & (F.col("vec_id") - PLANT_OFFSET < DECON_BENCH_HI),
        exp_sem,
    )
    # r15 fourth gate: P32 paragraph containment — each +1M exact copy
    # windows into paragraphs whose shingles are contiguous shingles of
    # the source bench doc (containment exactly 1.0 ≥ 80%), so recall
    # 1.0 is again a theorem; the gate's distinct catch (fragment leaks
    # P22 dilutes past) is pinned separately in tests.
    g4 = gate_row(
        "paragraph",
        decontaminate_paragraph(documents).select("doc_id").distinct(),
        (F.col("doc_id") >= 1_000_000) & (F.col("doc_id") < 2_000_000),
        exp_text,
    )
    return (
        g1.unionByName(g2)
        .unionByName(g3)
        .unionByName(g4)
        .select(
            "gate",
            "n_flagged",
            "n_plants_expected",
            "n_plants_caught",
            F.try_divide(
                F.col("n_plants_caught"), F.col("n_plants_expected")
            ).alias("plant_recall"),
            (F.col("n_flagged") - F.col("n_plants_caught")).alias(
                "n_other_flagged"
            ),
        )
        .orderBy("gate")
    )


def mixture_temperature_plan(
    documents: DataFrame, budget: int = 4 * MIXTURE_BUDGET
) -> DataFrame:
    """P30: TEMPERATURE-scaled mixture plan at α = 0.5 — the square-root
    sampling recipe multilingual pipelines use to keep low-resource
    sources from drowning (Conneau & Lample 2019 §3.1, mBERT's exponent
    trick; mT5 tunes the same α): sampling shares follow q_i ∝ p_i^α
    instead of the natural p_i, boosting small sources and damping the
    head. P7/P20 realize HAND-ASSIGNED weights; P30 derives the weights
    from the corpus itself.

    Hash-exactness: α = 0.5 is the one temperature with a correctly-
    rounded primitive — the tempered weight is the MILLI-SQRT
    ``w_i = floor(1000·√tokens_i)`` (IEEE sqrt is correctly rounded in
    both engines, ×1000 and floor are exact), so shares and targets stay
    BIGINT arithmetic end-to-end (``target = budget·w DIV Σw`` — P20's
    convention; other α need libm pow, which is NOT reproducible across
    engines and is documented out of scope rather than hidden behind a
    tolerance). Epoch realization columns (full_epochs / remainder /
    oversample) mirror P20 so the two plans read side-by-side; the
    boost column (tempered vs natural share — DOUBLE cross-products,
    because the BIGINT form overflows past ~4e10 corpus tokens, far
    below the 100 TB posture; both engines evaluate the identical IEEE
    expression so parity holds, exact except within 1 ulp of the
    boundary) is the number a curator sanity-checks — sub-mean sources
    must boost, super-mean sources must damp.

    Scale: one corpus-sized token aggregation; everything after is
    |sources| rows on the driver-broadcast path.
    """
    per_src = (
        documents.select(
            "source", F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").cast("long").alias("available_tokens"),
        )
        .withColumn(
            "w_msqrt",
            F.floor(F.lit(1000.0) * F.sqrt(F.col("available_tokens"))).cast(
                "long"
            ),
        )
    )
    totals = per_src.agg(
        F.sum("w_msqrt").alias("total_w"),
        F.sum("available_tokens").alias("total_tokens"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "available_tokens",
            "w_msqrt",
            F.expr(f"({budget} * w_msqrt) DIV total_w").alias("target_tokens"),
            # boosted ⟺ q_i > p_i ⟺ w·total_tokens > avail·total_w. The
            # cross-products are computed in DOUBLE: w ~ 1000·√tokens, so
            # the BIGINT product overflows once corpus tokens pass ~4e10 —
            # far below the 100 TB posture. Both engines evaluate the
            # identical IEEE expression, so parity holds; the flag is
            # exact except within 1 ulp of the boundary (a display-level
            # wobble on a ratio, not a correctness surface).
            (
                F.col("w_msqrt").cast("double") * F.col("total_tokens").cast("double")
                > F.col("available_tokens").cast("double")
                * F.col("total_w").cast("double")
            ).alias("boosted"),
            F.try_divide(
                F.col("w_msqrt").cast("double")
                * F.col("total_tokens").cast("double"),
                F.col("available_tokens").cast("double")
                * F.col("total_w").cast("double"),
            ).alias("boost_ratio"),
        )
        .select(
            "*",
            F.expr("target_tokens DIV available_tokens").alias("full_epochs"),
            F.expr("target_tokens % available_tokens").alias("remainder_tokens"),
            F.try_divide(
                F.col("target_tokens").cast("double"),
                F.col("available_tokens").cast("double"),
            ).alias("oversample_ratio"),
        )
        .orderBy("source")
    )


def export_order_plan(documents: DataFrame, shard_docs: int = 256) -> DataFrame:
    """P21: deterministic GLOBAL training order + shard/offset plan — the
    export step after curation: training wants the corpus in a shuffled
    order that is (a) uniform, (b) reproducible run-to-run, and (c)
    resumable mid-epoch by (shard, offset). The order key is the md5
    permutation of ``doc_id`` (content-independent — the P1/P2 determinism
    contract: re-crawls and re-runs place every doc at the same position),
    the global rank comes from the SHARED two-phase ``_ranked_with_n``
    (the whole corpus is one order group, the D30 argument; no single-task
    sort), and ``shard = (rank−1) DIV shard_docs`` / ``offset = (rank−1) %
    shard_docs`` are pure integer arithmetic. A trainer resumes from any
    (shard, offset) without re-deriving anything; writers consume the plan
    sorted by (shard_id, offset). Full hash-exact oracle (md5 hex sorts
    identically in ASCII in both engines).
    """
    from .observability import _ranked_with_n

    keyed = documents.select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("sample_key"),
        F.size(tokens(F.col("text"))).cast("long").alias("ws_tokens"),
    )
    ranked = _ranked_with_n(
        keyed.withColumn("_g", F.lit(0)),
        "_g",
        ["sample_key", "doc_id"],
        distributed=True,
    )
    return ranked.select(
        "doc_id",
        "source",
        "sample_key",
        "ws_tokens",
        F.col("rn").cast("long").alias("rank"),
        F.expr(f"(rn - 1) DIV {int(shard_docs)}").cast("long").alias("shard_id"),
        ((F.col("rn") - 1) % shard_docs).cast("long").alias("offset"),
    )


def decontaminate_neardup(
    documents: DataFrame, threshold_pct: int = 80
) -> DataFrame:
    """P22: NEAR-DUP decontamination — the pairwise upgrade of P6's pooled
    ratio: P6 answers "how much benchmark n-gram mass does this doc carry"
    against the UNION of benchmark shingles, which dilutes for long docs
    and cannot say WHICH eval item leaked. This flags (train_doc,
    bench_doc) PAIRS whose shingle CONTAINMENT of the benchmark side
    reaches ``threshold_pct`` — the "this training doc embeds that eval
    question" verdict, robust to the training doc being 100× longer.

    Lossless bipartite prefix filtering (D31's theorem, containment
    variant): containment(s in r) ≥ t forces |r∩s| ≥ ceil(t·|s|), so the
    smallest common shingle under ANY fixed total order must lie within
    the benchmark doc's first ``|s| − ceil(t·|s|) + 1`` shingles (same
    contradiction argument as D31 — only the bounded side needs a
    prefix; the train side is indexed in full). The order here is plain
    lexicographic, so bench prefixes are ``slice(array_sort(sh), 1, p)``
    — no df pass, no window: benchmarks are small by definition.

    Scale shape: bench prefixes explode to a TINY broadcast set (P6's
    broadcast argument, further prefix-shrunk); the corpus side is one
    explode + semi-style pair distinct; exact verification joins the
    candidate pairs back to shingle arrays — train side shuffle-hash
    (the D30 pin), bench side broadcast. Planted exact copies (+1M of
    the %25==0 slice) are guaranteed true positives at containment 1.0
    (pinned). Full hash-exact oracle.
    """
    from ..functions.text import corpus, shingles

    toks = tokens(F.col("text"))
    pct = int(threshold_pct)
    is_bench = (F.col("doc_id") < 1000000) & (F.col("doc_id") % 25 == 0)
    bench_sh = (
        documents.filter(F.col("doc_id") % 25 == 0)
        .select(F.col("doc_id").alias("bench_doc_id"), toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "bench_doc_id", F.array_sort(shingles(F.col("toks"))).alias("sh_b")
        )
        .localCheckpoint(eager=True)
    )
    prefix = bench_sh.select(
        "bench_doc_id",
        F.explode(
            F.slice(
                F.col("sh_b"),
                1,
                F.greatest(
                    F.lit(1),
                    (
                        F.size("sh_b")
                        - F.expr(f"({pct} * size(sh_b) + 99) DIV 100")
                        + 1
                    ).cast("int"),
                ),
            )
        ).alias("shingle"),
    )
    train = (
        corpus(documents)
        .filter(~is_bench)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", shingles(F.col("toks")).alias("sh"))
        .localCheckpoint(eager=True)
    )
    train_sh = train.select("doc_id", F.explode("sh").alias("shingle"))
    cand = (
        train_sh.join(F.broadcast(prefix), "shingle")
        .select("doc_id", "bench_doc_id")
        .distinct()
    )
    shared = F.size(F.array_intersect("sh", "sh_b")).cast("long")
    return (
        cand.join(train.hint("shuffle_hash"), "doc_id")
        .join(F.broadcast(bench_sh), "bench_doc_id")
        .select(
            "doc_id",
            "bench_doc_id",
            shared.alias("n_shared"),
            F.size("sh").cast("long").alias("n_train_shingles"),
            F.size("sh_b").cast("long").alias("n_bench_shingles"),
        )
        .filter(
            F.col("n_shared") * 100 >= F.lit(pct) * F.col("n_bench_shingles")
        )
        .withColumn(
            "containment_bench",
            F.col("n_shared") / F.col("n_bench_shingles"),
        )
    )


def _bench_shingle_frames(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(bench arrays, exploded bench shingle index) for the %25==0
    benchmark slice — the broadcast side of P32 and its streaming ingest
    twin (ONE definition; benchmarks are small by definition, P6's
    broadcast argument)."""
    from ..functions.text import shingles

    toks = tokens(F.col("text"))
    bench_sh = (
        documents.filter(F.col("doc_id") % 25 == 0)
        .select(F.col("doc_id").alias("bench_doc_id"), toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("bench_doc_id", shingles(F.col("toks")).alias("sh_b"))
        .localCheckpoint(eager=True)
    )
    bench_idx = bench_sh.select(
        "bench_doc_id", F.explode("sh_b").alias("shingle")
    )
    return bench_sh, bench_idx


def _train_paragraph_shingles(documents: DataFrame) -> DataFrame:
    """(pid, sh_p) — the train side re-keyed at D43's paragraph
    granularity (corpus augmentation applied, ORIGINAL bench docs
    excluded), shingles sorted for the prefix filter. Shared by batch
    P32 and the streaming gate (which feeds micro-batches through the
    identical projection — the gate is per-doc against a static bench
    index, so per-batch verdicts compose to exactly the batch result)."""
    from ..functions.text import shingles
    from .dedup import PARA_KEY, _paragraph_base

    orig = F.expr(f"pid DIV {PARA_KEY}")
    return (
        _paragraph_base(documents)
        .select(F.col("doc_id").alias("pid"), "toks")
        .filter(~((orig < 1000000) & (orig % 25 == 0)))
        .select("pid", F.array_sort(shingles(F.col("toks"))).alias("sh_p"))
    )


def _paragraph_leak_pairs(
    para: DataFrame, bench_sh: DataFrame, bench_idx: DataFrame, pct: int
) -> DataFrame:
    """Verified (pid, bench_doc_id, n_shared, n_para_shingles) leak
    pairs: lossless paragraph-side prefix filter against the broadcast
    bench index, then exact array-intersect verification (shuffle-hash
    on the corpus-sized side). ``para`` must be materialized (the batch
    operator checkpoints it; the stream gate's micro-batch frames are
    bounded by the batch)."""
    ppref = para.select(
        "pid",
        F.explode(
            F.slice(
                F.col("sh_p"),
                1,
                F.greatest(
                    F.lit(1),
                    (
                        F.size("sh_p")
                        - F.expr(f"({pct} * size(sh_p) + 99) DIV 100")
                        + 1
                    ).cast("int"),
                ),
            )
        ).alias("shingle"),
    )
    cand = (
        ppref.join(F.broadcast(bench_idx), "shingle")
        .select("pid", "bench_doc_id")
        .distinct()
    )
    shared = F.size(F.array_intersect("sh_p", "sh_b")).cast("long")
    return (
        cand.join(para.hint("shuffle_hash"), "pid")
        .join(F.broadcast(bench_sh), "bench_doc_id")
        .select(
            "pid",
            "bench_doc_id",
            shared.alias("n_shared"),
            F.size("sh_p").cast("long").alias("n_para_shingles"),
        )
        .filter(
            F.col("n_shared") * 100 >= F.lit(pct) * F.col("n_para_shingles")
        )
    )


def decontaminate_paragraph(
    documents: DataFrame, threshold_pct: int = 80
) -> DataFrame:
    """P32: PARAGRAPH-granularity decontamination — the fourth gate, and
    the one that catches PARTIAL leaks the doc-level gates structurally
    cannot. P22's verdict is containment of the WHOLE bench item in the
    whole training doc (`|t∩b| / |b|`): a full eval item embedded in a
    100-page scrape still scores 1.0 there, but a FRAGMENT leak — one
    paragraph of a long benchmark document scraped into the corpus —
    dilutes to `fragment/|b|`, below any doc-level bar, and P28's
    whole-doc embedding barely moves. This gate re-keys the TRAIN side
    at D43's paragraph granularity (`dedup._paragraph_base`: fixed
    ``PARA_TOKENS``-token windows, pid = doc_id·PARA_KEY + window) and
    flags every paragraph that is ≥ ``threshold_pct``% benchmark
    content: containment of the PARAGRAPH side, ``|p∩b| / |p|`` — a
    window lifted verbatim from ANY part of a bench doc scores exactly
    1.0 (its shingles are contiguous shingles of the bench doc), no
    matter how long either document is.

    Lossless bipartite prefix filtering, P22's theorem with the bounded
    side flipped: containment(p in b) ≥ t forces |p∩b| ≥ ceil(t·|p|),
    so under the fixed lexicographic order the smallest common shingle
    lies within the PARAGRAPH's first ``|p| − ceil(t·|p|) + 1`` sorted
    shingles — only paragraph prefixes explode (≈(1−t)·|p|+1 ≈ 7
    shingles per 32-token window at t=0.8); the bench side is indexed
    in FULL and broadcast (benchmarks are small by definition — P6's
    broadcast argument). Exact verification joins candidates back to
    the paragraph arrays shuffle-hash (corpus-sized side, the D30 pin)
    × broadcast bench arrays. Report rolls up per (train doc, bench
    doc): leaked-paragraph count, first leaked window index (where in
    the doc the leak starts — the curator's jump-to link), and max
    paragraph containment. Plant classes: every +1M exact bench copy
    (functions/text.py::corpus) windows into paragraphs of containment
    exactly 1.0 — recall 1.0 is a THEOREM (pinned, with a
    fragment-leak miss/catch A/B vs P22 in tests). Full hash-exact
    oracle sharing D43's para CTE + P22's bench CTEs.

    Scale shape: one broadcast-joined narrow explode (paragraph
    prefixes × broadcast bench index), one shuffle-hash equi-join for
    verification, one map-side-combined rollup — no self-join, no
    corpus×corpus shuffle; candidate count is bounded by leaked mass,
    not corpus size.
    """
    from .dedup import PARA_KEY

    verified = _paragraph_leak_pairs(
        _train_paragraph_shingles(documents).localCheckpoint(eager=True),
        *_bench_shingle_frames(documents),
        pct=int(threshold_pct),
    )
    return verified.groupBy(
        F.expr(f"pid DIV {PARA_KEY}").cast("long").alias("doc_id"),
        "bench_doc_id",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_leaked_paras"),
        F.min(F.col("pid") % PARA_KEY).cast("long").alias("first_para"),
        F.max(F.col("n_shared") / F.col("n_para_shingles")).alias(
            "max_containment_para"
        ),
    )


def mixture_soft_dedup(documents: DataFrame) -> DataFrame:
    """P24: SOFT dedup applied at sampling time — the middle ground
    between keep-everything and D1's hard drop (the RefinedWeb /
    data-constrained-scaling recipe: repeated content carries SOME
    signal, so a duplicate CLUSTER should contribute ~one copy's worth
    of tokens in expectation, not n and not necessarily the same one
    every epoch): each doc in an n-copy exact-dup cluster is kept with
    probability 1/n by the DETERMINISTIC hash rule
    ``md5(doc_id # text) % n == 0`` — content-independent across
    re-crawls of the SELECTION (the P1/P2 determinism contract: a rerun
    keeps exactly the same docs), unbiased across cluster members
    (unlike keep-min-doc_id, which always favors the earliest crawl),
    and expectation-exact (Σ 1/n over n members = 1). Unique docs are
    always kept — ``md5 % 1 == 0`` identically, surfaced as the pinned
    ``all_unique_kept`` invariant.

    Per-source report: doc/dup counts, kept counts, BIGINT token mass
    before/after, one try_divide share. Scale shape: one fingerprint
    aggregation (cluster sizes ≪ corpus), one broadcast-sized join back?
    no — the join keys on the fingerprint itself (cluster table can be
    corpus-sized at 100 TB: shuffle equi-join, never broadcast), then
    one map-side-combined rollup. Full hash-exact oracle.
    """
    from ..functions.hashing import md5_int
    from ..functions.text import corpus, tokens

    c = corpus(documents).select(
        "doc_id",
        "source",
        "text",
        F.md5("text").alias("fp"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    clusters = c.groupBy("fp").agg(F.count(F.lit(1)).cast("long").alias("n_copies"))
    scored = c.join(clusters, "fp").withColumn(
        "kept",
        (
            F.pmod(
                md5_int(F.concat_ws("#", F.col("doc_id").cast("string"), "text"), 13),
                F.col("n_copies"),
            )
            == 0
        ).cast("long"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("n_copies") >= 2).cast("long")).cast("long").alias("n_dup_docs"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.sum(F.when(F.col("n_copies") >= 2, F.col("kept")).otherwise(0))
        .cast("long")
        .alias("n_dup_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_before"),
        F.sum(F.col("n_tokens") * F.col("kept")).cast("long").alias("tokens_after"),
        (
            F.sum(F.when(F.col("n_copies") == 1, 1 - F.col("kept")).otherwise(0)) == 0
        ).alias("all_unique_kept"),
        F.try_divide(
            F.sum(F.col("n_tokens") * F.col("kept")), F.sum("n_tokens")
        ).alias("token_kept_share"),
    )


#: DSIR hashed-feature dimensionality and the target-distribution slice.
DSIR_BUCKETS = 128
DSIR_TARGET_LANG = "en"
DSIR_TOPK = 120


def dsir_importance_weights(
    documents: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    target_lang: str = DSIR_TARGET_LANG,
) -> DataFrame:
    """P25: DSIR importance weights (Xie et al. 2023, arXiv:2302.03169 —
    Data Selection for LMs via Importance Resampling). Both the target
    distribution (here the ``lang = target_lang`` slice — in production a
    curated high-quality corpus) and the raw pool are modeled as bag-of-
    hashed-ngrams multinomials over ``n_buckets`` md5 buckets; a doc's
    importance weight is its log-likelihood ratio under the two models,

        w(doc) = Σ_tokens [ log p_target(bucket) − log p_raw(bucket) ],

    with add-one smoothing. For hash-exactness the per-bucket log ratio is
    the FIRST-ORDER integer form: with ``num = (t_b+1)·(R+B)`` and ``den =
    (r_b+1)·(T+B)`` (one fraction, so smoothing and normalization stay
    inside exact BIGINT products),

        llr_milli(b) = (num − den) · 1000 DIV den   — ⌊1000·(p/q − 1)⌋,

    ln(p/q) to first order around p≈q (the regime importance weighting
    lives in: target ⊂ pool ⇒ per-bucket ratios near 1), exact-integer in
    both engines (DuckDB ``//`` and Spark ``DIV`` both truncate toward
    zero) and strictly MONOTONE in the true ratio per bucket, which is
    what thresholding and top-k sampling consume. X18's bit-length log2
    was tried first and is too coarse here — with near-identical
    distributions every bucket rounds to 0 bits. Products are bounded by
    corpus_tokens²·1000 ≪ 2^63 at any test scale; a 100 TB corpus widens
    to DECIMAL(38,0), the O63/X19 convention.

    Scale shape: one token explode → groupBy (doc, bucket) with map-side
    combine (the only corpus-sized shuffle); the 128-row bucket model and
    its grand totals aggregate from that shrunk frame and come back as a
    BROADCAST join; the per-doc weight is a second agg of the same
    (doc, bucket) frame. No Python, no all-pairs, no global sort.
    """
    tok = documents.select(
        "doc_id",
        "source",
        "lang",
        F.explode(tokens(F.col("text"))).alias("token"),
    )
    per_doc_bucket = (
        tok.select(
            "doc_id",
            "source",
            "lang",
            F.pmod(md5_int(F.col("token"), 4), F.lit(n_buckets)).alias("bucket"),
        )
        .groupBy("doc_id", "source", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bucket_stats = per_doc_bucket.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("lang") == target_lang, F.col("c")).otherwise(F.lit(0))
        ).alias("t_b"),
        F.sum("c").alias("r_b"),
    )
    totals = bucket_stats.agg(
        F.sum("t_b").alias("t_total"), F.sum("r_b").alias("r_total")
    )
    num = (F.col("t_b") + 1) * (F.col("r_total") + n_buckets)
    den = (F.col("r_b") + 1) * (F.col("t_total") + n_buckets)
    llr = bucket_stats.join(F.broadcast(totals)).select(
        "bucket",
        ((num - den) * 1000).alias("_diff_x1000"),
        den.alias("_den"),
    ).select(
        "bucket", F.expr("_diff_x1000 DIV _den").alias("llr_milli")
    )
    return (
        per_doc_bucket.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id", "source", "lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("c") * F.col("llr_milli")).cast("long").alias("dsir_milli"),
        )
        .select(
            "doc_id",
            "source",
            "lang",
            "n_tokens",
            "dsir_milli",
            (F.col("dsir_milli") > 0).cast("int").alias("target_like"),
            F.expr("dsir_milli DIV n_tokens").alias("mean_milli"),
        )
    )


def dsir_topk_sample(
    documents: DataFrame,
    k: int = DSIR_TOPK,
    n_buckets: int = DSIR_BUCKETS,
    target_lang: str = DSIR_TARGET_LANG,
) -> DataFrame:
    """P26: the DSIR RESAMPLING step — select the ``k`` docs whose
    importance weight (P25) is highest, deterministic tie-break doc_id
    (the paper samples Gumbel-top-k ∝ weight; the exact-top-k variant is
    the reproducible-oracle baseline — :func:`dsir_gumbel_sample` is the
    paper's stochastic member, riding this same rank plan). Output = the
    selected manifest with its global rank, the thing the mixture
    builder (P7/P20) consumes.

    Ranking caveat (documented tradeoff): P25's per-doc score sums
    FIRST-ORDER terms ⌊1000·(p/q − 1)⌋, and since (p/q − 1) ≥ ln(p/q)
    everywhere, buckets with large positive deviations are over-weighted
    relative to negative ones — the per-bucket surrogate is monotone in
    that bucket's true ratio, but the per-doc SUM is an APPROXIMATION of
    the true Σ log(p/q) ordering, not a monotone transform of it. Top-k
    membership can diverge from float-LLR DSIR when bucket ratios stray
    far from 1; the target⊂pool regime keeps them near 1, which is what
    buys the hash-exact oracle.

    Rank is the O44 distributed two-phase prefix-sum rank
    (``_global_desc_ranked``), NOT a single global window — no one-task
    sort at 100 TB; the rank input is the P25 output (one row per doc,
    already corpus-shrunk).
    """
    from .observability import _global_desc_ranked

    w = dsir_importance_weights(
        documents, n_buckets=n_buckets, target_lang=target_lang
    )
    ranked = _global_desc_ranked(w, "dsir_milli", "doc_id")
    return ranked.filter(F.col("rank") <= k).select(
        "doc_id", "source", "lang", "n_tokens", "dsir_milli", "rank"
    )


#: Gumbel-key uniform resolution: u = (h + 0.5) / 2^20, h ∈ [0, 2^20).
GUMBEL_RES = 1 << 20


def gumbel_topk(
    weights: DataFrame,
    k: int,
    seed: int = 0,
    weight_col: str = "dsir_milli",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted Gumbel-top-k over a MILLI-LOG-weight column — the exact
    order statistic behind sampling-without-replacement ∝ weight (Vieira
    2014; Kool et al. 2019): with log-weight ℓ_i and independent Gumbel
    noise G_i, the k largest (ℓ_i + G_i) are distributed as k weighted
    draws without replacement from softmax(ℓ). Here ℓ arrives ×1000
    (P25's milli LLR), so the key is ``weight_milli + round(1000·G)``.

    G derives from a HASHED uniform — ``u = (md5(id ‖ seed) mod 2^20 +
    0.5) / 2^20``, ``G = −ln(−ln u)`` — so a rerun at the same seed is
    deterministic row-for-row (reproducible sampling manifests, the P1/P2
    salted-hash discipline), while distinct seeds give independent draws.
    The half-offset keeps u strictly inside (0,1): both logs are finite.
    ln is engine-specific at the last ulp, hence rows-only (the
    deterministic hash-exact member is :func:`dsir_topk_sample`).

    Selection rides the same O44 two-phase rank as P26 — one row per doc
    in, no single-task global sort at 100 TB.
    """
    u = (
        F.pmod(
            md5_int(
                F.concat_ws(
                    "#", F.col(id_col).cast("string"), F.lit(str(int(seed)))
                ),
                7,
            ),
            F.lit(GUMBEL_RES),
        )
        + F.lit(0.5)
    ) / F.lit(float(GUMBEL_RES))
    from .observability import _global_desc_ranked

    keyed = weights.withColumn(
        "gumbel_milli",
        F.round(-F.log(-F.log(u)) * 1000).cast("long"),
    ).withColumn("key_milli", F.col(weight_col) + F.col("gumbel_milli"))
    ranked = _global_desc_ranked(keyed, "key_milli", id_col)
    return ranked.filter(F.col("rank") <= k)


def dsir_gumbel_sample(
    documents: DataFrame,
    k: int = DSIR_TOPK,
    seed: int = 0,
    n_buckets: int = DSIR_BUCKETS,
    target_lang: str = DSIR_TARGET_LANG,
) -> DataFrame:
    """P29: DSIR's ACTUAL resampling step (Xie et al. 2023 §2 — sample
    ∝ importance weight, without replacement) as Gumbel-top-k over P25's
    milli-LLR weights: :func:`gumbel_topk` perturbs each doc's weight
    with hashed-Gumbel noise and takes the k largest keys, which is
    exactly k weighted draws without replacement from
    softmax(LLR). P26's exact top-k is the deterministic (biased —
    always the argmax set) oracle baseline; this member restores the
    paper's stochasticity while staying rerun-deterministic per seed.

    Pinned properties (tests): same-seed rerun is row-identical;
    expected inclusion is monotone in weight on a planted two-class
    weight frame (heavy class dominates the manifest across seeds).
    Scale shape = P25's (the weights plan) + one row-per-doc rank —
    nothing new shuffles.
    """
    w = dsir_importance_weights(
        documents, n_buckets=n_buckets, target_lang=target_lang
    )
    return gumbel_topk(w, k, seed=seed).select(
        "doc_id",
        "source",
        "lang",
        "n_tokens",
        "dsir_milli",
        "gumbel_milli",
        "key_milli",
        "rank",
    )


def curation_pipeline_v3(documents: DataFrame) -> DataFrame:
    """P27: the curation funnel COMPOSED with the r11/r12 families — what
    a production corpus build actually runs end-to-end, each stage's
    doc/token survival in one report:

    - stages 0–3: the P11 funnel verbatim (exact dedup → verified banded
      near-dup removal → quality gate), same signals, same algebra;
    - stage 4 (``4_span_scrub``): D35's repeated-span scrub applied as
      MASS accounting — each surviving doc's token count shrinks by its
      corpus-level scrubbed span mass (scrub decisions are corpus-wide,
      so reusing the full-corpus scrub on the survivor subset is the
      conservative reading: a passage that repeats anywhere is
      boilerplate everywhere); docs scrubbed to zero drop out;
    - stage 5 (``5_dsir_target``): P25's DSIR gate over the SAME
      augmented corpus — survivors whose hashed-bag LLR says
      "more target-like than pool" (dsir_milli > 0) carry their
      scrubbed token mass into the final budget.

    One row per stage, (stage, n_docs, n_tokens) — the shape P5/P11
    report, two stages longer. Every stage reuses its family's exact
    operator (D15 pairs, D35 scrub, P25 weights), and the oracle embeds
    those operators' driver SQL via shared CTE builders, so the whole
    composition is hash-exact.

    Scale shape: the union of its parts — nothing new shuffles; the two
    added stages are one doc_id equi-join each against frames the member
    operators already bound (scrub: corpus-sized but map-side joinable;
    weights: one row per doc).
    """
    from ..functions.text import corpus
    from .dedup import dedup_containment_banded, dedup_repeated_spans_scrub

    pairs = dedup_containment_banded(documents).select("doc_a", "doc_b")
    labels = dup_labels_star(None, pairs=pairs)
    per_doc = _per_doc_signals(documents).select(
        "doc_id", "fingerprint", "n_tokens", "quality"
    )
    # SINGLE-PASS shape (r15, guide §2.4) — same rewrite as
    # ``_curation_funnel``: the r14 form unioned one aggregate per stage,
    # each re-deriving its whole prefix (346-operator plan, the corpus
    # union re-scanned 6×, the banded-pair graph re-derived per stage).
    # Every stage predicate becomes a FLAG over ONE per-doc frame; all
    # three side frames (non-canonical labels, scrub mass, DSIR verdicts)
    # are unique per doc_id, so the left joins are 1:≤1 and the
    # left-join-null flag is exactly the anti/inner-join semantics of the
    # staged form (weights' inner join + target_like=1 filter ≡ the
    # NULL-rejecting flag). One aggregate computes every stage's counts
    # as conditional sums; ``stack`` unfolds the 6 stage rows.
    w_fp = Window.partitionBy("fingerprint")
    non_canonical = labels.filter(F.col("group_id") != F.col("src")).select(
        F.col("src").alias("doc_id"), F.lit(1).alias("_nc")
    )
    scrub = dedup_repeated_spans_scrub(documents, span_tokens=16).select(
        "doc_id", "n_scrubbed"
    )
    weights = dsir_importance_weights(corpus(documents)).select(
        "doc_id", "target_like"
    )
    flagged = (
        per_doc.withColumn("keep_id", F.min("doc_id").over(w_fp))
        .join(non_canonical, "doc_id", "left")
        .join(scrub, "doc_id", "left")
        .join(weights, "doc_id", "left")
        .withColumn(
            "n_tokens_clean",
            F.col("n_tokens") - F.coalesce(F.col("n_scrubbed"), F.lit(0)),
        )
    )
    f1 = F.col("doc_id") == F.col("keep_id")
    f2 = f1 & F.col("_nc").isNull()
    f3 = f2 & (F.col("quality") >= 0.5)
    f4 = f3 & (F.col("n_tokens_clean") > 0)
    f5 = f4 & (F.col("target_like") == 1)
    one = flagged.agg(
        F.count(F.lit(1)).alias("d0"),
        F.sum("n_tokens").alias("t0"),
        F.count(F.when(f1, 1)).alias("d1"),
        F.sum(F.when(f1, F.col("n_tokens"))).alias("t1"),
        F.count(F.when(f2, 1)).alias("d2"),
        F.sum(F.when(f2, F.col("n_tokens"))).alias("t2"),
        F.count(F.when(f3, 1)).alias("d3"),
        F.sum(F.when(f3, F.col("n_tokens"))).alias("t3"),
        F.count(F.when(f4, 1)).alias("d4"),
        F.sum(F.when(f4, F.col("n_tokens_clean"))).alias("t4"),
        F.count(F.when(f5, 1)).alias("d5"),
        F.sum(F.when(f5, F.col("n_tokens_clean"))).alias("t5"),
    )
    return one.select(
        F.expr(
            "stack(6, '0_raw', d0, t0, '1_exact_dedup', d1, t1, "
            "'2_near_dedup', d2, t2, '3_quality', d3, t3, "
            "'4_span_scrub', d4, t4, '5_dsir_target', d5, t5) "
            "as (stage, n_docs, n_tokens)"
        )
    )
