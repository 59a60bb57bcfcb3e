"""Text analysis operators (group X) — LLM training-data pipeline.

Language-ID, quality scoring, token counting and content fingerprinting over
the ``documents`` table — all built from JVM-side column expressions
(split/regexp/array functions); zero Python UDFs. Every derived number is
either integer counting or per-row IEEE arithmetic, so the DuckDB oracles
match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import TOKEN_SPLIT, corpus, tokens

#: Stopword list used by the quality score (tiny, broadcast as a literal).
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "it"]

#: BPE-ish token pattern: letter runs, digit runs, single other glyphs.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def lang_id(documents: DataFrame, top_n: int = 20) -> DataFrame:
    """X1: n-gram/marker language heuristic.

    Profile-based: learn the top-N most frequent tokens per language from
    the even-doc_id half (tiny profile table, broadcast), score the odd half
    by profile-token overlap, predict argmax. Pure counting → exact oracle.
    """
    toks = tokens(F.col("text"))
    train = documents.filter(F.col("doc_id") % 2 == 0).select(
        "lang", F.explode(toks).alias("token")
    )
    freq = train.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), F.col("token"))
    profile = (
        freq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select("lang", "token")
        .withColumnRenamed("lang", "profile_lang")
    )
    test = documents.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.col("lang").alias("actual_lang"), F.explode(F.array_distinct(toks)).alias("token")
    )
    scores = (
        test.join(F.broadcast(profile), "token")
        .groupBy("doc_id", "actual_lang", "profile_lang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    ws = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("profile_lang"))
    return (
        scores.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("profile_lang").alias("predicted_lang"),
            "actual_lang",
            F.col("score").alias("marker_hits"),
            (F.col("profile_lang") == F.col("actual_lang")).alias("correct"),
        )
    )


def quality_expr(stop_ratio, n_tokens):
    """The X2 quality formula as a reusable Column expression.

    Single source of truth shared by `quality_score` (X2) and
    `curation_pipeline` (P5) so the funnel's "quality >= 0.5" gate can never
    drift from the per-document score.
    """
    return F.least(
        F.lit(1.0),
        0.2
        + 0.5 * F.least(stop_ratio * 4, F.lit(1.0))
        + 0.3 * F.least(n_tokens / 200.0, F.lit(1.0)),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """X2: per-document quality score from length/stopword/shape signals."""
    toks = tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    base = documents.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("long").alias("n_chars_text"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
        .cast("long")
        .alias("stopword_count"),
    )
    stop_ratio = F.col("stopword_count") / F.col("n_tokens")
    avg_token_len = (F.col("n_chars_text") - (F.col("n_tokens") - 1)) / F.col("n_tokens")
    quality = quality_expr(stop_ratio, F.col("n_tokens"))
    scored = base.select(
        "doc_id",
        "lang",
        "source",
        "n_chars_text",
        "n_tokens",
        "stopword_count",
        stop_ratio.alias("stop_ratio"),
        avg_token_len.alias("avg_token_len"),
        quality.alias("quality"),
    )
    return scored.withColumn(
        "quality_band",
        F.when(F.col("quality") >= 0.8, "high")
        .when(F.col("quality") >= 0.5, "medium")
        .otherwise("low"),
    )


#: X21 Gopher rule thresholds (Rae et al. 2021, arXiv:2112.11446 §A1.1.1):
#: word-count band, mean-word-length band, max symbol-to-word ratio, min
#: fraction of words carrying an alphabetic character, min DISTINCT
#: stopwords present.
GOPHER_WORDS_LO, GOPHER_WORDS_HI = 50, 100_000
GOPHER_MWL_LO, GOPHER_MWL_HI = 3.0, 10.0
GOPHER_SYMBOL_MAX = 0.1
GOPHER_ALPHA_MIN = 0.8
GOPHER_STOP_MIN = 2


def gopher_quality(documents: DataFrame) -> DataFrame:
    """X21: the Gopher quality-filter rule set (Rae et al. 2021,
    arXiv:2112.11446 Appendix A1.1.1 — the published recipe FineWeb/
    RefinedWeb-class pipelines start from) as RULES-AS-COLUMNS: one row
    per document carrying each rule's signal AND its pass flag, plus the
    conjunction, so a curator can read WHICH rule rejected a document —
    the report X2's composite score can't express (X2 ranks; X21
    gates). Signals, each computed identically in both engines:

    - ``n_words`` ∈ [50, 100k] (whitespace tokens, the corpus-wide
      convention);
    - ``mean_word_len`` ∈ [3, 10], from the EXACT per-token length sum
      (not the single-space approximation X2 documents);
    - ``symbol_ratio`` ≤ 0.1 — '#' or '…'/'...' occurrences per word;
    - ``alpha_frac`` ≥ 0.8 — fraction of words with ≥1 alphabetic char;
    - ``n_stop_types`` ≥ 2 — DISTINCT stopwords present (the paper's
      "at least two of a small stop list" rule over ``STOPWORDS``).

    The paper's line-shape rules (bullet-start / ellipsis-end fractions)
    need multi-line text; the driver corpus is single-line, so they are
    documented out of scope rather than emitted as constant-true columns.
    Scale: one narrow projection, no shuffle at all — the cheapest gate
    in the funnel, which is why production runs it FIRST.
    """
    toks = tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    base = documents.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_word_len"),
        F.regexp_count(F.col("text"), F.lit(r"#|\.\.\.|…"))
        .cast("long")
        .alias("n_symbols"),
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        .cast("long")
        .alias("n_alpha_words"),
        F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
        .cast("long")
        .alias("n_stop_types"),
    )
    mwl = F.col("sum_word_len") / F.col("n_words")
    sym = F.col("n_symbols") / F.col("n_words")
    alpha = F.col("n_alpha_words") / F.col("n_words")
    flags = {
        "words_ok": (F.col("n_words") >= GOPHER_WORDS_LO)
        & (F.col("n_words") <= GOPHER_WORDS_HI),
        "mwl_ok": (F.col("mean_word_len") >= GOPHER_MWL_LO)
        & (F.col("mean_word_len") <= GOPHER_MWL_HI),
        "symbol_ok": F.col("symbol_ratio") <= GOPHER_SYMBOL_MAX,
        "alpha_ok": F.col("alpha_frac") >= GOPHER_ALPHA_MIN,
        "stop_ok": F.col("n_stop_types") >= GOPHER_STOP_MIN,
    }
    scored = base.select(
        "doc_id",
        "lang",
        "source",
        "n_words",
        mwl.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        alpha.alias("alpha_frac"),
        "n_stop_types",
    )
    for name, expr in flags.items():
        scored = scored.withColumn(name, expr)
    return scored.withColumn(
        "gopher_pass",
        F.col("words_ok")
        & F.col("mwl_ok")
        & F.col("symbol_ok")
        & F.col("alpha_ok")
        & F.col("stop_ok"),
    )


#: X22 Gopher line-shape thresholds (Rae et al. 2021, arXiv:2112.11446
#: §A1.1.1): "remove documents where more than 90% of lines start with a
#: bullet point, or more than 30% end with an ellipsis" — plus the line
#: construction convention: REAL newlines first, oversized blocks wrapped
#: at a fixed token width (the D43 paragraph convention one level down).
GOPHER_BULLET_MAX = 0.9
GOPHER_ELLIPSIS_MAX = 0.3
LINE_WRAP_TOKENS = 32
BULLET_RE = r"^[-*•‣·]"
ELLIPSIS_RE = r"(\.\.\.|…)$"


def gopher_line_shape(
    documents: DataFrame, wrap_tokens: int = LINE_WRAP_TOKENS
) -> DataFrame:
    """X22: the Gopher LINE-SHAPE rules (Rae et al. 2021, arXiv:2112.11446
    Appendix A1.1.1) X21 documents as out of scope on a flat corpus —
    bullet-start and ellipsis-end line fractions — made real columns by a
    line convention BOTH engines express identically: split on REAL
    newlines first (documents with structure keep it — the tests' hand
    corpus), then wrap each block's tokens at ``wrap_tokens`` so a
    single-line corpus still yields a multi-line view (the driver corpus;
    RefinedWeb/FineWeb apply these rules to web text where the newline is
    the signal). Same rules-as-columns posture as X21: per-document
    signals AND per-rule pass flags plus the conjunction.

    - ``bullet_frac`` ≤ 0.9 — fraction of lines whose first glyph is a
      bullet (-, *, •, ‣, ·);
    - ``ellipsis_frac`` ≤ 0.3 — fraction of lines ending in '...' or '…'.

    Scale: pure per-row array algebra (split → transform → flatten →
    filter) — ZERO shuffle, no explode (line count never materializes as
    rows), the same cheapest-gate posture as X21."""
    wrap = float(wrap_tokens)

    def block_lines(b):
        toks = F.split(b, TOKEN_SPLIT)
        n_win = F.greatest(
            F.lit(1), F.ceil(F.size(toks) / F.lit(wrap)).cast("int")
        )
        return F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.array_join(
                F.slice(toks, (i - F.lit(1)) * wrap_tokens + F.lit(1), F.lit(wrap_tokens)),
                " ",
            ),
        )

    lines = F.flatten(
        F.transform(F.split(F.col("text"), "\n"), block_lines)
    )
    base = documents.select(
        "doc_id",
        "lang",
        "source",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(F.filter(lines, lambda l: l.rlike(BULLET_RE)))
        .cast("long")
        .alias("n_bullet_lines"),
        F.size(F.filter(lines, lambda l: l.rlike(ELLIPSIS_RE)))
        .cast("long")
        .alias("n_ellipsis_lines"),
    )
    bullet = F.col("n_bullet_lines") / F.col("n_lines")
    ellipsis = F.col("n_ellipsis_lines") / F.col("n_lines")
    return base.select(
        "doc_id",
        "lang",
        "source",
        "n_lines",
        "n_bullet_lines",
        "n_ellipsis_lines",
        bullet.alias("bullet_frac"),
        ellipsis.alias("ellipsis_frac"),
        (bullet <= GOPHER_BULLET_MAX).alias("bullet_ok"),
        (ellipsis <= GOPHER_ELLIPSIS_MAX).alias("ellipsis_ok"),
        (
            (bullet <= GOPHER_BULLET_MAX) & (ellipsis <= GOPHER_ELLIPSIS_MAX)
        ).alias("line_shape_pass"),
    )


def token_count(documents: DataFrame) -> DataFrame:
    """X3: whitespace + BPE-ish token counts, aggregated per source."""
    toks = tokens(F.col("text"))
    per_doc = documents.select(
        "source",
        F.size(toks).cast("long").alias("ws_tokens"),
        # regexp_count == len(regexp_extract_all) but never materializes the
        # match array — constant memory per row regardless of document size.
        F.regexp_count(F.lower("text"), F.lit(BPE_PATTERN))
        .cast("long")
        .alias("bpe_tokens"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
        F.max("ws_tokens").alias("max_ws_tokens"),
        F.min("ws_tokens").alias("min_ws_tokens"),
    )
    return agg.select(
        "*",
        (F.col("total_ws_tokens") / F.col("n_docs")).alias("avg_ws_tokens"),
        (F.col("total_bpe_tokens") / F.col("n_docs")).alias("avg_bpe_tokens"),
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """X4: canonicalized-content fingerprint (md5 of sorted distinct tokens).

    Catches word-order-shuffled near-dups (the planted reversed docs) that
    byte-level hashing misses.
    """
    c = corpus(documents)
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens(F.col("text")))), " ")
    )
    docs = c.select(fp.alias("fingerprint"), "doc_id")
    return (
        docs.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.array_join(
                F.sort_array(F.collect_list("doc_id")).cast("array<string>"), ","
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def winnow_fingerprint(documents: DataFrame, k: int = 8, w: int = 4) -> DataFrame:
    """X6: rolling-hash winnowing fingerprint (Schleimer et al., SIGMOD'03
    — the MOSS algorithm).

    Hash every character ``k``-gram of the document, slide a window of
    ``w`` consecutive gram hashes, keep each window's minimum; the distinct
    selected hashes are the document fingerprint, summarized to one md5
    signature. Guarantees a match for any shared run of ``k + w - 1``
    characters, independent of position.

    Scale shape: the whole fingerprint is per-row array arithmetic
    (``sequence``/``transform``/``slice``/``array_min`` — JVM codegen, no
    Python), so there is NO explode and NO shuffle until the final
    group-by on the (tiny, high-entropy) signature key. Documents
    fingerprint independently → embarrassingly parallel at 100 TB.
    """
    n = F.length("text")
    gram_hash = lambda i: F.conv(  # noqa: E731 — md5_int over a rolling slice
        F.substring(F.md5(F.substr(F.col("text"), i, F.lit(k))), 1, 12), 16, 10
    ).cast("long")
    gh = F.transform(F.sequence(F.lit(1), n - (k - 1)), gram_hash)
    docs = documents.filter(n >= k + w - 1).select("doc_id", gh.alias("gh"))
    return _winnow_tail(docs, w)


def _winnow_tail(docs: DataFrame, w: int) -> DataFrame:
    """Window-minimum selection + signature + dup grouping over a
    (doc_id, gh) gram-hash frame — ONE definition shared by X6 (md5
    grams) and X20 (polynomial grams) so the winnowing algebra can
    never diverge between the baseline and the scale path."""
    wmins = F.transform(
        F.sequence(F.lit(1), F.size("gh") - (w - 1)),
        lambda j: F.array_min(F.slice(F.col("gh"), j, w)),
    )
    per_doc = docs.select(
        "doc_id",
        F.size("gh").cast("long").alias("n_grams"),
        F.array_sort(F.array_distinct(wmins)).alias("fp"),
    ).select(
        "doc_id",
        "n_grams",
        F.size("fp").cast("long").alias("n_selected"),
        F.md5(F.array_join(F.col("fp").cast("array<string>"), ",")).alias("signature"),
    )
    return per_doc.groupBy("signature").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keep_doc_id"),
        F.min("n_grams").alias("n_grams"),
        F.min("n_selected").alias("n_selected"),
        F.array_join(
            F.sort_array(F.collect_list("doc_id")).cast("array<string>"), ","
        ).alias("doc_ids"),
    )


#: X20's polynomial gram-hash parameters: base 257 (> any BMP low
#: codepoint step), modulus 2³¹−1 (the MinHash Mersenne prime). Each
#: term c·(Bʲ mod M) < 2^21·2^31 = 2^52 and the k-term sum stays below
#: 2^55 — exact BIGINT arithmetic in both engines.
WINNOW_B = 257
WINNOW_M = 2147483647


def winnow_fingerprint_rolling(
    documents: DataFrame, k: int = 8, w: int = 4
) -> DataFrame:
    """X20: X6's winnowing with the gram hash swapped from per-gram md5
    to a Rabin–Karp-style POLYNOMIAL over character codes — the scale
    path the X6 docstring promises ("the per-character md5 constant is
    the cost"): Σⱼ ascii(text[i+j])·B^(k−1−j) mod M is ~8 integer
    multiply-adds per gram inside WholeStageCodegen instead of an md5
    round, with the identical window-minimum selection (shared
    ``_winnow_tail``) — so the MOSS guarantee (any shared run of
    k + w − 1 characters selects a common hash) holds verbatim, only
    the hash family changes. Different hash family ⇒ different
    signatures than X6, but the same documents group together on any
    corpus where the polynomial hash is collision-free (planted-dup
    grouping equality with X6 is pinned in tests).

    Scale shape: identical to X6 — per-row array arithmetic, no explode,
    no shuffle until the tiny signature group-by; the win is the per-row
    CPU constant, which is exactly what dominates X6's bench time. The
    text is decoded to a codepoint ARRAY once per row first: repeated
    ``substr(text, i, 1)`` calls re-scan the string from the start for
    codepoint boundaries (O(n²·k) per doc — measured 3.5× SLOWER than
    X6's md5), while ``element_at`` on the decoded array is O(1).
    """
    n = F.length("text")
    pows = [pow(WINNOW_B, k - 1 - j, WINNOW_M) for j in range(k)]
    codes = F.transform(
        F.split(F.col("text"), ""), lambda c: F.ascii(c).cast("long")
    )
    docs0 = documents.filter(n >= k + w - 1).select(
        "doc_id", codes.alias("codes")
    )

    def gram_hash(i):
        s = None
        for j, p in enumerate(pows):
            term = F.element_at(F.col("codes"), i + j) * F.lit(p)
            s = term if s is None else s + term
        return s % F.lit(WINNOW_M)

    gh = F.transform(
        F.sequence(F.lit(1), F.size("codes") - (k - 1)), gram_hash
    )
    docs = docs0.select("doc_id", gh.alias("gh"))
    return _winnow_tail(docs, w)


def stats_by_source(documents: DataFrame) -> DataFrame:
    """X5: corpus statistics per source × lang."""
    agg = documents.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    return agg.select("*", (F.col("total_chars") / F.col("n_docs")).alias("avg_chars"))


#: Portable PII patterns (identical RE2/Java-regex subset in both engines).
PII_EMAIL = r"[a-z0-9]+@[a-z]+\.com"
PII_PHONE = r"555-[0-9]{4}"


def _pii_planted(documents: DataFrame) -> DataFrame:
    """Deterministically plant synthetic PII (the driver corpus has none):
    every 10th doc gets an email, every 15th a phone — pure per-row
    projection mirrored verbatim by the oracle CTE."""
    email = F.concat(
        F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com now")
    )
    phone = F.lit(" call 555-0199 today")
    t = F.col("text")
    t = F.when(F.col("doc_id") % 10 == 0, F.concat(t, email)).otherwise(t)
    t = F.when(F.col("doc_id") % 15 == 0, F.concat(t, phone)).otherwise(t)
    return documents.select("doc_id", "source", t.alias("text"))


def pii_redact(documents: DataFrame) -> DataFrame:
    """X7: PII detection + redaction accounting (pre-training scrub pass).

    Counts email/phone matches per document, masks them with typed tokens,
    and aggregates per source: docs touched, total matches by class, and an
    order-insensitive BIGINT checksum of the redacted texts (md5-derived)
    proving both engines produced byte-identical scrubbed output. All
    JVM-side regexp expressions — the scrub is a narrow map, shuffle-free
    until the final tiny per-source aggregate.
    """
    planted = _pii_planted(documents)
    redacted = F.regexp_replace(
        F.regexp_replace("text", PII_EMAIL, "<EMAIL>"), PII_PHONE, "<PHONE>"
    )
    per_doc = planted.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        redacted.alias("redacted"),
    )
    from ..functions.hashing import md5_int

    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_emails").alias("total_emails"),
        F.sum("n_phones").alias("total_phones"),
        F.sum(((F.col("n_emails") > 0) | (F.col("n_phones") > 0)).cast("long")).alias(
            "n_redacted_docs"
        ),
        F.sum(md5_int(F.col("redacted"), 12)).alias("redacted_checksum"),
    )


def bigram_stats(documents: DataFrame, top_n: int = 5) -> DataFrame:
    """X8: top-N bigrams per language (corpus n-gram statistics).

    Bigrams are built per-row with ``transform(sequence(...))`` — pure JVM
    array arithmetic, no self-join — then exploded once into the count
    aggregation. The per-group top-N goes through WindowGroupLimit, so each
    partition only keeps N candidates pre-shuffle.
    """
    toks = tokens(F.col("text"))
    base = documents.select("lang", toks.alias("t")).filter(F.size("t") >= 2)
    bigrams = base.select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))")
        ).alias("bigram"),
    )
    counts = bigrams.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_n)
        .select("lang", "rank", "bigram", "n")
    )


#: Fixed probe terms for the index-lookup demonstration query.
INDEX_PROBE_TERMS = ["the", "data", "spark", "error"]


def inverted_index(documents: DataFrame, max_postings: int = 50) -> DataFrame:
    """X9: inverted-index build + term lookup — the OpenSearch-style
    text-search backbone the reference's store provides, as Spark tables.

    Index build: distinct (token, doc_id) postings → per-token document
    frequency + a capped, sorted posting list (bounded output per term —
    the real store pages long posting lists the same way). Lookup: the
    probe-term dimension broadcasts against the index. At 100 TB the index
    is itself a partitioned table keyed by token; this query IS its build
    job plus a point lookup.
    """
    postings = (
        documents.select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    index = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, max_postings).cast(
                "array<string>"
            ),
            ",",
        ).alias("postings_head"),
    )
    probes = F.array(*[F.lit(t) for t in INDEX_PROBE_TERMS])
    probe_df = documents.sparkSession.range(1).select(
        F.explode(probes).alias("term")
    )
    return index.join(F.broadcast(probe_df), "term").select(
        "term", "doc_freq", "postings_head"
    )


def lang_confusion(documents: DataFrame) -> DataFrame:
    """X10: language-ID confusion matrix — the evaluation layer over X1.

    (actual, predicted) cell counts + per-cell share of the actual
    language's row total; the matrix is |langs|² rows, so the extra
    aggregation over X1's per-document predictions is free at any scale.
    """
    preds = lang_id(documents)
    cells = preds.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("actual_lang")
    return cells.select(
        "actual_lang",
        "predicted_lang",
        "n_docs",
        (F.col("n_docs") / F.sum("n_docs").over(w)).alias("row_share"),
        (F.col("actual_lang") == F.col("predicted_lang")).alias("is_diagonal"),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """X11: within-document repetition signals (Gopher-style quality rules).

    The Gopher/MassiveText filters drop documents dominated by repeated
    content; the two signals that transfer to single-line documents are
    the distinct-token ratio and the share of the document consumed by its
    most frequent bigram. Per source this reports how many documents the
    repetition rule (distinct ratio < 0.3 OR top-bigram share > 0.18)
    would drop.

    Shape: two explode → map-side-combined groupBy pyramids (token and
    bigram), joined per doc, rolled up per source — all JVM expressions,
    integer counts, and two final IEEE divisions reproduced exactly by the
    oracle.
    """
    toks = tokens(F.col("text"))
    base = documents.select("doc_id", "source", toks.alias("toks")).filter(
        F.size("toks") >= 2
    )
    tok_rows = base.select("doc_id", "source", F.explode("toks").alias("token"))
    per_tok = tok_rows.groupBy("doc_id", "source", "token").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    doc_tok = per_tok.groupBy("doc_id", "source").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_token_cnt"),
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(F.col("toks")) - 1),
        lambda j: F.concat_ws(
            " ", F.element_at(F.col("toks"), j), F.element_at(F.col("toks"), j + 1)
        ),
    )
    big_rows = base.select("doc_id", F.explode(bigrams).alias("bigram"))
    per_big = big_rows.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("cnt"))
    doc_big = per_big.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.max("cnt").alias("top_bigram_cnt"),
    )
    per_doc = doc_tok.join(doc_big, "doc_id")
    distinct_ratio = F.col("n_distinct") / F.col("n_tokens")
    top_bigram_share = F.col("top_bigram_cnt") / F.col("n_bigrams")
    flagged = (distinct_ratio < 0.3) | (top_bigram_share > 0.18)
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(flagged, 1).otherwise(0)).alias("n_flagged"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_distinct").alias("total_distinct"),
        F.max(top_bigram_share).alias("max_top_bigram_share"),
    )


def top_terms(documents: DataFrame, k: int = 5) -> DataFrame:
    """X12: per-source top-K distinctive terms — the TF-IDF kernel in
    engine-exact arithmetic.

    score = tf_source(token) × n_sources / df(token), the log-free TF-IDF
    proxy (monotone in 1/df for fixed tf, so rankings match the log
    variant) — numerator stays BIGINT-exact and the single final division
    is IEEE-identical across engines, unlike ln() whose libm rounding can
    differ. Two map-side-combined aggregation pyramids (term frequency,
    document frequency over sources) + a per-source top-K window with
    deterministic tie-break.
    """
    tok = documents.select("source", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_sources"))
    n_sources = documents.select(
        F.countDistinct("source").alias("n_sources")
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "source",
            "token",
            "tf",
            "df_sources",
            (F.col("tf") * F.col("n_sources") / F.col("df_sources")).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("source", "rank", "token", "tf", "df_sources", "score")
    )


def tfidf_topk(documents: DataFrame, k: int = 3) -> DataFrame:
    """X13: per-DOCUMENT top-k keyword extraction by TF-IDF — the document
    -level sibling of X12's per-source distinctive terms, and the standard
    keyword/tag backbone of corpus exploration UIs.

    Same engine-exact arithmetic as X12: score = tf_doc(term) × n_docs /
    df(term) (log-free TF-IDF proxy; BIGINT-exact numerator, one IEEE
    division). df counts DOCUMENTS containing the term (a second aggregate
    over tf's output — the corpus is re-scanned for it, which at 100 TB a
    caller amortizes by persisting the (doc_id, term, tf) aggregate when
    computing both). The per-doc top-k is a row_number window whose rank
    filter pushes into the sort as WindowGroupLimit (verified in the
    physical plan); partitions are doc-sized, so no straggler risk at any
    corpus size.

    Growth model (10× stress attribution, r7): the tf explode+aggregate
    ALONE runs ~5.7× at 10× data (0.38s → 2.15s), so the whole query's
    ~5× ratio is token-volume-bound linear work — three shuffles each
    carrying O(total tokens) rows and almost no fixed overhead to
    amortize — not a super-linear blow-up. Expected time ≈ c·tokens;
    the steeper-than-peers 10× ratio in SCALE records is the absence of
    constant-cost amortization that flatters cheaper queries. The df join
    stays an equi-join on term (AQE skew-split eligible for stopword-hot
    terms), which is why it is not folded into an unsplittable per-term
    window.
    """
    tok = documents.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    n_docs = documents.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df_docs",
            (F.col("tf") * F.col("n_docs") / F.col("df_docs")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tf", "df_docs", "score")
    )


def bigram_lift(
    documents: DataFrame, top_n: int = 5, min_support: int = 5
) -> DataFrame:
    """X14: collocation mining per language — top bigrams by LIFT, the
    log-free PMI ordering.

    X8 ranks bigrams by raw frequency, which surfaces stopword pairs; the
    collocation question is "which pairs co-occur far more than their
    parts predict". PMI = log(N·c(ab) / (c(a)·c(b))) — and since log is
    monotone, ranking by the INSIDE ratio (lift) gives the identical
    order with no libm portability risk (the same trick as X12's log-free
    TF-IDF). Numerator ``N·c(ab)`` and denominator ``c(a)·c(b)`` are
    exact BIGINT products; ``lift`` is one final IEEE division, identical
    across engines. ``min_support`` keeps rare-pair noise from dominating
    (classic PMI failure mode). One bigram aggregation + one unigram
    aggregation + two equi-joins on (lang, token); the top-N rank plans as
    WindowGroupLimit.
    """
    toks = tokens(F.col("text"))
    base = documents.select("lang", toks.alias("t")).filter(F.size("t") >= 2)
    bigrams = base.select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))")
        ).alias("bigram"),
    )
    # Both count tables are referenced twice downstream (pair_counts by the
    # split AND the per-lang total; unigrams by the w1 AND w2 joins) —
    # checkpointing them cuts the corpus parquet scans from 4 to 1 (they
    # are vocab-sized, orders of magnitude smaller than the corpus).
    pair_counts = (
        bigrams.groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .localCheckpoint(eager=True)
    )
    n_positions = pair_counts.groupBy("lang").agg(
        F.sum("n_ab").alias("n_positions")
    )
    unigrams = (
        documents.select("lang", F.explode(toks).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n_tok"))
        .localCheckpoint(eager=True)
    )
    split = pair_counts.filter(F.col("n_ab") >= min_support).select(
        "lang",
        "n_ab",
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    joined = (
        split.join(
            unigrams.select(
                "lang", F.col("token").alias("w1"), F.col("n_tok").alias("n_a")
            ),
            ["lang", "w1"],
        )
        .join(
            unigrams.select(
                "lang", F.col("token").alias("w2"), F.col("n_tok").alias("n_b")
            ),
            ["lang", "w2"],
        )
        .join(F.broadcast(n_positions), "lang")
        .withColumn(
            "lift",
            (F.col("n_positions") * F.col("n_ab")) / (F.col("n_a") * F.col("n_b")),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("lift").desc(), "w1", "w2")
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_n)
        .select(
            "lang", "rank", "w1", "w2", "n_ab", "n_a", "n_b", "n_positions", "lift"
        )
    )


def length_percentiles(
    documents: DataFrame,
    lo: int = 30,
    hi: int = 80,
) -> DataFrame:
    """X15: per-source DOCUMENT-LENGTH distribution — the panel a curation
    team reads before setting length gates (too-short docs are boilerplate
    fragments, too-long ones are concatenation accidents): p25/50/75/99 of
    per-doc token counts (the SHARED O8/T45 order-statistic convention —
    value at row floor((n−1)·p) of the sorted group, so the panel can
    never disagree with the observability family's rank semantics), plus
    the two gate-design shares (docs under ``lo``/over ``hi`` tokens —
    defaults 30/80 to discriminate on this 11–99-token corpus; production
    gates are typically ~10/~400 and are plain parameters).

    Token count is X3's whitespace definition (`size(split)`) — one
    definition with the token-counting operator, so the gate thresholds
    this panel motivates apply to exactly the counts the pipeline filters
    on.

    Scale shape: one narrow (source, n_tokens) projection, one ranked
    window per source.
    """
    from .observability import _ranked_with_n

    base = documents.select(
        "source",
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    ranked = _ranked_with_n(base, "source", ["n_tokens", "doc_id"])

    def pick(p, name):
        return F.max(
            F.when(
                F.col("rn") - 1 == F.floor((F.col("n") - 1) * p),
                F.col("n_tokens"),
            )
        ).alias(name)

    return (
        ranked.groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            pick(0.25, "p25_tokens"),
            pick(0.5, "p50_tokens"),
            pick(0.75, "p75_tokens"),
            pick(0.99, "p99_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum(F.when(F.col("n_tokens") < lo, 1).otherwise(0))
            .cast("long")
            .alias("n_under_lo"),
            F.sum(F.when(F.col("n_tokens") > hi, 1).otherwise(0))
            .cast("long")
            .alias("n_over_hi"),
        )
        .select(
            "*",
            F.try_divide(F.col("n_under_lo"), F.col("n_docs")).alias("share_under_lo"),
            F.try_divide(F.col("n_over_hi"), F.col("n_docs")).alias("share_over_hi"),
        )
    )


def vocab_growth(documents: DataFrame, n_buckets: int = 10) -> DataFrame:
    """X16: VOCABULARY-GROWTH (Heaps-law) panel per source — the curve a
    team reads before sizing a tokenizer vocab or deciding a source is
    saturated: docs are ordered by ``doc_id`` within each source and cut
    into ``n_buckets`` equal-rank slices; a token TYPE (X3's whitespace
    token definition) is NEW in the slice where it first occurs (min
    bucket — exact, since bucket is monotone in rank). Per (source,
    bucket): docs, token occurrences, new types, and the cumulative
    vocabulary/token totals whose ratio is the type-token curve — a
    flattening `cum_types` means more data from this source buys few new
    words.

    Scale shape: doc ranks come from the SHARED ``_ranked_with_n`` window
    per source; the explode is one linear pass with the
    (source, token) min-bucket reduction map-side combined; the
    cumulative windows run over ≤ ``n_buckets`` rows per source —
    bounded, never data-sized. All-BIGINT until the final try_divide
    ratios; full hash-exact oracle.
    """
    from .observability import _ranked_with_n

    base = documents.select("doc_id", "source", tokens(F.col("text")).alias("toks"))
    ranked = _ranked_with_n(
        base.select("source", "doc_id"), "source", ["doc_id"]
    ).withColumn(
        "bucket", F.expr(f"(rn - 1) * {int(n_buckets)} DIV n").cast("long")
    )
    toks = base.select(
        "source", "doc_id", F.explode("toks").alias("token")
    ).join(ranked.select("source", "doc_id", "bucket"), ["source", "doc_id"])
    occ = toks.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    first_seen = toks.groupBy("source", "token").agg(
        F.min("bucket").alias("bucket")
    )
    news = first_seen.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("new_types")
    )
    docs = ranked.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    panel = (
        docs.join(occ, ["source", "bucket"], "left")
        .join(news, ["source", "bucket"], "left")
        .fillna(0, ["n_tokens", "new_types"])
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return panel.select(
        "source",
        "bucket",
        "n_docs",
        "n_tokens",
        "new_types",
        F.sum("new_types").over(w_cum).cast("long").alias("cum_types"),
        F.sum("n_tokens").over(w_cum).cast("long").alias("cum_tokens"),
    ).withColumn(
        "type_token_ratio", F.try_divide(F.col("cum_types"), F.col("cum_tokens"))
    )


def dup_fraction(
    documents: DataFrame, df_threshold: int = 2, n_bins: int = 10
) -> DataFrame:
    """X17: per-document DUPLICATE-FRACTION scoring — the soft-dedup
    signal between "keep" and "delete": the share of a doc's distinct
    shingles that also occur in other documents (corpus document
    frequency ≥ ``df_threshold``). Hard dedup (D-group) removes
    near-identical PAIRS; this scores every doc's boilerplate-ness on a
    continuum — the RefinedWeb/SlimPajama-style signal a pipeline uses
    to DOWN-WEIGHT templated/syndicated text rather than drop it, and
    the distribution a team reads before choosing that weight curve.

    Output is the per-(source, decile-bin) panel of that distribution:
    doc counts and token mass per dup-fraction bin — all-BIGINT counts
    with the fraction binned by the cross-multiplied integer rule
    ``bin = min(n_dup·n_bins DIV n_shingles, n_bins−1)`` (no float
    boundaries to disagree on). Full hash-exact oracle.

    Scale shape: shingle df is one explode + map-side-combined groupBy;
    the per-doc score is a second aggregation of the SAME exploded rows
    joined to df (shuffle keyed on shingle, then on doc) — both linear;
    the panel is |sources| × n_bins rows.
    """
    from ..functions.text import corpus, shingles

    toks = tokens(F.col("text"))
    base = (
        corpus(documents)
        .select("doc_id", "source", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            "source",
            shingles(F.col("toks")).alias("sh"),
            F.size("toks").cast("long").alias("ws_tokens"),
        )
        .localCheckpoint(eager=True)
    )
    ex = base.select("doc_id", F.explode("sh").alias("shingle"))
    df_tbl = ex.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    per_doc = (
        ex.join(df_tbl, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("df") >= int(df_threshold)).cast("long"))
            .cast("long")
            .alias("n_dup"),
        )
    )
    scored = base.select("doc_id", "source", "ws_tokens").join(per_doc, "doc_id")
    bin_col = F.least(
        F.expr(f"n_dup * {int(n_bins)} DIV n_shingles"), F.lit(n_bins - 1)
    ).cast("long")
    return (
        scored.groupBy("source", bin_col.alias("dup_bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ws_tokens").cast("long").alias("total_tokens"),
            F.sum("n_dup").cast("long").alias("total_dup_shingles"),
            F.sum("n_shingles").cast("long").alias("total_shingles"),
        )
        .withColumn(
            "token_share_of_source",
            F.try_divide(
                F.col("total_tokens"),
                F.sum("total_tokens").over(Window.partitionBy("source")),
            ),
        )
    )


def text_unigram_surprisal(documents: DataFrame) -> DataFrame:
    """X18: unigram-LM surprisal score per document — the CCNet-style
    "perplexity filter" signal (docs whose tokens are corpus-rare read as
    noise/boilerplate-free but also as gibberish; docs of only
    ultra-common tokens read as template sludge), at INTEGER-EXACT log2
    granularity: a token's surprisal is ``bitlen(N) − bitlen(c)`` where
    ``bitlen(x) = length(bin(x)) = floor(log2 x)+1`` (identical BIGINT
    semantics in Spark and DuckDB — no float log anywhere, so the oracle
    is hash-exact where a real −log p sum would drift across engines;
    the ±1-bit granularity is documented, not hidden: scores order docs
    by ~log2 likelihood, which is what a filter thresholds anyway).

    Scale shape: one token aggregation builds the vocab-sized frequency
    table; docs join it token-wise (shuffle on token — the corpus-sized
    pass) and aggregate back per doc. The corpus mean arrives as a
    broadcast 1-row frame (T38 posture); the above/below verdict is a
    BIGINT cross-multiplication, display ratio one final division.
    """
    toks = tokens(F.col("text"))
    tok_rows = documents.select(
        "doc_id", "source", F.explode(toks).alias("token")
    )
    freq = tok_rows.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(
        F.sum("c").alias("n_total"),
        F.length(F.bin(F.sum("c"))).cast("long").alias("total_bits"),
    )
    per_doc = (
        tok_rows.join(freq, "token")
        .join(F.broadcast(total))
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(
                F.col("total_bits") - F.length(F.bin(F.col("c"))).cast("long")
            )
            .cast("long")
            .alias("sum_surprisal_bits"),
        )
        .withColumn(
            "mean_surprisal_x100",
            F.expr("sum_surprisal_bits * 100 DIV n_tokens"),
        )
    )
    corpus_mean = per_doc.agg(
        F.sum("sum_surprisal_bits").alias("corpus_bits"),
        F.sum("n_tokens").alias("corpus_tokens"),
    )
    return (
        per_doc.join(F.broadcast(corpus_mean))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "sum_surprisal_bits",
            "mean_surprisal_x100",
            # doc mean > corpus mean  ⟺  sum·ct > cb·nt  (exact integers)
            (
                F.col("sum_surprisal_bits") * F.col("corpus_tokens")
                > F.col("corpus_bits") * F.col("n_tokens")
            )
            .cast("int")
            .alias("above_corpus_avg"),
            F.try_divide(F.col("corpus_bits"), F.col("corpus_tokens")).alias(
                "corpus_mean_bits"
            ),
        )
    )


def text_nb_langid(documents: DataFrame) -> DataFrame:
    """X23: Naive Bayes language ID at INTEGER-EXACT log2 granularity —
    the trained upgrade of X1's marker heuristic (X1 scores profile-token
    OVERLAP; NB weighs EVERY token by its per-language likelihood, the
    fasttext-style linear classifier's closed-form cousin) with no float
    log anywhere, so the whole report is hash-exact where a real
    log-likelihood sum would drift across engines (the X18 trick applied
    to classification).

    Same split as X1 (train = even doc_ids, score = odd): per-language
    token counts ``c`` with add-one smoothing over the TRAIN vocabulary
    ``V``, a token's surprisal for language l is ``bitlen(T_l + V) −
    bitlen(c + 1)`` (bitlen(x) = floor(log2 x)+1 — exact BIGINT in both
    engines, ±1-bit granularity documented), a document's score adds the
    class-prior bits ``bitlen(N_train_docs) − bitlen(n_docs_l)``, and the
    prediction is the argmin-bits language (tie-break lang ascending).
    OOV tokens smooth to ``bitlen(T_l + V) − 1`` — the channel that
    separates languages with disjoint vocabularies.

    Scale: one train-side aggregation (vocab-sized), the score side
    fans out |langs|× per test token TYPE (languages are a handful —
    bounded, and the per-(token, lang) table joins on token, the same
    shuffle X18 pays), one per-(doc, lang) aggregate, one argmin window
    per doc. Output per scored doc: prediction, truth, winner bits,
    margin to runner-up (the confidence signal a router thresholds).
    """
    toks = tokens(F.col("text"))
    train_tok = documents.filter(F.col("doc_id") % 2 == 0).select(
        "lang", F.explode(toks).alias("token")
    )
    counts = train_tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    vocab = train_tok.select("token").distinct().agg(
        F.count(F.lit(1)).alias("v")
    )
    train_docs = documents.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang"
    )
    n_train = train_docs.agg(F.count(F.lit(1)).alias("n_train"))
    langs = (
        train_docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs_l"))
        .join(
            counts.groupBy("lang").agg(F.sum("c").alias("t_l")), "lang"
        )
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_train))
        .select(
            F.col("lang").alias("cand_lang"),
            (F.length(F.bin(F.col("n_train"))) - F.length(F.bin("n_docs_l")))
            .cast("long")
            .alias("prior_bits"),
            F.length(F.bin(F.col("t_l") + F.col("v")))
            .cast("long")
            .alias("denom_bits"),
        )
    )
    test_tok = (
        documents.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.col("lang").alias("actual_lang"), F.explode(toks).alias("token"))
        .groupBy("doc_id", "actual_lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    scored = (
        test_tok.crossJoin(F.broadcast(langs))
        .join(
            counts.select(
                F.col("lang").alias("cand_lang"), "token", "c"
            ),
            ["cand_lang", "token"],
            "left",
        )
        .select(
            "doc_id",
            "actual_lang",
            "cand_lang",
            "prior_bits",
            (
                F.col("cnt")
                * (
                    F.col("denom_bits")
                    - F.length(F.bin(F.coalesce(F.col("c"), F.lit(0)) + 1)).cast(
                        "long"
                    )
                )
            ).alias("bits"),
        )
        .groupBy("doc_id", "actual_lang", "cand_lang")
        .agg(
            (F.min("prior_bits") + F.sum("bits")).cast("long").alias("nb_bits")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("nb_bits").asc(), F.col("cand_lang").asc()
    )
    ranked = scored.withColumn("rn", F.row_number().over(w)).withColumn(
        "runner_bits", F.lead("nb_bits").over(w)
    )
    return ranked.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("cand_lang").alias("predicted_lang"),
        "actual_lang",
        "nb_bits",
        (F.col("runner_bits") - F.col("nb_bits")).cast("long").alias("margin_bits"),
        (F.col("cand_lang") == F.col("actual_lang")).alias("correct"),
    )


def text_distribution_drift(
    documents: DataFrame, boundary: int = 1_000_000
) -> DataFrame:
    """X19: token-DISTRIBUTION DRIFT between the committed corpus and the
    arriving batch, per source — the data-shift monitor a training
    pipeline runs between crawls (a new crawl whose unigram distribution
    moved is re-weighted or quarantined before it skews the mixture; the
    same panel catches encoding regressions and scraper breakage, which
    show up as vocabulary churn long before loss curves move).

    Drift is the exact TOTAL-VARIATION distance between the two unigram
    distributions, held as integers until the last step: with per-source
    totals N_old/N_new, ``Σ_tokens |c_old·N_new − c_new·N_old|`` is an
    exact BIGINT (products bounded by N_old·N_new ≪ 2^63 at any test
    scale; a 100 TB deployment widens to DECIMAL(38,0), the O63
    convention) and ``tv = Σ / (2·N_old·N_new)`` is one final division —
    0 for identical distributions, 1 for disjoint vocabularies (pinned
    in tests). Vocabulary churn (types only the new batch has, types it
    lost) counts from the same full-outer join.

    Scale shape: two token aggregations (each map-side combined,
    vocab-sized outputs), one full-outer equi-join on (source, token),
    per-source totals as a broadcast; nothing corpus-sized survives the
    first aggregation.
    """
    from ..functions.text import corpus

    c = corpus(documents)
    tok = lambda df: df.select(  # noqa: E731
        "source", F.explode(tokens(F.col("text"))).alias("token")
    ).groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    old = tok(c.filter(F.col("doc_id") < boundary)).withColumnRenamed("c", "c_old")
    new = tok(c.filter(F.col("doc_id") >= boundary)).withColumnRenamed("c", "c_new")
    joined = old.join(new, ["source", "token"], "full_outer").select(
        "source",
        "token",
        F.coalesce("c_old", F.lit(0)).cast("long").alias("c_old"),
        F.coalesce("c_new", F.lit(0)).cast("long").alias("c_new"),
    )
    totals = joined.groupBy("source").agg(
        F.sum("c_old").cast("long").alias("n_old"),
        F.sum("c_new").cast("long").alias("n_new"),
    )
    return (
        joined.join(F.broadcast(totals), "source")
        .groupBy("source")
        .agg(
            F.max("n_old").alias("n_old_tokens"),
            F.max("n_new").alias("n_new_tokens"),
            F.sum((F.col("c_old") > 0).cast("long")).cast("long").alias("n_types_old"),
            F.sum((F.col("c_new") > 0).cast("long")).cast("long").alias("n_types_new"),
            F.sum(((F.col("c_old") == 0) & (F.col("c_new") > 0)).cast("long"))
            .cast("long")
            .alias("n_gained_types"),
            F.sum(((F.col("c_new") == 0) & (F.col("c_old") > 0)).cast("long"))
            .cast("long")
            .alias("n_lost_types"),
            F.sum(
                F.abs(F.col("c_old") * F.col("n_new") - F.col("c_new") * F.col("n_old"))
            )
            .cast("long")
            .alias("l1_scaled"),
        )
        .select(
            "*",
            F.try_divide(
                F.col("l1_scaled"),
                F.lit(2.0) * F.col("n_old_tokens") * F.col("n_new_tokens"),
            ).alias("tv_distance"),
        )
    )
