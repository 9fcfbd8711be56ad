"""Cross-document corpus statistics: repeated-span audits, unigram
language-model quality scoring, and bounded-state distinct sketches.

These are the corpus-global curation operators that complement the
row-local scores in ``functions/text.py``: each one needs information
from OTHER rows (gram document frequencies, corpus token counts, hash
populations), so the design problem is keeping the shuffled rows slim
and the aggregates map-side combinable. Every function has an exact
ANSI-SQL restatement used by the DuckDB oracle in
``__spark_entry__.py`` — the quantization grids and tie orders are part
of the operator spec, not test hackery.

Reference anchor: the reference repo scores corpora with set-based
micro P/R/F1 over extracted pairs (/root/reference/utils.py:613-634);
these operators are the corpus-hygiene stage that runs BEFORE such a
model ever sees the data (dedup audits, LM filtering), per the
training-data-pipeline scope in SURVEY §6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ner_spark.functions.colutil import let
from ner_spark.functions.text import tokens_col
from ner_spark.operators.linking import md5_hash60_col

# hash-threshold for the distinct sketch: keep h when h < 2^60 / RATE
SKETCH_RATE = 256
H60_SPACE = 1 << 60


def dup_span_fraction(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document repeated-span audit — ``(doc_id, n_spans,
    n_dup_spans, dup_fraction_micro)`` where a *span* is a word
    ``n``-gram (lowercased single-space tokens, the corpus-wide
    convention) and a span is *duplicated* when the SAME n-gram occurs
    in at least one OTHER document. ``dup_fraction_micro`` =
    floor(1e6 · n_dup/n_spans) (0 for docs shorter than ``n`` tokens —
    degenerate inputs pinned, they still get a row).

    This is the exact n-gram restatement of the memorization audit in
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al., 2022): documents with a high duplicated-span fraction are
    near-copies or heavy boilerplate even when no whole-document hash
    matches, and are the first candidates for removal before training.

    Scale shape: gram *hashes* (60-bit md5 longs) are computed inside a
    row-local array transform and de-duplicated per document BEFORE the
    explode, so every shuffled row is a slim ``(doc_id, long)`` pair —
    the gram STRINGS never leave the scan stage. The document-frequency
    aggregate is map-side combinable on the hash key; because each doc
    contributes a gram at most once, ``count(*)`` IS the document
    frequency (no countDistinct expansion). The join back to the
    per-doc gram list is a plain hash join on the uniformly-distributed
    64-bit key — no skew by construction. Two exchanges total, both
    carrying integers.
    """
    # let-bind the token array: an inlined split would re-tokenize the
    # text once per gram index (quadratic in document length)
    gram_hashes = let(
        tokens_col(F.lower(F.col(text_col))),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: md5_hash60_col(
                        F.concat_ws(" ", F.slice(toks, i + F.lit(1), n))
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<long>")),
    )
    per_doc = df.select(
        F.col(id_col).alias("doc_id"), gram_hashes.alias("gh")
    )
    spans = per_doc.select(
        "doc_id", F.explode("gh").alias("h")
    )
    # per-doc dedup above makes count(*) the document frequency
    dfreq = spans.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    flagged = spans.join(dfreq, "h").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).alias(
            "n_dup_spans"
        ),
    )
    # left join restores span-free (short/NULL-text) docs with zeros
    return (
        per_doc.select("doc_id")
        .join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.when(
                F.coalesce("n_spans", F.lit(0)) > 0,
                F.floor(
                    F.lit(1_000_000)
                    * F.col("n_dup_spans")
                    / F.col("n_spans")
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_fraction_micro"),
        )
    )


def dup_span_removal(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The ACTION half of the repeated-span audit — ``(doc_id,
    n_tokens, n_removed, clean_text)``: every token covered by at least
    one duplicated word ``n``-gram (same duplication predicate as
    ``dup_span_fraction``: the gram occurs in >= 2 distinct documents)
    is EXCISED, and ``clean_text`` is the surviving tokens of the
    lowercased single-space stream re-joined in original order. Docs
    shorter than ``n`` tokens pass through untouched; NULL text yields
    ``(0, 0, '')`` — degenerate inputs pinned.

    This is the exact-substring removal step of "Deduplicating Training
    Data Makes Language Models Better" (Lee et al., 2022) at word-gram
    granularity: rather than dropping whole near-duplicate documents,
    only the memorized spans are cut, preserving the unique remainder.

    Scale shape: gram hashes are computed row-local; document frequency
    reuses the dup_span_fraction device (per-doc distinct before the
    explode, so ``count(*)`` IS the doc frequency and shuffled rows are
    slim ``(doc_id, int64)``). Duplicated gram START positions come
    from a semi-join of positional ``(doc_id, pos, h)`` rows against
    the duplicated-hash set (uniform 64-bit key, no skew); coverage
    expands each start into exactly ``n`` token positions (bounded
    fan-out) and the reconstruction is one anti-join of positional
    token rows plus one doc-keyed aggregate whose buffer is the
    document itself — the same per-row bound the input already has.
    The per-doc gram-hash frame is persisted so the md5 pass (the
    dominant per-byte CPU: one hash per gram) runs ONCE and feeds both
    its consumers (the doc-frequency branch and the positional
    branch); the token-side scans re-read only the pruned
    (id, text) columns and do no hashing. Every step is a pure
    function of the corpus: no window over the corpus dimension, no
    collect, deterministic on any partitioning.
    """
    from ner_spark.functions.dedup import register_persist
    toks = F.when(
        F.col(text_col).isNotNull(), tokens_col(F.lower(F.col(text_col)))
    ).otherwise(F.array().cast("array<string>"))
    gram_hashes = let(
        toks,
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: md5_hash60_col(
                    F.concat_ws(" ", F.slice(t, i + F.lit(1), n))
                ),
            ),
        ).otherwise(F.array().cast("array<long>")),
    )
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
    gb = register_persist(
        df.select(F.col(id_col).alias("doc_id"), gram_hashes.alias("g"))
    )
    spans = gb.select("doc_id", F.explode(F.array_distinct("g")).alias("h"))
    dup_h = (
        spans.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("h")
    )
    dup_starts = (
        gb.select("doc_id", F.posexplode("g").alias("pos", "h"))
        .join(dup_h, "h", "left_semi")
        .select("doc_id", "pos")
    )
    covered = dup_starts.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("tpos"),
    ).distinct()
    tok_rows = base.select(
        "doc_id", F.posexplode("t").alias("tpos", "token")
    )
    kept = tok_rows.join(covered, ["doc_id", "tpos"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "token"))),
                lambda s: s["token"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select("doc_id", F.size("t").alias("n_tokens"))
        .join(clean, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram language-model quality score per document —
    ``(doc_id, n_tokens, mean_nll_micro)`` where the corpus itself is
    the LM: add-one-smoothed token probability
    p(w) = (count(w)+1)/(total+vocab), per-token negative log
    likelihood quantized to the 1e-6 grid, and the per-doc mean taken
    in INTEGER arithmetic (sum of int64 micro-NLLs ``div`` token
    count). Empty/NULL-text docs get (0, 0) — degenerate inputs pinned.

    This is the distributed restatement of the KenLM perplexity filter
    used by CCNet/The Pile-style curation: documents whose tokens are
    systematically improbable under the corpus distribution (junk,
    encoding noise, non-text) score a high mean NLL and are pruned or
    down-weighted before training.

    Determinism across engines and partitionings: the ONLY float step
    is one ``ln`` per distinct vocabulary entry, floored onto the
    micro grid immediately (the same libm-then-floor contract the BM25
    scorer uses); everything that touches corpus order — the token
    counts, the per-doc sum, the mean — is integer. Plan shape: one
    token-keyed hash aggregate builds the lexicon (map-side combined),
    a scalar (total, vocab) aggregate is broadcast via crossJoin, and
    the scoring pass is a hash join from exploded slim ``(doc_id,
    token)`` rows to the lexicon followed by one doc-keyed aggregate.
    """
    toks = tokens_col(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
    tok_rows = base.select(
        "doc_id", F.explode_outer("t").alias("token")
    ).where(F.col("token").isNotNull() & (F.col("token") != ""))
    lex_counts = tok_rows.groupBy("token").agg(
        F.count(F.lit(1)).alias("c")
    )
    stats = lex_counts.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    lexicon = lex_counts.crossJoin(F.broadcast(stats)).select(
        "token",
        F.floor(
            F.lit(-1_000_000.0)
            * F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("total") + F.col("vocab")).cast("double")
            )
        )
        .cast("long")
        .alias("nll_micro"),
    )
    scored = (
        tok_rows.join(lexicon, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("nll_micro").alias("nll_sum"),
        )
    )
    return (
        base.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.expr("nll_sum div n_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mean_nll_micro"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    lam_micro: int = 800_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated BIGRAM language-model quality score per document —
    ``(doc_id, n_tokens, mean_nll_micro)`` — the upgrade over
    ``unigram_logprob`` that separates fluent text from
    bag-of-frequent-words garbage: a shuffled document keeps its
    unigram distribution but destroys its bigram continuations, so its
    bigram NLL rises while the unigram proxy stays flat.

    Model (pinned): the token stream is the NON-EMPTY lowercased
    whitespace tokens in order. Position 0 scores as the add-one
    unigram p(w) = (c(w)+1)/(total+V); positions i >= 1 score as the
    Jelinek-Mercer interpolation
    p(w_i | w_{i-1}) = lam * c(w_{i-1} w_i)/c(w_{i-1})
                     + (1-lam) * (c(w_i)+1)/(total+V)
    with lam = lam_micro/1e6 (default 0.8) and c() the corpus counts
    (the ML bigram term's denominator is the plain unigram count — the
    doc-final-token mismatch is part of the spec). Per-position NLLs
    are floored onto the 1e-6 grid, the per-doc mean is integer
    (sum div count). Empty/NULL-text docs get (0, 0).

    Determinism across engines: the only transcendental is one ``ln``
    per DISTINCT scored key (each distinct bigram, each distinct
    first-position token), fed by IEEE-exact +,*,/ of integer counts —
    the same libm-then-floor contract unigram_logprob and BM25 ride.

    Plan shape (the 100-TB accounting): corpus scan 1 emits BOTH
    lexicons' key rows in one explode (every position a ``('u', w)``
    row, every adjacency a ``('b', prev, cur)`` row — 2n-1 slim string
    rows per doc) into ONE map-side-combined aggregate; the scored
    lexicon derives from that persisted count table with vocab-sized
    joins. Corpus scan 2 emits the per-position SCORING keys (position
    0 unigram, the rest bigram) and hash-joins them onto the persisted
    scored lexicon; one doc-keyed aggregate closes, and the
    degenerate-doc restore re-reads only the pruned id column. Two
    full-text passes total — no per-lexicon re-scan, no window, no
    collect, no corpus-order dependence.
    """
    from ner_spark.functions.dedup import register_persist

    toks = let(
        tokens_col(F.lower(F.col(text_col))),
        lambda t: F.filter(t, lambda x: x != ""),
    )
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
    # k2 = '' sentinel for unigram rows: tokens are non-empty after the
    # filter, so '' never collides with a real right-token and the
    # 3-column equi-join needs no null-safe comparison
    def _kind_rows(src: DataFrame, uni_all: bool) -> DataFrame:
        """(doc_id, kind, k1, k2) key rows: bigrams at every adjacency;
        unigrams at every position (lexicon pass) or position 0 only
        (scoring pass)."""
        uni = (
            F.transform(
                F.col("t"),
                lambda x: F.struct(
                    F.lit("u").alias("kind"),
                    x.alias("k1"),
                    F.lit("").alias("k2"),
                ),
            )
            if uni_all
            else F.when(
                F.size("t") >= 1,
                F.array(
                    F.struct(
                        F.lit("u").alias("kind"),
                        F.element_at(F.col("t"), 1).alias("k1"),
                        F.lit("").alias("k2"),
                    )
                ),
            ).otherwise(
                F.array().cast("array<struct<kind:string,k1:string,k2:string>>")
            )
        )
        big = F.when(
            F.size("t") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 1),
                lambda i: F.struct(
                    F.lit("b").alias("kind"),
                    F.element_at(F.col("t"), i).alias("k1"),
                    F.element_at(F.col("t"), i + F.lit(1)).alias("k2"),
                ),
            ),
        ).otherwise(
            F.array().cast("array<struct<kind:string,k1:string,k2:string>>")
        )
        return src.select(
            "doc_id", F.explode(F.concat(uni, big)).alias("r")
        ).select(
            "doc_id",
            F.col("r.kind").alias("kind"),
            F.col("r.k1").alias("k1"),
            F.col("r.k2").alias("k2"),
        )

    lexc = register_persist(
        _kind_rows(base, uni_all=True)
        .groupBy("kind", "k1", "k2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = lexc.where(F.col("kind") == "u").select(
        F.col("k1").alias("token"), "c"
    )
    stats = uni.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    )
    lam = F.lit(lam_micro).cast("double") / F.lit(1_000_000.0)
    uni_scored = uni.crossJoin(F.broadcast(stats)).select(
        F.lit("u").alias("kind"),
        F.col("token").alias("k1"),
        F.lit("").alias("k2"),
        F.floor(
            F.lit(-1_000_000.0)
            * F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("total") + F.col("vocab")).cast("double")
            )
        )
        .cast("long")
        .alias("nll_micro"),
    )
    big_scored = (
        lexc.where(F.col("kind") == "b")
        .withColumnRenamed("c", "c_pc")
        .join(
            uni.select(F.col("token").alias("k1"), F.col("c").alias("c_prev")),
            "k1",
        )
        .join(
            uni.select(F.col("token").alias("k2"), F.col("c").alias("c_cur")),
            "k2",
        )
        .crossJoin(F.broadcast(stats))
        .select(
            F.lit("b").alias("kind"),
            "k1",
            "k2",
            F.floor(
                F.lit(-1_000_000.0)
                * F.log(
                    lam
                    * F.col("c_pc").cast("double")
                    / F.col("c_prev").cast("double")
                    + (F.lit(1.0) - lam)
                    * (F.col("c_cur") + 1).cast("double")
                    / (F.col("total") + F.col("vocab")).cast("double")
                )
            )
            .cast("long")
            .alias("nll_micro"),
        )
    )
    score_lex = register_persist(uni_scored.unionByName(big_scored))
    scored = (
        _kind_rows(base, uni_all=False)
        .join(score_lex, ["kind", "k1", "k2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("nll_micro").alias("nll_sum"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.expr("nll_sum div n_tokens"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mean_nll_micro"),
        )
    )


def distinct_sketch(
    df: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
    rate: int = SKETCH_RATE,
) -> DataFrame:
    """Bounded-state distinct-count estimation per group —
    ``(event_type, n_kept, est_distinct, exact_distinct, err_micro)``
    via deterministic hash-threshold sampling: a key survives when its
    60-bit md5 hash falls below ``2^60 / rate``, so the kept set is a
    uniform 1/rate sample of the DISTINCT key population (duplicates
    hash identically — frequency doesn't bias the sketch), and
    ``est = n_kept · rate``.

    This is the mergeable-sketch pattern (KMV / theta-sketch family,
    DataSketches) that makes COUNT DISTINCT feasible at 100 TB: the
    per-group state is the kept-hash set, expected |distinct|/rate
    entries, union-mergeable across partitions/days with no rescan.
    The estimator is a pure function of the key SET — identical on any
    engine, partitioning, or arrival order (no RNG, no HLL register
    race). Relative error concentrates as 1/sqrt(n_kept).

    ``exact_distinct``/``err_micro`` are EVAL columns (this query is
    the estimator's accuracy report card); production callers read
    ``est_distinct`` only and never pay the exact pass. Plan: ONE
    group-keyed aggregate — the kept-set count is
    ``count_distinct(when(h < T, h))``, partial-aggregated map-side
    alongside the exact count.
    """
    threshold = H60_SPACE // rate
    h = md5_hash60_col(F.col(key_col).cast("string"))
    base = df.select(F.col(group_col).alias("grp"), h.alias("h"))
    out = base.groupBy("grp").agg(
        F.count_distinct(
            F.when(F.col("h") < threshold, F.col("h"))
        ).alias("n_kept"),
        F.count_distinct("h").alias("exact_distinct"),
    )
    return out.select(
        F.col("grp").alias(group_col),
        "n_kept",
        (F.col("n_kept") * rate).alias("est_distinct"),
        "exact_distinct",
        F.when(
            F.col("exact_distinct") > 0,
            F.floor(
                F.lit(1_000_000)
                * F.abs(F.col("n_kept") * rate - F.col("exact_distinct"))
                / F.col("exact_distinct")
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("err_micro"),
    )


def source_overlap(
    df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Cross-source n-gram contamination matrix — ``(source_a,
    source_b, n_common, n_a, n_b, jaccard_micro)`` for every source
    pair sharing at least one word ``n``-gram: the provenance view a
    curation pipeline uses to catch one crawl re-packaging another (or
    an eval set leaking into a training source) BEFORE mixing weights
    are assigned. Jaccard is over each source's distinct-gram SET,
    floored onto the 1e-6 grid.

    Scale shape: gram hashes are computed row-local and deduped to
    ``(source, h)`` rows (one exchange; the distinct is map-side
    combinable), so each gram appears at most once per source and the
    self-join on the uniform 64-bit hash key has per-key fan-out
    bounded by the SOURCE COUNT — the pair enumeration is
    |common grams| × O(|sources|²) worst case, never corpus-quadratic.
    Per-source totals are a tiny aggregate broadcast onto the pair
    counts. At a real corpus's source cardinality (thousands), the
    matrix itself stays driver-small while all heavy work is
    gram-partitioned.
    """
    # let-bind the token array: an inlined split would re-tokenize the
    # text once per gram index (quadratic in document length)
    gram_hashes = let(
        tokens_col(F.lower(F.col(text_col))),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: md5_hash60_col(
                        F.concat_ws(" ", F.slice(toks, i + F.lit(1), n))
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<long>")),
    )
    sg = (
        df.select(F.col(group_col).alias("src"), gram_hashes.alias("gh"))
        .select("src", F.explode("gh").alias("h"))
        .distinct()
    )
    totals = sg.groupBy("src").agg(F.count(F.lit(1)).alias("n_grams"))
    a = sg.select(F.col("src").alias("source_a"), "h")
    b = sg.select(F.col("src").alias("source_b"), "h")
    common = (
        a.join(b, "h")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(totals.withColumnRenamed("src", "source_a")), "source_a"
        )
        .withColumnRenamed("n_grams", "n_a")
        .join(
            F.broadcast(totals.withColumnRenamed("src", "source_b")), "source_b"
        )
        .withColumnRenamed("n_grams", "n_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            F.floor(
                F.lit(1_000_000)
                * F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            )
            .cast("long")
            .alias("jaccard_micro"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    n_buckets: int = 10,
    lam_micro: int = 800_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_size: int = 4096,
    scores: DataFrame | None = None,
) -> DataFrame:
    """CCNet-style perplexity banding — ``(doc_id, n_tokens,
    mean_nll_micro, decile, band)``: every document ranked by its
    interpolated-bigram LM score (``bigram_logprob``, ascending NLL =
    most fluent first, doc_id tie-break), cut into ``n_buckets``
    equal-population rank buckets, and labeled ``head`` (deciles 0-2,
    the slice CCNet keeps), ``middle`` (3-6), or ``tail`` (7-9, the
    perplexity garbage). The decile column is what a mixture scheduler
    samples against; the band is the ship/hold/drop decision.

    The ranking is an exact global rank computed WITHOUT a corpus-sized
    window: the same two-level exclusive prefix device as
    ``curriculum_schedule``, counting rows instead of tokens — level-1
    buckets are ``(mean_nll_micro, floor(doc_id / bucket_size))`` so
    NLL ties of any size stay parallel, the bucket-level offset window
    orders only slim per-bucket counts, and the corpus total arrives
    as a broadcast scalar (never a whole-frame window). Bucket
    assignment is pure integer arithmetic ``(rank · n_buckets) div
    total`` — bit-identical on every engine and partitioning.
    """
    # a caller holding the materialized per-doc LM scores (the LM score
    # table is a published artifact in a curation stack) passes it via
    # ``scores``; otherwise derive in-line. The scores are whatever that
    # table was built with, so asking for another ``lam_micro`` or
    # ``text_col`` alongside it is an error.
    if scores is not None:
        if (lam_micro, text_col) != (800_000, "text"):
            raise ValueError(
                "perplexity_buckets: lam_micro/text_col derive the scores "
                "and cannot apply to a materialized scores= table"
            )
    else:
        scores = bigram_logprob(
            df, lam_micro=lam_micro, id_col=id_col, text_col=text_col
        )
    s = scores
    t = s.withColumn("bucket", F.floor(F.col("doc_id") / bucket_size))
    btot = t.groupBy("mean_nll_micro", "bucket").agg(
        F.count(F.lit(1)).alias("bc")
    )
    wb = Window.orderBy(
        F.asc("mean_nll_micro"), F.asc("bucket")
    ).rowsBetween(Window.unboundedPreceding, 0)
    boff = btot.select(
        "mean_nll_micro",
        "bucket",
        (F.sum("bc").over(wb) - F.col("bc")).alias("boff"),
    )
    total = btot.agg(F.sum("bc").alias("n_total"))
    wd = Window.partitionBy("mean_nll_micro", "bucket").orderBy("doc_id")
    ranked = (
        t.join(F.broadcast(boff), ["mean_nll_micro", "bucket"])
        .crossJoin(F.broadcast(total))
        .withColumn("off", F.col("boff") + F.row_number().over(wd) - 1)
    )
    decile = F.expr(f"(off * {int(n_buckets)}) div n_total")
    return ranked.select(
        "doc_id",
        "n_tokens",
        "mean_nll_micro",
        decile.alias("decile"),
        F.when(decile <= (n_buckets * 3) // 10 - 1, F.lit("head"))
        .when(decile <= (n_buckets * 7) // 10 - 1, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("band"),
    )


def novelty_scores(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Prefix-novelty audit for incrementally grown corpora —
    ``(doc_id, n_grams, n_seen, novelty_micro)``: for each document,
    the fraction of its distinct word ``n``-grams that already
    appeared in any LOWER-doc_id document. ``novelty_micro =
    floor(1e6 · (1 − n_seen/n_grams))``; gram-free docs (shorter than
    ``n`` tokens or NULL text) pin to 1e6 — nothing repeated, nothing
    to discount. Where ``dup_span_fraction`` asks "is this content
    duplicated ANYWHERE", novelty asks the ingest-order question a
    crawl pipeline budgets by — "did THIS increment add anything" —
    and a sliding novelty average dropping toward 0 is the classic
    crawl-exhaustion signal.

    Scale shape (the dup_span_fraction device plus an arg-min): gram
    hashes are 60-bit md5 longs computed row-locally and de-duplicated
    per doc BEFORE the explode, so shuffled rows are slim (doc_id,
    int64) pairs; the first-occurrence owner per gram is ONE
    map-side-combinable ``min(doc_id)`` aggregate on the uniform hash
    key; the join back is a plain hash join on that key and the
    per-doc verdict one aggregate. The gram strings never leave the
    scan stage, and no step depends on partitioning or order.
    """
    from ner_spark.functions.colutil import let
    from ner_spark.operators.linking import md5_hash60_col

    gram_hashes = let(
        tokens_col(F.lower(F.col(text_col))),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: md5_hash60_col(
                        F.concat_ws(" ", F.slice(toks, i + F.lit(1), n))
                    ),
                )
            ),
        ).otherwise(F.array().cast("array<long>")),
    )
    per_doc = df.select(F.col(id_col).alias("doc_id"), gram_hashes.alias("gh"))
    spans = per_doc.select("doc_id", F.explode("gh").alias("h"))
    first = spans.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    counted = (
        spans.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_seen"),
        )
    )
    return (
        per_doc.select("doc_id")
        .join(counted, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_seen", F.lit(0)).alias("n_seen"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.floor(
                    F.lit(1_000_000)
                    * (
                        F.lit(1.0)
                        - F.col("n_seen").cast("double")
                        / F.col("n_grams").cast("double")
                    )
                ),
            )
            .otherwise(F.lit(1_000_000))
            .cast("long")
            .alias("novelty_micro"),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    n_ranks: int = 200,
) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution — one summary
    row ``(n_ranks int, slope double, intercept double)``: the
    least-squares line through (ln rank, ln freq) over the top
    ``n_ranks`` terms. A natural corpus fits slope ~ -1; templated or
    synthetic text bends the rank curve, so the slope is a cheap
    whole-corpus health indicator alongside the per-document filters
    (Piantadosi 2014 reviews the empirical law).

    Determinism: ranks are assigned (freq desc, term asc); each ln is
    floored onto the 1e-6 micro grid IMMEDIATELY (one libm call per
    rank — the unigram_logprob contract), and all regression sums run
    over those int64s. Headroom: with y = ln(freq) <= 44e6 on the grid
    (freq bounded by int64) and x = ln(rank) <= 6e6 at n_ranks <= 300,
    n * sum(x*y) stays under 2^63 for ANY corpus size — keep n_ranks
    in the low hundreds (the Zipf head is where the law lives anyway);
    the closed-form slope is then two exact integer-difference terms
    divided once in double. The SQL oracle casts its (HUGEINT) sums
    back through BIGINT to pin the identical arithmetic.

    Scale shape: token histogram = one token-keyed map-side-combined
    aggregate; the top-N is TakeOrderedAndProject (no global sort, no
    single-partition window over the term table); the 200-row tail
    does its windowed ranking and final fold in one tiny task.
    """
    toks = tokens_col(F.lower(F.col(text_col)))
    freq = (
        df.select(F.explode_outer(toks).alias("token"))
        .where(F.col("token").isNotNull() & (F.col("token") != ""))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(n_ranks)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    ranked = freq.select(F.row_number().over(w).alias("rank"), "freq")
    return loglog_fit(ranked, "rank", "freq", n_alias="n_ranks")


def loglog_fit(
    points: DataFrame, x_col: str, y_col: str, n_alias: str = "n_points"
) -> DataFrame:
    """Least-squares line through (ln x, ln y) over positive-integer
    point columns — the shared fitting tail of the corpus power-law
    operators (zipf_fit, heaps_fit). Each ln is floored onto the 1e-6
    micro grid immediately; the regression sums run in exact int64
    (headroom analysis in zipf_fit's docstring); the closed form is
    two integer-difference terms divided once in double. try_divide: a
    zero-x-variance input (one point, or all-equal x) pins slope and
    intercept to NULL on both engines (DuckDB x/0 is NULL) instead of
    raising under ANSI mode."""
    q = points.select(
        F.floor(F.lit(1e6) * F.log(F.col(x_col).cast("double")))
        .cast("long")
        .alias("x"),
        F.floor(F.lit(1e6) * F.log(F.col(y_col).cast("double")))
        .cast("long")
        .alias("y"),
    )
    s = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    # micro-grid ints -> natural units: x = X/1e6, so slope is unit-free
    # after the 1e6 cancels; intercept needs one /1e6.
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = F.try_divide(num, den)
    intercept = F.try_divide(
        F.col("sy").cast("double") - slope * F.col("sx").cast("double"), n
    ) / F.lit(1e6)
    return s.select(
        F.col("n").cast("int").alias(n_alias),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def heaps_fit(
    df: DataFrame,
    text_col: str = "text",
    n_points: int = 8,
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth — one summary row
    ``(n_points int, slope double, intercept double)`` fitting
    ln V = slope * ln N + intercept over ``n_points`` corpus prefixes
    (V = distinct vocabulary, N = total tokens in the prefix; natural
    corpora fit slope ~ 0.4-0.6). Rising slope across crawls means the
    corpus still discovers vocabulary; a flattening curve is the
    crawl-exhaustion signal next to novelty_scores' per-doc view.

    Prefixes are by doc_id order: cut j covers doc_id < ceil(D*j/P)
    (D = max id + 1). The whole computation is census-shaped — ONE
    first-occurrence aggregate (min doc_id per token: vocabulary
    growth needs only each token's FIRST document, not per-prefix
    recounts) and ONE per-doc token count, each bucketed to its
    smallest containing prefix via integer ceil-division, then
    cumulative-summed over the P-row prefix frame. Nothing rescans
    the corpus per prefix point; the only windows ride P rows.
    """
    toks = tokens_col(F.lower(F.col(text_col)))
    base = df.select(F.col("doc_id").cast("long").alias("doc_id"), toks.alias("t"))
    tok_rows = base.select(
        "doc_id", F.explode_outer("t").alias("token")
    ).where(F.col("token").isNotNull() & (F.col("token") != ""))

    dstat = base.select(
        "doc_id",
        F.size(F.filter(F.col("t"), lambda x: x != F.lit(""))).cast("long").alias("n_toks"),
    )
    dmax = dstat.agg((F.max("doc_id") + 1).alias("D"))

    # smallest prefix j containing doc x: j = ceil((P*x + 1) / D),
    # integer ceil-division (exactness over double rounding)
    def jmin(col):
        return F.expr(
            f"CAST((({n_points} * {col} + 1) + D - 1) div D AS INT)"
        )

    first = tok_rows.groupBy("token").agg(F.min("doc_id").alias("fd"))
    vper = (
        first.crossJoin(F.broadcast(dmax))
        .select(jmin("fd").alias("j"))
        .groupBy("j")
        .agg(F.count(F.lit(1)).alias("dv"))
    )
    nper = (
        dstat.crossJoin(F.broadcast(dmax))
        .select(jmin("doc_id").alias("j"), "n_toks")
        .groupBy("j")
        .agg(F.sum("n_toks").alias("dn"))
    )
    grid = dmax.select(
        F.explode(F.sequence(F.lit(1), F.lit(n_points))).alias("j")
    )
    w = Window.orderBy("j").rowsBetween(Window.unboundedPreceding, 0)
    pts = (
        grid.join(vper, "j", "left")
        .join(nper, "j", "left")
        .select(
            "j",
            F.sum(F.coalesce("dn", F.lit(0))).over(w).alias("N"),
            F.sum(F.coalesce("dv", F.lit(0))).over(w).alias("V"),
        )
        .where((F.col("N") > 0) & (F.col("V") > 0))
    )
    return loglog_fit(pts, "N", "V", n_alias="n_points")


def vocab_coverage(
    target: DataFrame,
    vocab_source: DataFrame,
    group_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary-transfer coverage — per ``group_col`` OOV rate of a
    TARGET corpus against a vocabulary built from a DIFFERENT source
    corpus (the reference's corpus-driven S1 vocabulary,
    /root/reference/utils.py:9-20 semantics: RAW whitespace tokens,
    no lowercasing): ``(group, n_tokens, n_oov, oov_micro)`` with
    oov_micro = floor(1e6 * n_oov / n_tokens). The tokenizer-transfer
    diagnostic a pipeline runs before reusing a vocabulary on a new
    domain — a rising OOV rate is the signal to retrain BPE/WordPiece
    or extend the vocab.

    Scale shape: the vocabulary is ONE distinct projection of the
    source (the token dimension); target tokens join it on the
    uniform token key with a left join folded into one group-keyed
    integer aggregate. Nothing holds more than (group, counters)
    state.
    """
    vocab = (
        vocab_source.select(
            F.explode(tokens_col(F.col(text_col))).alias("token")
        )
        .where(F.col("token") != "")
        .distinct()
        .withColumn("known", F.lit(1))
    )
    toks = target.select(
        F.col(group_col).alias("grp"),
        F.explode_outer(tokens_col(F.col(text_col))).alias("token"),
    ).where(F.col("token").isNotNull() & (F.col("token") != ""))
    return (
        toks.join(vocab, "token", "left")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("known").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_oov",
            # exact integer division (group exists => n_tokens >= 1)
            F.expr("(1000000 * n_oov) div n_tokens").alias("oov_micro"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-``k`` adjacent-word collocations by pointwise mutual
    information — ``(w1, w2, n_pair, pmi_micro)``: the corpus-level
    collocation census (Church & Hanks 1990) that surfaces multi-word
    units ("new york", "machine learning") for tokenizer vocab
    seeding, stopword-phrase filters, and boilerplate diagnostics.

    Quantization spec (two-engine exact): pmi_micro is the SUM OF
    FLOORED logs — floor(1e6·ln B) − floor(1e6·ln N_bi) −
    floor(1e6·ln U₁) − floor(1e6·ln U₂) + 2·floor(1e6·ln N_uni) —
    each term ≤ 44e6 on the grid, so the combination is exact int64 at
    any corpus size (a single-ln form would need the product ratio,
    which overflows at web scale); the result is within 5 micro of
    true PMI, and BOTH engines evaluate the identical floored terms.
    Ties rank (pmi desc, w1 asc, w2 asc).

    Plan shape: bigrams enumerate row-locally (transform over the
    token array), ONE pair-keyed and ONE token-keyed hash aggregate,
    the two scalar totals broadcast via 1-row crossJoins, two hash
    joins from the (min-count-filtered) bigram fact to the unigram
    dimension, and the top-k is TakeOrderedAndProject.
    """

    def fln(col):
        return F.floor(F.lit(1e6) * F.log(col.cast("double"))).cast("long")

    toks = tokens_col(F.lower(F.col(text_col)))
    base = df.select(
        F.filter(toks, lambda t: t != F.lit("")).alias("t")
    )
    uni = (
        base.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("u"))
    )
    bi = (
        base.select(
            F.explode(
                F.when(
                    F.size("t") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("t") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("t"), i).alias("w1"),
                            F.element_at(F.col("t"), i + 1).alias("w2"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_count)
    )
    n_uni = uni.agg(F.sum("u").alias("n_uni"))
    n_bi = (
        base.select((F.greatest(F.size("t") - 1, F.lit(0))).alias("nb"))
        .agg(F.sum("nb").alias("n_bi"))
    )
    scored = (
        bi.join(F.broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("u", "u1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("u", "u2")), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            "n_pair",
            (
                fln(F.col("n_pair"))
                - fln(F.col("n_bi"))
                - fln(F.col("u1"))
                - fln(F.col("u2"))
                + F.lit(2) * fln(F.col("n_uni"))
            ).alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_micro"), F.asc("w1"), F.asc("w2")
    ).limit(k)
