"""Deduplication operators over a document corpus.

Five families, each a `queries()` entry with a DuckDB oracle:
* exact           — content-hash groupBy (zero false positives);
* MinHash + LSH   — shingle → signature → band → bucket self-join;
* SimHash         — 32-bit sign-hash + Hamming-radius pairs;
* n-gram Jaccard  — token-set Jaccard over blocked candidate pairs;
* embedding cosine— near-dup pairs in vector space (see similarity.py).

Scale design: every pair generator BLOCKS first (band key / simhash
prefix / lang) so no stage is quadratic in the corpus; the only wide ops
are hash-partitioned groupBys and the block-key self-joins, both
AQE-skew-splittable. Signatures are computed row-locally with
higher-order functions — no Python, no explode-shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ner_spark.functions.text import content_hash, tokens_col
from ner_spark.operators.linking import md5_hash60_col

SIMHASH_BITS = 32


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(text_hash, n_docs, keep_id): one row per distinct content, the
    minimum id is the canonical survivor."""
    return (
        df.groupBy(content_hash(F.col(text_col)).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH over word shingles
# --------------------------------------------------------------------------


def word_shingles_col(text: Column, k: int = 3) -> Column:
    """Distinct word k-grams joined by spaces (whole text when short).

    The token array is LET-BOUND (evaluated once per row): naming the
    split expression inside the per-index lambda would re-tokenize the
    whole text for every shingle — O(tokens × chars), a 150 s straggler
    on a single 46k-token conversation vs ~1 s bound."""
    from ner_spark.functions.colutil import let

    return let(
        tokens_col(text),
        lambda toks: F.when(F.size(toks) < k, F.array(text)).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                    lambda i: F.array_join(F.slice(toks, i, k), " "),
                )
            )
        ),
    )


def _ensure_parallel(df: DataFrame) -> DataFrame:
    """CPU-heavy row-local derivations inherit the scan's split count; a
    small single-file input would run them on one core. If the input has
    fewer partitions than half the cluster's cores, repartition first —
    the shuffle moves only the raw rows once and is strictly cheaper than
    serializing the hash pass. At production scale inputs arrive in many
    splits and this is a no-op (getNumPartitions inspects the plan, no
    job)."""
    sc = df.sparkSession.sparkContext
    n = df.rdd.getNumPartitions()
    target = sc.defaultParallelism
    if n < max(2, target // 2):
        return df.repartition(target)
    return df


def doc_minhash(df: DataFrame, text_col: str = "text", n_hashes: int = 12, k: int = 3) -> DataFrame:
    """Append shingles + minhash signature columns (row-local)."""
    from ner_spark.operators.linking import minhash_sig_col

    df = _ensure_parallel(df)
    return df.withColumn("shingles", word_shingles_col(F.col(text_col), k)).withColumn(
        "minhash", minhash_sig_col(F.col("shingles"), n_hashes)
    )


def doc_band_keys(sig: Column, band_rows: int = 3, n_bands: int = 4) -> Column:
    from ner_spark.functions.colutil import let

    return let(
        sig,
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.concat(
                b.cast("string"),
                F.lit("|"),
                F.array_join(
                    F.transform(
                        F.slice(s, b * band_rows + 1, band_rows),
                        lambda h: h.cast("string"),
                    ),
                    "-",
                ),
            ),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    k: int = 3,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs verified by exact shingle Jaccard ≥ threshold.

    ``k`` = shingle width in words (k=1 ⇒ token-set Jaccard)."""
    from ner_spark.operators.linking import jaccard_col

    sigs = doc_minhash(df, text_col, k=k).withColumn(
        "bands", doc_band_keys(F.col("minhash"))
    )
    b = sigs.select(
        # explode_outer: bands is always exactly 4 keys, but the non-outer
        # Generate makes the optimizer infer a size()>0 filter that gets
        # pushed BELOW the adaptive repartition carrying the whole hash
        # expression — re-serializing the pass the Exchange exists to
        # parallelize. Outer generate ≡ same rows here, no inferred filter.
        F.col(id_col).alias("id"), "shingles", F.explode_outer("bands").alias("band")
    )
    if max_band_bucket is not None:
        keep = b.groupBy("band").count().where(F.col("count") <= max_band_bucket)
        b = b.join(F.broadcast(keep.select("band")), "band")
    left = b.select("band", F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    right = b.select("band", F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        left.join(right, "band")
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("jaccard", F.round(jaccard_col(F.col("sh_a"), F.col("sh_b")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_dup_survivors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """End-to-end near-dup collapse: LSH pairs → connected components →
    one row per doc with its cluster's canonical (minimum) id.

    Composes the engine's own operators: ``minhash_lsh_pairs`` for the
    blocked candidate/verify stage and the adaptive
    ``connected_components`` for transitive closure (near-dup is
    transitive only through the cluster, so A~B, B~C must collapse all
    three even when A~C scores below threshold). Returns
    (doc_id, canonical_id, is_survivor)."""
    from ner_spark.operators.components import connected_components

    pairs = minhash_lsh_pairs(
        df, id_col, text_col, threshold, k, max_band_bucket
    )

    # CC works on strings; encode ids so lexicographic order equals
    # numeric order over the FULL int64 range: flip the sign bit (signed
    # order becomes unsigned order) and render as fixed-width hex.
    # Arithmetic offsets would overflow near the range ends; plain
    # zero-padding mis-orders negatives.
    _SIGN = -(1 << 63)

    def enc(c: Column) -> Column:
        return F.lpad(F.hex(c.cast("long").bitwiseXOR(F.lit(_SIGN))), 16, "0")

    # the encoding has no cheap inverse in-plan, so recover original ids
    # by joining the (encoded -> original) mapping back — it is exactly
    # the node table, tiny next to the corpus.
    m = df.select(F.col(id_col).alias("orig"), enc(F.col(id_col)).alias("node_id"))
    assignment = connected_components(
        m.select("node_id"),
        pairs.select(
            enc(F.col("id_a")).alias("src"), enc(F.col("id_b")).alias("dst")
        ),
    )
    canon = m.select(
        F.col("node_id").alias("component"), F.col("orig").alias("canonical_id")
    )
    return (
        assignment.join(m, "node_id")
        .join(canon, "component")
        .select(
            F.col("orig").alias(id_col),
            "canonical_id",
            (F.col("node_id") == F.col("component")).alias("is_survivor"),
        )
    )


# --------------------------------------------------------------------------
# skew-split block self-join (shared by the pair generators)
# --------------------------------------------------------------------------

# cache-lifetime bound for the helper's persisted derivations (see
# below). The cap must comfortably exceed the number of pair queries a
# harness might BUILD lazily before executing any of them — evicting a
# persist whose plan has not run yet silently recomputes the derivation
# three times. 8 slots covers every current call site twice over.
_PERSISTED: list[DataFrame] = []
_PERSISTED_MAX = 8


def register_persist(df: DataFrame) -> DataFrame:
    """Persist a block/band derivation consumed by several join branches
    and register it in the bounded LRU below; returns the persisted
    frame. Shared by the dedup pair generators and the entity-linking
    band join (both re-derive an expensive row-local pass — signatures,
    shingle sets — once per consumer otherwise)."""
    df = df.persist()
    _PERSISTED.append(df)
    while len(_PERSISTED) > _PERSISTED_MAX:
        try:
            _PERSISTED.pop(0).unpersist()
        except Exception:
            pass  # owning session already stopped — nothing to release
    return df


def release_persisted_blocks() -> int:
    """Explicitly unpersist every block-derivation DataFrame the salted
    self-join helper has cached, returning how many were released.

    The 8-slot LRU above bounds the footprint within a burst of pair
    queries, but a long-lived driver (notebook, service) would otherwise
    hold up to 8 persisted derivations in executor storage memory long
    after the queries finish. Call this from query/batch teardown
    (bench.py and run_pipeline do) once the pair results are
    materialized; unpersisting is always safe — re-executing a stale
    plan merely recomputes."""
    n = 0
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
            n += 1
        except Exception:
            pass  # owning session already stopped — nothing to release
    return n


def _salted_block_self_join(
    t: DataFrame,
    a_side,
    b_side,
    key: str = "bkey",
    salt_threshold: int = 512,
    n_salts: int = 8,
    max_salts: int = 2048,
) -> DataFrame:
    """Self-join ``t`` on its block ``key`` with quadratic-skew splitting.

    A block's pair count is quadratic in its population, and an equi-join
    evaluates each block's whole C²/2 enumeration inside ONE task — a
    single hot block (boilerplate-heavy language × dominant length band,
    a popular simhash band value, …) serializes the query. Blocks above
    ``salt_threshold`` rows take a salted triangle join instead: each row
    gets a deterministic salt u ∈ [0, s); the left side joins under
    (key, u, j) for every j and the right under (key, i, u), spreading
    the block over s² independently-scheduled join cells of (C/s)² pairs.
    Each unordered pair still meets exactly once per block (one
    orientation survives the caller's id_a < id_b filter), so results
    are identical — asserted by the oracle gate.

    The salt count is ADAPTIVE per block: s_b = ceil(C_b/salt_threshold)
    clamped to [n_salts, max_salts], computed from the same block census
    that classifies heavy keys and joined back as a broadcast column. A
    fixed s would only divide a block's quadratic cost by s² — a
    million-row block at s=8 still lands 15 G-pair cells on single
    tasks; scaling s with the block bounds every cell at
    ~max(salt_threshold, C_b/max_salts)² pairs regardless of block size
    (the row-duplication cost, C_b·s_b ≈ C_b²/salt_threshold input
    rows, is proportional to sqrt of the pair output — negligible next
    to the enumeration it parallelizes).

    The salted join's INPUT is tiny (rows × s) while its OUTPUT is the
    quadratic enumeration — AQE sizes partitions by input bytes and
    would coalesce the whole enumeration back into one task, so the
    parallelism is pinned with an explicit repartition on the join keys
    (user-specified numPartitions is exempt from AQE coalescing) that
    also co-partitions both sides: the join adds no further exchange.

    ``a_side``/``b_side`` rename ``t``'s columns into the left/right
    aliases; both must keep ``key``, and ``t`` must carry an ``id``
    column (salt source)."""
    # consumed three times (block census + light join + heavy join):
    # persist so the possibly-expensive row derivation (signatures,
    # shingle sets) runs once. MEMORY_AND_DISK — at corpus scale this is
    # linear state that spills rather than recomputing three times. The
    # helper cannot know when its lazy result is done, so it bounds its
    # own footprint instead: at most the last few invocations stay
    # cached, older ones are unpersisted (safe — uncaching only costs
    # recomputation if a stale plan is somehow re-executed).
    t = register_persist(t)
    counts = t.groupBy(key).count()
    heavy = counts.where(F.col("count") > salt_threshold).select(
        key,
        F.least(
            F.greatest(
                F.ceil(F.col("count") / salt_threshold).cast("int"),
                F.lit(n_salts),
            ),
            F.lit(max_salts),
        ).alias("_ns"),
    )
    t_light = t.join(F.broadcast(heavy.select(key)), key, "left_anti")
    # inner join attaches the per-block salt count
    t_heavy = t.join(F.broadcast(heavy), key)
    u = F.pmod(F.hash("id"), F.col("_ns"))
    salts = F.sequence(F.lit(0), F.col("_ns") - 1)
    npart = t.sparkSession.sparkContext.defaultParallelism * 2
    a_h = a_side(
        t_heavy.withColumn("sa", u)
        .withColumn("sb", F.explode_outer(salts))
        .drop("_ns")
    ).repartition(npart, key, "sa", "sb")
    b_h = b_side(
        t_heavy.withColumn("sa", F.explode_outer(salts))
        .withColumn("sb", u)
        .drop("_ns")
    ).repartition(npart, key, "sa", "sb")
    # the light side gets the same treatment on the key alone: its pair
    # work is bounded per block (≤ salt_threshold²) but AQE would still
    # coalesce MANY small blocks into one input-tiny, output-huge task;
    # hash-spreading blocks over pinned partitions bounds a task at
    # ~Σc²/npart.
    light = (
        a_side(t_light)
        .repartition(npart, key)
        .join(b_side(t_light).repartition(npart, key), key)
    )
    return light.unionByName(
        a_h.join(b_h, [key, "sa", "sb"]).drop("sa", "sb")
    )


def _salted_block_join(
    tl: DataFrame,
    tr: DataFrame,
    key: str = "bkey",
    id_left: str = "id",
    id_right: str = "id",
    salt_threshold: int = 512,
    n_salts: int = 8,
    max_salts: int = 2048,
) -> DataFrame:
    """BIPARTITE companion to ``_salted_block_self_join``: equi-join two
    DIFFERENT frames on their block ``key`` with two-sided quadratic-skew
    splitting. Used where one join side is a restricted subset of the
    other (e.g. Adamic-Adar wedges touching only the link-prediction
    test endpoints) so the self-join's triangle trick doesn't apply.

    Blocks heavy on EITHER side get a per-block 2-D salt grid: side L
    rows take a deterministic salt ``sa = hash(id) mod s_l`` and
    replicate over all ``s_r`` values of ``sb``; side R symmetrically.
    Every (l, r) pair of a block meets in exactly ONE of the s_l × s_r
    cells — cell cost is bounded at ~``(C/s)² ≤ salt_threshold²`` pairs
    regardless of block size, with the salt counts adaptive per block
    and per side (``s = clamp(ceil(C/salt_threshold), 1, max_salts)``;
    a side that is small in a block that is heavy on the other side
    keeps s = 1 and only replicates). Light blocks ride a plain
    co-partitioned join; both paths pin parallelism with an explicit
    repartition (exempt from AQE's input-byte coalescing, which would
    otherwise fuse the input-tiny / output-quadratic enumeration back
    into few tasks).

    ``tl`` and ``tr`` must share ONLY ``key``; ``id_left``/``id_right``
    name a column on each side to derive the deterministic salt from.
    """
    tl = register_persist(tl)
    tr = register_persist(tr)

    def _s(count_col: Column) -> Column:
        return F.least(
            F.greatest(
                F.ceil(count_col / salt_threshold).cast("int"), F.lit(1)
            ),
            F.lit(max_salts),
        )

    cl = tl.groupBy(key).agg(F.count(F.lit(1)).alias("_cl"))
    cr = tr.groupBy(key).agg(F.count(F.lit(1)).alias("_cr"))
    # four downstream consumers (two anti-join broadcasts, two inner
    # broadcasts) each build their own broadcast — persist the tiny
    # census so the double groupBy runs once, not four times
    heavy = register_persist(
        cl.join(cr, key)
        .where(
            (F.col("_cl") > salt_threshold) | (F.col("_cr") > salt_threshold)
        )
        .select(key, _s(F.col("_cl")).alias("_sl"), _s(F.col("_cr")).alias("_sr"))
    )
    light_l = tl.join(F.broadcast(heavy.select(key)), key, "left_anti")
    light_r = tr.join(F.broadcast(heavy.select(key)), key, "left_anti")
    npart = tl.sparkSession.sparkContext.defaultParallelism * 2
    light = light_l.repartition(npart, key).join(
        light_r.repartition(npart, key), key
    )
    h_l = (
        tl.join(F.broadcast(heavy), key)
        .withColumn("sa", F.pmod(F.hash(id_left), F.col("_sl")))
        .withColumn(
            "sb", F.explode_outer(F.sequence(F.lit(0), F.col("_sr") - 1))
        )
        .drop("_sl", "_sr")
        .repartition(npart, key, "sa", "sb")
    )
    h_r = (
        tr.join(F.broadcast(heavy), key)
        .withColumn("sb", F.pmod(F.hash(id_right), F.col("_sr")))
        .withColumn(
            "sa", F.explode_outer(F.sequence(F.lit(0), F.col("_sl") - 1))
        )
        .drop("_sl", "_sr")
        .repartition(npart, key, "sa", "sb")
    )
    return light.unionByName(
        h_l.join(h_r, [key, "sa", "sb"]).drop("sa", "sb")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash_col(text: Column, bits: int = SIMHASH_BITS) -> Column:
    """32-bit SimHash over whitespace tokens (multiset): bit b is set iff
    the sum over tokens of ±1 (sign of bit b of the token's 60-bit md5
    hash) is positive. Row-local nested higher-order aggregation; the
    per-token hash array is let-bound so the md5 pass runs once, not once
    per bit position."""
    from ner_spark.functions.colutil import let

    def mask(b: Column) -> Column:  # 2^b as long (exact for b < 53)
        return F.pow(F.lit(2.0), b).cast("long")

    def body(hashes: Column) -> Column:
        bit_terms = F.transform(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda b: F.when(
                F.aggregate(
                    hashes,
                    F.lit(0).cast("long"),
                    lambda acc, h: acc + F.when(h.bitwiseAND(mask(b)) != 0, 1).otherwise(-1),
                )
                > 0,
                mask(b),
            ).otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(bit_terms, F.lit(0).cast("long"), lambda acc, x: acc + x)

    return let(F.transform(tokens_col(text), md5_hash60_col), body)


def simhash_band_keys_col(simhash: Column, n_bands: int, bits: int = SIMHASH_BITS) -> Column:
    """The ``n_bands`` pigeonhole band keys of a simhash: band b is the
    contiguous bit slice [b·w, (b+1)·w) tagged with its index (the last
    band absorbs the remainder bits). Any two hashes within Hamming
    distance ``n_bands - 1`` agree exactly on at least one band."""
    w = bits // n_bands

    def key(b: int) -> Column:
        start, width = b * w, (bits - b * w if b == n_bands - 1 else w)
        val = F.shiftright(simhash, start).bitwiseAND(F.lit((1 << width) - 1))
        return F.concat(F.lit(f"{b}|"), val.cast("string"))

    return F.array(*[key(b) for b in range(n_bands)])


def simhash_band_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    salt_threshold: int = 512,
    n_salts: int = 8,
    max_salts: int = 2048,
) -> DataFrame:
    """Near-dup pairs by Hamming distance on SimHash with COMPLETE
    pigeonhole banding: the hash is split into ``max_hamming + 1``
    disjoint bit bands, and any pair within the radius must match
    exactly on ≥1 band — so the band self-join finds every qualifying
    pair (no recall loss, unlike the fixed-prefix block of
    ``simhash_pairs``) while each band key carries
    ``bits/(max_hamming+1)`` bits of blocking power. The ``bit_count``
    verify after the join discards band collisions outside the radius.

    This is the scale-path primary: cost = Σ over band buckets of
    |bucket|², with buckets ~2^(bits/(k+1)) ways per band instead of one
    global 2^prefix split."""
    n_bands = max_hamming + 1
    bits = SIMHASH_BITS
    w = bits // n_bands
    s = df.select(
        F.col(id_col).alias("id"),
        simhash_col(F.col(text_col)).alias("simhash"),
    ).select(
        "id",
        "simhash",
        F.posexplode_outer(
            simhash_band_keys_col(F.col("simhash"), n_bands)
        ).alias("bidx", "band"),
    )

    def _a(df_: DataFrame) -> DataFrame:
        return df_.withColumnsRenamed(
            {"id": "id_a", "simhash": "sh_a", "bidx": "k"}
        )

    def _b(df_: DataFrame) -> DataFrame:
        return df_.drop("bidx").withColumnsRenamed(
            {"id": "id_b", "simhash": "sh_b"}
        )

    def _band_match(bi: int) -> Column:
        start = bi * w
        width = bits - start if bi == n_bands - 1 else w
        m = ((1 << width) - 1) << start
        return (
            F.col("sh_a").bitwiseXOR(F.col("sh_b")).bitwiseAND(F.lit(m)) == 0
        )

    # first matching band of the pair (exists by construction of the
    # candidate): keeping only that meeting dedups multi-band collisions
    # with a scalar expression — no dropDuplicates exchange.
    expr = None
    for bi in range(n_bands):
        expr = (
            F.when(_band_match(bi), F.lit(bi)) if expr is None
            else expr.when(_band_match(bi), F.lit(bi))
        )
    first_match = F.col("k") == expr

    return (
        _salted_block_self_join(
            s, _a, _b, key="band",
            salt_threshold=salt_threshold, n_salts=n_salts,
            max_salts=max_salts,
        )
        .where(F.col("id_a") < F.col("id_b"))
        .where(first_match)
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 10,
    prefix_bits: int = 8,
) -> DataFrame:
    """Near-dup pairs by Hamming distance on SimHash, blocked on the top
    ``prefix_bits`` bits. The prefix block is LOSSY (a pair differing
    inside the prefix is never considered) and its 2^prefix_bits-way
    split is too coarse at corpus scale — ``simhash_band_pairs`` is the
    complete, scale-path variant; this one is kept as the documented
    cheap filter whose semantics ARE prefix-restricted."""
    s = df.select(
        F.col(id_col).alias("id"),
        simhash_col(F.col(text_col)).alias("simhash"),
    ).withColumn(
        "block", F.shiftright(F.col("simhash"), SIMHASH_BITS - prefix_bits)
    )
    a = s.select("block", F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = s.select("block", F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b, "block")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# n-gram / token-set Jaccard
# --------------------------------------------------------------------------


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    threshold: float = 0.7,
    length_buckets: bool = True,
    salt_threshold: int = 512,
    n_salts: int = 8,
    max_salts: int = 2048,
) -> DataFrame:
    """Token-set Jaccard near-dup pairs within a blocking key (default:
    language), LOSSLESSLY sub-blocked by distinct-token-count buckets.

    The sub-split is result-preserving, not approximate: J(A,B) ≥ t
    implies |A∩B| ≥ t·max(|A|,|B|) and |A∩B| ≤ min(|A|,|B|), so the two
    set sizes are within a factor 1/t of each other. Bucketing sizes at
    ⌊log_{1/t} n⌋ therefore puts any qualifying pair at most ONE bucket
    apart, and emitting each doc into its own bucket plus the next one
    ("probe up") guarantees every qualifying pair shares a composite
    (block, bucket) key. A coarse block (a whole language ≈ the corpus at
    100 TB) thus decomposes into ~geometric length bands whose quadratic
    cost is bounded by the band population, at the price of ≤2× row
    duplication into the join. ``length_buckets=False`` recovers the
    single-key join (useful when the caller's block key is already
    fine-grained, e.g. an IVF cell)."""
    from ner_spark.operators.linking import jaccard_col

    t = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("id"),
        F.array_distinct(tokens_col(F.col(text_col))).alias("toks"),
    )
    if length_buckets:
        # growth factor 1/t: qualifying pairs differ by ≤1 bucket (proof
        # above). The bucket id never reaches the output — it only routes
        # the join — but the ≤1-apart guarantee must survive float error:
        # for sizes EXACTLY a factor g apart, log rounding could land one
        # quotient just below an integer and the other just above the
        # next, placing homes 2 apart and dropping a qualifying pair. The
        # +1e-9 nudge dwarfs double log error (~1e-14 absolute here) while
        # staying far below the smallest real quotient gap, making the
        # floor robust on the boundary.
        g = 1.0 / threshold
        bucket = F.floor(
            F.log(F.greatest(F.size("toks"), F.lit(1)).cast("double"))
            / F.lit(math.log(g))
            + F.lit(1e-9)
        ).cast("long")
        t = (
            t.withColumn("home", bucket)
            .withColumn("probe", F.explode_outer(F.array(bucket, bucket + 1)))
            .withColumn(
                "bkey", F.concat_ws("|", "block", F.col("probe").cast("string"))
            )
        )
    else:
        t = (
            t.withColumn("home", F.lit(0))
            .withColumn("probe", F.lit(0))
            .withColumn("bkey", F.col("block"))
        )
    def _a(df: DataFrame) -> DataFrame:
        return df.drop("block").withColumnsRenamed(
            {"id": "id_a", "toks": "t_a", "home": "h_a", "probe": "k"}
        )

    def _b(df: DataFrame) -> DataFrame:
        return df.drop("block", "probe").withColumnsRenamed(
            {"id": "id_b", "toks": "t_b", "home": "h_b"}
        )

    pairs = _salted_block_self_join(
        t, _a, _b, salt_threshold=salt_threshold, n_salts=n_salts,
        max_salts=max_salts,
    ).where(F.col("id_a") < F.col("id_b"))
    if length_buckets:
        # a pair with home buckets (βa, βb) meets exactly at buckets
        # {βa, βa+1} ∩ {βb, βb+1} — i.e. at max(βa, βb) always, and ALSO
        # at βa+1 when βa = βb. Keeping only the max(βa, βb) meeting is
        # therefore an exact, shuffle-free dedup: one scalar comparison
        # per candidate instead of a dropDuplicates exchange that would
        # carry both token arrays. (bkey equality fixes the meeting
        # bucket, carried numerically as k.)
        pairs = pairs.where(F.col("k") == F.greatest("h_a", "h_b"))
    return (
        pairs.withColumn(
            "jaccard", F.round(jaccard_col(F.col("t_a"), F.col("t_b")), 6)
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def salted_two_sided_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    right_salt_col: str,
    salt_threshold: int = 512,
    max_salts: int = 2048,
) -> DataFrame:
    """Equi-join two DIFFERENT frames on ``keys`` with quadratic-skew
    splitting — the asymmetric sibling of ``_salted_block_self_join``
    for blocking schemes whose two sides derive different keys from the
    same corpus (e.g. PassJoin segment-vs-substring candidate
    generation, operators/alias.py).

    A key's join fan-out is n_left × n_right, all evaluated inside ONE
    task by a plain equi-join. Keys whose product exceeds
    ``salt_threshold²`` are split: the right side takes a deterministic
    salt u = hash(right_salt_col) mod s, the left side is replicated
    over all s salts, and the join adds the salt to the key — spreading
    the hot key over s independently-scheduled cells of ≤
    salt_threshold² pairs (s = ceil(n_l·n_r / salt_threshold²) clamped
    to ``max_salts``; the replication cost s·n_l rows is the square
    root of the pair work it parallelizes). Every (left, right) row
    pair still meets exactly once — the salt is a partition of the
    right side. Parallelism is pinned with explicit repartitions on
    both paths: the join inputs are tiny while outputs are quadratic,
    and AQE sizes partitions by input bytes (it would coalesce the
    enumeration back into one task).

    Non-key column names must be disjoint between the two frames.
    """
    left = register_persist(left)
    right = register_persist(right)
    lc = left.groupBy(keys).agg(F.count(F.lit(1)).alias("_nl"))
    rc = right.groupBy(keys).agg(F.count(F.lit(1)).alias("_nr"))
    budget = salt_threshold * salt_threshold
    heavy = (
        lc.join(rc, keys)
        .where(F.col("_nl") * F.col("_nr") > budget)
        .select(
            *keys,
            F.least(
                F.ceil(F.col("_nl") * F.col("_nr") / F.lit(budget)),
                F.lit(max_salts),
            ).alias("_ns"),
        )
    )
    npart = left.sparkSession.sparkContext.defaultParallelism * 2
    l_light = left.join(F.broadcast(heavy.select(*keys)), keys, "left_anti")
    r_light = right.join(F.broadcast(heavy.select(*keys)), keys, "left_anti")
    light = (
        l_light.repartition(npart, *keys)
        .join(r_light.repartition(npart, *keys), keys)
    )
    l_heavy = (
        left.join(F.broadcast(heavy), keys)
        .withColumn(
            "_u", F.explode_outer(F.sequence(F.lit(0), F.col("_ns") - 1))
        )
        .drop("_ns")
        .repartition(npart, *keys, "_u")
    )
    r_heavy = (
        right.join(F.broadcast(heavy), keys)
        .withColumn("_u", F.pmod(F.hash(right_salt_col), F.col("_ns")))
        .drop("_ns")
        .repartition(npart, *keys, "_u")
    )
    return light.unionByName(
        l_heavy.join(r_heavy, [*keys, "_u"]).drop("_u")
    )


# --------------------------------------------------------------------------
# conversation-granularity exact dedup
# --------------------------------------------------------------------------


def conv_dedup(transcripts: DataFrame) -> DataFrame:
    """Exact dedup at CONVERSATION granularity — the unit a chat-corpus
    training pipeline actually dedups (the same support dialogue
    re-ingested from two exports, a scraped forum thread mirrored on
    two hosts): ``(conv_id, conv_hash, survivor_id, is_dup)``, one row
    per conversation, where ``conv_hash`` fingerprints the
    conversation's ordered turn content and ``survivor_id`` is the
    minimum ``conv_id`` in the hash group (``is_dup`` = 1 for the
    rest).

    Fingerprint semantics (pinned, mirrored verbatim in the DuckDB
    oracle): each turn hashes ROW-LOCALLY to two independent 60-bit
    md5 digests of the position-tagged text — ``h60(turn_idx \u001f
    text)`` and ``h60(text \u001f turn_idx)`` — and the conversation
    hash is ``md5(n_turns : xor(h1) : xor(h2))``.  Because
    ``turn_idx`` is unique within a conversation, two conversations
    collide iff their (turn_idx, text) SETS collide, which (turn order
    being a function of turn_idx) is exactly ordered-content equality;
    the commutative xor combine makes the aggregation state O(1) —
    ~120 effective fingerprint bits across the two digests plus the
    count.

    Scale shape — the round-3 design fix: the previous version
    assembled every conversation's full text in ONE aggregation buffer
    (``collect_list`` + ordered join), so a 10\u2076-turn conversation
    built a ~100 MB string in a single task (SURVEY §7.4's own bar).
    Now the per-turn digests are row-local and the conv-level combine
    is (count, xor, xor) — constant state per group, map-side
    combinable, so the exchange carries 3 longs per conversation per
    map partition.  The survivor assignment is an unordered window
    over ``conv_hash`` partitions whose size is the duplicate-group
    multiplicity (almost always 1), never a sort and never
    corpus-wide.  Two exchanges total, both on well-distributed keys.
    """
    from pyspark.sql import Window

    ti = F.col("turn_idx").cast("string")
    h1 = md5_hash60_col(F.concat_ws("\u001f", ti, F.col("text")))
    h2 = md5_hash60_col(F.concat_ws("\u001f", F.col("text"), ti))
    per_conv = (
        transcripts.select("conv_id", h1.alias("h1"), h2.alias("h2"))
        .groupBy("conv_id")
        .agg(
            F.md5(
                F.concat_ws(
                    ":",
                    F.count(F.lit(1)),
                    F.bit_xor("h1"),
                    F.bit_xor("h2"),
                )
            ).alias("conv_hash")
        )
    )
    w = Window.partitionBy("conv_hash")
    survivor = F.min("conv_id").over(w)
    return per_conv.select(
        "conv_id",
        "conv_hash",
        survivor.alias("survivor_id"),
        (F.col("conv_id") != survivor).cast("long").alias("is_dup"),
    )


def conv_shingle_rows(
    transcripts: DataFrame,
    k: int = 3,
    include_tiny: bool = True,
    distinct: bool = True,
) -> DataFrame:
    """DISTINCT conversation-level word-shingle hashes as ROWS —
    ``(conv_id, h)`` with ``h`` the 60-bit md5 of each k-gram over the
    conversation's full token stream (turn texts joined by single
    spaces in ``turn_idx`` order, exactly the flatten semantics:
    ``split(a,' ') ++ split(b,' ') == split(a||' '||b, ' ')``, empty
    tokens included).  Conversations with fewer than ``k`` tokens
    contribute one shingle — their tokens re-joined by spaces, which
    for a single-space join IS the flattened text.

    Scale shape (round-5 constant-factor cut, same shingle universe as
    the round-4 token-window form — verified hash-identical by the
    ``conv_near_dup`` oracle row): shingles derive PER TURN, row-locally,
    from the turn's own token array via higher-order expressions; the
    only window runs over TURN rows (one per transcript row, ~12× fewer
    than exploded tokens at k=3) and carries just the (k-1)-token
    boundary context from the next (k-1) turns (each turn contributes
    ≥1 token — ``split`` never returns an empty array — so k-1 leads
    always cover a k-gram straddling the boundary).  Per-row state is
    bounded by a TURN's token count, i.e. by the width of an input row
    the executor already holds — never by a conversation.  "Distinct
    shingles per conv" still lives as rows, never as a conv-sized array.
    """
    from pyspark.sql import Window

    from ner_spark.operators.linking import md5_hash60_col

    turns = transcripts.select(
        "conv_id", "turn_idx", F.split(F.col("text"), " ").alias("tk")
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # first (k-1) tokens of the FOLLOWING turns: enough to complete any
    # k-gram that starts inside this turn (k-1 leads suffice — see
    # docstring). coalesce handles the tail of the conversation.
    carry = F.slice(
        F.concat(
            *[
                F.coalesce(
                    F.lead("tk", i).over(w),
                    F.array().cast("array<string>"),
                )
                for i in range(1, k)
            ]
        ),
        1,
        k - 1,
    )
    ext = turns.select(
        "conv_id", F.concat(F.col("tk"), carry).alias("xtk"), F.size("tk").alias("n")
    )
    # every k-gram of the conversation's token stream starts inside
    # exactly one turn: start positions 1..n, kept only when the gram
    # fits inside this turn + its carry (near the conv end it doesn't)
    grams = ext.select(
        "conv_id",
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.col("n")),
                    lambda p: F.when(
                        p + F.lit(k - 1) <= F.size("xtk"),
                        F.array_join(F.slice(F.col("xtk"), p, k), " "),
                    ),
                ),
                lambda s: s.isNotNull(),
            )
        ).alias("shingle"),
    )
    if not include_tiny:
        # plan-audit hook: the pure gram path (the 100-TB shape) without
        # the <k-token fallback union
        out = grams.select(
            "conv_id", md5_hash60_col(F.col("shingle")).alias("h")
        )
        return out.dropDuplicates(["conv_id", "h"]) if distinct else out
    # conversations with < k tokens produce no full gram: their single
    # shingle is the whole flattened text. Membership comes from a
    # map-side-combinable token-count sum (no window pass), and the
    # collect_list buffer is bounded by construction — every turn holds
    # ≥1 token, so a conv with < k tokens has < k turn structs.
    tiny_ids = (
        turns.groupBy("conv_id")
        .agg(F.sum(F.size("tk")).alias("n_toks"))
        .where(F.col("n_toks") < k)
        .select("conv_id")
    )
    tiny = (
        transcripts.join(tiny_ids, "conv_id", "left_semi")
        .groupBy("conv_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda st: st["text"],
                ),
            ).alias("shingle")
        )
    )
    out = grams.unionByName(tiny).select(
        "conv_id", md5_hash60_col(F.col("shingle")).alias("h")
    )
    # distinct=False skips the corpus-wide dedup exchange for consumers
    # whose aggregates are duplicate-insensitive (minhash minima)
    return out.dropDuplicates(["conv_id", "h"]) if distinct else out


def conv_near_dup_pairs(
    transcripts: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate CONVERSATION pairs — ``(id_a, id_b, jaccard)``
    over conv_ids: MinHash-LSH over the conversation's word k-gram
    shingles (the same shingle universe as flattening each conversation
    to one document), candidates verified by exact Jaccard over the
    DISTINCT 60-bit shingle hashes.

    This is the curation gap ``conv_dedup`` (exact hash) leaves open: a
    re-ingested dialogue with one edited/truncated turn hashes
    differently but shares almost all its shingles, and shows up here.

    Scale shape — the round-3 design fix: nothing materializes a
    conversation-sized buffer anywhere.  Shingles live as rows
    (``conv_shingle_rows``); the 12 signature minima are plain ``min``
    aggregates over the per-shingle affine rehashes (map-side
    combinable, O(n_hashes) state — duplicate shingles cannot change a
    min, so no distinct pass is needed); band keys derive row-locally
    from the 12-element signature; the band self-join carries ONLY
    (band, conv_id); and the verify stage counts hash intersections as
    a (candidate-semi-joined) row join instead of intersecting two
    carried shingle arrays.  Jaccard over distinct 60-bit hashes equals
    Jaccard over distinct shingle strings absent md5 collisions — and
    the DuckDB oracle mirrors the hash-set form exactly, so the gate
    compares like with like.
    """
    from ner_spark.operators.linking import H31_MASK, MERSENNE61, MINHASH_A, MINHASH_B

    # RAW gram stream — no corpus-wide dropDuplicates: the minhash minima
    # below are duplicate-insensitive, so the global distinct exchange
    # (the single biggest constant in the r04 profile) is pure waste for
    # the signature pass. The distinct view is derived later, confined
    # to CANDIDATE conversations only (at production scale a tiny
    # fraction of the corpus; banding exists precisely to make it so).
    sh = register_persist(
        conv_shingle_rows(_ensure_parallel(transcripts), k, distinct=False)
    )

    def perm(i: int):
        h31 = F.col("h").bitwiseAND(F.lit(H31_MASK))
        return (h31 * F.lit(MINHASH_A[i]) + F.lit(MINHASH_B[i])) % F.lit(
            MERSENNE61
        )

    n_hashes = len(MINHASH_A)
    sigs = sh.groupBy("conv_id").agg(
        F.array(
            *[F.min(perm(i)).alias(f"m{i}") for i in range(n_hashes)]
        ).alias("minhash")
    )
    b = sigs.select(
        F.col("conv_id").alias("id"),
        F.explode_outer(doc_band_keys(F.col("minhash"))).alias("band"),
    )
    if max_band_bucket is not None:
        keep = b.groupBy("band").count().where(F.col("count") <= max_band_bucket)
        b = b.join(F.broadcast(keep.select("band")), "band")
    cand = (
        b.select("band", F.col("id").alias("id_a"))
        .join(b.select("band", F.col("id").alias("id_b")), "band")
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b")
    )
    # verify: |A ∩ B| via a row join over the candidate conversations'
    # shingle hashes (semi-joined first so only candidate rows shuffle)
    ids = cand.select(F.col("id_a").alias("conv_id")).unionByName(
        cand.select(F.col("id_b").alias("conv_id"))
    ).distinct()
    # distinct shingles ONLY for candidate convs: semi-join first, then
    # dedup — persisted because sizes and inter both consume it
    sh_c = register_persist(
        sh.join(ids, "conv_id", "left_semi").dropDuplicates(["conv_id", "h"])
    )
    sizes = sh_c.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(
            sh_c.select(F.col("conv_id").alias("id_a"), "h"), "id_a"
        )
        .join(
            sh_c.select(F.col("conv_id").alias("id_b"), "h"),
            ["id_b", "h"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.withColumnsRenamed({"conv_id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"conv_id": "id_b", "n_sh": "n_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (F.col("n_a") + F.col("n_b") - F.coalesce("n_inter", F.lit(0))),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 5,
    threshold_micro: int = 500_000,
    max_df: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric CONTAINMENT pairs — ``(id_a, id_b, n_inter, n_a, n_b,
    cont_a_micro, cont_b_micro)``: document pairs where one side's
    word-``n``-gram shingle set is mostly inside the other's
    (``cont_a = |A∩B| / |A|`` on the 1e-6 integer grid). This is the
    duplication Jaccard structurally misses: a short document quoted
    whole inside a long one has tiny Jaccard but containment ~1 — the
    quote/boilerplate-inclusion detector of the RefinedWeb/Dolma-style
    curation stacks, complementing ``token_jaccard_pairs`` (symmetric)
    and ``dup_span_fraction`` (span-level).

    Pinned spec (mirrored in the SQL oracle): shingles are the
    lowercased word n-grams of docs with >= n tokens (shorter docs have
    no shingle set to contain); sets are distinct 60-bit gram hashes;
    shingles with document frequency outside [2, max_df] are excluded —
    df=1 cannot pair, and df > max_df is corpus boilerplate whose
    enumeration is quadratic in df while saying nothing about pairwise
    containment (the standard frequent-shingle cut; the metric is
    therefore containment OVER NON-BOILERPLATE shingles, identical in
    both engines). A pair is emitted iff either direction reaches
    ``threshold_micro``.

    Scale shape: per-doc distinct happens row-locally (array_distinct
    before the explode — the dup_span device), so exchanges carry
    (doc_id, int64) rows only; the df census is one map-side-combinable
    aggregate; pair enumeration blocks on the shingle hash with block
    population bounded by ``max_df`` and rides the shared salted
    self-join (all-light at this cap, parallelism pinned against AQE
    input-byte coalescing); the per-pair intersection count and the
    two size joins are slim-keyed.
    """
    from ner_spark.operators.linking import md5_hash60_col

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda x: x != ""
    )
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: md5_hash60_col(
                    F.array_join(F.slice(toks, i, n), " ")
                ),
            )
        ),
    ).otherwise(F.array().cast("array<long>"))
    sh = register_persist(
        _ensure_parallel(docs).select(
            F.col(id_col).alias("id"), F.explode(grams).alias("h")
        )
    )
    keep = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where((F.col("_df") >= 2) & (F.col("_df") <= max_df))
        .select("h")
    )
    s = register_persist(sh.join(keep, "h", "left_semi"))

    def _a(df: DataFrame) -> DataFrame:
        return df.withColumnRenamed("id", "id_a")

    def _b(df: DataFrame) -> DataFrame:
        return df.withColumnRenamed("id", "id_b")

    inter = (
        _salted_block_self_join(s, _a, _b, key="h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz = s.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        inter.join(sz.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sz.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_inter",
            "n_a",
            "n_b",
            F.floor(F.lit(1_000_000) * F.col("n_inter") / F.col("n_a"))
            .cast("long")
            .alias("cont_a_micro"),
            F.floor(F.lit(1_000_000) * F.col("n_inter") / F.col("n_b"))
            .cast("long")
            .alias("cont_b_micro"),
        )
        .where(
            (F.col("cont_a_micro") >= threshold_micro)
            | (F.col("cont_b_micro") >= threshold_micro)
        )
    )


def incremental_dup_pairs(
    base: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup pairs — ``(id_a, id_b, jaccard, pair_kind)``
    with ``pair_kind ∈ {'new-new', 'new-old'}``: the daily-ingest shape
    of ``minhash_lsh_pairs``. Yesterday's corpus (``base``) is already
    deduplicated; today's documents (``delta``) only need pairs that
    TOUCH a new document — so the band join is bipartite (delta bands ×
    all bands) and base×base candidates are NEVER enumerated. At a
    100 TB corpus with a 0.1% daily delta that is the difference
    between re-running the full quadratic candidate stage and paying
    ~2·|delta|/|corpus| of it.

    Semantics are exactly the batch operator's (same shingles,
    signatures, band keys, exact-Jaccard verify, threshold): running
    this over (base, delta) and keeping batch pairs with >= 1 delta
    side yields the identical pair set — asserted by test and by the
    oracle, which applies the same one-side-is-new filter to the shared
    banding CTE. Delta-delta pairs meet in both orientations and
    multi-band meetings repeat candidates; both collapse in the slim
    (id_a, id_b) dedup. ``pair_kind`` is what downstream routing needs:
    'new-old' drops the new doc (canonical already exists), 'new-new'
    feeds the survivor collapse.
    """
    sig_b = doc_minhash(base.select(F.col(id_col), F.col(text_col)), text_col, k=k)
    sig_d = doc_minhash(delta.select(F.col(id_col), F.col(text_col)), text_col, k=k)
    sigs = (
        sig_b.withColumn("is_new", F.lit(False))
        .unionByName(sig_d.withColumn("is_new", F.lit(True)))
        .withColumn("bands", doc_band_keys(F.col("minhash")))
    )
    b = sigs.select(
        F.col(id_col).alias("id"),
        "shingles",
        "is_new",
        F.explode_outer("bands").alias("band"),
    )
    if max_band_bucket is not None:
        keep = b.groupBy("band").count().where(F.col("count") <= max_band_bucket)
        b = b.join(F.broadcast(keep.select("band")), "band")
    left = b.where(F.col("is_new")).select(
        "band", F.col("id").alias("id_l"), F.col("shingles").alias("sh_l")
    )
    right = b.select(
        "band",
        F.col("id").alias("id_r"),
        F.col("shingles").alias("sh_r"),
        F.col("is_new").alias("new_r"),
    )
    from ner_spark.operators.linking import jaccard_col

    ordered = (
        left.join(right, "band")
        .where(F.col("id_l") != F.col("id_r"))
        .select(
            F.least("id_l", "id_r").alias("id_a"),
            F.greatest("id_l", "id_r").alias("id_b"),
            # the left side is always new; the right side decides kind
            F.when(F.col("new_r"), F.lit("new-new"))
            .otherwise(F.lit("new-old"))
            .alias("pair_kind"),
            F.when(F.col("id_l") < F.col("id_r"), F.col("sh_l"))
            .otherwise(F.col("sh_r"))
            .alias("sh_a"),
            F.when(F.col("id_l") < F.col("id_r"), F.col("sh_r"))
            .otherwise(F.col("sh_l"))
            .alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        ordered.withColumn(
            "jaccard", F.round(jaccard_col(F.col("sh_a"), F.col("sh_b")), 6)
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard", "pair_kind")
    )


def dup_cluster_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
) -> DataFrame:
    """Duplication profile of the corpus — the cluster-size histogram
    of the near-dup collapse: ``(cluster_size bigint, n_clusters
    bigint, n_docs bigint)``, one row per distinct cluster size
    (singletons included, so the rows sum to the corpus). This is the
    report a curation run reads to answer "how duplicated is this
    crawl?" before choosing a dedup policy (cf. the duplicate-cluster
    histograms in Lee et al. 2022).

    Plan: rides ``near_dup_survivors`` (blocked LSH + adaptive CC) and
    adds two map-side-combined integer aggregates keyed on canonical
    id then on cluster size — both bounded by the cluster dimension,
    nothing new scales with corpus size.
    """
    surv = near_dup_survivors(
        df, id_col=id_col, text_col=text_col, threshold=threshold, k=k
    )
    sizes = surv.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size")).alias("n_docs"),
    ).select("cluster_size", "n_clusters", "n_docs")


def split_leakage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 3,
    train_pct: int = 90,
) -> DataFrame:
    """Near-duplicate pairs that CROSS the train/val split — the
    leakage an exact-match decontamination pass misses (a val doc
    whose near-copy sits in train inflates eval): the blocked-LSH pair
    generator composed with the engine's own deterministic md5-bucket
    split. Output ``(id_a, id_b, jaccard, split_a, split_b)`` with
    split_a <> split_b.

    Scale shape: identical to the proven pair generator (blocking,
    skew-split salted join, slim scored rows); the split columns are
    two row-local md5 buckets joined from the id dimension — no new
    shuffle surface.
    """
    from ner_spark.functions.datasets import split_assign_col

    pairs = minhash_lsh_pairs(
        df, id_col=id_col, text_col=text_col, threshold=threshold, k=k
    )
    sides = df.select(
        F.col(id_col).alias("sid"),
        split_assign_col(F.col(id_col), train_pct=train_pct).alias("split"),
    )
    return (
        pairs.join(sides.withColumnRenamed("sid", "id_a"), "id_a")
        .withColumnRenamed("split", "split_a")
        .join(sides.withColumnRenamed("sid", "id_b"), "id_b")
        .withColumnRenamed("split", "split_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
    )


def chunk_dedup(
    df: DataFrame,
    size: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Passage-granularity exact dedup — the chunk member of the
    dedup-granularity family (document `dedup_exact`, conversation
    `conv_dedup`, span `dup_span_removal`): NON-overlapping ``size``-
    token windows (stride = size, so no position is double-counted),
    a window flagged when its exact lowercased text occurs at >= 2
    chunk positions anywhere in the corpus (RefinedWeb-style passage
    dedup: boilerplate blocks repeat across pages whose documents
    never match whole). Output ``(doc_id, chunk_idx, n_occurrences)``
    for flagged chunks.

    Scale shape: chunking is the zero-exchange row-local generator
    (functions/pack.py:chunk_windows); the chunk text is hashed
    row-local to a 60-bit key, so the ONE population-count exchange
    carries (doc_id, idx, int64) — chunk strings never shuffle; the
    flag join rides the uniform hash key.
    """
    from ner_spark.functions.pack import chunk_windows
    from ner_spark.operators.linking import md5_hash60_col

    ch = chunk_windows(
        df, size=size, stride=size, id_col=id_col, text_col=text_col
    ).select(
        "doc_id", "chunk_idx", md5_hash60_col(F.col("chunk_text")).alias("h")
    )
    pop = ch.groupBy("h").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return (
        ch.join(pop, "h")
        .where(F.col("n_occurrences") >= 2)
        .select("doc_id", "chunk_idx", "n_occurrences")
    )


def lsh_recall_eval(
    df: DataFrame,
    sample_max_id: int = 500,
    threshold: float = 0.5,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Recall of the MinHash-LSH banding against brute-force pair
    ground truth — the dedup counterpart of ann_recall_eval: ground
    truth is EVERY pair with exact shingle Jaccard >= threshold over
    a bounded id sample (``doc_id < sample_max_id``); the candidate
    arm is the production ``minhash_lsh_pairs`` on the same sample.
    Because the production path verifies exact Jaccard after banding,
    its pairs are a SUBSET of the truth — precision is 1.0 by
    construction and the number that matters is the banding's recall
    (truth pairs whose signatures never collide in any band). One
    summary row ``(n_truth, n_candidates, recall)``.

    Scale shape: the quadratic arm is confined to the explicit sample
    (the standard eval protocol: ground truth over a sampled slice,
    never the corpus); the candidate arm is the blocked production
    operator unchanged. The exact-Jaccard truth is computed by an
    equi-join on exploded shingle rows (|A∩B| as a per-pair count,
    |A∪B| = |A|+|B|-|A∩B|) rather than O(sample²) array_intersect
    calls — value-identical because shingles are distinct per doc
    (word_shingles_col applies array_distinct) and any pair that
    never shares a shingle has Jaccard 0 < threshold, so only
    colliding pairs can reach the truth set. Requires threshold > 0.
    """
    if threshold <= 0:
        raise ValueError("lsh_recall_eval requires threshold > 0")
    sample = df.where(F.col(id_col) < sample_max_id)
    sh = register_persist(
        sample.select(
            F.col(id_col).alias("sid"),
            word_shingles_col(F.col(text_col), k=k).alias("sh"),
        )
    )
    rows = sh.select("sid", F.explode("sh").alias("g"))
    sizes = sh.select("sid", F.size("sh").alias("n"))
    common = (
        rows.select(F.col("sid").alias("id_a"), "g")
        .join(
            rows.select(F.col("sid").alias("id_b"), "g"),
            ["g"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    truth = (
        common.join(
            F.broadcast(sizes.select(F.col("sid").alias("id_a"), F.col("n").alias("na"))),
            ["id_a"],
        )
        .join(
            F.broadcast(sizes.select(F.col("sid").alias("id_b"), F.col("n").alias("nb"))),
            ["id_b"],
        )
        .where(
            F.round(
                F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 6
            )
            >= F.lit(threshold)
        )
        .select("id_a", "id_b")
    )
    cand = minhash_lsh_pairs(
        sample, id_col=id_col, text_col=text_col, threshold=threshold, k=k
    ).select("id_a", "id_b")
    scored = truth.join(
        cand.withColumn("hit", F.lit(1)), ["id_a", "id_b"], "left"
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_candidates"),
    ).select(
        "n_truth",
        "n_candidates",
        F.round(
            F.try_divide(
                F.col("n_candidates").cast("double"),
                F.col("n_truth").cast("double"),
            ),
            6,
        ).alias("recall"),
    )
